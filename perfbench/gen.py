"""Seeded input generator and closed-form planted truth for the benchmark.

Everything is built with numpy/pyarrow column operations (no per-row Python
over the corpus) from ``(seed, Params)``. The tables follow FIXTURES.md:

* ``docs``     -- F1 interleaved documents ``(doc_id, spans)``. Doc ``i`` with
  ``i % 1000 == 0`` gets one extra copy, ``i % 10000 == 0`` two; each copy is
  identical or (coin flip) a *variant* whose first span is replaced by a media
  span with a unique ref. Docs with ``i % 5000 == 2500`` carry an offset
  disorder in their last two spans. The skewed shape adds ``n_hot`` hot doc ids
  holding ``hot_share`` of all rows (every third hot copy is a variant) and a
  heavy tail of docs with thousands of spans.
* ``catalog``  -- F3 media catalog: every ref except each 1000th media span's
  (global media index ``m % 1000 == 999``) is present.
* ``drift_base`` / ``drift_cur`` -- F4 snapshot pair: ``drift_cur`` equals the
  baseline on partitions ``< P/2`` and is regenerated with shifted kind
  frequencies and text lengths on partitions ``>= P/2``.
* ``deltas``   -- insert/delete batches (new docs, identical copies, variant
  copies; deletes remove an existing extra row).

The truth is derived from the same arrays and formulas, never by running the
engine. Generated data is cached on disk by ``(seed, params)``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import Counter
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from xxh64 import pmod_partition

GEN_VERSION = 1
KINDS = ["text", "image", "audio", "video", "table"]
BASE_KIND_P = [0.70, 0.15, 0.08, 0.05, 0.02]
SHIFT_KIND_P = [0.55, 0.25, 0.10, 0.07, 0.03]
BASE_TEXT_MU, SHIFT_TEXT_MU, TEXT_SIGMA = 3.0, 3.4, 0.6
MAX_TEXT_LEN = 400
VARIANT_ID_BASE = 9_000_000_000
DANGLING_EVERY = 1000
DISORDER_EVERY, DISORDER_AT = 5000, 2500

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])


@dataclass(frozen=True)
class Params:
    n_docs: int
    skewed: bool = False
    num_partitions: int = 16
    drift_docs: int = 8_000
    n_files: int = 8
    n_hot: int = 4
    hot_share: float = 0.03
    tail_every: int = 2000
    tail_spans: tuple = (1000, 4000)
    n_batches: int = 8
    batch_partitions: int = 3
    batch_inserts: int = 4
    batch_deletes: int = 2


# ---- fixed-width string columns --------------------------------------------


def _digits(values: np.ndarray, width: int) -> np.ndarray:
    """Zero-padded decimal digits of non-negative ints as a (n, width) matrix."""
    v = values.astype(np.int64)
    pow10 = 10 ** np.arange(width - 1, -1, -1, dtype=np.int64)
    return ((v[:, None] // pow10[None, :]) % 10 + 48).astype(np.uint8)


def doc_id_bytes(idx: np.ndarray) -> np.ndarray:
    """``"doc_%012d" % i`` as a (n, 16) byte matrix."""
    prefix = np.frombuffer(b"doc_", dtype=np.uint8)
    return np.hstack([np.tile(prefix, (len(idx), 1)), _digits(idx, 12)])


def media_ref_bytes(kind_codes: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """``"media://%s/%010d" % (kind, id)`` as a (n, 24) byte matrix; every
    media kind name has five letters, so refs are fixed width."""
    names = np.array(
        [np.frombuffer(f"media://{k}/".encode(), dtype=np.uint8) for k in KINDS[1:]]
    )
    return np.hstack([names[kind_codes - 1], _digits(ids, 10)])


def _strings(mat: np.ndarray, valid: np.ndarray | None = None) -> pa.Array:
    """Arrow string array from a fixed-width byte matrix (rows where
    ``valid`` is False become NULL)."""
    n, width = mat.shape
    if valid is None:
        offsets = np.arange(n + 1, dtype=np.int32) * width
        return pa.StringArray.from_buffers(
            n, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(mat))
        )
    lens = np.where(valid, width, 0).astype(np.int32)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    data = np.ascontiguousarray(mat[valid])
    validity = pa.array(valid).buffers()[1]
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(data), validity
    )


# ---- spans ------------------------------------------------------------------


@dataclass
class Spans:
    """Flat span columns for a set of docs (doc ``k`` owns
    ``[start[k], start[k] + ns[k])``)."""

    ns: np.ndarray
    start: np.ndarray
    kind: np.ndarray  # uint8 code into KINDS
    text_len: np.ndarray  # -1 for media spans
    media_id: np.ndarray  # -1 for text spans
    offset: np.ndarray
    text: pa.Array

    def struct(self) -> pa.StructArray:
        is_media = self.kind > 0
        ref = media_ref_bytes(np.maximum(self.kind, 1), np.maximum(self.media_id, 0))
        return pa.StructArray.from_arrays(
            [
                pa.array(np.array(KINDS)[self.kind]),
                self.text,
                _strings(ref, is_media),
                pa.array(self.offset, pa.int32()),
            ],
            fields=list(SPAN_TYPE),
        )


def _span_counts(rng: np.random.Generator, n: int) -> np.ndarray:
    """Zipf-ish span count in 3..64 with median 6 (FIXTURES.md F1)."""
    u = rng.random(n)
    return np.clip((3.5 / (1.0 - 0.95 * u)).astype(np.int64), 1, 64)


def _make_spans(
    rng: np.random.Generator,
    ns: np.ndarray,
    kind_p: list[float],
    text_mu: float,
    disorder: np.ndarray | None = None,
) -> Spans:
    total = int(ns.sum())
    start = np.concatenate([[0], np.cumsum(ns)[:-1]]).astype(np.int64)
    kind = rng.choice(len(KINDS), size=total, p=kind_p).astype(np.uint8)
    pos = np.arange(total) - np.repeat(start, ns)
    offset = (pos * 17 + rng.integers(0, 7, total)).astype(np.int32)
    if disorder is not None:
        # swap the last two offsets of the flagged docs (ns >= 2)
        docs = np.flatnonzero(disorder & (ns >= 2))
        last = start[docs] + ns[docs] - 1
        offset[last], offset[last - 1] = offset[last - 1].copy(), offset[last].copy()
    is_text = kind == 0
    n_text = int(is_text.sum())
    u = rng.random(n_text)
    lens = np.clip(
        np.rint(np.exp(rng.normal(text_mu, TEXT_SIGMA, n_text))), 1, MAX_TEXT_LEN
    ).astype(np.int64)
    lens = np.where(u < 0.02, 0, np.where(u < 0.03, 4, lens))
    chars = rng.integers(97, 123, int(lens.sum()), dtype=np.uint8)
    toff = np.concatenate([[0], np.cumsum(lens)])
    lit = toff[:-1][(u >= 0.02) & (u < 0.03)]  # the literal "NULL" landmine
    chars[lit[:, None] + np.arange(4)] = np.frombuffer(b"NULL", dtype=np.uint8)
    full_len = np.zeros(total, dtype=np.int64)
    full_len[is_text] = lens
    offsets = np.concatenate([[0], np.cumsum(full_len)]).astype(np.int32)
    text = pa.StringArray.from_buffers(
        total,
        pa.py_buffer(offsets),
        pa.py_buffer(chars),
        pa.array(is_text).buffers()[1],
    )
    text_len = np.full(total, -1, dtype=np.int64)
    text_len[is_text] = lens
    media_id = np.full(total, -1, dtype=np.int64)
    media_id[~is_text] = np.arange(total - n_text)
    return Spans(ns, start, kind, text_len, media_id, offset, text)


def _variant_first(base: Spans, src_docs: np.ndarray, variant_ids: np.ndarray) -> pa.StructArray:
    """The replacement first span of each variant row: an image span whose ref
    is unique to the variant and whose offset is the source doc's first."""
    n = len(variant_ids)
    ref = media_ref_bytes(np.ones(n, dtype=np.uint8), VARIANT_ID_BASE + variant_ids)
    return pa.StructArray.from_arrays(
        [
            pa.array(["image"] * n, pa.string()),
            pa.nulls(n, pa.string()),
            _strings(ref),
            pa.array(base.offset[base.start[src_docs]], pa.int32()),
        ],
        fields=list(SPAN_TYPE),
    )


def rows_table(
    base: Spans, base_struct: pa.StructArray, doc_idx: np.ndarray,
    src_doc: np.ndarray, variant: np.ndarray,
) -> pa.Table:
    """Materialize rows ``(doc_id(doc_idx), spans of src_doc)``; rows with
    ``variant >= 0`` get their first span replaced (see ``_variant_first``)."""
    ns = base.ns[src_doc]
    row_off = np.concatenate([[0], np.cumsum(ns)]).astype(np.int64)
    elem = np.arange(row_off[-1]) - np.repeat(row_off[:-1], ns) + np.repeat(
        base.start[src_doc], ns
    )
    is_var = variant >= 0
    values = base_struct.take(pa.array(elem))
    if is_var.any():
        pos = np.arange(len(elem))
        pos[row_off[:-1][is_var]] = len(elem) + np.arange(int(is_var.sum()))
        values = pa.concat_arrays(
            [values, _variant_first(base, src_doc[is_var], variant[is_var])]
        ).take(pa.array(pos))
    spans = pa.ListArray.from_arrays(pa.array(row_off.astype(np.int32)), values)
    return pa.Table.from_arrays(
        [_strings(doc_id_bytes(doc_idx)), spans], schema=DOCS_SCHEMA
    )


# ---- the corpus -----------------------------------------------------------------


def _copies(params: Params, rng: np.random.Generator):
    """Extra rows per doc: (doc, is_variant) pairs, closed form + seeded coins."""
    n = params.n_docs
    idx = np.arange(n)
    extra = np.where(idx % 10_000 == 0, 2, np.where(idx % 1000 == 0, 1, 0))
    docs = np.repeat(idx, extra)
    is_var = rng.random(len(docs)) < 0.5
    if params.skewed:
        hot = hot_docs(params)
        per_hot = int(round(params.hot_share * n / params.n_hot))
        hdocs = np.repeat(hot, per_hot)
        hvar = np.tile(np.arange(1, per_hot + 1) % 3 == 0, len(hot))
        docs = np.concatenate([docs, hdocs])
        is_var = np.concatenate([is_var, hvar])
    return docs, is_var


def hot_docs(params: Params) -> np.ndarray:
    return np.arange(params.n_hot) * (params.n_docs // params.n_hot) + 7


@dataclass
class Corpus:
    params: Params
    docs: pa.Table
    catalog: pa.Table
    drift_base: pa.Table
    drift_cur: pa.Table
    deltas: list[tuple[pa.Table, pa.Table]]
    truth: dict


def build(params: Params, seed: int) -> Corpus:
    rng = np.random.default_rng([seed, GEN_VERSION, int(params.skewed)])
    n, P = params.n_docs, params.num_partitions
    idx = np.arange(n)
    ns = _span_counts(rng, n)
    if params.skewed:
        tail = idx % params.tail_every == 13
        lo, hi = params.tail_spans
        ns[tail] = rng.integers(lo, hi + 1, int(tail.sum()))
    disorder = idx % DISORDER_EVERY == DISORDER_AT
    base = _make_spans(rng, ns, BASE_KIND_P, BASE_TEXT_MU, disorder)
    base_struct = base.struct()

    copy_doc, copy_var = _copies(params, rng)
    n_var = int(copy_var.sum())
    variant = np.full(len(copy_doc), -1, dtype=np.int64)
    variant[copy_var] = np.arange(n_var)
    row_doc = np.concatenate([idx, copy_doc])
    row_var = np.concatenate([np.full(n, -1, dtype=np.int64), variant])
    perm = rng.permutation(len(row_doc))
    docs = rows_table(base, base_struct, row_doc[perm], row_doc[perm], row_var[perm])

    # F3 catalog: every base media ref but the dangling ones, plus variant refs
    media = base.kind > 0
    m_kind, m_id = base.kind[media], base.media_id[media]
    keep = m_id % DANGLING_EVERY != DANGLING_EVERY - 1
    cat_refs = np.vstack(
        [
            media_ref_bytes(m_kind[keep], m_id[keep]),
            media_ref_bytes(np.ones(n_var, dtype=np.uint8), VARIANT_ID_BASE + np.arange(n_var)),
        ]
    )
    cat_perm = rng.permutation(len(cat_refs))
    catalog = pa.table({"media_ref": _strings(cat_refs[cat_perm])})

    # F4 drift pair: shifted only on partitions >= P/2
    nd = params.drift_docs
    d_ns = _span_counts(rng, nd)
    d_base = _make_spans(rng, d_ns, BASE_KIND_P, BASE_TEXT_MU)
    d_shift = _make_spans(rng, d_ns, SHIFT_KIND_P, SHIFT_TEXT_MU)
    d_pid = pmod_partition(doc_id_bytes(np.arange(nd)), P)
    d_idx = np.arange(nd)
    no_var = np.full(nd, -1, dtype=np.int64)
    drift_base = rows_table(d_base, d_base.struct(), d_idx, d_idx, no_var)
    shifted = rows_table(d_shift, d_shift.struct(), d_idx, d_idx, no_var)
    drift_cur = pa.concat_tables(
        [
            drift_base.filter(pa.array(d_pid < P // 2)),
            shifted.filter(pa.array(d_pid >= P // 2)),
        ]
    )

    truth = _truth(params, base, row_doc, row_var, m_kind, m_id, keep)
    deltas, delta_truth = _deltas(params, rng, base, base_struct, copy_doc, variant, truth)
    truth["deltas"] = delta_truth
    truth["drift_partitions"] = list(range(P // 2, P))
    return Corpus(params, docs, catalog, drift_base, drift_cur, deltas, truth)


# ---- planted truth ------------------------------------------------------------------


def _per_part(pid: np.ndarray, P: int, weights=None) -> list[int]:
    return np.bincount(pid, weights=weights, minlength=P).astype(np.int64).tolist()


def _truth(params, base, row_doc, row_var, m_kind, m_id, keep) -> dict:
    n, P = params.n_docs, params.num_partitions
    pid = pmod_partition(doc_id_bytes(np.arange(n)), P)
    copies = np.bincount(row_doc, minlength=n)
    n_variants = np.bincount(row_doc[row_var >= 0], minlength=n)
    dup = copies > 1
    fd_err = n_variants > 0
    # per-row derived columns (all rows of doc i share n_spans; variants swap
    # span 0 for a media span, dropping its text)
    ns = base.ns
    tlen = np.where(base.text_len > 0, base.text_len, 0)
    doc_text = np.add.reduceat(tlen, base.start)
    is_var = row_var >= 0
    r_ns = ns[row_doc]
    r_text = doc_text[row_doc] - np.where(is_var, tlen[base.start][row_doc], 0)
    r_pid = pid[row_doc]

    def prof(x):
        return [int(len(x)), int(x.min()), int(x.max()), int(x.sum())]

    # F3: dangling refs are base media spans with m % 1000 == 999; they occur in
    # the base row, every identical copy, and every variant copy unless they are
    # the replaced first span.
    dang = ~keep
    ref_all = media_ref_bytes(m_kind, m_id)
    ref_pid = pmod_partition(ref_all, P)
    span_doc = np.repeat(np.arange(n), ns)[base.kind > 0]
    is_first = (np.flatnonzero(base.kind > 0) == base.start[span_doc])
    occ = copies[span_doc] - np.where(is_first, n_variants[span_doc], 0)
    present = occ > 0
    n_var_total = int(is_var.sum())
    var_refs = media_ref_bytes(
        np.ones(n_var_total, dtype=np.uint8), VARIANT_ID_BASE + np.arange(n_var_total)
    )
    ind_distinct = (
        np.bincount(ref_pid[present], minlength=P)
        + np.bincount(pmod_partition(var_refs, P), minlength=P)
    ).tolist()
    miss = dang & present
    missing_refs = sorted(r.tobytes().decode() for r in ref_all[miss])

    truth = {
        "params": asdict(params),
        "n_rows": int(len(row_doc)),
        "ucc": [
            _per_part(r_pid, P),
            _per_part(pid[dup], P),
            _per_part(pid[dup], P, copies[dup]),
        ],
        "ucc_violations": {
            f"doc_{i:012d}": int(copies[i]) for i in np.flatnonzero(dup)
        },
        "fd": [
            _per_part(r_pid, P),
            _per_part(pid[fd_err], P),
            _per_part(pid[fd_err], P, copies[fd_err]),
        ],
        "ind": [
            ind_distinct,
            _per_part(ref_pid[miss], P),
            _per_part(ref_pid[miss], P, occ[miss]),
        ],
        "ind_missing": missing_refs,
        "stats": {
            "n_spans": prof(r_ns),
            "total_text_len": prof(r_text),
        },
        "fused_profile": [
            _per_part(r_pid, P),
            [int(r_ns[r_pid == p].min()) for p in range(P)],
            [int(r_ns[r_pid == p].max()) for p in range(P)],
            _per_part(r_pid, P, r_ns),
        ],
        "disorder": _per_part(r_pid[(row_doc % DISORDER_EVERY == DISORDER_AT) & (r_ns >= 2)], P),
        "distinct": {"doc_id": n, "n_spans": int(len(np.unique(ns)))},
        "_state": (pid, copies, n_variants),
    }
    return truth


def _deltas(params, rng, base, base_struct, copy_doc, copy_variant, truth):
    """Seeded insert/delete batches plus the verdicts of every partition each
    batch touches, replayed on a per-doc model of the count state."""
    P, n = params.num_partitions, params.n_docs
    pid, copies, n_variants = truth.pop("_state")
    ucc = np.array(truth["ucc"], dtype=np.int64)
    fd = np.array(truth["fd"], dtype=np.int64)
    # per-doc content counters, materialized lazily for touched docs
    state: dict[int, Counter] = {}
    src: dict[int, int] = {}
    pid_of: dict[int, int] = {}
    var_rows: dict[int, list[int]] = {}
    for d, v in zip(copy_doc.tolist(), copy_variant.tolist()):
        if v >= 0:
            var_rows.setdefault(d, []).append(v)

    def counter(d: int) -> Counter:
        if d not in state:
            c = Counter({-1: int(copies[d]) - int(n_variants[d])})
            for v in var_rows.get(d, []):
                c[v] += 1
            state[d] = c
        return state[d]

    def contrib(d: int) -> tuple[int, ...]:
        c = counter(d)
        rows = sum(c.values())
        distinct = sum(1 for x in c.values() if x > 0)
        return rows, int(rows > 1), rows if rows > 1 else 0, int(distinct > 1), rows if distinct > 1 else 0

    # each batch touches exactly ``batch_partitions`` logical partitions, so
    # the work per batch does not depend on the seed
    by_pid = [np.flatnonzero(pid == p) for p in range(P)]
    fresh = np.arange(n, n + 200 * P * params.n_batches)
    fresh_pid = pmod_partition(doc_id_bytes(fresh), P)
    fresh_by_pid = [iter(fresh[fresh_pid == p].tolist()) for p in range(P)]
    pool: list[list[tuple[int, int]]] = [[] for _ in range(P)]
    for d, v in zip(copy_doc.tolist(), copy_variant.tolist()):
        pool[int(pid[d])].append((d, v))
    next_var = int((copy_variant >= 0).sum())
    batches, batch_truth = [], []
    for _ in range(params.n_batches):
        target = rng.choice(P, params.batch_partitions, replace=False).tolist()
        ins, dels = [], []
        for j in range(params.batch_inserts):
            p = target[j % len(target)]
            r = rng.random()
            d = int(rng.choice(by_pid[p]))
            if r < 0.3:  # brand-new doc reusing an existing doc's content
                new = next(fresh_by_pid[p])
                src[new] = d
                pid_of[new] = p
                state[new] = Counter()
                ins.append((new, -1))
            elif r < 0.65:  # identical copy
                ins.append((d, -1))
            else:  # variant copy
                ins.append((d, next_var))
                next_var += 1
        for _ in range(params.batch_deletes):
            cands = [p for p in target if pool[p]]
            if not cands:  # only tiny corpora run out of extra rows
                break
            p = cands[int(rng.integers(0, len(cands)))]
            k = int(rng.integers(0, len(pool[p])))
            pool[p][k], pool[p][-1] = pool[p][-1], pool[p][k]
            dels.append(pool[p].pop())
        touched = sorted({d for d, _ in ins + dels})
        before = {d: contrib(d) for d in touched}
        for d, v in ins:
            counter(d)[v] += 1
        for d, v in dels:
            counter(d)[v] -= 1
        parts = set()
        for d in touched:
            p = pid_of[d] if d in pid_of else int(pid[d])
            parts.add(p)
            after = contrib(d)
            ucc[:, p] += np.array(after[:3]) - np.array(before[d][:3])
            fd[:, p] += np.array([after[0], after[3], after[4]]) - np.array(
                [before[d][0], before[d][3], before[d][4]]
            )
        for d, v in ins:
            pool[pid_of[d] if d in pid_of else int(pid[d])].append((d, v))
        batch_truth.append(
            {
                "ucc": {str(p): ucc[:, p].tolist() for p in sorted(parts)},
                "fd": {str(p): fd[:, p].tolist() for p in sorted(parts)},
            }
        )

        def table(rows):
            d = np.array([r[0] for r in rows], dtype=np.int64)
            s = np.array([src.get(x, x) for x in d.tolist()], dtype=np.int64)
            v = np.array([r[1] for r in rows], dtype=np.int64)
            return rows_table(base, base_struct, d, s, v)

        batches.append((table(ins), table(dels)))
    return batches, batch_truth


# ---- on-disk cache ----------------------------------------------------------------


def content_hash(c: Corpus) -> str:
    """sha256 over the Arrow IPC bytes of every generated table."""
    h = hashlib.sha256()
    tables = [c.docs, c.catalog, c.drift_base, c.drift_cur]
    tables += [t for pair in c.deltas for t in pair]
    for t in tables:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t.combine_chunks())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def cache_dir(root: str, params: Params, seed: int) -> str:
    key = json.dumps([GEN_VERSION, seed, asdict(params)], sort_keys=True)
    return os.path.join(root, hashlib.sha256(key.encode()).hexdigest()[:16])


def materialize(root: str, params: Params, seed: int) -> tuple[str, dict]:
    """Write the inputs under ``root`` (once per (seed, params)) and return
    (directory, truth). ``truth.json`` is written last and marks completion."""
    out = cache_dir(root, params, seed)
    tpath = os.path.join(out, "truth.json")
    if os.path.exists(tpath):
        with open(tpath) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    c = build(params, seed)
    os.makedirs(os.path.join(out, "docs"))
    rows = c.docs.num_rows
    step = -(-rows // params.n_files)
    for k in range(params.n_files):
        pq.write_table(
            c.docs.slice(k * step, step),
            os.path.join(out, "docs", f"part-{k:05d}.parquet"),
        )
    for name in ("catalog", "drift_base", "drift_cur"):
        os.makedirs(os.path.join(out, name))
        pq.write_table(getattr(c, name), os.path.join(out, name, "part-00000.parquet"))
    os.makedirs(os.path.join(out, "deltas"))
    for b, (ins, dels) in enumerate(c.deltas):
        pq.write_table(ins, os.path.join(out, "deltas", f"b{b:04d}_ins.parquet"))
        pq.write_table(dels, os.path.join(out, "deltas", f"b{b:04d}_del.parquet"))
    c.truth["content_hash"] = content_hash(c)
    with open(tpath + ".tmp", "w") as f:
        json.dump(c.truth, f)
    os.replace(tpath + ".tmp", tpath)
    return out, c.truth
