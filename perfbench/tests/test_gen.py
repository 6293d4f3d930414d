"""The generator is seeded and its closed-form truth agrees with the pandas
oracle (``pyspark_validator.oracle.pandas_oracle``) on a tiny corpus."""

from collections import Counter

import numpy as np
import pandas as pd
import pytest

import gen
from pyspark_validator.oracle.pandas_oracle import fd_oracle, ind_oracle, ucc_oracle
from xxh64 import pmod_partition

TINY = dict(n_docs=3000, drift_docs=400, n_files=1, n_batches=3, tail_every=1000,
            tail_spans=(50, 120))


@pytest.fixture(scope="module", params=[False, True], ids=["uniform", "skewed"])
def corpus(request):
    return gen.build(gen.Params(skewed=request.param, **TINY), seed=7)


def _frame(table) -> pd.DataFrame:
    """doc_id, the span-sequence key (kind, text, media_ref; offsets excluded)
    and the logical partition of every row."""
    rows = table.to_pylist()
    df = pd.DataFrame({
        "doc_id": [r["doc_id"] for r in rows],
        "span_seq": [
            repr([(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]) for r in rows
        ],
        "n_spans": [len(r["spans"]) for r in rows],
        "disorder": [
            any(b["offset"] <= a["offset"] for a, b in zip(r["spans"], r["spans"][1:]))
            for r in rows
        ],
        "refs": [[s["media_ref"] for s in r["spans"] if s["media_ref"]] for r in rows],
    })
    ids = np.array([list(d.encode()) for d in df["doc_id"]], dtype=np.uint8)
    df["pid"] = pmod_partition(ids.reshape(len(df), 16), 16)
    return df


def test_same_seed_same_hash_other_seed_other_hash():
    p = gen.Params(**TINY)
    a, b, c = gen.build(p, 1), gen.build(p, 1), gen.build(p, 2)
    assert gen.content_hash(a) == gen.content_hash(b)
    assert gen.content_hash(a) != gen.content_hash(c)


def test_ucc_and_fd_truth_match_oracle_per_partition(corpus):
    df, t = _frame(corpus.docs), corpus.truth
    for p in range(16):
        part = df[df["pid"] == p].reset_index(drop=True)
        u = ucc_oracle(part, ["doc_id"])
        assert [t["ucc"][k][p] for k in range(3)] == [
            len(part), u.num_violating_clusters, u.num_violating_rows
        ]
        f = fd_oracle(part, ["doc_id"], ["span_seq"])
        assert [t["fd"][k][p] for k in range(3)] == [
            len(part), f.num_error_clusters, f.num_error_rows
        ]
    viol = Counter(df["doc_id"])
    assert t["ucc_violations"] == {d: c for d, c in viol.items() if c > 1}


def test_ind_truth_matches_oracle(corpus):
    df, t = _frame(corpus.docs), corpus.truth
    refs = pd.DataFrame({"media_ref": [r for rs in df["refs"] for r in rs]})
    cat = corpus.catalog.to_pandas()
    o = ind_oracle(refs, ["media_ref"], cat, ["media_ref"])
    assert sum(t["ind"][1]) == o.num_violating_clusters > 0
    assert sum(t["ind"][2]) == o.num_violating_rows
    assert sum(t["ind"][0]) == refs["media_ref"].nunique()
    assert t["ind_missing"] == sorted(v[0][0] for v in o.violating_values)


def test_profile_and_integrity_truth(corpus):
    df, t = _frame(corpus.docs), corpus.truth
    ns = df["n_spans"]
    assert t["stats"]["n_spans"] == [len(ns), ns.min(), ns.max(), ns.sum()]
    by = df.groupby("pid")
    assert t["fused_profile"][0] == by.size().tolist()
    assert t["fused_profile"][1] == by["n_spans"].min().tolist()
    assert t["fused_profile"][2] == by["n_spans"].max().tolist()
    assert t["disorder"] == by["disorder"].sum().astype(int).tolist()
    assert t["distinct"] == {"doc_id": df["doc_id"].nunique(), "n_spans": ns.nunique()}


def test_drift_pair_shifts_only_upper_partitions(corpus):
    base, cur = _frame(corpus.drift_base), _frame(corpus.drift_cur)
    merged = base.merge(cur, on=["doc_id", "pid"], suffixes=("_b", "_c"))
    assert len(merged) == len(base) == len(cur)
    same = merged["span_seq_b"] == merged["span_seq_c"]
    assert same[merged["pid"] < 8].all()
    assert not same[merged["pid"] >= 8].any()


def test_delta_truth_replays_on_oracle(corpus):
    rows = _frame(corpus.docs)[["doc_id", "span_seq", "pid"]]
    state = Counter(map(tuple, rows.values.tolist()))
    for (ins, dels), want in zip(corpus.deltas, corpus.truth["deltas"]):
        for r in map(tuple, _frame(dels)[["doc_id", "span_seq", "pid"]].values.tolist()):
            assert state[r] > 0, "deletes reference existing rows"
            state[r] -= 1
        for r in map(tuple, _frame(ins)[["doc_id", "span_seq", "pid"]].values.tolist()):
            state[r] += 1
        cur = pd.DataFrame(
            [r for r, c in state.items() for _ in range(c)],
            columns=["doc_id", "span_seq", "pid"],
        )
        touched = set(_frame(ins)["pid"]) | set(_frame(dels)["pid"])
        assert set(map(int, want["ucc"])) == touched
        assert len(touched) == corpus.params.batch_partitions
        for p in touched:
            part = cur[cur["pid"] == p].reset_index(drop=True)
            u = ucc_oracle(part, ["doc_id"])
            f = fd_oracle(part, ["doc_id"], ["span_seq"])
            assert want["ucc"][str(p)] == [len(part), u.num_violating_clusters,
                                          u.num_violating_rows]
            assert want["fd"][str(p)] == [len(part), f.num_error_clusters,
                                         f.num_error_rows]
