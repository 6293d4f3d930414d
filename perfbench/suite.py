"""Workload phases: the validation suite, the scaling pass, resume and deltas.

One closed-loop client drives the engine through its public API; every call
is wrapped in a tracer span named after the layer (module) it enters, and
every result is compared with the planted truth from ``gen.py``.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import pyspark_validator as pv
from pyspark_validator.checkpoint import CheckpointManager
from pyspark_validator.checks.drift import categorical_drift, numeric_drift
from pyspark_validator.incremental import IncrementalFD, IncrementalUCC
from pyspark_validator.runner import CheckSpec, ValidationSuite

from gen import KINDS, MAX_TEXT_LEN

STATS_COLS = ["n_spans", "total_text_len"]
SKETCH_REL_TOL = 0.10  # HLL p=12: ~1.6% standard error, so 10% is > 6 sigma
CAT_PSI = 0.05  # planted kind shift gives PSI ~0.10; unshifted partitions ~0
TEXT_LEN_EDGES = (0.0, float(MAX_TEXT_LEN + 1))  # the generator's text-length range

UCC_SPEC = CheckSpec("ucc_doc_id", "ucc", {"columns": ["doc_id"]})
FD_SPEC = CheckSpec("fd_doc_span", "fd", {"lhs": ["doc_id"], "rhs": ["span_key"]})
FUSED_SPECS = [
    CheckSpec("f_nspans", "numeric_profile", {"column": "n_spans"}),
    CheckSpec("f_integrity", "span_integrity", {"kinds": KINDS}),
]


# the checkpointed check names of each per-partition family
CHECK_NAMES = {
    "ucc": [UCC_SPEC.name],
    "fd": [FD_SPEC.name],
    "fused": [spec.name for spec in FUSED_SPECS],
}


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Bench:
    def __init__(self, inputs: str, truth: dict, tracer, work: str, traced: bool):
        self.inputs = inputs
        self.truth = truth
        self.tr = tracer
        self.work = work
        self.traced = traced
        self.P = truth["params"]["num_partitions"]
        self.n_rows = truth["n_rows"]
        self.spark = None
        self.gc_s = 0.0
        self.extra: dict = {}
        self._ckpt_seq = 0
        self.suite_ckpt = None

    # ---- session -----------------------------------------------------------

    def start(self, cores: int) -> float:
        """(Re)start the session at ``local[cores]``; returns the set-up time
        (session ready plus one trivial job)."""
        if self.spark is not None:
            self.tr.sc = None
            self.spark.stop()
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.traced:
            ev = os.path.join(self.work, "eventlog")
            os.makedirs(ev, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ev,
                # one plain JSON-lines file per session, as parse_event_log reads it
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        with self.tr.span("session") as span:
            self.spark = pv.get_spark(
                app_name="perfbench", master=f"local[{cores}]", extra_conf=conf
            )
            self.tr.sc = self.spark.sparkContext
            self.tr.set_group(span["group"])
            self.spark.range(1).count()
        return time.perf_counter() - t0

    def read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.inputs, name))

    def jvm_gc_s(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    def ckpt_dir(self) -> str:
        self._ckpt_seq += 1
        return os.path.join(self.work, f"ckpt-{self._ckpt_seq}")

    # ---- operations + truth -----------------------------------------------

    def op(self, family: str | None, layer: str, what: str, run, verify):
        """One operation: run inside a span tagged with its check family, then
        compare with the truth."""
        with self.tr.span(layer) as span:
            span["family"] = family
            try:
                res = run()
            except Exception as e:  # an exception is a failed operation
                traceback.print_exc(file=sys.stderr)
                self.tr.op(layer, False, f"{what}: raised {e!r}"[:300])
                return None
        try:
            problems = verify(res)
        except Exception as e:
            problems = [f"verify raised {e!r}"]
        if problems:
            print(f"[perfbench] MISMATCH {what}: {problems[:5]}", file=sys.stderr)
        self.tr.op(layer, not problems, f"{what}: {problems[:3]}")
        return res

    def _cmp_parts(self, rows, cols, expect, parts, holds_of):
        """Per-partition verdict rows vs ``expect[k][pid]`` for each column."""
        got = {r["partition_id"]: r for r in rows}
        problems = []
        if set(got) != set(parts):
            problems.append(f"partitions {sorted(got)} != {sorted(parts)}")
        for p in parts:
            r = got.get(p)
            if r is None:
                continue
            for k, c in enumerate(cols):
                if r[c] != expect[k][p]:
                    problems.append(f"p{p}.{c}={r[c]} want {expect[k][p]}")
            if bool(r["holds"]) != holds_of(p):
                problems.append(f"p{p}.holds={r['holds']}")
        return problems

    def verify_ucc(self, parts):
        t = self.truth["ucc"]
        return lambda rows: self._cmp_parts(
            rows, ["n_rows", "n_violating_clusters", "n_violating_rows"], t, parts,
            lambda p: t[1][p] == 0,
        )

    def verify_fd(self, parts):
        t = self.truth["fd"]
        return lambda rows: self._cmp_parts(
            rows, ["n_rows", "n_error_clusters", "n_error_rows"], t, parts,
            lambda p: t[1][p] == 0,
        )

    def verify_fused(self, parts):
        t = self.truth
        prof, dis = t["fused_profile"], t["disorder"]
        rows_per = prof[0]

        def check(res):
            problems = self._cmp_parts(
                res["f_nspans"], ["n_rows", "min", "max"], prof[:3], parts,
                lambda p: True,
            )
            for r in res["f_nspans"]:
                p = r["partition_id"]
                want = prof[3][p] / prof[0][p]
                if not math.isclose(r["mean"], want, rel_tol=1e-9):
                    problems.append(f"p{p}.mean={r['mean']} want {want}")
            zero = [0] * self.P
            problems += self._cmp_parts(
                res["f_integrity"],
                ["n_docs", "order_violations", "kind_violations",
                 "text_null_violations", "media_null_violations"],
                [rows_per, dis, zero, zero, zero], parts, lambda p: dis[p] == 0,
            )
            return problems

        return check

    # ---- the suite ------------------------------------------------------------

    def _media_refs(self, df):
        return df.select(F.explode("spans.media_ref").alias("media_ref")).filter(
            F.col("media_ref").isNotNull()
        )

    def _drift_spans(self, df):
        return (
            pv.canonicalize(df, num_partitions=self.P, cache=False)
            .df.select("partition_id", F.explode("spans").alias("s"))
            .select(
                "partition_id",
                F.col("s.kind").alias("kind"),
                F.length("s.text").alias("text_len"),
            )
        )

    def _suite(self, path: str, materialize: bool):
        """A ValidationSuite over the docs with its checkpoint at ``path``."""
        with self.tr.span("canonical"):
            suite = ValidationSuite(
                self.spark, self.read("docs"), num_partitions=self.P,
                checkpoint_path=path, snapshot_id="snap-0",
            )
            if materialize:
                suite.canon.df.count()
        self._wrap_checkpoint(suite)
        return suite

    def suite_pass(self, families: list[str]) -> float:
        """One suite pass over ``families`` with a fresh checkpoint; returns the
        wall time until every verdict and capped violation row is materialized
        and the manifest is recorded."""
        tr = self.tr
        gc0 = self.jvm_gc_s()
        t0 = time.perf_counter()
        with tr.span("runner"):
            self.suite_ckpt = self.ckpt_dir()
            suite = self._suite(self.suite_ckpt, materialize=True)
            if tr.phase == "suite":
                self.extra["cache_mb"] = self._cached_mb()
            ops = self._ops(suite, list(range(self.P)), "")
            for family in families:
                for args in ops[family]:
                    self.op(family, *args)
            suite.unpersist()
        wall = time.perf_counter() - t0
        if tr.phase == "suite":
            self.gc_s += self.jvm_gc_s() - gc0
        return wall

    def _ops(self, suite, parts: list[int], label: str) -> dict[str, list]:
        """The suite's operations by check family, (layer, name, run, verify),
        verified on ``parts`` (the partitions the suite has pending)."""
        P, t = self.P, self.truth
        canon = suite.canon.df
        drifted = set(t["drift_partitions"])

        def run1(spec):
            return lambda: suite.run([spec])[spec.name].collect()

        def ind(df):
            return pv.ind_check(
                self._media_refs(df), ["media_ref"], self.read("catalog"), ["media_ref"]
            )

        def drift(fn, column, **kw):
            return fn(
                self._drift_spans(self.read("drift_base")),
                self._drift_spans(self.read("drift_cur")),
                column, by=["partition_id"], **kw,
            )

        def drift_holds(rows):
            return self._cmp_parts(rows, [], [], parts, lambda p: p not in drifted)

        def verify_stats(rows):
            got = {r["column"]: [r["count"], r["min"], r["max"], r["sum"]] for r in rows}
            want = {c: t["stats"][c] for c in STATS_COLS}
            return [] if got == want else [f"{got} want {want}"]

        def verify_sketch(rows):
            problems = [] if len(rows) == 2 else ["missing columns"]
            for r in rows:
                want = t["distinct"][r["column"]]
                if r["n_rows"] != self.n_rows or r["n_null"] != 0:
                    problems.append(f"{r['column']}: n={r['n_rows']} nulls={r['n_null']}")
                if abs(r["distinct_est"] - want) > SKETCH_REL_TOL * want:
                    problems.append(f"{r['column']}: distinct {r['distinct_est']} want ~{want}")
            return problems

        ti = t["ind"]
        return {
            "ucc": [(
                "checks.ucc", f"{label}ucc verdicts", run1(UCC_SPEC), self.verify_ucc(parts)
            )],
            "ucc_rows": [
                ("checks.ucc", f"{label}ucc violation rows",
                 lambda: pv.ucc_check(canon, ["doc_id"], num_partitions=P,
                                      partition_key="doc_id").violations().collect(),
                 lambda rows: [] if {r["doc_id"]: r["cluster_size"] for r in rows}
                 == t["ucc_violations"] else [f"{len(rows)} violating clusters"]),
            ],
            "fd": [("checks.fd", f"{label}fd verdicts", run1(FD_SPEC), self.verify_fd(parts))],
            "ind": [
                ("checks.ind", f"{label}ind verdicts",
                 run1(CheckSpec("ind_media", "custom",
                                fn=lambda df: ind(df).verdicts(num_partitions=P))),
                 lambda rows: self._cmp_parts(
                     rows, ["n_distinct_lhs", "n_violating_clusters", "n_violating_rows"],
                     ti, parts, lambda p: ti[1][p] == 0)),
            ],
            "stats": [
                ("checks.stats", f"{label}numeric profile",
                 run1(CheckSpec(
                     "stats", "custom",
                     fn=lambda df: pv.column_profile(
                         df, numeric_columns=STATS_COLS, string_columns=[]
                     )["numeric"].select(
                         F.lit(0).alias("partition_id"), F.lit(True).alias("holds"),
                         "column", "count", "min", "max", "sum"))),
                 verify_stats),
            ],
            "drift": [
                ("checks.drift", f"{label}numeric drift",
                 run1(CheckSpec(
                     "drift_text_len", "custom",
                     fn=lambda df: drift(
                         numeric_drift, "text_len", bin_edges=TEXT_LEN_EDGES
                     ).select("partition_id", (~F.col("drift_detected")).alias("holds"),
                              "psi", "ks_stat"))),
                 drift_holds),
                ("checks.drift", f"{label}categorical drift",
                 run1(CheckSpec(
                     "drift_kind", "custom",
                     fn=lambda df: drift(
                         categorical_drift, "kind", psi_threshold=CAT_PSI
                     ).select("partition_id", (~F.col("drift_detected")).alias("holds"),
                              "psi"))),
                 drift_holds),
            ],
            "sketches": [
                ("sketches", f"{label}sketch profile",
                 run1(CheckSpec("sketch", "sketch_profile",
                                {"columns": ["doc_id", "n_spans"]})),
                 verify_sketch),
            ],
            "fused": [
                ("fused", f"{label}fused members",
                 lambda: {k: v.collect() for k, v in suite.run_fused(FUSED_SPECS).items()},
                 self.verify_fused(parts)),
            ],
        }

    def _cached_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def _wrap_checkpoint(self, suite) -> None:
        """Time manifest writes from outside: wrap the suite's checkpoint
        manager instance method (the engine code is untouched)."""
        ckpt = suite.ckpt
        inner = ckpt.record_verdicts

        def record(*a, **k):
            with self.tr.span("checkpoint"):
                return inner(*a, **k)

        ckpt.record_verdicts = record

    # ---- resume -----------------------------------------------------------------

    def killed_manifest(self, families: list[str]) -> str:
        """A checkpoint directory holding what a run of ``families`` killed
        halfway leaves behind: the last suite pass's manifest rows of those
        checks for the first half of the partitions."""
        names = [n for f in families for n in CHECK_NAMES[f]]
        table = pq.read_table(self.suite_ckpt)
        keep = pc.and_(
            pc.is_in(table["check_id"], pa.array(names)),
            pc.less(table["partition_id"], self.P // 2),
        )
        path = self.ckpt_dir()
        os.makedirs(os.path.join(path, "batch-killed"))
        pq.write_table(table.filter(keep), os.path.join(path, "batch-killed", "part-00000.parquet"))
        return path

    def resume_from(self, path: str, families: list[str]) -> float:
        """Resume the per-partition ``families`` on a half-recorded checkpoint;
        returns the wall time until the pending partitions' verdicts are
        recorded."""
        P, tr = self.P, self.tr
        pending = list(range(P // 2, P))
        t0 = time.perf_counter()
        with tr.span("runner"):
            suite = self._suite(path, materialize=False)
            ops = self._ops(suite, pending, "resumed run ")
            for family in families:
                for args in ops[family]:
                    self.op(family, *args)
            suite.unpersist()
        wall = time.perf_counter() - t0
        with tr.span("checkpoint"):
            t1 = time.perf_counter()
            rows = CheckpointManager(self.spark, path).manifest().count()
            read_s = time.perf_counter() - t1
        want = P * sum(len(CHECK_NAMES[f]) for f in families)
        tr.op("checkpoint", rows == want, f"manifest rows {rows} want {want}")
        if tr.phase == "resume":
            self.extra["manifest_read_s"] = read_s
            self.extra["manifest_files"] = _dir_stats(path)[0]
        return wall

    # ---- deltas --------------------------------------------------------------------

    def delta_stream(self, kind: str, warmup: int, midway=None) -> list[float]:
        """Apply every seeded batch to IncrementalUCC (``kind='ucc'``) or
        IncrementalFD (``'fd'``), each followed by collecting the touched
        partitions' verdicts, and call ``midway`` once halfway through the
        stream. Returns the latencies after ``warmup`` batches."""
        P, tr, t = self.P, self.tr, self.truth
        state = os.path.join(self.work, f"inc-{kind}")
        docs = self.read("docs")

        def canon(df):
            return pv.canonicalize(df, num_partitions=P, cache=False).df

        with tr.span("incremental"):
            if kind == "ucc":
                inc = IncrementalUCC(self.spark, state, ["doc_id"], num_partitions=P)
                inc.initialize(docs)
                cols = ["n_rows", "n_violating_clusters", "n_violating_rows"]
            else:
                inc = IncrementalFD(self.spark, state, ["doc_id"], ["span_key"],
                                    num_partitions=P)
                inc.initialize(canon(docs))
                cols = ["n_rows", "n_error_clusters", "n_error_rows"]
        lat, every, touched, amp = [], [], [], []
        deltas = os.path.join(self.inputs, "deltas")
        for b, bt in enumerate(t["deltas"]):
            paths = [os.path.join(deltas, f"b{b:04d}_{k}.parquet") for k in ("ins", "del")]
            ins, dels = (self.spark.read.parquet(p) for p in paths)
            if kind == "fd":
                ins, dels = canon(ins), canon(dels)
            want = {int(p): v for p, v in bt[kind].items()}
            expect = [{p: v[k] for p, v in want.items()} for k in range(3)]
            before = _dir_stats(state)[1]
            rows = self.op(
                None, "incremental", f"delta {b} {kind}",
                lambda: inc.apply_delta(ins, dels).collect(),
                lambda rows: self._cmp_parts(
                    rows, cols, expect, list(want), lambda p: expect[1][p] == 0
                ),
            )
            span = tr.spans[-1]  # the apply_delta call up to the collected verdicts
            every.append(span["end"] - span["start"])
            touched.append(len(rows or []))
            if b >= warmup:
                lat.append(every[-1])
                amp.append(
                    (_dir_stats(state)[1] - before) / sum(map(os.path.getsize, paths))
                )
            if midway is not None and b == len(t["deltas"]) // 2:
                midway()
        self.extra["delta_s"] = statistics.mean(every)
        self.extra["partitions_touched"] = statistics.mean(touched)
        self.extra["write_amp"] = statistics.mean(amp)
        self.extra["state_files"] = _dir_stats(state)[0]
        return lat
