"""The repository benchmark: one closed-loop client, seeded inputs, every
verdict checked against planted truth.

    python3 perfbench/run.py --workload docs_uniform --seed 1 --seconds 45 --trace 0

Run it from the root of a checkout. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics (see README.md here).
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from gen import Params, materialize  # noqa: E402

# workload -> (input shape, check families in its suite, per-partition
# families of the resume/scaling phases, incremental check of the delta stream)
WORKLOADS = {
    "docs_uniform": (
        Params(n_docs=25_000, n_batches=5), ["fused", "ind", "drift"], ["fused"], "ucc"
    ),
    "docs_skewed": (
        Params(n_docs=25_000, n_batches=5, skewed=True),
        ["ucc", "ucc_rows", "fd", "stats", "sketches"],
        ["ucc"],
        "fd",
    ),
}
DELTA_WARMUP = 1  # batches excluded from the latency figures
LAYERS = [
    "session", "canonical", "fused", "checks.ucc", "checks.fd", "checks.ind",
    "checks.stats", "checks.drift", "sketches", "runner", "checkpoint", "incremental",
]


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with a sample beyond it (the second largest
    value) and that percentile."""
    xs = sorted(values)
    return xs[-2], 100.0 * (len(xs) - 1) / len(xs)


def shutdown(bench) -> None:
    """Stop the session and the JVM, then wait for every child to end."""
    from pyspark import SparkContext

    from tracing import descendants

    if bench.spark is not None:
        bench.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 60
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def layer_metrics(tr, bench, ev: dict, core: list[str], setups: list[float]) -> dict:
    """Per-layer figures: totals over the run's measured phases (the session
    layer over its set-ups); ``runner.*`` counts, the scan figures,
    ``checkpoint.record_s`` and ``jvm.gc_s`` cover the suite pass."""
    from tracing import task_skew

    selft = tr.self_times()
    out = {}

    def put(name, value, unit):
        out[name] = {"value": float(value), "unit": unit}

    for layer in LAYERS:
        spans = [
            s for s in tr.spans
            if s["name"] == layer and s["phase"] != "warmup"
            and (s["phase"] == "setup") == (layer == "session")
        ]
        groups = [ev.get(s["group"], {}) for s in spans]
        put(f"{layer}.s", sum(selft[s["id"]] for s in spans), "s")
        put(f"{layer}.jobs", sum(s.get("jobs", 0) for s in spans), "count")
        put(f"{layer}.tasks", sum(s.get("tasks", 0) for s in spans), "count")
        put(f"{layer}.failed",
            sum(1 for f in tr.failures if f["layer"] == layer)
            + sum(s.get("failed_tasks", 0) for s in spans), "count")
        put(f"{layer}.shuffle_mb", sum(g.get("shuffle_mb", 0) for g in groups), "MB")
        put(f"{layer}.spill_mb", sum(g.get("spill_mb", 0) for g in groups), "MB")
        stages = [d for g in groups for d in g.get("stages", {}).values()]
        put(f"{layer}.task_skew", task_skew(stages), "ratio")
    suite = [s for s in tr.spans if s["phase"] == "suite"]
    for k in ("jobs", "stages", "tasks"):
        put(f"runner.{k}", sum(s.get(k, 0) for s in suite), "count")

    def input_mb(layer):
        return sum(
            ev.get(s["group"], {}).get("input_mb", 0.0) for s in suite if s["name"] == layer
        )

    def core_records(phase):
        """Shuffle records the resume families' verdict calls wrote."""
        return sum(
            ev.get(s["group"], {}).get("shuffle_records", 0)
            for s in tr.spans if s["phase"] == phase and s.get("family") in core
        )

    src = input_mb("canonical")
    full = core_records("suite") * sum(
        1 for s in tr.spans if s["phase"] == "resume" and s["name"] == "runner"
    )
    put("session.start_s", setups[0], "s")
    put("session.restart_s", setups[1], "s")
    put("canonical.src_mb", src, "MB")
    put("canonical.cache_mb", bench.extra["cache_mb"], "MB")
    put("fused.scan_ratio", input_mb("fused") / src if src else 0.0, "ratio")
    put("checkpoint.record_s", sum(
        s["end"] - s["start"] for s in suite if s["name"] == "checkpoint"), "s")
    put("checkpoint.manifest_read_s", bench.extra["manifest_read_s"], "s")
    put("checkpoint.manifest_files", bench.extra["manifest_files"], "count")
    # work of the resumed verdict calls against that of the same calls in
    # the full pass (once per resume), scaled to the pending half: 1.0 when
    # only the pending partitions are computed, 2.0 when every partition is
    put("checkpoint.recompute_ratio", 2 * core_records("resume") / full if full else 0.0,
        "ratio")
    put("incremental.delta_s", bench.extra["delta_s"], "s")
    put("incremental.partitions_touched", bench.extra["partitions_touched"], "count")
    put("incremental.state_files", bench.extra["state_files"], "count")
    put("incremental.write_amp", bench.extra["write_amp"], "ratio")
    put("jvm.gc_s", bench.gc_s, "s")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=45.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "pyspark_validator")):
        print(f"perfbench: no pyspark_validator package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, SPARK_DRIVER_MEMORY="1g",
        # every JVM (launcher and driver): temp files in the checkout, and no
        # hsperfdata file, which the JVM would otherwise put under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
    )
    params, checks, core, inc = WORKLOADS[args.workload]

    t_gen = time.perf_counter()
    inputs, truth = materialize(os.path.join(ROOT, ".perfbench_cache"), params, args.seed)
    gen_s = time.perf_counter() - t_gen

    from suite import Bench
    from tracing import RssSampler, Tracer, parse_event_log

    sampler = RssSampler()
    sampler.start()
    tr = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}", counts=bool(args.trace))
    bench = Bench(inputs, truth, tr, work, traced=bool(args.trace))
    nproc = len(os.sched_getaffinity(0))
    try:
        bench.start(nproc)
        # the cold set-up counts from process start, without input generation
        setups = [time.perf_counter() - T_START - gen_s]
        # the first suite pass of a fresh session, as a submitted validation
        # job runs it (code generation and JIT warm-up included)
        tr.phase = "suite"
        wall = bench.suite_pass(checks)
        # three resumes spread over the delta stream, so that a burst of load
        # on the shared host moves at most one of them
        resumes = []

        def resume():
            phase, tr.phase = tr.phase, "resume"
            resumes.append(bench.resume_from(bench.killed_manifest(core), core))
            tr.phase = phase

        resume()
        tr.phase = "delta"
        lat = bench.delta_stream(inc, DELTA_WARMUP, midway=resume)
        resume()
        # the same resume at local[1], timed twice after one untimed resume in
        # the new session
        tr.phase = "setup"
        setups.append(bench.start(1))
        tr.phase = "warmup"
        bench.resume_from(bench.killed_manifest(core), core)
        tr.phase = "scale"
        resumes_1 = [bench.resume_from(bench.killed_manifest(core), core) for _ in range(2)]
    finally:
        peak_mb = sampler.stop()
        shutdown(bench)

    dps = truth["n_rows"] / wall
    resume_s = statistics.median(resumes)
    resume_1 = statistics.median(resumes_1)
    pending_rows = sum(truth["ucc"][0][params.num_partitions // 2 :])
    tail_s, tail_pct = tail(lat)
    failed = len(tr.failures)
    info = {
        "workload": args.workload, "seed": args.seed, "input_docs": truth["n_rows"],
        "input_hash": truth["content_hash"][:16], "nproc": nproc,
        "suite_s": wall, "resume_s": resumes,
        "resume_docs_per_s_local_n": pending_rows / resume_s,
        "resume_docs_per_s_local_1": pending_rows / resume_1,
        "delta_samples": len(lat), "delta_tail_s": tail_s,
        "delta_tail_percentile": round(tail_pct, 1),
        "attempted": tr.attempted, "failed_frac": failed / max(tr.attempted, 1),
        "session_restart_s": setups[1],
        "peak_rss_parts_mb": {k: round(v) for k, v in sampler.parts.items()},
        "generation_s": gen_s, "run_s": time.perf_counter() - T_START,
    }
    print("[perfbench] " + json.dumps(info))
    for f in tr.failures:
        print(f"[perfbench] failed: {f}", file=sys.stderr)

    if args.trace:
        ev: dict = {}
        for path in glob.glob(os.path.join(work, "eventlog", "*")):
            ev.update(parse_event_log(path))
        metrics = layer_metrics(tr, bench, ev, core, setups)
        metrics["failed_frac"] = {"value": failed / max(tr.attempted, 1), "unit": "ratio"}
        metrics["trace.docs_per_s"] = {"value": dps, "unit": "docs/s"}
        metrics["delta_tail_s"] = {"value": tail_s, "unit": "s"}
    else:
        metrics = {
            "setup_s": {"value": setups[0], "unit": "s"},
            "docs_per_s": {"value": dps, "unit": "docs/s"},
            "scale_eff": {"value": resume_1 / (nproc * resume_s), "unit": "ratio"},
            "resume_s": {"value": resume_s, "unit": "s"},
            "delta_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tr.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": tr.attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
