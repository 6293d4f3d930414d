"""Benchmark-side tracing: spans around layer calls, Spark job-group counts,
event-log task metrics and a process-tree RSS sampler.

Spans are recorded from outside the program, around calls into each layer's
public functions; every span sets its own Spark job group so the jobs a layer
call launches can be attributed to it. Spans stay in memory and are written
out when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Records spans ``(name, start, end, parent, run_id, phase)``.

    With ``counts=True`` each span's Spark jobs, stages and tasks are read from
    ``sc.statusTracker()`` when the span ends (traced runs only)."""

    def __init__(self, run_id: str, counts: bool):
        self.run_id = run_id
        self.counts = counts
        self.spans: list[dict] = []
        self.failures: list[dict] = []
        self.attempted = 0
        self.phase = "setup"
        self.sc = None
        self._stack: list[dict] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._seq += 1
        rec = {
            "name": name,
            "id": self._seq,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "phase": self.phase,
            "group": f"{name}#{self._seq}",
            "start": time.perf_counter(),
        }
        self._stack.append(rec)
        self.set_group(rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.counts and self.sc is not None:
                rec.update(_job_counts(self.sc, rec["group"]))
            self.set_group(parent["group"] if parent else None)
            self.spans.append(rec)

    def set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def op(self, layer: str, ok: bool, what: str) -> None:
        """Count one operation (a check call or a delta batch)."""
        self.attempted += 1
        if not ok:
            self.failures.append({"layer": layer, "what": what, "phase": self.phase})

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its direct children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _job_counts(sc, group: str) -> dict:
    st = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None or si.numCompletedTasks == 0:
                continue  # skipped (reused shuffle) stages ran nothing
            stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


# ---- Spark event log -------------------------------------------------------


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: task metrics from a Spark JSON event log.

    Returns ``{group: {"shuffle_mb", "shuffle_records", "spill_mb",
    "input_mb", "tasks", "stages": {stage_id: [task durations in s]}}}``;
    stages map to groups through the ``spark.jobGroup.id`` property of their
    job."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                g = out.setdefault(
                    group,
                    {"shuffle_mb": 0.0, "shuffle_records": 0, "spill_mb": 0.0,
                     "input_mb": 0.0, "tasks": 0, "stages": {}},
                )
                info = ev.get("Task Info", {})
                dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                g["stages"].setdefault(ev["Stage ID"], []).append(dur)
                g["tasks"] += 1
                sw = m.get("Shuffle Write Metrics", {})
                g["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                g["shuffle_records"] += sw.get("Shuffle Records Written", 0)
                g["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 1e6
                g["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6
    return out


def task_skew(stages: list[list[float]]) -> float:
    """max / median task duration in the longest stage (by summed task time)."""
    if not stages:
        return 1.0
    longest = max(stages, key=sum)
    med = statistics.median(longest)
    return max(longest) / med if med > 0 else 1.0


# ---- memory ----------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(pid: int) -> dict[str, float]:
    """RSS in MB of ``pid`` (``driver``), its JVM children (``jvm``) and the
    other descendants (``workers``, the Python workers and their daemons)."""
    parts = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                mb = int(f.read().split()[1]) * PAGE / 1e6
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        kind = "driver" if p == pid else "jvm" if comm == "java" else "workers"
        parts[kind] += mb
    return parts


class RssSampler(threading.Thread):
    """One thread sampling the summed RSS of this process and its descendants
    (the JVM and its Python workers); ``parts`` splits the peak by process."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0.0
        self.parts: dict[str, float] = {}
        self._halt = threading.Event()

    def run(self) -> None:
        pid = os.getpid()
        while not self._halt.is_set():
            parts = tree_rss_mb(pid)
            if sum(parts.values()) > self.peak:
                self.peak, self.parts = sum(parts.values()), parts
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak
