"""Event-log parsing on a small recorded Spark log, and span arithmetic."""

import json
import os

import pytest

from tracing import Tracer, parse_event_log, task_skew

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def _events():
    with open(LOG) as f:
        return [json.loads(line) for line in f]


def test_parser_attributes_task_metrics_to_job_groups():
    groups = parse_event_log(LOG)
    assert set(groups) == {"agg#1", "count#2"}
    # every TaskEnd of a stage whose job carries the group is counted
    stage_group = {}
    for ev in _events():
        if ev["Event"] == "SparkListenerJobStart":
            for sid in ev["Stage IDs"]:
                stage_group[sid] = ev["Properties"].get("spark.jobGroup.id")
    ends = [e for e in _events() if e["Event"] == "SparkListenerTaskEnd"]
    for g, stats in groups.items():
        mine = [e for e in ends if stage_group.get(e["Stage ID"]) == g]
        assert stats["tasks"] == len(mine) > 0
        written = sum(
            e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for e in mine
        )
        assert stats["shuffle_mb"] == pytest.approx(written / 1e6)
        records = sum(
            e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Records Written"] for e in mine
        )
        assert stats["shuffle_records"] == records
        assert sum(len(d) for d in stats["stages"].values()) == len(mine)
    # the grouped aggregation shuffles; its input scan reads bytes
    assert groups["agg#1"]["shuffle_mb"] > 0
    assert groups["agg#1"]["shuffle_records"] > 0
    assert groups["agg#1"]["input_mb"] > 0


def test_task_skew_uses_the_longest_stage():
    assert task_skew([]) == 1.0
    assert task_skew([[1.0, 1.0, 4.0], [0.1, 0.5]]) == 4.0
    assert task_skew([[0.1, 0.5], [2.0, 2.0, 2.0]]) == 1.0


def test_self_time_subtracts_children():
    tr = Tracer("t", counts=False)
    with tr.span("runner") as outer:
        with tr.span("checks.ucc") as inner:
            pass
    st = tr.self_times()
    assert inner["parent"] == outer["id"]
    assert st[outer["id"]] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    )
    assert {s["name"] for s in tr.spans} == {"runner", "checks.ucc"}
