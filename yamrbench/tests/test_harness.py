"""Tests for the harness's pure-Python parts: the pass-count rule, the
strict comparator, the span tracer and the event-log reader (no Spark)."""

import json
import os
import sys
import types

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_timed_passes_fixed_and_tail_inside(name):
    wl = WORKLOADS[name]
    for seconds in (1, 5, 10, 20, 30, 60):
        n = wl.timed_passes(seconds)
        assert n >= 3
        assert stats.tail_inside_cluster(n)
        assert stats.tail_above_median(n * len(wl.queries))
        assert n == wl.timed_passes(seconds)


def test_comparator_is_strict_on_type_family_and_float_bits():
    got = pd.DataFrame({"k": ["a", "b"], "v": [1, 2]})
    assert oracle.compare(got, pd.DataFrame({"v": [2, 1], "k": ["b", "a"]})) is None
    assert oracle.compare(got, pd.DataFrame({"k": ["a", "b"], "v": [1.0, 2.0]})) == "values differ"
    f = pd.DataFrame({"x": [0.1 + 0.2]})
    assert oracle.compare(f, pd.DataFrame({"x": [0.3]})) == "values differ"
    assert oracle.compare(got, got.iloc[:1]) == "rows 2 != 1"
    assert oracle.compare(got, got.rename(columns={"v": "w"})).startswith("columns")


def test_comparator_rows_are_a_multiset():
    a = pd.DataFrame({"k": ["a", "a", "b"]})
    assert oracle.compare(a, pd.DataFrame({"k": ["a", "b", "b"]})) == "values differ"


def test_tracer_patches_every_holder_and_restores():
    mod = types.ModuleType("yamr_spark._tracer_probe")

    def table(x):
        return x + 1

    mod.table = table
    mod.alias = table
    sys.modules[mod.__name__] = mod
    try:
        tr = tracing.Tracer()
        tr.patch(mod.__name__, "table", "tables.table")
        assert mod.table is not table and mod.alias is mod.table
        tr.enabled, tr.tag = True, (0, "q")
        assert tr.call("queries.build", lambda: mod.table(1) + mod.alias(2)) == 5
        tr.restore()
        assert mod.table is table and mod.alias is table
        totals = tr.layer_totals(lambda tag: tag[0] if tag else None)[0]
        assert totals["tables.table"][0] == 2
        build = totals["queries.build"]
        assert build[0] == 1 and 0 <= build[2] <= build[1]
    finally:
        del sys.modules[mod.__name__]


def test_read_event_log_groups_by_description(tmp_path):
    desc = "yamrbench|3|word_count|write"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.job.description": desc}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1010, "Finish Time": 1050, "Accumulables": [
             {"Name": tracing.PY_SENT, "Update": "100"}]},
         "Task Metrics": {"Executor Run Time": 30, "Executor CPU Time": 20_000_000,
                          "JVM GC Time": 1, "Disk Bytes Spilled": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Shuffle Read Metrics": {"Local Bytes Read": 8, "Remote Bytes Read": 0}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 1, "Submission Time": 1005, "Completion Time": 1060}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1070},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    rec = tracing.read_event_log(str(tmp_path))[desc]
    assert rec["jobs"] == [(1000, 1070, 1010)]
    assert rec["stages"] == [(1, 1005, 1060, 40)]
    t = rec["tasks"]
    assert (t["tasks_n"], t["run_ms"], t["py_bytes"], t["py_run_ms"]) == (1, 30, 100, 30)
    assert (t["shuffle_write_b"], t["shuffle_read_b"]) == (64, 8)
