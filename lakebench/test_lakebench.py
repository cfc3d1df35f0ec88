"""The benchmark's own tests: pure helpers, the event-log reducer on a
synthetic log, input determinism, and a smoke-size run of every workload.

    python3 -m pytest lakebench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import gen  # noqa: E402
import trace_layers  # noqa: E402


def test_tail_reports_p75_when_short_and_ten_beyond_when_long():
    assert common.tail(list(range(12))) == (8, 75.0, 3)
    value, pct, beyond = common.tail([float(i) for i in range(100)])
    assert (value, pct, beyond) == (89.0, 90.0, 10)


def test_round_tail_is_the_median_of_each_rounds_slowest_op():
    ops = common.Ops()
    for r, times in enumerate(([1.0, 2.0], [1.0, 9.0], [1.5, 3.0]), start=1):
        ops.round = r
        for t in times:
            ops.add("tick", 0.0, t)
    ops.add("read", 0.0, 50.0)
    assert ops.round_tail("tick") == 3.0


def test_self_time_subtracts_child_coverage():
    spans = [trace_layers.Span(0, "lake.merge", 0.0, None, None),
             trace_layers.Span(1, "lake.snapshot", 1.0, 0, None),
             trace_layers.Span(2, "lake.snapshot", 1.5, 0, None)]
    for s, end in zip(spans, (10.0, 3.0, 4.0)):
        s.end, s.op = end, 0
    # merge self = 10 - |[1,4]| = 7; each snapshot has no children
    assert trace_layers._self_time(spans, "lake", {0}) == pytest.approx(7 + 2 + 2.5)


def _event(name, **kw):
    return json.dumps({"Event": name, **kw})


def test_event_log_reducer_attributes_jobs_tasks_and_python_metrics(tmp_path):
    plan = {"nodeName": "MapInPandas", "metrics": [
        {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"},
        {"name": "number of output rows", "accumulatorId": 8, "metricType": "sum"}],
        "children": [{"nodeName": "Scan parquet", "metrics": [
            {"name": "number of output rows", "accumulatorId": 9, "metricType": "sum"}],
            "children": []}]}
    task = {"Stage ID": 3, "Task Info": {"Accumulables": [
        {"ID": 7, "Update": "40"}, {"ID": 8, "Update": "5"}, {"ID": 9, "Update": "100"}]},
        "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 2e8,
                         "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 64},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 32}}}
    lines = [
        _event("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
               executionId=0, sparkPlanInfo=plan),
        _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1_000_100,
                                           "Stage IDs": [3]}),
        _event("SparkListenerTaskEnd", **task),
        _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1_000_600}),
        _event("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1_005_000,
                                           "Stage IDs": []}),
        _event("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1_005_100}),
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(lines) + "\n")
    log = trace_layers.EventLog(str(path))
    [op, later] = log.per_op([("q", 1000.0, 1001.0), ("q", 1004.9, 1005.2)])
    assert op["jobs"] == 1 and op["tasks"] == 1 and op["stages"] == 1
    assert op["executor_run_s"] == pytest.approx(0.5)
    assert op["executor_cpu_s"] == pytest.approx(0.2)
    assert (op["shuffle_read_bytes"], op["shuffle_write_bytes"]) == (64, 32)
    assert op["python.run_ms"] == 40 and op["python.rows_received"] == 5
    assert op["driver_gap_s"] == pytest.approx(0.5)
    assert later["jobs"] == 1 and later["driver_gap_s"] == pytest.approx(0.2)
    assert log.jobs_between(1000.0, 1001.0) == 1


def test_inputs_follow_the_seed():
    a, b = gen.tpch_tables(3, 0.001), gen.tpch_tables(3, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not gen.tpch_tables(4, 0.001)["lineitem"].equals(a["lineitem"])
    cur = gen.curation_tables(3, 200, 200, dup_frac=0.2)
    ids = cur["documents"]["doc_id"].to_pylist()
    assert len(set(ids)) == len(ids) == 200
    assert cur["documents"].equals(gen.curation_tables(3, 200, 200, dup_frac=0.2)["documents"])


def _run(workload: str, trace: int) -> tuple[int, dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
    )
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def _declared(kind: str) -> list[str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


@pytest.mark.parametrize("workload", ["ingest", "lake_sql", "curate"])
def test_smoke_run_is_correct_and_reports_every_end_to_end_metric(workload):
    rc, res, out = _run(workload, 0)
    assert rc == 0 and res["correct"], out
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert sorted(res["metrics"]) == sorted(_declared("end_to_end"))
    assert all(m["value"] > 0 for m in res["metrics"].values()), res


def test_smoke_traced_ingest_reports_layers_and_cross_checks_jobs():
    rc, res, out = _run("ingest", 1)
    assert rc == 0 and res["correct"], out
    assert sorted(res["metrics"]) == sorted(_declared("per_layer"))
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["spark.jobs.write"] == m["spark.jobs_statustracker"] > 0
    assert m["streaming.ticks"] > 0 and m["python.run_ms"] == 0
    assert "event-log jobs per tick == statusTracker" in out
