"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The unit tests cover the arithmetic of the traced run and the input
generator.  ``test_smoke`` runs every workload once, traced, on tiny inputs
(scale 0.001, the size of the engine's sf0.001 fixture) through the same
code path as a timed run, and checks that every metric named in
BENCHMARK.json is emitted with its unit; it needs a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert spans.percentile(xs, 50) == 3.0
    assert spans.percentile(xs, 0) == 1.0
    assert spans.percentile(xs, 100) == 5.0
    assert spans.percentile(xs, 90) == pytest.approx(4.6)
    assert spans.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        spans.percentile([], 50)


def test_self_time_subtracts_the_union_of_children():
    # overlapping children count once; parts outside the span are clipped
    children = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0), (5.0, 5.0)]
    assert spans.covered(0.0, 10.0, children) == pytest.approx(4.0)
    assert spans.self_time(0.0, 10.0, children) == pytest.approx(6.0)
    assert spans.self_time(0.0, 10.0, []) == 10.0
    assert spans.self_time(2.5, 3.5, children) == 0.0


def test_core_idle_is_slot_time_minus_task_time():
    assert spans.core_idle_s(2.0, 4, 5.0) == pytest.approx(3.0)
    assert spans.core_idle_s(1.0, 4, 4.0) == 0.0


def _task(stage, run_ms, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": run_ms * 10**6,
                             "JVM GC Time": 1, "Disk Bytes Spilled": spill,
                             "Input Metrics": {"Bytes Read": 100, "Records Read": 10},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                             "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                      "Local Bytes Read": 2}}}


def test_event_log_jobs_stages_and_plans():
    plan = {"nodeName": "AdaptiveSparkPlan", "children": [
        {"nodeName": "Sort", "children": [
            {"nodeName": "Exchange", "children": [
                {"nodeName": "BroadcastExchange", "children": []}]}]}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "sparkPlanInfo": {"nodeName": "x", "children": []}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 3, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1, 2],
         "Properties": {"spark.jobGroup.id": "tape:q:action",
                        "spark.sql.execution.id": "3"}},
        _task(0, 300), _task(0, 100, spill=5), _task(1, 200),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
    ]
    log = spans.EventLog(events)
    (job,) = log.jobs_in({"tape:q:action"})
    assert (job.start, job.end) == (1.0, 2.5)
    m = spans.job_metrics(log, [job])
    assert m["stages"] == 2  # stage 2 never ran
    assert m["tasks"] == 3
    assert m["task_s"] == pytest.approx(0.6)
    assert m["max_task_s"] == pytest.approx(0.5)  # 0.3 + 0.2
    assert m["scan_rows"] == 30 and m["spill"] == 5
    assert m["shuffle_read"] == 9 and m["shuffle_write"] == 21
    assert (m["exchanges"], m["sorts"], m["broadcasts"], m["replans"]) == (1, 1, 1, 1)


def test_event_log_reader_reads_uncompressed_files(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text(
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1,
                    "Submission Time": 5, "Properties": {}}) + "\n")
    (d / "appstatus_app.inprogress").write_text("")
    assert [e["Job ID"] for e in spans.read_event_log(str(tmp_path))] == [1]


def test_canonical_sample_ignores_row_order_and_dtype_width():
    n = run.VALUE_ROWS * 3 + 7
    a = pd.DataFrame({"k": range(n), "x": [i * 0.1 for i in range(n)],
                      "s": [f"s{i % 13}" for i in range(n)]})
    b = a.sample(frac=1.0, random_state=1)[["x", "s", "k"]].astype({"k": "int32"})
    sa, sb = run.canonical_sample(a), run.canonical_sample(b)
    assert len(sa) <= run.VALUE_ROWS
    assert sa[["k", "s", "x"]].astype({"k": "int64"}).equals(
        sb[["k", "s", "x"]].astype({"k": "int64"}))


def test_datagen_is_deterministic(tmp_path):
    r1 = datagen.build(str(tmp_path / "a"), 0.001, 42)
    r2 = datagen.build(str(tmp_path / "b"), 0.001, 42)
    assert r1 == r2 == datagen.rows(0.001)
    for t in datagen.TABLES:
        fa = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        assert fa == (tmp_path / "b" / f"{t}.parquet").read_bytes()
    n = datagen.skew_events(str(tmp_path / "a"), str(tmp_path / "skew"), list(range(90)))
    ev = pd.read_parquet(tmp_path / "skew" / "events.parquet")
    assert n == len(ev) == r1["events"]
    assert ((ev.event_type == "hot") == (ev.event_id % 100 < 90)).all()


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_tables_match_benchmark_json():
    b = _benchmark()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("workload", ["tape", "corpus", "tape_skew", "stream"])
def test_smoke(workload):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1", "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    info, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    for got, want in ((info["end_to_end"], run.END_TO_END),
                      (result["metrics"], run.PER_LAYER)):
        assert {k: v["unit"] for k, v in got.items()} == want
        assert all(isinstance(v["value"], (int, float)) for v in got.values())
    assert all(info["end_to_end"][k]["value"] > 0 for k in run.END_TO_END)
