"""Tests for the event-log parser.

    python3 -m pytest perfbench/test_eventlog.py -q

Run from the repo root. The first test is pure Python; the second
starts Spark and traces two queries at sf0.001 (about a minute).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from workloads import DATA_DIR, TINY_SCALE  # noqa: E402


def _job_start(job_id, submit_ms, parents):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job_id,
        "Submission Time": submit_ms,
        "Stage Infos": [{"Stage ID": s, "Parent IDs": p} for s, p in parents.items()],
    }


def _stage(stage_id):
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage_id}}


def _task(stage_id, run_ms, cpu_ms=0, shuffle_b=0, spill_b=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage_id,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ms * 1_000_000,
            "JVM GC Time": 0,
            "Disk Bytes Spilled": spill_b,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_b},
            "Input Metrics": {"Bytes Read": 0},
        },
    }


def _job_end(job_id, end_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": end_ms}


def test_attribution_depth_and_core_busy(tmp_path):
    events = [
        # build: a two-stage job, both stages run
        _job_start(0, 1100, {0: [], 1: [0]}),
        _stage(0), _task(0, 100, 50), _task(0, 100, 50),
        _stage(1), _task(1, 200, 100, shuffle_b=1_000_000),
        _job_end(0, 1600),
        # execute: stage 1 is listed again but skipped; only stage 2 runs
        _job_start(1, 2100, {0: [], 1: [0], 2: [1]}),
        _stage(2), *[_task(2, 500, spill_b=500_000) for _ in range(4)],
        _job_end(1, 2900),
        # after the call: belongs to no window
        _job_start(2, 3500, {3: []}), _stage(3), _task(3, 999), _job_end(2, 3600),
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    calls = [{"build": (1000.0, 2000.0), "exec": (2000.0, 3000.0)}]
    (rec,) = eventlog.attribute(eventlog.read(str(path)), calls, [(1200.0, 300, 10)], cores=4)

    assert rec["build.jobs"] == 1 and rec["exec.jobs"] == 1
    assert rec["build.stages"] == 2 and rec["exec.stages"] == 1
    assert rec["build.stage_depth"] == 2 and rec["exec.stage_depth"] == 1
    assert rec["build.tasks"] == 3 and rec["exec.tasks"] == 4
    assert rec["build.task_run_s"] == pytest.approx(0.4)
    assert rec["build.task_cpu_s"] == pytest.approx(0.2)
    assert rec["build.shuffle_write_mb"] == pytest.approx(1.0)
    assert rec["build.driver_s"] == pytest.approx(0.5)  # 1.0 s window, 0.5 s in job 0
    assert rec["exec.plan_s"] == pytest.approx(0.1)
    assert rec["exec.core_busy"] == pytest.approx(2.0 / (1.0 * 4))
    assert rec["exec.spill_mb"] == pytest.approx(2.0)
    assert rec["stream.batches"] == 1 and rec["stream.input_rows"] == 10


def _build_window_jobs(log_path, b0, b1):
    """Classify the jobs submitted in [b0, b1) by who fired them."""
    kinds = {"caller": 0, "foreach_batch": 0, "other_thread": 0}
    with open(log_path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            if e["Event"] != "SparkListenerJobStart" or not b0 <= e["Submission Time"] < b1:
                continue
            props = e.get("Properties", {})
            if props.get("spark.jobGroup.id") == "perfbench-test":
                kinds["caller"] += 1
            elif "sql.streaming.queryId" in props:
                kinds["foreach_batch"] += 1
            else:
                kinds["other_thread"] += 1
    return kinds


def _traced_call(spark, fn, data_dir):
    spark.catalog.clearCache()
    b0 = time.time() * 1000.0
    df = fn(spark, data_dir)
    b1 = time.time() * 1000.0
    df.write.format("noop").mode("overwrite").save()
    return {"build": (b0, b1), "exec": (b1, time.time() * 1000.0)}


def test_time_windows_count_pool_and_foreach_batch_jobs(tmp_path):
    pytest.importorskip("pyspark")
    from etl_gov_spark.queries.catalog import all_queries
    from etl_gov_spark.session import get_spark

    evdir = tmp_path / "eventlog"
    evdir.mkdir()
    spark = get_spark(
        "perfbench-test",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(evdir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    data_dir = os.path.join(DATA_DIR, TINY_SCALE)
    try:
        qs = all_queries()
        # job groups only reach jobs fired from this thread
        spark.sparkContext.setJobGroup("perfbench-test", "traced call")
        calls = [
            _traced_call(spark, qs["stream_dedup_gate"], data_dir),
            _traced_call(spark, qs["graph_pagerank"], data_dir),
            _traced_call(spark, qs["graph_pagerank"], data_dir),
            _traced_call(spark, qs["graph_pagerank"], data_dir),
        ]
    finally:
        spark.stop()
    (log_path,) = evdir.iterdir()
    gate, rank1, rank2, rank3 = eventlog.attribute(eventlog.read(str(log_path)), calls, [], cores=4)

    kinds = _build_window_jobs(log_path, *calls[0]["build"])
    assert kinds["foreach_batch"] > 0, kinds
    assert kinds["other_thread"] > 0, kinds
    assert gate["build.jobs"] == sum(kinds.values())
    # The first call also reads each table's parquet schema, once per
    # process (io.sources keeps the table handles). After that, with
    # the cache cleared before each call, every repeat does the same work.
    assert rank1["build.jobs"] >= rank2["build.jobs"] == rank3["build.jobs"] > 0
