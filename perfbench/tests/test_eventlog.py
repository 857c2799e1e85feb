"""The event-log join: job groups → stages → task metrics."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

import eventlog  # noqa: E402


def _task(stage, run_ms, read=0, written=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
        },
    }


def test_stage_shared_by_two_jobs_counts_once_for_the_first():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "a"}},
        _task(0, 10, written=100),
        _task(1, 30, read=100),
        _task(2, 5, spill=7),
    ]
    groups = eventlog.job_group_metrics(events)
    assert groups["a"]["jobs"] == 1 and len(groups["a"]["tasks"]) == 2
    assert len(groups["b"]["tasks"]) == 1
    m = eventlog.span_metrics("a", 1.5, groups["a"])
    assert m == {"a.self_s": 1.5, "a.tasks": 2, "a.task_skew": 30 / 20,
                 "a.shuffle_mb": 200 / 1e6, "a.spill_mb": 0.0}
    assert eventlog.span_metrics("b", 0.1, groups["b"])["b.spill_mb"] == 7 / 1e6


def test_self_time_subtracts_children():
    tr = eventlog.Tracer(sc=None)
    tr.spans = [
        {"name": "parent", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "child", "start": 2.0, "end": 5.0, "parent": "parent"},
    ]
    assert tr.self_seconds() == {"parent": 7.0, "child": 3.0}


def test_tiny_job_with_two_job_groups(tmp_path):
    from pyspark.sql import SparkSession

    from rnadam_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    spark = get_spark(
        "eventlog-test",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + str(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    tr = eventlog.Tracer(spark.sparkContext)
    try:
        with tr.span("count_range"):
            spark.range(1000).count()
        with tr.span("group_by"):
            spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    finally:
        spark.stop()
    groups = eventlog.job_group_metrics(eventlog.read_events(str(log_dir)))
    for name in ("count_range", "group_by"):
        m = eventlog.span_metrics(name, 0.0, groups[name])
        assert groups[name]["jobs"] >= 1
        assert m[f"{name}.tasks"] > 0
    assert eventlog.span_metrics("group_by", 0.0, groups["group_by"])["group_by.shuffle_mb"] > 0
