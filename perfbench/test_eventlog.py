"""Tests for the event-log reader. Run: python3 -m pytest perfbench/ -q"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group is not None else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": props}


def _task(stage, run_ms, *, cpu_ns=0, gc_ms=0, sh_read=(0, 0), sh_write=0,
          spill=(0, 0), accums=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill[0],
            "Disk Bytes Spilled": spill[1],
            "Shuffle Read Metrics": {"Remote Bytes Read": sh_read[0],
                                     "Local Bytes Read": sh_read[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sh_write},
        },
        "Task Info": {"Accumulables": [
            {"ID": i, "Name": n, "Update": str(v), "Metadata": "sql"} for i, n, v in accums
        ]},
    }


def _plan(metrics):
    return {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "sparkPlanInfo": {
            "nodeName": "WriteFiles",
            "metrics": [],
            "children": [{
                "nodeName": "MapInArrow",
                "metrics": [{"name": n, "accumulatorId": i, "metricType": t}
                            for i, n, t in metrics],
                "children": [],
            }],
        },
    }


def _stage_done(stage):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}}


def _write(path, events):
    with open(path, "w", encoding="utf-8") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")


APP_EVENTS = [
    {"Event": "SparkListenerLogStart"},
    _plan([(10, "time to run Python workers", "timing"),
           (11, "data sent to Python workers", "size"),
           (12, "time to start Python workers", "nsTiming")]),
    _job(0, [0], "pass"),
    _task(0, 1000, cpu_ns=int(5e8), gc_ms=20, sh_write=100,
          accums=[(10, "time to run Python workers", 800),
                  (11, "data sent to Python workers", 4096),
                  (12, "time to start Python workers", int(2e9))]),
    _task(0, 3000, cpu_ns=int(1e9),
          accums=[(10, "time to run Python workers", 2500),
                  (99, "number of output rows", 7)]),
    _task(0, 1000),
    _stage_done(0),
    _job(1, [1, 2], "probe.scan"),
    _task(1, 200, sh_read=(5, 7), spill=(3, 4)),
    _task(2, 100),
    _stage_done(1),
    _stage_done(2),
    _job(2, [3]),
    _task(3, 50),
]


def test_rolling_dir_sums_per_group_with_declared_units(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    # split across two parts, listed out of order on purpose
    _write(d / "events_2_local-1", APP_EVENTS[5:])
    _write(d / "events_1_local-1", APP_EVENTS[:5])
    (d / "appstatus_local-1").write_text("")
    groups = eventlog.read_groups(str(tmp_path))

    p = groups["pass"]
    assert (p.jobs, p.stages, p.tasks) == (1, 1, 3)
    assert p.run_s == pytest.approx(5.0)
    assert p.cpu_s == pytest.approx(1.5)
    assert p.gc_s == pytest.approx(0.02)
    assert p.shuffle_write_bytes == 100
    assert p.accums["time to run Python workers"] == pytest.approx(3.3)
    assert p.accums["data sent to Python workers"] == 4096
    assert p.accums["time to start Python workers"] == pytest.approx(2.0)
    assert "number of output rows" not in p.accums
    assert p.task_skew() == pytest.approx(3.0)

    s = groups["probe.scan"]
    assert (s.jobs, s.stages, s.tasks) == (1, 2, 2)
    assert s.shuffle_read_bytes == 12
    assert s.spill_bytes == 7
    assert s.task_skew() == 1.0  # one task per stage: no skew
    assert groups[""].tasks == 1


def test_two_applications_do_not_share_stage_ids(tmp_path):
    _write(tmp_path / "local-1", APP_EVENTS)
    # a second app reuses stage id 0 under another group
    _write(tmp_path / "local-2.inprogress", [_job(0, [0], "slot1"), _task(0, 4000)])
    groups = eventlog.read_groups(str(tmp_path))
    assert groups["pass"].tasks == 3
    assert groups["slot1"].tasks == 1
    assert groups["slot1"].run_s == pytest.approx(4.0)
    assert groups["slot1"].task_skew() == 1.0


def test_unknown_metric_type_is_taken_as_raw_value(tmp_path):
    # an accumulable whose plan event is missing keeps its raw update
    _write(tmp_path / "local-3", [_job(0, [0], "g"),
                                  _task(0, 10, accums=[(5, "data returned from Python workers", 123)])])
    assert eventlog.read_groups(str(tmp_path))["g"].accums == {
        "data returned from Python workers": 123.0
    }


def test_compressed_log_is_refused(tmp_path):
    (tmp_path / "local-4.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="compress"):
        eventlog.read_groups(str(tmp_path))


def test_reads_a_real_spark_log(tmp_path):
    """End to end against Spark's own writer: a grouped Python map job."""
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    del pyspark
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", f"file://{tmp_path}")
        .getOrCreate()
    )
    try:
        spark.sparkContext.setJobGroup("py", "py")

        def identity(batches):
            yield from batches

        spark.range(1000, numPartitions=2).mapInArrow(identity, "id long").write.format(
            "noop"
        ).mode("overwrite").save()
    finally:
        spark.stop()
    g = eventlog.read_groups(str(tmp_path))["py"]
    assert g.jobs >= 1 and g.tasks == 2
    assert g.accums["data sent to Python workers"] > 0
    assert g.accums["time to run Python workers"] >= 0
