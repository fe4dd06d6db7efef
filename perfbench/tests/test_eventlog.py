import json

import pytest

from perfbench.eventlog import StageRow, reduce_dir, reduce_events, stage_wall_s


def _task(stage, run_ms, **m):
    metrics = {
        "Executor Run Time": run_ms,
        "Executor CPU Time": run_ms * 500_000,  # ns: half the run time
        "JVM GC Time": m.get("gc", 0),
        "Disk Bytes Spilled": m.get("spill", 0),
        "Input Metrics": {"Bytes Read": m.get("inb", 0), "Records Read": m.get("inr", 0)},
        "Shuffle Read Metrics": {"Remote Bytes Read": m.get("rr", 0), "Local Bytes Read": m.get("lr", 0)},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": m.get("sw", 0)},
    }
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": metrics}


CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.job.description": "perfbench:7:tableio.write_bucket_data"}},
    _task(0, 100, inb=1000, inr=10, sw=300),
    _task(0, 300, inb=3000, inr=30, sw=500, gc=20),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Stage Name": "scan",
                                                       "Submission Time": 1000, "Completion Time": 1450}},
    _task(1, 200, rr=100, lr=700, spill=64),
    _task(1, 400, lr=0),
    _task(1, 1200, lr=0),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Stage Name": "write"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": None},  # failed task: no metrics
]


def test_reducer_on_canned_log():
    rows = reduce_events(json.dumps(e) for e in CANNED)
    assert [r.stage_id for r in rows] == [0, 1, 2]
    scan, write, other = rows
    assert scan.span_id == write.span_id == 7 and other.span_id is None
    assert scan.job_ids == [0] and other.job_ids == [1]
    assert scan.name == "scan" and write.name == "write"
    assert scan.wall_s == pytest.approx(0.45) and write.wall_s == 0.0
    assert (scan.tasks, scan.input_bytes, scan.input_records, scan.shuffle_write_bytes) == (2, 4000, 40, 800)
    assert scan.run_s == pytest.approx(0.4) and scan.cpu_s == pytest.approx(0.2)
    assert scan.gc_s == pytest.approx(0.02)
    assert (write.tasks, write.shuffle_read_bytes, write.spill_bytes) == (3, 800, 64)
    assert write.task_max_s == pytest.approx(1.2) and write.task_median_s == pytest.approx(0.4)
    assert write.task_skew == pytest.approx(3.0)
    assert other.tasks == 0 and other.task_skew == 0.0


def test_reduce_dir_reads_rolling_log_parts_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = [json.dumps(e) for e in CANNED]
    # part 10 sorts before part 2 as text; the reducer must order them numerically
    (d / "events_2_local-1").write_text("\n".join(lines[:6]) + "\n")
    (d / "events_10_local-1").write_text("\n".join(lines[6:]) + "\n")
    (d / "appstatus_local-1").write_text("")
    (d / ".appstatus_local-1.crc").write_text("x")
    rows = reduce_dir(tmp_path)
    assert [r.tasks for r in rows if r.stage_id in (0, 1)] == [2, 3]


def test_stage_wall_merges_overlapping_stages():
    rows = [
        StageRow(0, submitted_s=10.0, completed_s=12.0),
        StageRow(1, submitted_s=11.0, completed_s=13.0),  # overlaps stage 0
        StageRow(2, submitted_s=11.5, completed_s=12.5),  # inside both
        StageRow(3, submitted_s=20.0, completed_s=20.5),
        StageRow(4),  # skipped: no times
    ]
    assert stage_wall_s(rows) == pytest.approx(3.5)
    assert stage_wall_s([]) == 0.0
