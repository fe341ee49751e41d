"""The event-log reader on planted logs in both Spark layouts."""

import json
import os

import pytest

from perfbench import eventlog


def _task(stage, launch, finish, run_ms, cpu_ns, gc_ms, result, kind="ResultTask",
          shuffle_read=(0, 0), shuffle_write=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Type": kind,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "JVM GC Time": gc_ms, "Result Size": result,
                             "Shuffle Read Metrics": {"Remote Bytes Read": shuffle_read[0],
                                                      "Local Bytes Read": shuffle_read[1]},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write}}}


def _app_events(group):
    """Job 0 (two stages) and job 1 (stage 1 skipped, stage 2 runs) in
    ``group``; job 2 has no group and must be ignored."""
    props = {"spark.jobGroup.id": group}
    return [
        {"Event": "SparkListenerApplicationStart", "App ID": "app"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": props},
        _task(0, 1000, 1100, 90, 80_000_000, 5, 10, kind="ShuffleMapTask", shuffle_write=700),
        _task(0, 1000, 1400, 390, 300_000_000, 0, 10, kind="ShuffleMapTask", shuffle_write=300),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 1400}},
        _task(1, 1400, 1500, 100, 100_000_000, 0, 2048, shuffle_read=(0, 1000)),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 1400, "Completion Time": 1500}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [1, 2], "Properties": props},
        _task(2, 2000, 2100, 100, 50_000_000, 0, 512),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Submission Time": 2000, "Completion Time": 2100}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3000,
         "Stage IDs": [3], "Properties": {}},
        _task(3, 3000, 3100, 100, 1, 0, 1),
    ]


def _write(path, events, truncate=False):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")
        if truncate:
            f.write('{"Event": "SparkListenerTaskEnd", "Stage')


@pytest.fixture
def planted(tmp_path):
    # rolling layout (Spark 4.1 default): one directory per app, numbered parts
    evs = _app_events("op#1")
    roll = tmp_path / "eventlog_v2_local-1"
    roll.mkdir()
    _write(roll / "events_2_local-1", evs[6:])
    _write(roll / "events_1_local-1", evs[:6])
    (roll / "appstatus_local-1").write_text("")
    # plain layout, a second app whose stage ids restart at 0; still writing
    _write(tmp_path / "local-2", _app_events("op#2"), truncate=True)
    return str(tmp_path)


def test_groups_are_attributed_per_app(planted):
    stats = eventlog.group_stats(eventlog.read_events(planted))
    assert set(stats) == {"op#1", "op#2"}
    for g in stats.values():
        assert g["jobs"] == 2
        assert g["stages"] == 3
        assert g["tasks"] == 4
        assert g["executor_run_s"] == pytest.approx(0.68)
        assert g["executor_cpu_s"] == pytest.approx(0.53)
        assert g["gc_s"] == pytest.approx(0.005)
        assert g["shuffle_write_bytes"] == 1000
        assert g["shuffle_read_bytes"] == 1000
        assert g["result_bytes"] == 2048 + 512  # result tasks only
        # longest stage is stage 0: task times 100 and 400 ms
        assert g["task_skew"] == pytest.approx(400 / 250)
        assert sorted(g["job_intervals_ms"]) == [(1000, 1500), (2000, 2100)]


def test_driver_gap_counts_time_without_a_running_job(planted):
    g = eventlog.group_stats(eventlog.read_events(planted))["op#1"]
    # op from 0.5 s to 2.5 s; jobs cover 0.5 s + 0.1 s of it
    assert eventlog.driver_gap_s(0.5, 2.5, g["job_intervals_ms"]) == pytest.approx(1.4)
    assert eventlog.driver_gap_s(1.0, 1.5, g["job_intervals_ms"]) == pytest.approx(0.0)


def test_rolling_parts_read_in_order(planted):
    evs = eventlog.read_events(planted)
    app0 = [e["Event"] for e in evs if e["_app"] == 0]
    assert app0[0] == "SparkListenerApplicationStart"
    assert len(app0) == len(_app_events("x"))
    assert not os.path.exists(os.path.join(planted, "missing"))
