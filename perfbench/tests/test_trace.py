"""Span self-time arithmetic and event-log attribution."""

import json

import pytest

import tracing as tr


def _span(i, name, start, end, parent=None):
    return tr.Span(i, name, start, end, parent=parent)


def test_self_time_subtracts_children():
    spans = [_span(0, "job", 0.0, 10.0),
             _span(1, "a", 1.0, 3.0, 0),
             _span(2, "b", 4.0, 8.0, 0),
             _span(3, "c", 5.0, 6.0, 2)]
    st = tr.self_times(spans)
    assert st == {0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_self_time_merges_overlapping_children_and_clips():
    spans = [_span(0, "job", 0.0, 10.0),
             _span(1, "a", 2.0, 5.0, 0),
             _span(2, "b", 4.0, 7.0, 0),   # overlaps a: covered 2..7
             _span(3, "c", 9.0, 12.0, 0)]  # runs past the parent: 9..10
    assert tr.self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_self_time_by_name_groups_repeats():
    spans = [_span(0, "job", 0.0, 4.0), _span(1, "a", 0.0, 1.0, 0),
             _span(2, "job", 5.0, 8.0), _span(3, "a", 5.0, 7.0, 2)]
    assert tr.self_time_by_name(spans) == {"job": [3.0, 1.0], "a": [1.0, 2.0]}


def _log(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _task(stage, launch, finish, run, shuffle=0, failed=False):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "ExceptionFailure" if failed
                                else "Success"},
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Failed": failed},
            "Task Metrics": {"Executor Run Time": run,
                             "Executor Deserialize Time": 0,
                             "Result Serialization Time": 0,
                             "JVM GC Time": 10,
                             "Shuffle Write Metrics":
                                 {"Shuffle Bytes Written": shuffle},
                             "Memory Bytes Spilled": 0,
                             "Disk Bytes Spilled": 0}}


def test_engine_by_group_from_synthetic_log(tmp_path):
    _log(tmp_path / "app1", [
        {"Event": "SparkListenerLogStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "r:0:a"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1}},
        _task(0, 0, 100, 90, shuffle=50),
        _task(0, 0, 300, 300, shuffle=50),
        _task(0, 0, 100, 100),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "r:1:b"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Submission Time": 1}},
        _task(2, 0, 50, 50, failed=True),
    ])
    # a second application restarts job and stage ids at 0
    _log(tmp_path / "app2", [
        {"Event": "SparkListenerLogStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "r:1:b"}},
        _task(0, 0, 10, 10),
    ])
    g = tr.engine_by_group(str(tmp_path))
    a, b = g["r:0:a"], g["r:1:b"]
    assert (a["spark.jobs"], a["spark.stages"], a["spark.tasks"]) == (1, 1, 3)
    assert a["spark.shuffle_write_bytes"] == 100
    assert a["spark.sched_delay_s"] == pytest.approx(0.01)
    assert a["spark.gc_s"] == pytest.approx(0.03)
    assert a["spark.task_skew"] == pytest.approx(3.0)
    assert (b["spark.jobs"], b["spark.tasks"], b["spark.task_failures"]) \
        == (2, 2, 1)


def test_two_span_toy_run(tmp_path):
    """A real local session: jobs land on the span that launched them."""
    pytest.importorskip("pyspark")
    import run

    run.pin_env(str(tmp_path))
    spark = run.new_session(str(tmp_path), trace=True)
    try:
        t = tr.Tracer(spark, True, "toy")
        with t.span("outer"):
            spark.range(1000).collect()
            with t.span("inner"):
                spark.range(100).repartition(3).groupBy().count().collect()
    finally:
        run.shutdown(spark)
    g = tr.engine_by_group(str(tmp_path / "eventlog"))
    per = tr.engine_by_span(t.spans, g, t)
    assert per["outer"]["spark.jobs"] >= 1
    assert per["inner"]["spark.jobs"] >= 1
    assert per["inner"]["spark.shuffle_write_bytes"] > 0
    assert per["outer"]["spark.shuffle_write_bytes"] == 0
    st = tr.self_times(t.spans)
    assert 0 < st[0] < t.spans[0].end - t.spans[0].start
