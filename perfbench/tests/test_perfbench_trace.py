"""Span self-time arithmetic and job-group attribution of the event-log
parser.  No Spark session is started."""

import json

import pytest

from perfbench import trace as T


class FakeSparkContext:
    """Holds the current job group; the status tracker reports two jobs
    for every group."""

    def __init__(self):
        self.group = None

    def setJobGroup(self, group, description):
        self.group = group

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value

    def statusTracker(self):
        return self

    def getJobIdsForGroup(self, group):
        return [1, 2]


def test_busy_s_unions_and_clips_intervals():
    assert T.busy_s([], 0, 10) == 0
    # overlapping [1,3] and [2,4] count once; [8,12] is clipped at 10
    assert T.busy_s([(2, 4), (1, 3), (8, 12)], 0, 10) == pytest.approx(5)
    # touching intervals and intervals outside the window
    assert T.busy_s([(0, 1), (1, 2), (-5, -1), (11, 12)], 0, 10) == \
        pytest.approx(2)


def test_nested_span_self_time_and_groups(monkeypatch):
    clock = iter([0.0, 1.0, 4.0, 5.0, 6.0, 10.0])
    monkeypatch.setattr(T.time, "time", lambda: next(clock))
    sc = FakeSparkContext()
    tr = T.Tracer(sc, "p0")
    with tr.span("outer") as outer:
        assert sc.group == outer.group
        with tr.span("inner.a") as a:
            assert sc.group == a.group
        assert sc.group == outer.group      # restored after the child
        with tr.span("inner.b"):
            pass
    assert sc.group is None                  # cleared after the root
    assert outer.wall == 10 and a.wall == 3
    assert outer.self_s == pytest.approx(10 - 3 - 1)
    assert a.self_s == a.wall
    assert outer.jobs == 2
    assert len({s.group for s in tr.spans}) == 3


def test_driver_s_is_self_time_without_task_cover():
    sp = T.Span("joins.sjoin_pairs", "g", start=0.0, end=10.0)
    sp.children_s = 2.0
    tasks = {"g": T.TaskStats(tasks=3, run_s=4.0,
                              intervals=[(1, 3), (2, 4), (8, 12)])}
    fig = T.span_figures(sp, tasks)
    assert fig["self_s"] == 8
    assert fig["driver_s"] == pytest.approx(8 - 5)
    assert fig["tasks"] == 3 and fig["task_run_s"] == 4.0


def _stage(stage, group, attempt=0):
    props = {"spark.jobGroup.id": group} if group else {}
    return json.dumps({"Event": "SparkListenerStageSubmitted",
                       "Stage Info": {"Stage ID": stage,
                                      "Stage Attempt ID": attempt},
                       "Properties": props})


def _task(stage, launch, finish, run=100, cpu=5e7, gc=10, shuffle=0,
          failed=False, attempt=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Stage Attempt ID": attempt,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Failed": failed, "Killed": False},
        "Task Metrics": {"Executor Run Time": run, "Executor CPU Time": cpu,
                         "JVM GC Time": gc,
                         "Shuffle Write Metrics": {
                             "Shuffle Bytes Written": shuffle}}})


def test_event_log_attributes_tasks_to_the_submitting_group():
    lines = [
        json.dumps({"Event": "SparkListenerApplicationStart"}),
        _stage(0, "p0.0:io.extract_geometries"),
        _stage(1, "p0.1:joins.sjoin_pairs"),
        _stage(2, None),
        _task(0, 1000, 1500, shuffle=7),
        _task(0, 1200, 1400),
        _task(1, 2000, 2600, run=600, failed=True),
        _stage(1, "p0.1:joins.sjoin_pairs", attempt=1),   # retried stage
        _task(1, 2700, 2800, run=100, attempt=1),
        _task(2, 3000, 3100),
    ]
    tasks, failed = T.parse_event_log(lines)
    ext = tasks["p0.0:io.extract_geometries"]
    assert ext.tasks == 2 and ext.failed == 0
    assert ext.run_s == pytest.approx(0.2)
    assert ext.cpu_s == pytest.approx(0.1)
    assert ext.gc_s == pytest.approx(0.02)
    assert ext.shuffle_write_bytes == 7
    assert ext.intervals == [(1.0, 1.5), (1.2, 1.4)]
    join = tasks["p0.1:joins.sjoin_pairs"]
    assert join.tasks == 2 and join.failed == 1
    assert join.run_s == pytest.approx(0.7)
    assert tasks[""].tasks == 1                # stage without a group
    assert failed == 1


def test_summarise_flags_counts_that_do_not_repeat():
    passes = [{"a": {"jobs": 3, "wall_s": 1.0}},
              {"a": {"jobs": 3, "wall_s": 2.0}, "b": {"jobs": 1}},
              {"a": {"jobs": 4, "wall_s": 3.0}}]
    med, exact = T.summarise(passes)
    assert med["a"] == {"jobs": 3, "wall_s": 2.0}
    assert exact["a"]["jobs"] is False
    # a layer missing from a pass counts as zero there
    assert med["b"]["jobs"] == 0 and exact["b"]["jobs"] is False
