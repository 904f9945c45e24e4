"""Event-log parsing and span attribution on a small canned event log.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402
from spans import Span, Tracer  # noqa: E402

APP = "local-1700000000000"


def _job_start(job_id, stages, t_ms, group=None):
    props = {"spark.jobGroup.id": group} if group is not None else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": t_ms, "Stage IDs": stages,
            "Properties": props}


def _job_end(job_id, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id,
            "Completion Time": t_ms, "Job Result": {"Result": "JobSucceeded"}}


def _task_end(stage, run_ms, reason="Success", **extra):
    metrics = {"Executor Run Time": run_ms, "JVM GC Time": 5,
               "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7,
               "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                        "Local Bytes Read": 11},
               "Shuffle Write Metrics": {"Shuffle Bytes Written": 13},
               "Input Metrics": {"Bytes Read": 17},
               "Output Metrics": {"Bytes Written": 19}}
    metrics.update(extra)
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Stage Attempt ID": 0, "Task End Reason": {"Reason": reason},
            "Task Metrics": metrics}


def _write(path, events):
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


@pytest.fixture()
def rolling_log(tmp_path):
    """Three rolled files, with an index (10) that
    sorts after 2 only numerically; one app-status marker to skip."""
    log = tmp_path / f"eventlog_v2_{APP}"
    log.mkdir()
    (log / f"appstatus_{APP}").write_text("")
    _write(log / f"events_1_{APP}", [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
        _job_start(0, [0, 1], 1_000, "span-0"),
        _task_end(0, 300), _task_end(1, 200),
        _job_end(0, 2_000),
    ])
    _write(log / f"events_2_{APP}", [
        # job 1 reuses stage 1 (skipped) and runs stage 2 in span-1
        _job_start(1, [1, 2], 2_500, "span-1"),
        _task_end(2, 400), _task_end(2, 400, reason="ExceptionFailure"),
        _job_end(1, 3_000),
        _job_start(2, [3], 2_800, "span-1"),
        _task_end(3, 100),
        _job_end(2, 3_500),
    ])
    _write(log / f"events_10_{APP}", [
        _job_start(3, [4], 4_000, None),            # no group: unattributed
        _task_end(4, 50), _job_end(3, 4_100),
        _job_start(4, [5], 4_200, "perfbench.idle"),  # ignored group
        _task_end(5, 50), _job_end(4, 4_300),
        _job_start(5, [6], 9_000, None),            # after the window
        _task_end(6, 50), _job_end(5, 9_100),
    ])
    return tmp_path


def test_rolling_files_are_read_in_index_order(rolling_log):
    files = [os.path.basename(f) for f in eventlog.event_files(str(rolling_log))]
    assert files == [f"events_1_{APP}", f"events_2_{APP}",
                     f"events_10_{APP}"]


def test_jobs_tasks_and_metrics(rolling_log):
    jobs = eventlog.read_jobs(str(rolling_log))
    assert sorted(jobs) == [0, 1, 2, 3, 4, 5]
    assert jobs[0].group == "span-0" and jobs[3].group is None
    # stage 1 belongs to job 0, which first listed it
    assert jobs[0].tasks == 2 and jobs[0].executor_run_s == pytest.approx(0.5)
    assert jobs[1].tasks == 2 and jobs[1].failed_tasks == 1
    assert (jobs[0].start_s, jobs[0].end_s) == (1.0, 2.0)
    assert jobs[1].shuffle_read_bytes == 22 and jobs[1].spill_bytes == 14
    assert jobs[1].gc_s == pytest.approx(0.01)
    assert jobs[1].input_bytes == 34 and jobs[1].output_bytes == 38


def test_interval_union_merges_overlaps():
    assert eventlog.interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.interval_union([(0, 10), (2, 3)]) == 10
    assert eventlog.interval_union([]) == 0


def test_layer_split_self_time_and_job_attribution(rolling_log):
    jobs = eventlog.read_jobs(str(rolling_log))
    spans = [
        # span-0 (orchestrator, 0..6 s) contains span-1 (writer, 2..4 s)
        Span("span-1", "writer", "write_cleanse_table", "span-0", 2.0, 4.0),
        Span("span-0", "orchestrator", "run_pipeline", None, 0.0, 6.0),
    ]
    layers, totals = eventlog.layer_split(
        spans, jobs, ["orchestrator", "writer", "delta_lite"], (0.0, 8.0),
        ignored_groups=("perfbench.idle",))
    orch, writer = layers["orchestrator"], layers["writer"]
    assert orch["calls"] == 1 and orch["self_s"] == pytest.approx(4.0)
    assert orch["jobs"] == 1 and orch["job_wait_s"] == pytest.approx(1.0)
    assert orch["driver_s"] == pytest.approx(3.0)
    assert orch["parallelism"] == pytest.approx(0.5)
    # span-1 jobs overlap: 2.5..3.0 and 2.8..3.5 cover 1.0 s
    assert writer["jobs"] == 2 and writer["tasks"] == 3
    assert writer["job_wait_s"] == pytest.approx(1.0)
    assert writer["executor_run_s"] == pytest.approx(0.9)
    assert writer["self_s"] == pytest.approx(2.0)
    # a layer that was never called still reports zeros
    assert layers["delta_lite"]["calls"] == 0
    assert totals["unattributed_jobs"] == 1      # job 3 only
    assert totals["jobs"] == 4                   # jobs 0, 1, 2, 3
    assert totals["failed_tasks"] == 1


class _FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):  # noqa: N802 - Spark's name
        self.groups.append(group)


def test_tracer_nests_spans_and_sets_innermost_job_group():
    sc = _FakeContext()
    tracer = Tracer(sc)
    inner = tracer.wrap("delta_lite", "read_delta",
                        lambda: sc.groups[-1] if sc.groups else None)
    outer = tracer.wrap("orchestrator", "run_pipeline", lambda: inner())

    assert outer() is None              # not active: no span, no group set
    assert tracer.spans == []

    tracer.active = True
    assert outer() == "span-1"          # inner span's id was the group
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["read_delta"].parent == by_name["run_pipeline"].id
    assert by_name["run_pipeline"].parent is None
    # each close restores the parent's group, the last one the idle group
    assert sc.groups == ["span-0", "span-1", "span-0", Tracer.idle_group]


def test_tracer_closes_span_when_the_call_raises():
    sc = _FakeContext()
    tracer = Tracer(sc)
    tracer.active = True

    def boom():
        raise ValueError("x")

    with pytest.raises(ValueError):
        tracer.wrap("writer", "write_cleanse_table", boom)()
    assert len(tracer.spans) == 1 and tracer.spans[0].end >= tracer.spans[0].start
    assert sc.groups[-1] == Tracer.idle_group
