"""Self-tests of the benchmark's own code (no Spark needed).

  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import eventlog  # noqa: E402
import stats  # noqa: E402
from workloads import fingerprint  # noqa: E402


def _job(jid, t_ms, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": props}


def _stage(sid, start_ms, end_ms):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Submission Time": start_ms,
                           "Completion Time": end_ms}}


def _task(sid, run_ms, python_ms=None, shuffle_b=0):
    acc = []
    if python_ms is not None:
        acc.append({"ID": 7, "Name": eventlog.PYTHON_RUN_METRIC, "Update": python_ms})
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Accumulables": acc},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6 // 2,
                             "JVM GC Time": 1, "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_b}}}


@pytest.fixture
def canned_log(tmp_path):
    """Two query ops (job groups q1, q2) in the window 100.0-104.0 s.

    q1: job 0 runs stage 0 (100.5-101.0 s, two tasks, one through a
    Python node) and job 1 runs stage 1 (101.5-102.0 s) plus stage 2,
    which was skipped (no completion event). q2: job 2 runs stage 3
    (103.0-103.5 s). Job 3 is set-up work outside both ops."""
    events = [
        _job(3, 99_000, [9]), _stage(9, 99_000, 99_500), _task(9, 400),
        _job(0, 100_100, [0], "q1"), _stage(0, 100_500, 101_000),
        _task(0, 400, python_ms=250, shuffle_b=1 << 20), _task(0, 100),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 101_000},
        _job(1, 101_400, [1, 2], "q1"), _stage(1, 101_500, 102_000), _task(1, 300),
        _job(2, 102_900, [3], "q2"), _stage(3, 103_000, 103_500),
        _task(3, 200, python_ms="120"),
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (d / "appstatus_app").write_text("")
    return tmp_path


def test_eventlog_jobs_stages_gap_and_python_time(canned_log):
    ops = [
        {"group": "q1", "start": 100.0, "end": 102.5},
        {"group": "q2", "start": 102.5, "end": 104.0},
    ]
    q1, q2 = eventlog.per_op(canned_log, ops)
    assert (q1["jobs"], q1["stages"], q1["tasks"]) == (2, 2, 3)
    assert q1["in_stage_s"] == pytest.approx(1.0)
    assert q1["driver_gap_s"] == pytest.approx(1.5)
    assert q1["task_run_s"] == pytest.approx(0.8)
    assert q1["python_udf_s"] == pytest.approx(0.25)
    assert q1["shuffle_write_mb"] == pytest.approx(1.0)
    assert q1["task_skew"] == pytest.approx(400 / 250)
    assert (q2["jobs"], q2["stages"], q2["tasks"]) == (1, 1, 1)
    assert q2["in_stage_s"] == pytest.approx(0.5)
    assert q2["driver_gap_s"] == pytest.approx(1.0)
    assert q2["python_udf_s"] == pytest.approx(0.12)


def test_overlapping_stages_count_once_in_stage_time(tmp_path):
    events = [_job(0, 10_000, [0, 1], "g"), _stage(0, 10_000, 12_000),
              _stage(1, 11_000, 13_000), _task(0, 10), _task(1, 10)]
    (tmp_path / "log").write_text("\n".join(json.dumps(e) for e in events))
    (m,) = eventlog.per_op(tmp_path, [{"group": "g", "start": 9.0, "end": 14.0}])
    assert m["in_stage_s"] == pytest.approx(3.0)
    assert m["driver_gap_s"] == pytest.approx(2.0)


def test_time_window_attribution_of_jobs_to_rounds():
    jobs = {
        0: {"submit": 9.9, "group": None},    # before the first round
        1: {"submit": 10.0, "group": None},   # first instant of round 0
        2: {"submit": 14.99, "group": None},
        3: {"submit": 15.0, "group": None},   # round boundary -> round 1
        4: {"submit": 17.0, "group": "other"},  # unknown group, in window
        5: {"submit": 21.0, "group": None},   # after the crawl returned
    }
    rounds = [{"start": 10.0, "end": 15.0}, {"start": 15.0, "end": 20.0}]
    assert eventlog.assign_jobs(jobs, rounds) == {0: [1, 2], 1: [3, 4]}


def test_group_wins_over_window():
    jobs = {0: {"submit": 1.5, "group": "b"}}
    ops = [{"group": "a", "start": 1.0, "end": 2.0},
           {"group": "b", "start": 5.0, "end": 6.0}]
    assert eventlog.assign_jobs(jobs, ops) == {0: [], 1: [0]}


def test_percentile_refuses_fewer_than_ten_beyond():
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(99)), 90)
    assert stats.percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(19)), 50)
    assert stats.percentile(list(range(1, 21)), 50) == 10


def test_tail_picks_highest_supported_percentile():
    assert stats.tail(list(range(1, 41))) == (75.0, 30)
    assert stats.tail(list(range(1, 201))) == (95.0, 190)
    assert stats.tail(list(range(30))) is None


def test_spread_matches_statistics_quantiles():
    s = stats.spread([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
    assert s["median"] == 5.5
    assert s["iqr_over_median"] == pytest.approx((8.25 - 2.75) / 5.5)


def test_fingerprint_ignores_row_and_column_order():
    a = fingerprint(["x", "y"], [(1, 0.1234567), (2, float("nan"))])
    b = fingerprint(["y", "x"], [(float("nan"), 2), (0.1234568, 1)])
    assert a == b
    assert fingerprint(["x"], [(1,), (1,)]) != fingerprint(["x"], [(1,)])
