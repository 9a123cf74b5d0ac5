"""Span bookkeeping and per-job accounting, without Spark."""

import sys

import pytest

import spans


def _iso(t):
    import datetime as dt

    d = dt.datetime.fromtimestamp(t, dt.timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S.") + f"{d.microsecond // 1000:03d}GMT"


def test_union_length_merges_and_clips():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([(0, 10)], 2, 4) == 2
    assert spans.union_length([]) == 0


@pytest.mark.parametrize("text,value", [
    ("487 ms", 0.487),
    ("1.5 s", 1.5),
    ("2.0 m", 120.0),
    ("1,234", 1234),
    ("33.4 KiB", 33.4 * 1024),
    ("total (min, med, max (stageId: taskId))\n2.3 KiB (1.0 KiB, 1.0 KiB)", 2.3 * 1024),
])
def test_metric_value(text, value):
    assert spans.metric_value(text) == pytest.approx(value)


def test_rest_time_roundtrip():
    assert spans.rest_time(_iso(1_700_000_000.25)) == pytest.approx(1_700_000_000.25)


def test_account_splits_wall_into_disjoint_pieces():
    t0 = 1_700_000_000.0
    t1, t2 = t0 + 1.0, t0 + 3.0  # build 1 s, action 2 s
    records = {
        "jobs": [
            {"jobId": 0, "jobGroup": "g", "stageIds": [0],
             "submissionTime": _iso(t0 + 0.5), "completionTime": _iso(t0 + 0.8)},
            {"jobId": 1, "jobGroup": "g", "stageIds": [1],
             "submissionTime": _iso(t1 + 0.3), "completionTime": _iso(t1 + 1.5)},
        ],
        "stages": [
            {"stageId": 0, "status": "COMPLETE", "executorRunTime": 100,
             "numCompleteTasks": 1},
            {"stageId": 1, "status": "COMPLETE", "executorRunTime": 900,
             "shuffleWriteBytes": 10, "numCompleteTasks": 2},
        ],
        "executions": [],
    }
    tr = spans.Trace()
    acc = spans.account(tr, "q", t0, t1, t2, records,
                        builds=[("registry.build", t0, t1)])
    v = acc["vector"]
    assert v["eager"] == pytest.approx(0.3)
    assert v["build"] == pytest.approx(0.7)
    assert v["plan"] == pytest.approx(0.3)
    assert v["jobs"] == pytest.approx(1.2)
    assert v["residual"] == pytest.approx(0.5)
    assert v["between"] == 0
    assert sum(v.values()) == pytest.approx(acc["wall"])
    # 0.5 s of the 3 s wall is covered by no record
    assert acc["error"] == pytest.approx(0.5 / 3.0)
    layers = acc["layers"]
    assert layers["registry.eager_jobs"] == 1
    assert layers["exec.run_s"] == pytest.approx(1.0)
    assert layers["plans.tasks"] == 3
    root = next(s for s in tr.spans if s.parent is None)
    assert tr.self_time(root.id) == pytest.approx(3.0 - 1.0 - 0.3 - 1.2)


def _one_job(t0, a, b, executions=()):
    return {
        "jobs": [{"jobId": 0, "jobGroup": "g", "stageIds": [],
                  "submissionTime": _iso(a), "completionTime": _iso(b)}],
        "stages": [],
        "executions": [
            {"id": i, "submissionTime": _iso(ea), "duration": round((eb - ea) * 1000),
             "successJobIds": [0], "failedJobIds": [], "runningJobIds": [],
             "nodes": []}
            for i, (ea, eb) in enumerate(executions)
        ],
    }


def test_execution_time_between_jobs_is_measured():
    t0 = 1_700_000_000.0
    records = _one_job(t0, t0 + 0.2, t0 + 0.6, executions=[(t0 + 0.1, t0 + 1.0)])
    acc = spans.account(spans.Trace(), "q", t0, t0, t0 + 1.0, records)
    v = acc["vector"]
    assert v["plan"] == pytest.approx(0.2)
    assert v["jobs"] == pytest.approx(0.4)
    assert v["between"] == pytest.approx(0.4)
    assert v["residual"] == pytest.approx(0.0)
    assert acc["error"] == pytest.approx(0.0, abs=1e-6)


def test_clock_skew_shows_as_error():
    """A Spark job reported as ending after the job's wall is not clipped
    away silently."""
    t0 = 1_700_000_000.0
    records = _one_job(t0, t0 + 0.1, t0 + 1.5)
    acc = spans.account(spans.Trace(), "q", t0, t0, t0 + 1.0, records)
    assert sum(acc["vector"].values()) == pytest.approx(1.0)
    assert acc["error"] == pytest.approx(0.5)


def test_timed_calls_explain_the_gaps_between_executions():
    """A program call (t1 == t0) whose plan-building and sink calls are
    timed from outside: jobs inside the sink call belong to the action."""
    t0 = 1_700_000_000.0
    records = _one_job(t0, t0 + 0.2, t0 + 0.4)
    records["jobs"].append({"jobId": 1, "jobGroup": "g", "stageIds": [],
                            "submissionTime": _iso(t0 + 0.7),
                            "completionTime": _iso(t0 + 0.9)})
    acc = spans.account(
        spans.Trace(), "q", t0, t0, t0 + 1.0, records,
        builds=[("geotiff.raster_histogram", t0 + 0.45, t0 + 0.55)],
        sinks=[("sinks.write_histogram_csv", t0 + 0.6, t0 + 1.0)],
    )
    v = acc["vector"]
    assert v["build"] == pytest.approx(0.1)
    assert v["plan"] == pytest.approx(0.2)
    assert v["jobs"] == pytest.approx(0.4)
    assert v["sink"] == pytest.approx(0.2)
    assert v["residual"] == pytest.approx(0.1)
    assert acc["layers"]["registry.eager_jobs"] == 0


def test_timed_calls_wrap_and_restore():
    import types

    import worker

    mod = types.ModuleType("bench_fake_mod")
    mod.f = lambda x: x + 1
    original = mod.f
    sys.modules["bench_fake_mod"] = mod
    calls = {"build": []}
    try:
        with worker.timed_calls([("bench_fake_mod", "f", "build")], calls):
            assert mod.f(1) == 2
            assert mod.f is not original
    finally:
        del sys.modules["bench_fake_mod"]
    assert mod.f is original
    assert len(calls["build"]) == 1
    label, a, b = calls["build"][0]
    assert label == "bench_fake_mod.f" and b >= a
