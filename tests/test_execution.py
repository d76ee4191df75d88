"""``operators.execution.overlap``: results in thunk order, thunk names
kept, and a failed thunk cancels its siblings' Spark jobs instead of
waiting for them."""

from __future__ import annotations

import concurrent.futures
import threading
import time

import pytest

from process_spark.operators.execution import overlap

#: Per-task sleep of the sibling job; its task count makes the job run
#: for at least ``_SLOW_JOB_S`` on the session's cores.
_TASK_SLEEP_S = 0.25
_SLOW_JOB_S = 20
#: Far below ``_SLOW_JOB_S``: time for the cancel to land and the
#: running short tasks to drain.
_CANCEL_BUDGET_S = 8


def _slow_job(sc) -> None:
    n = int(_SLOW_JOB_S / _TASK_SLEEP_S) * sc.defaultParallelism
    sc.parallelize(range(n), n).map(lambda x: time.sleep(_TASK_SLEEP_S) or x).count()


def _raise_once_running(sc):
    """A thunk that waits until another thunk's job is running, then
    fails."""

    def fail():
        deadline = time.monotonic() + _CANCEL_BUDGET_S
        while not sc.statusTracker().getActiveJobsIds():
            if time.monotonic() > deadline:
                raise TimeoutError("the sibling job never started")
            time.sleep(0.05)
        raise ValueError("injected failure")

    return fail


def _no_active_jobs(sc, within_s: float = 5.0) -> bool:
    # The status store is fed by the listener bus, so a cancelled job
    # can stay listed for a moment after its action has failed.
    deadline = time.monotonic() + within_s
    while sc.statusTracker().getActiveJobsIds():
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True


def test_overlap_returns_results_in_thunk_order(spark):
    sc = spark.sparkContext

    def first():
        time.sleep(0.2)
        return sc.parallelize(range(10), 2).count()

    def second():
        return threading.current_thread().name

    n, name = overlap(first, second)
    assert n == 10
    assert name != threading.current_thread().name


def test_overlap_keeps_thunk_names(spark, monkeypatch):
    seen = []
    submit = concurrent.futures.ThreadPoolExecutor.submit

    def spy(pool, fn, /, *args, **kwargs):
        seen.append(fn.__name__)
        return submit(pool, fn, *args, **kwargs)

    monkeypatch.setattr(concurrent.futures.ThreadPoolExecutor, "submit", spy)

    def lex_ch():
        return 1

    def vec_ch():
        return 2

    assert overlap(lex_ch, vec_ch) == [1, 2]
    assert seen == ["lex_ch", "vec_ch"]


def test_overlap_failure_cancels_sibling_job(spark):
    sc = spark.sparkContext

    def slow():
        _slow_job(sc)

    t0 = time.monotonic()
    with pytest.raises(ValueError, match="injected failure"):
        overlap(slow, _raise_once_running(sc))
    assert time.monotonic() - t0 < _CANCEL_BUDGET_S
    assert _no_active_jobs(sc)


def test_nested_overlap_failure_cancels_inner_jobs(spark):
    """The slow job runs two overlaps deep; the outer sibling's failure
    must reach it through the tags the inner thunk threads inherit."""
    sc = spark.sparkContext

    def slow():
        _slow_job(sc)

    def inner():
        overlap(slow, lambda: None)

    t0 = time.monotonic()
    with pytest.raises(ValueError, match="injected failure"):
        overlap(inner, _raise_once_running(sc))
    assert time.monotonic() - t0 < _CANCEL_BUDGET_S
    assert _no_active_jobs(sc)
