"""Span arithmetic, thread inheritance and event-log attribution."""

from __future__ import annotations

import json
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench.spans import (
    Tracer,
    annotate,
    channel_overlaps,
    event_log_stats,
    overlap_ratio,
    self_time_tree,
    self_times,
    union_length,
)


def _span(i, name, parent, thread, start, end):
    return {"id": i, "name": name, "parent": parent, "thread": thread,
            "start": start, "end": end, "tag": i, "attrs": {}}


def test_union_length_merges_overlaps_and_gaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    assert union_length([(4, 4)]) == 0


def test_self_time_with_overlapping_children_on_two_threads():
    # Root [0, 10]; child A on thread 1 [1, 6]; child B on thread 2
    # [4, 8] overlaps A. Covered = [1, 8] = 7, so root self = 3, not
    # 10 - (5 + 4) = 1. A has a grandchild [2, 3] → A self = 4.
    spans = [
        _span(1, "pass", None, 1, 0.0, 10.0),
        _span(2, "a", 1, 1, 1.0, 6.0),
        _span(3, "b", 1, 2, 4.0, 8.0),
        _span(4, "a.inner", 2, 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(4.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)
    # Root's children plus its self time account for its wall time.
    assert union_length([(1, 6), (4, 8)]) + st[1] == pytest.approx(10.0)


def test_self_time_clips_children_that_outlive_the_parent():
    spans = [_span(1, "p", None, 1, 0.0, 4.0), _span(2, "c", 1, 2, 3.0, 9.0)]
    assert self_times(spans)[1] == pytest.approx(3.0)


def test_channel_overlap_serial_vs_parallel():
    serial = [
        _span(1, "q", None, 1, 0.0, 10.0),
        _span(2, "task.lex_ch", 1, 2, 0.0, 4.0),
        _span(3, "task.vec_ch", 1, 3, 4.0, 8.0),
    ]
    parallel = [
        _span(1, "q", None, 1, 0.0, 10.0),
        _span(2, "task.lex_ch", 1, 2, 0.0, 4.0),
        _span(3, "task.vec_ch", 1, 3, 0.0, 4.0),
    ]
    assert channel_overlaps(serial) == [pytest.approx(1.0)]
    assert channel_overlaps(parallel) == [pytest.approx(2.0)]
    assert overlap_ratio([(0, 4), (2, 6)]) == pytest.approx(8 / 6)


def test_tracer_threads_inherit_the_submitting_span():
    tracer = Tracer()
    tracer._patch_pool()
    try:
        def channel():
            with tracer.span("operators.x.work"):
                return threading.get_ident()

        with tracer.span("pass") as root:
            with ThreadPoolExecutor(max_workers=2) as pool:
                idents = [f.result() for f in [pool.submit(channel), pool.submit(channel)]]
    finally:
        tracer.uninstall()
    assert ThreadPoolExecutor.submit.__name__ == "submit"
    by_name: dict = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s)
    tasks = by_name["task.channel"]
    assert len(tasks) == 2 and all(t["parent"] == root["id"] for t in tasks)
    work = by_name["operators.x.work"]
    assert {w["parent"] for w in work} == {t["id"] for t in tasks}
    assert {w["thread"] for w in work} == set(idents)
    assert all(w["thread"] != root["thread"] for w in work)


def test_event_log_attribution_and_driver_time(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"perfbench.span": "2"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"perfbench.span": "2"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task End Reason": {"Reason": "ExceptionFailure"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1000, "Completion Time": 3000,
            "Number of Tasks": 4, "Accumulables": [
                {"Name": "internal.metrics.executorCpuTime", "Value": 1_500_000_000},
                {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 64},
            ]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    ]
    log_file = tmp_path / "events_1_app"
    log_file.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = event_log_stats([str(log_file)])
    assert len(log["stages"]) == 1  # the never-submitted stage is skipped
    spans = [
        _span(1, "pass", None, 1, 0.0, 5.0),
        _span(2, "operators.y.write", 1, 1, 0.5, 4.0),
    ]
    annotate(spans, log)
    root, child = spans
    assert child["jobs"] == 1 and root["jobs"] == 1  # inclusive of the subtree
    assert child["executor_cpu_s"] == pytest.approx(1.5)
    assert child["failed_tasks"] == 1 and child["tasks"] == 4
    assert root["shuffle_write_bytes"] == 64
    assert root["driver_s"] == pytest.approx(3.0)  # 5 s minus the stage's [1, 3]
    assert child["driver_s"] == pytest.approx(1.5)
    tree = self_time_tree(spans, n_passes=1)
    assert tree.splitlines()[0].startswith("pass")
    assert tree.splitlines()[1].startswith("  operators.y.write")
