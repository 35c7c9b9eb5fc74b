"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os

import pyarrow as pa
import pytest

from perfbench import check, measure, tracing, workloads


# -- percentile rule ---------------------------------------------------------


def test_tail_picks_highest_percentile_with_ten_samples_beyond():
    assert measure.tail(list(range(1, 1001))) == (99.0, 990)  # 10 beyond p99
    assert measure.tail(list(range(1, 1000))) == (95.0, 950)  # p99 has only 9
    assert measure.tail(list(range(1, 10001))) == (99.9, 9990)
    assert measure.tail(list(range(1, 201))) == (95.0, 190)
    assert measure.tail(list(range(1, 41))) == (75.0, 30)


def test_tail_below_twenty_samples_reports_median():
    assert measure.tail([5.0, 1.0, 3.0]) == (50.0, 3.0)


def test_percentile_is_nearest_rank_and_order_free():
    vals = [3.0, 1.0, 2.0, 4.0]
    assert measure.percentile(vals, 50) == 2.0
    assert measure.percentile(vals, 75) == 3.0
    assert measure.percentile(vals, 100) == 4.0
    with pytest.raises(ValueError):
        measure.percentile([], 50)


# -- event-log fold ----------------------------------------------------------


def _stage_completed(stage_id, tasks, acc):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": stage_id, "Number of Tasks": tasks,
            "Accumulables": [{"Name": k, "Value": v} for k, v in acc.items()],
        },
    }


TINY_LOG = [
    {"Event": "SparkListenerApplicationStart"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.job.description": "perfbench:3"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
     "Properties": {"spark.job.description": "someone else"}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
    _stage_completed(0, 4, {
        "internal.metrics.executorRunTime": 100,
        "internal.metrics.executorCpuTime": 5_000_000,
        "internal.metrics.shuffle.write.bytesWritten": 700,
        "internal.metrics.diskBytesSpilled": 9,
    }),
    _stage_completed(1, 2, {
        "internal.metrics.executorRunTime": "50",
        "internal.metrics.shuffle.read.localBytesRead": 600,
        "internal.metrics.shuffle.read.remoteBytesRead": 100,
        "internal.metrics.memoryBytesSpilled": 1,
        "some.sql.metric": 12345,
    }),
    _stage_completed(2, 8, {"internal.metrics.executorRunTime": 999}),
    _stage_completed(3, 8, {"internal.metrics.executorRunTime": 999}),
]


def test_fold_sums_stages_per_tagged_call_only():
    rows = tracing.fold_event_log(TINY_LOG)
    assert rows == {
        3: {
            "stages": 2, "tasks": 6, "run_ms": 150, "cpu_ns": 5_000_000,
            "shuffle_read_bytes": 700, "shuffle_write_bytes": 700, "spill_bytes": 10,
        }
    }


def test_read_event_log_plain_and_zstd(tmp_path):
    lines = "".join(json.dumps(ev) + "\n" for ev in TINY_LOG).encode()
    app = tmp_path / "eventlog_v2_app-1"
    app.mkdir()
    with pa.OSFile(str(app / "events_1_app-1.zstd"), "wb") as raw, \
            pa.CompressedOutputStream(raw, "zstd") as z:
        z.write(lines)
    (app / "appstatus_app-1").write_bytes(b"")
    (tmp_path / "app-2").write_bytes(lines)
    events = list(tracing.read_event_log(str(tmp_path)))
    assert events == TINY_LOG + TINY_LOG


def test_spans_nest_and_fold_calls_sums_subtree():
    tr = tracing.Tracer(enabled=True)
    with tr.span("batch", request="r1"):
        with tr.span("plan"):
            pass
        with tr.span("collect"):
            pass
    with tr.span("batch"):
        pass
    parent = tr.spans[0]
    assert [s["parent"] for s in tr.spans] == [None, 0, 0, None]
    assert [s["request"] for s in tr.spans] == ["r1", "r1", "r1", 3]
    assert all(s["end"] >= s["start"] for s in tr.spans)
    calls = tracing.fold_calls(tr.spans, {1: {"tasks": 2}, 2: {"tasks": 3}}, "batch")
    assert [c.get("tasks", 0) for c in calls] == [5, 0]
    assert calls[0]["seconds"] == parent["end"] - parent["start"]


def test_disabled_tracer_records_nothing():
    tr = tracing.Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_tracer_toggles_between_operations():
    tr = tracing.Tracer(enabled=True)
    for i in range(4):
        tr.enabled = i % 2 == 1
        with tr.span("op", request=i):
            pass
    assert [s["request"] for s in tr.spans] == [1, 3]


def test_halves_split_untraced_even_groups_from_traced_odd_ones():
    assert workloads._halves([10, 11, 12, 13, 14], [0, 0, 1, 1, 2]) == ([10, 11, 14], [12, 13])


# -- oracle comparator -------------------------------------------------------

RANKED = [(7, 3.5), (2, 2.25), (9, 2.25), (4, 1.0)]


def test_comparator_accepts_exact_answer():
    got = [(1, 7, 3.5), (2, 2, 2.25), (3, 9, 2.25)]
    assert check.answer_diff(got, RANKED, k=3) is None


def test_comparator_catches_swapped_rank():
    got = [(1, 7, 3.5), (2, 9, 2.25), (3, 2, 2.25)]
    assert "rank 2" in check.answer_diff(got, RANKED, k=3)


def test_comparator_catches_one_ulp():
    bumped = math.nextafter(2.25, math.inf)
    got = [(1, 7, 3.5), (2, 2, bumped), (3, 9, 2.25)]
    assert "score" in check.answer_diff(got, RANKED, k=3)
    assert "rank 2" in check.score_diff([3.5, bumped], [3.5, 2.25])


def test_comparator_catches_wrong_length_and_rank_numbers():
    assert check.answer_diff([(1, 7, 3.5)], RANKED, k=3) is not None
    assert check.answer_diff([(2, 7, 3.5)], RANKED, k=1) is not None


def test_comparator_removes_tombstones_from_oracle_order():
    got = [(1, 7, 3.5), (2, 9, 2.25), (3, 4, 1.0)]
    assert check.answer_diff(got, RANKED, k=3, deleted=frozenset({2})) is None
    # a scorer that still returns the tombstoned doc fails
    stale = [(1, 7, 3.5), (2, 2, 2.25), (3, 9, 2.25)]
    assert "rank 2" in check.answer_diff(stale, RANKED, k=3, deleted=frozenset({2}))


def test_references_cache_round_trips_bit_exact(tmp_path):
    pages = [
        {"url": "https://a.example/1", "text": "hello world hello"},
        {"url": "https://a.example/2", "text": "good world"},
        {"url": "https://a.example/3", "text": ""},
    ]
    loads = []

    def load():
        loads.append(1)
        return pages

    path = str(tmp_path / "refs.json")
    first = check.References(path, load, depth=5)
    ranked, stats = first.ranked("hello world"), first.stats()
    first.save()
    again = check.References(path, load, depth=5)
    assert again.ranked("hello world") == ranked
    assert again.stats() == stats
    assert len(loads) == 1  # the second instance never built the oracle
    assert all(isinstance(s, float) for _, s in ranked)
    assert os.listdir(tmp_path) == ["refs.json"]


def test_references_reach_past_their_depth_for_tombstones(tmp_path):
    pages = [
        {"url": "https://a.example/1", "text": "hello hello"},
        {"url": "https://a.example/2", "text": "hello world"},
    ]
    refs = check.References(str(tmp_path / "refs.json"), lambda: pages, depth=1)
    (top, _), = refs.ranked("hello")
    deeper = refs.ranked("hello", k=1, deleted=frozenset({top}))
    assert len(deeper) == 2 and deeper[0][0] == top
    assert refs.ranked("hello") == [deeper[0]]  # the deeper answer is not cached
