"""Unit tests of the benchmark's pure helpers (no Spark, no network).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import loadgen  # noqa: E402
import stats  # noqa: E402


class TestPercentiles:
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        assert stats.percentile(xs, 50.0) == 50
        assert stats.percentile(xs, 99.0) == 99
        assert stats.percentile(xs, 100.0) == 100
        assert stats.percentile([7], 99.0) == 7
        assert stats.percentile([3, 1, 2], 50.0) == 2  # order of input is irrelevant

    def test_empty_raises(self):
        with pytest.raises(ValueError):
            stats.percentile([], 50.0)

    @pytest.mark.parametrize(
        "n, want",
        [(10000, 99.9), (9999, 99.0), (1000, 99.0), (999, 95.0), (200, 95.0),
         (199, 90.0), (100, 90.0), (99, 75.0), (40, 75.0), (20, 50.0), (19, None), (0, None)],
    )
    def test_tail_needs_ten_beyond(self, n, want):
        assert stats.tail_percentile(n) == want

    def test_tail_summary_reports_count(self):
        s = stats.tail_summary([float(i) for i in range(1000)])
        assert s == {"n": 1000, "p50": 499.0, "tail_p": 99.0, "tail": 989.0}
        assert stats.tail_summary([1.0] * 5)["tail"] is None


class TestAttribution:
    def test_events_take_their_epochs_marker_time(self):
        sent = {"a": 1, "b": 2, "c": 3}
        rows = [("a", 0), ("b", 0), ("c", 1)]
        durable, missing, dup, unexpected = stats.attribute(sent, rows, {0: 100, 1: 250})
        assert durable == {"a": 100, "b": 100, "c": 250}
        assert (missing, dup, unexpected) == ([], [], [])

    def test_rows_of_an_uncommitted_epoch_are_not_durable(self):
        durable, missing, _dup, _unexp = stats.attribute({"a": 1}, [("a", 3)], {0: 100})
        assert durable == {} and missing == ["a"]

    def test_duplicates_missing_and_unexpected(self):
        sent = {"a": 1, "b": 2, "c": 3}
        rows = [("a", 0), ("a", 1), ("c", 1), ("z", 1)]
        durable, missing, dup, unexpected = stats.attribute(sent, rows, {0: 10, 1: 20})
        assert durable == {"c": 20}
        assert missing == ["b"] and dup == ["a"] and unexpected == ["z"]

    def test_replayed_copy_in_uncommitted_epoch_is_not_a_duplicate(self):
        durable, _m, dup, _u = stats.attribute({"a": 1}, [("a", 0), ("a", 1)], {0: 10})
        assert durable == {"a": 10} and dup == []


class TestBacklog:
    def test_backlog_counts_spooled_minus_committed(self):
        spooled = [10, 20, 30, 40]
        batches = [(35, 3)]  # files 10..30 committed at t=35
        assert stats.backlog_at([5, 25, 35, 45], spooled, batches) == [0, 2, 0, 1]

    def test_sustained_rate_is_not_growing(self):
        saw = [0, 5, 10, 0, 5, 10, 0, 5, 10, 0, 5, 10]  # drains every trigger
        assert not stats.backlog_growing(saw, margin=10)

    def test_rising_troughs_are_growing(self):
        rising = [0, 5, 10, 8, 13, 18, 16, 21, 26, 24, 29, 34]
        assert stats.backlog_growing(rising, margin=10)

    def test_growth_within_margin_is_not_flagged(self):
        assert not stats.backlog_growing([0, 5, 3, 8, 6, 11], margin=10)

    def test_too_few_samples(self):
        assert not stats.backlog_growing([0, 100], margin=1)


class TestSelfTime:
    def test_children_are_subtracted(self):
        spans = [
            {"id": 1, "parent": None, "start": 0, "end": 100},
            {"id": 2, "parent": 1, "start": 0, "end": 30},
            {"id": 3, "parent": 1, "start": 50, "end": 70},
        ]
        assert stats.self_times(spans) == {1: 50, 2: 30, 3: 20}

    def test_overlapping_children_count_once_and_are_clipped(self):
        spans = [
            {"id": 1, "parent": None, "start": 10, "end": 100},
            {"id": 2, "parent": 1, "start": 0, "end": 40},  # sticks out before the parent
            {"id": 3, "parent": 1, "start": 30, "end": 60},  # overlaps child 2
            {"id": 4, "parent": 1, "start": 90, "end": 200},  # sticks out after
        ]
        assert stats.self_times(spans)[1] == 90 - (60 - 10) - (100 - 90)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [
            {"id": 1, "parent": None, "start": 0, "end": 10},
            {"id": 2, "parent": 1, "start": 0, "end": 10},
            {"id": 3, "parent": 2, "start": 2, "end": 4},
        ]
        assert stats.self_times(spans) == {1: 0, 2: 8, 3: 2}


def test_quartile_spread_matches_statistics():
    vals = [10.0, 11.0, 9.0, 12.0, 10.5, 9.5, 10.2, 11.1, 9.9, 10.0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / q2)


class TestGenerator:
    def test_events_are_deterministic_and_carry_their_id(self):
        a = loadgen.request_events(7, "s", 3, 4)
        assert a == loadgen.request_events(7, "s", 3, 4)
        assert a != loadgen.request_events(8, "s", 3, 4)
        assert [e["message"].split(" ", 4)[:4] for e in a] == [["pb", "s", "3", str(i)] for i in range(4)]

    def test_body_is_bulk_ndjson_with_a_due_slot(self):
        body = loadgen.request_body(1, "b", 0, 2)
        lines = body.decode().splitlines()
        assert len(lines) == 4 and json.loads(lines[0]) == {"create": {"_index": "filebeat-8.11.0"}}
        doc = json.loads(lines[1])
        assert doc["fields"] == {"gen": "b", "due_ns": "0" * 19}
        assert doc["message"] == loadgen.request_events(1, "b", 0, 2)[0]["message"]


def test_benchmark_json_matches_spec():
    """BENCHMARK.json repeats the workloads, metric names and units of spec.json."""
    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(os.path.dirname(HERE), "spec.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(spec["workloads"])
    for key in ("end_to_end", "per_layer"):
        assert {m["name"]: (m["unit"], m["better"]) for m in bench[key]} == {
            n: (m["unit"], m["better"]) for n, m in spec[key].items()
        }
    assert {m["name"]: m["bound"] for m in bench["end_to_end"]} == {
        n: m["bound"] for n, m in spec["end_to_end"].items()
    }
