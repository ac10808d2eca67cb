"""Self-tests of the benchmark's measurement helpers (no Spark needed).

Run with: python -m pytest perfbench/test_harness.py -q
"""

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (  # noqa: E402
    Tracer, covered_length, pair_recall, partition_digest, self_times,
)


def _span(start, end, parent=None):
    return {"start": start, "end": end, "parent": parent}


def test_self_time_nested_children():
    # root 0-10; child A 1-4 with grandchild 2-3; child B 6-8
    spans = [_span(0, 10), _span(1, 4, 0), _span(2, 3, 1), _span(6, 8, 0)]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 1.0, 2.0])
    # the self times of a tree add up to the root's duration
    assert sum(self_times(spans)) == pytest.approx(10.0)


def test_self_time_overlapping_children():
    # concurrent children 1-5 and 3-7 cover 1-7 once, not 8 seconds
    spans = [_span(0, 10), _span(1, 5, 0), _span(3, 7, 0)]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_child_outside_parent_is_clipped():
    spans = [_span(2, 6), _span(0, 3, 0), _span(5, 9, 0)]
    assert self_times(spans)[0] == pytest.approx(2.0)


def test_covered_length_disjoint_and_touching():
    assert covered_length([(0, 1), (1, 2), (4, 5)], 0, 10) == pytest.approx(3.0)
    assert covered_length([], 0, 10) == 0.0


def test_tracer_records_parents_and_watermarks():
    ticks = iter(range(100))
    marks = iter(range(100, 200))
    tr = Tracer(watermark=lambda: next(marks), clock=lambda: next(ticks))
    with tr.span("root"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    names = [(s["name"], s["parent"]) for s in tr.spans]
    assert names == [("root", None), ("a", 0), ("b", 0)]
    assert all(s["wm1"] > s["wm0"] for s in tr.spans)
    assert self_times(tr.spans)[0] == pytest.approx(
        (tr.spans[0]["end"] - tr.spans[0]["start"])
        - sum(s["end"] - s["start"] for s in tr.spans[1:])
    )


def test_pair_recall_on_toy_cluster_table():
    labels = {"a": 1, "b": 1, "c": 2, "d": 2, "e": 3}
    pairs = [("a", "b"), ("c", "d"), ("a", "c"), ("e", "f")]
    # hit, hit, different clusters, "f" missing from the table
    assert pair_recall(pairs, labels) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        pair_recall([], labels)


def test_partition_digest_invariant_to_order_and_labels():
    rows = [("a", 1), ("b", 1), ("c", 2), ("d", 3), ("e", 2)]
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)
    relabeled = [(i, {1: "x", 2: "y", 3: "z"}[c]) for i, c in shuffled]
    assert partition_digest(rows) == partition_digest(shuffled)
    assert partition_digest(rows) == partition_digest(relabeled)


def test_partition_digest_sees_a_moved_member():
    rows = [("a", 1), ("b", 1), ("c", 2)]
    moved = [("a", 1), ("b", 2), ("c", 2)]
    merged = [("a", 1), ("b", 1), ("c", 1)]
    digests = {partition_digest(r) for r in (rows, moved, merged)}
    assert len(digests) == 3
