"""Tests of the benchmark's own arithmetic: python3 -m pytest perfbench/tests"""
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import metrics  # noqa: E402


def test_percentile_interpolates_and_counts():
    assert metrics.percentile([3, 1, 2], 50) == (2, 3)
    assert metrics.percentile([10, 20], 50) == (15, 2)
    assert metrics.percentile(range(1, 101), 99) == (pytest.approx(99.01), 100)
    assert metrics.percentile([7], 99) == (7, 1)
    with pytest.raises(ValueError):
        metrics.percentile([], 50)


def _row(fp, canonical, is_new, docs, total):
    return {"fp": fp, "canonical_id": canonical, "is_new": is_new,
            "batch_docs": docs, "total_docs": total}


# record 5 is delivered by seq 0 and retried by seq 1; record 6 by seq 2
DELIVERIES = [{"seq": 0, "record": 5}, {"seq": 1, "record": 5}, {"seq": 2, "record": 6}]


STRICT = lambda fp: True  # noqa: E731


def test_retry_in_the_same_batch_maps_both_deliveries():
    batches = [{"batch_id": 0, "emit_ms": 100.0,
                "rows": [_row("00000005", 0, True, 2, 2), _row("00000006", 2, True, 1, 1)]}]
    emit, problems = metrics.map_deliveries(DELIVERIES, batches)
    assert emit == {0: 100.0, 1: 100.0, 2: 100.0}
    assert problems == []
    assert metrics.election_problems(DELIVERIES, batches, STRICT) == ({}, [])


def test_retry_in_a_later_batch_maps_to_that_batch():
    batches = [
        {"batch_id": 1, "emit_ms": 250.0, "rows": [_row("00000005", 0, False, 1, 2)]},
        {"batch_id": 0, "emit_ms": 100.0,
         "rows": [_row("00000005", 0, True, 1, 1), _row("00000006", 2, True, 1, 1)]},
    ]
    emit, problems = metrics.map_deliveries(DELIVERIES, batches)
    assert emit == {0: 100.0, 1: 250.0, 2: 100.0}
    assert problems == []
    assert metrics.election_problems(DELIVERIES, batches, STRICT) == ({}, [])


def test_batches_of_different_queries_keep_their_own_order():
    # each query numbers its batches from 0; a record's rows are ordered by
    # (query, batch), so query 1's batch 0 comes after query 0's batch 1
    deliveries = DELIVERIES + [{"seq": 3, "record": 7}, {"seq": 4, "record": 7}]
    batches = [
        {"query": 1, "batch_id": 0, "emit_ms": 300.0, "rows": [_row("00000007", 3, True, 2, 2)]},
        {"query": 0, "batch_id": 1, "emit_ms": 250.0, "rows": [_row("00000005", 0, False, 1, 2)]},
        {"query": 0, "batch_id": 0, "emit_ms": 100.0,
         "rows": [_row("00000005", 0, True, 1, 1), _row("00000006", 2, True, 1, 1)]},
    ]
    emit, problems = metrics.map_deliveries(deliveries, batches)
    assert emit == {0: 100.0, 1: 250.0, 2: 100.0, 3: 300.0, 4: 300.0}
    assert problems == []
    assert metrics.election_problems(deliveries, batches, STRICT) == ({}, [])


# the retry (seq 1) reached the sink one batch before the original (seq 0)
INVERTED = [
    {"batch_id": 0, "emit_ms": 100.0,
     "rows": [_row("00000005", 1, True, 1, 1), _row("00000006", 2, True, 1, 1)]},
    {"batch_id": 1, "emit_ms": 250.0, "rows": [_row("00000005", 1, False, 1, 2)]},
]


def test_a_retry_seen_first_maps_by_its_canonical_id():
    emit, problems = metrics.map_deliveries(DELIVERIES, INVERTED)
    assert emit == {1: 100.0, 0: 250.0, 2: 100.0}
    assert problems == []


def test_an_inversion_fails_only_where_keep_min_must_hold():
    assert metrics.election_problems(DELIVERIES, INVERTED, lambda fp: False) == ({}, ["00000005"])
    problems, _ = metrics.election_problems(DELIVERIES, INVERTED, STRICT)
    assert list(problems) == ["00000005"]


def test_lost_and_invented_deliveries_are_problems():
    lost = [{"batch_id": 0, "emit_ms": 1.0, "rows": [_row("00000005", 0, True, 2, 2)]}]
    emit, problems = metrics.map_deliveries(DELIVERIES, lost)
    assert 2 not in emit and len(problems) == 1
    assert list(metrics.election_problems(DELIVERIES, lost, STRICT)[0]) == ["00000006"]
    invented = lost + [{"batch_id": 1, "emit_ms": 2.0,
                        "rows": [_row("00000006", 2, True, 1, 1), _row("00000007", 9, True, 1, 1)]}]
    _, problems = metrics.map_deliveries(DELIVERIES, invented)
    assert len(problems) == 1 and "00000007" in problems[0]


def test_wrong_totals_or_flags_are_problems():
    short = [{"batch_id": 0, "emit_ms": 1.0,
              "rows": [_row("00000005", 0, True, 1, 1), _row("00000006", 2, True, 1, 1)]}]
    assert list(metrics.election_problems(DELIVERIES, short, STRICT)[0]) == ["00000005"]
    twice_new = [
        {"batch_id": 0, "emit_ms": 1.0,
         "rows": [_row("00000005", 0, True, 1, 1), _row("00000006", 2, True, 1, 1)]},
        {"batch_id": 1, "emit_ms": 2.0, "rows": [_row("00000005", 0, True, 1, 2)]},
    ]
    assert list(metrics.election_problems(DELIVERIES, twice_new, STRICT)[0]) == ["00000005"]


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "startNs": start, "endNs": end}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, 0, 0, 100),
        _span(2, 1, 10, 40),    # overlaps 3: together they cover 10..50
        _span(3, 1, 30, 50),
        _span(4, 1, 90, 120),   # sticks out of the parent: only 90..100 counts
        _span(5, 2, 15, 20),    # grandchild: counts against 2, not 1
    ]
    assert metrics.self_times(spans) == {1: 100 - 40 - 10, 2: 30 - 5, 3: 20, 4: 30, 5: 5}


def test_self_time_of_a_leaf_is_its_duration():
    assert metrics.self_times([_span(7, 0, 5, 9)]) == {7: 4}


def test_orphans_are_adopted_by_the_innermost_host():
    spans = [
        {**_span(1, 0, 0, 100), "group": "trigger-3", "name": "trigger"},
        {**_span(2, 1, 0, 30), "group": "trigger-3", "name": "latestOffset"},
        {**_span(3, 1, 30, 90), "group": "trigger-3", "name": "addBatch"},
        {**_span(4, 0, 40, 60), "group": "untagged", "name": "job"},
        {**_span(5, 0, 150, 160), "group": "untagged", "name": "job"},  # outside every host
    ]
    metrics.adopt(spans, lambda s: s["name"] == "job", lambda s: s["group"].startswith("trigger"))
    assert (spans[3]["parent"], spans[3]["group"]) == (3, "trigger-3")
    assert (spans[4]["parent"], spans[4]["group"]) == (0, "untagged")
    assert metrics.self_times(spans)[3] == 60 - 20


def test_core_util():
    # 4 cores busy for 6 s of a 2 s x 4-core window = 75 %
    assert metrics.core_util(6000, 2.0, 4) == pytest.approx(0.75)
    with pytest.raises(ValueError):
        metrics.core_util(1, 0, 4)
