"""Tests for the benchmark's own pieces (no Spark needed).

Run from the repository root::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(1, os.path.dirname(os.path.dirname(HERE)))

import analysis as A  # noqa: E402
import workload as W  # noqa: E402


def _progress(batch_id, start, end):
    key = f"{W.TOPIC},{{}}"
    return {"batchId": batch_id, "sources": [{
        "startOffset": None if start is None else
        {key.format(p): o for p, o in start.items()},
        "endOffset": {key.format(p): o for p, o in end.items()}}]}


# -- freshness attribution ----------------------------------------------

def test_attribution_maps_each_document_to_its_trigger():
    progress = [
        _progress(0, None, {0: 2, 1: 0}),          # seed: no due docs
        _progress(1, {0: 2, 1: 0}, {0: 4, 1: 1}),
        _progress(2, {0: 4, 1: 1}, {0: 4, 1: 1}),  # idle: no range
        _progress(3, {0: 4, 1: 1}, {0: 5, 1: 3}),
    ]
    ranges = A.batch_ranges(progress)
    assert ranges == {0: {0: (0, 2)}, 1: {0: (2, 4), 1: (0, 1)},
                      3: {0: (4, 5), 1: (1, 3)}}
    done = {0: 10.0, 1: 20.0, 3: 30.0}
    due = {(0, 0): 1.0, (0, 1): 1.0,                   # batch 0
           (0, 2): 18.0, (0, 3): 19.5, (1, 0): 17.0,   # batch 1
           (0, 4): 21.0, (1, 1): 24.0, (1, 2): 25.0,   # batch 3
           (1, 3): 29.0}                               # not consumed yet
    window = {b: ranges[b] for b in (1, 3)}
    samples = A.attribute(window, done, due)
    assert sorted(samples) == sorted([(2.0, 1), (0.5, 1), (3.0, 1),
                                      (9.0, 3), (6.0, 3), (5.0, 3)])


def test_percentile_interpolates():
    assert A.percentile([3, 1, 2], 50) == 2
    assert A.percentile([1, 2, 3, 4], 50) == 2.5
    assert A.percentile([0, 10], 90) == pytest.approx(9.0)
    with pytest.raises(ValueError):
        A.percentile([], 50)


# -- reference replay -----------------------------------------------------

def _passing_idx():
    return next(i for i in range(100) if W.passes_filter(i))


def test_replay_keeps_last_version_of_a_multi_version_id():
    idx = _passing_idx()
    dropped = next(i for i in range(100) if not W.passes_filter(i))
    table = W.replay(7, [(idx, 0), (dropped, 0), (idx, 3), (idx, 9)])
    assert list(table) == [W.doc_id(idx)]
    row = table[W.doc_id(idx)]
    fields = W.doc_fields(7, idx, 9)
    assert row["rev"] == 9 and row["value"] == fields["value"]
    assert "props" not in row                      # masked
    assert row["target_path"] == ("_aether/entities/"
                                  + fields["topic"].split(".", 1)[1])
    assert set(row) == set(W.COMPARE_FIELDS)


def test_compare_tables_reports_missing_wrong_and_extra():
    idx = _passing_idx()
    expected = W.replay(1, [(idx, 0), (idx + 1, 0), (idx + 2, 0)])
    actual = {k: dict(v) for k, v in expected.items()}
    assert W.compare_tables(expected, actual) == []
    first, second = sorted(expected)[:2]
    actual.pop(first)                              # missing
    actual[second]["rev"] = 99                     # wrong (stale version)
    actual["doc-99999999"] = {}                    # unexpected
    assert W.compare_tables(expected, actual) == sorted(
        [first, second, "doc-99999999"])


def test_documents_are_deterministic_and_key_partitioned():
    assert W.doc_bytes(3, 42, 1) == W.doc_bytes(3, 42, 1)
    assert W.doc_bytes(3, 42, 1) != W.doc_bytes(3, 42, 2)
    wl = W.WORKLOADS["steady"]
    a, b = W.SteadyStream(5, wl), W.SteadyStream(5, wl)
    assert a.take(500) == b.take(500)
    updates = [i for i, _r in a.items if i < wl.seed_ids]
    assert 0.2 < len(updates) / len(a.items) < 0.4
    assert len(set(updates)) < len(updates)        # skewed: repeated ids
    parts = W.split_by_key(a.items)
    assert all(W.doc_partition(i) == p for p, items in parts.items()
               for i, _r in items)


def test_closed_rounds_balance_partitions():
    for name in ("backlog", "resend"):
        wl = W.WORKLOADS[name]
        items = W.closed_round(wl, 1)
        sizes = {len(v) for v in W.split_round(items).values()}
        assert sizes == {wl.round_docs // W.PARTITIONS}
        assert wl.round_docs % wl.max_per_trigger == 0
    resent = W.closed_round(W.WORKLOADS["resend"], 0)
    assert all(rev == 0 and idx < W.WORKLOADS["resend"].seed_ids
               for idx, rev in resent)


# -- span self time ---------------------------------------------------------

def test_covered_merges_overlaps_and_clips():
    assert A.covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert A.covered([], 0, 10) == 0
    assert A.covered([(5, 6), (5, 6)], 0, 10) == 1


def test_self_time_subtracts_children():
    t = A.Tracer(True)
    t.spans = [A.Span("parent", 0.0, 10.0, children=[1, 2, 3]),
               A.Span("a", 1.0, 3.0, parent=0),
               A.Span("b", 2.0, 5.0, parent=0),
               A.Span("c", 8.0, 9.5, parent=0)]
    assert t.self_time(0) == pytest.approx(10 - 4 - 1.5)
    assert t.self_time(1) == pytest.approx(2.0)


def test_tracer_records_nesting_and_triggers():
    t = A.Tracer(True)
    t.trigger = 4
    inner = t.wrap("inner", lambda: time.sleep(0.01))
    outer = t.wrap("outer", lambda: (inner(), inner()))
    outer()
    names = [(s.name, s.parent, s.trigger) for s in t.spans]
    assert names == [("outer", None, 4), ("inner", 0, 4), ("inner", 0, 4)]
    assert t.spans[0].children == [1, 2]
    assert 0 <= t.self_time(0) < t.spans[0].duration
    off = A.Tracer(False)
    fn = len
    assert off.wrap("x", fn) is fn and off.spans == []


# -- generator lateness -----------------------------------------------------

def test_lateness_is_send_minus_due_never_negative():
    records = [(0, 0, [], 10.0, 10.002), (1, 5, [], 10.1, 10.05),
               (2, 9, [], 10.2, 10.5)]
    assert A.lateness(records) == pytest.approx([0.002, 0.0, 0.3])


def test_open_loop_keeps_schedule_and_dense_offsets():
    pytest.importorskip("aether_firebase_consumer_spark.sources.kafka_wire")
    from aether_firebase_consumer_spark.sources.kafka_wire import (
        MiniKafkaBroker,
    )

    import loadgen
    wl = W.WORKLOADS["steady"]
    with MiniKafkaBroker() as broker:
        broker.create_topic(W.TOPIC, partitions=W.PARTITIONS)
        loop = loadgen._OpenLoop(broker.host, broker.port, wl,
                                 W.SteadyStream(1, wl), 1, time.time())
        loop.start()
        time.sleep(0.55)
        records = loop.close()
        ends = {p: broker.log_end_offset(W.TOPIC, p)
                for p in range(W.PARTITIONS)}
    ticks = sorted({due for *_x, due, _s in records})
    assert len(ticks) >= 5
    assert all(b - a == pytest.approx(W.TICK_S, abs=1e-5) for a, b in
               zip(ticks, ticks[1:]))
    assert A.percentile(A.lateness(records), 99) < W.TICK_S
    for p in range(W.PARTITIONS):    # each partition's offsets are dense
        mine = sorted((base, len(items)) for q, base, items, *_r in records
                      if q == p)
        pos = 0
        for base, n in mine:
            assert base == pos
            pos += n
        assert pos == ends[p]


# -- the benchmark's own description ------------------------------------------

def test_benchmark_json_matches_the_workloads():
    import json
    path = os.path.join(os.path.dirname(os.path.dirname(HERE)),
                        "BENCHMARK.json")
    with open(path) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        assert w["why"] == W.WORKLOADS[w["name"]].why
    names = {m["name"] for m in bench["end_to_end"]}
    assert "setup_s" in names
    assert {f"traced.{n}" for n in names} <= {
        m["name"] for m in bench["per_layer"]}
