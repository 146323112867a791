"""The Kafka wire layer without Spark: record-batch codec, client and
``MiniKafkaBroker`` round trips, ApiVersions ranges, and the
``PollLoopConsumer`` poll → commit → resume loop. Spark-free, so it
runs in the fast tier; ``test_kafka_py.py`` and ``test_kafka_group.py``
keep the Spark and group-choreography tests.
"""

from __future__ import annotations

import time

import pytest

from aether_firebase_consumer_spark.sources.kafka_consumer import (
    PollLoopConsumer,
)
from aether_firebase_consumer_spark.sources.kafka_wire import (
    API_FETCH,
    API_JOIN_GROUP,
    API_LIST_OFFSETS,
    API_METADATA,
    API_OFFSET_COMMIT,
    API_PRODUCE,
    EARLIEST,
    LATEST,
    KafkaWireClient,
    MiniKafkaBroker,
    TransactionalProducer,
    decode_record_batches,
    encode_record_batch,
)


@pytest.fixture()


def broker():
    with MiniKafkaBroker() as b:
        yield b


def _client(broker):
    return KafkaWireClient(broker.host, broker.port)


def _kv(recs):
    """(offset, key, value) of fetched records — for tests whose
    produces let the client clock stamp the timestamps."""
    return [(off, k, v) for off, _ts, k, v in recs]


# ------------------------------------------------------- record batch codec

def test_record_batch_roundtrip_with_gaps_and_nulls():
    entries = [(5, 1000, b"k0", b"v0"),
               (6, 1010, None, b"v1"),
               (9, 990, b"k2", None)]   # offset gap + ts below base
    assert decode_record_batches(encode_record_batch(entries)) == entries


def test_record_batch_concatenated_and_partial_trailing():
    b1 = encode_record_batch([(0, 100, b"a", b"x")])
    b2 = encode_record_batch([(1, 200, b"b", b"y")])
    both = decode_record_batches(b1 + b2)
    assert both == [(0, 100, b"a", b"x"), (1, 200, b"b", b"y")]
    # max_bytes truncation mid-batch: the partial batch is dropped
    assert decode_record_batches(b1 + b2[:-3]) == [(0, 100, b"a", b"x")]


def test_record_batch_crc32c_validated():
    data = bytearray(encode_record_batch([(0, 100, b"k", b"value")]))
    data[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32C"):
        decode_record_batches(bytes(data))


def test_crc32c_known_vector():
    # the standard check value for CRC-32C: crc("123456789")
    from aether_firebase_consumer_spark.sources.kafka_wire import crc32c
    assert crc32c(b"123456789") == 0xE3069283


def test_gzip_record_batches_end_to_end():
    """Compressed record batches (codec bits per the public spec):
    gzip produce → broker decode → gzip fetch responses → client
    decode; CRC covers the compressed body; unsupported codecs name
    themselves instead of mis-parsing."""
    entries = [(0, 100, b"k" * 50, b"v" * 500), (1, 200, None, b"w" * 500)]
    plain = encode_record_batch(entries)
    gz = encode_record_batch(entries, codec="gzip")
    assert len(gz) < len(plain)            # it actually compressed
    assert decode_record_batches(gz) == entries
    # corrupt the compressed payload: CRC32C catches it first
    bad = bytearray(gz)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32C"):
        decode_record_batches(bytes(bad))
    # codec ids 0-4 (none/gzip/snappy/lz4/zstd) all decode; an id beyond
    # the Kafka-assigned range names the gap instead of mis-parsing
    legit = bytearray(plain)
    legit[21 + 1] = (legit[21 + 1] & ~0x07) | 0x05   # attrs ← codec 5
    with pytest.raises(ValueError, match="codec 5 unsupported"):
        decode_record_batches(bytes(legit), validate_crc=False)
    # codec 4 IS dispatched to the zstd decoder: flipping the attrs on
    # an uncompressed body reaches it, and it rejects the garbage by
    # name rather than silently mis-parsing
    legit[21 + 1] = (legit[21 + 1] & ~0x07) | 0x04   # attrs ← codec 4
    with pytest.raises(ValueError, match="zstd record-batch payload"):
        decode_record_batches(bytes(legit), validate_crc=False)

    with MiniKafkaBroker(fetch_codec="gzip") as b:
        with KafkaWireClient(b.host, b.port) as c:
            c.produce_records("gz.t", 0,
                              [(b"a", b"x" * 1000, 11),
                               (b"b", b"y" * 1000, 22)], codec="gzip")
            c.produce_records("gz.t", 0, [(b"c", b"z", 33)])   # uncompressed
            got = c.fetch_records("gz.t", 0, 0)
    assert got == [(0, 11, b"a", b"x" * 1000), (1, 22, b"b", b"y" * 1000),
                   (2, 33, b"c", b"z")]


def test_zstd_record_batches_actually_compress():
    """Round 8: the zstd encoder gained a Huffman-literals tier, so a
    codec-4 produce SHRINKS text payloads instead of storing them
    (the r7 encoder was store-only — ratio >= 1.0 on everything but
    runs). Mirrors the gzip ratio pin above; round-trips through the
    broker's fetch path too."""
    entries = [(i, 1000 + i, b"order-%d" % i,
                (b'{"status": "shipped", "priority": "high", '
                 b'"note": "order line %d"}' % i)) for i in range(200)]
    plain = encode_record_batch(entries)
    zst = encode_record_batch(entries, codec="zstd")
    assert len(zst) < 0.9 * len(plain)
    assert decode_record_batches(zst) == entries

    with MiniKafkaBroker(fetch_codec="zstd") as b:
        with KafkaWireClient(b.host, b.port) as c:
            c.produce_records("zr.t", 0,
                              [(b"k", b"the quick brown fox " * 40, 5)],
                              codec="zstd")
            got = c.fetch_records("zr.t", 0, 0)
    assert got == [(0, 5, b"k", b"the quick brown fox " * 40)]


# ------------------------------------------------------------ broker/client

def test_broker_produce_fetch_offsets(broker):
    with _client(broker) as c:
        base = c.produce_records("t.a", 0, [(b"k1", b"v1"), (None, b"v2")])
        assert base == 0
        assert c.produce_records("t.a", 0, [(b"k3", b"v3")]) == 2
        assert c.list_offsets("t.a", 0, EARLIEST) == 0
        assert c.list_offsets("t.a", 0, LATEST) == 3
        assert _kv(c.fetch_records("t.a", 0, 1)) == [(1, None, b"v2"),
                                                (2, b"k3", b"v3")]
        # metadata reflects auto-created topics
        assert c.metadata() == {"t.a": [0]}


def test_broker_stop_is_prompt():
    """stop() must not wait out a long serve_forever poll: each of the
    ~33 broker fixtures in the suite pays it at teardown."""
    for _ in range(3):
        b = MiniKafkaBroker().start()
        with _client(b) as c:
            c.produce_records("t.stop", 0, [(None, b"v")])
        t0 = time.monotonic()
        b.stop()
        assert time.monotonic() - t0 < 0.25


def test_broker_fetch_respects_max_bytes_progressively(broker):
    with _client(broker) as c:
        c.produce_records("t.b", 0, [(None, f"value-{i}".encode())
                                     for i in range(50)])
        # tiny max_bytes still returns ≥1 message (no livelock) and a
        # bounded fetch loop drains the log exactly once
        got, offset = [], 0
        while offset < 50:
            batch = c.fetch_records("t.b", 0, offset, max_bytes=64)
            assert batch
            got.extend(batch)
            offset = batch[-1][0] + 1
        assert [o for o, *_ in got] == list(range(50))


def test_record_larger_than_max_bytes_arrives_whole(broker):
    """A fetch always returns its first record whole, however far it
    exceeds max_bytes (KIP-74), so neither a bounded fetch nor a poll
    loop can stall on an oversized record."""
    big = b"x" * 10_000
    with _client(broker) as c:
        c.produce_records("big.t", 0, [(b"k", big, 1), (b"k2", b"s", 2)])
        assert c.fetch_records("big.t", 0, 0, max_bytes=16) \
            == [(0, 1, b"k", big)]
        assert c.fetch_records("big.t", 0, 1, max_bytes=16) \
            == [(1, 2, b"k2", b"s")]
    with PollLoopConsumer(broker.bootstrap, "big",
                          topics=["big.t"]) as con:
        assert [v for *_, v in con.poll(max_messages=5)] == [big, b"s"]


def test_produce_records_fetch_records_roundtrip(broker):
    """Producer CreateTime timestamps survive produce v3 → fetch v4."""
    with _client(broker) as c:
        base = c.produce_records(
            "ts.t", 0, [(b"k1", b"v1", 1111), (None, b"v2", 2222)])
        assert base == 0
        got = c.fetch_records("ts.t", 0, 0)
    assert got == [(0, 1111, b"k1", b"v1"), (1, 2222, None, b"v2")]


def test_produce_without_timestamp_gets_client_clock(broker):
    """Messages without a timestamp (or with None) are stamped with
    the producing client's clock, like a real producer's CreateTime;
    explicit timestamps pass through."""
    before = int(time.time() * 1000)
    with _client(broker) as c:
        c.produce_records("ts.now", 0, [(b"k", b"v"), (b"n", b"w", None),
                                        (b"e", b"x", 7)])
        got = c.fetch_records("ts.now", 0, 0)
    after = int(time.time() * 1000)
    assert _kv(got) == [(0, b"k", b"v"), (1, b"n", b"w"), (2, b"e", b"x")]
    assert before <= got[0][1] <= after and got[1][1] == got[0][1]
    assert got[2][1] == 7


def test_list_offsets_bulk_single_round_trip(broker):
    with _client(broker) as c:
        c.produce_records("bulk.a", 0, [(None, b"x"), (None, b"y")])
        c.produce_records("bulk.a", 1, [(None, b"z")])
        c.produce_records("bulk.b", 0, [(None, b"w")])
        out = c.list_offsets_bulk({"bulk.a": [0, 1], "bulk.b": [0]}, LATEST)
        assert out == {("bulk.a", 0): 2, ("bulk.a", 1): 1, ("bulk.b", 0): 1}
        lo = c.list_offsets_bulk({"bulk.a": [0, 1]}, EARLIEST)
        assert lo == {("bulk.a", 0): 0, ("bulk.a", 1): 0}


def test_offsets_for_times(broker):
    with _client(broker) as c:
        c.produce_records("ts.lookup", 0,
                          [(None, b"a", 100), (None, b"b", 200),
                           (None, b"c", 300)])
        hits = c.offsets_for_times({("ts.lookup", 0): 150})
        assert hits[("ts.lookup", 0)] == (200, 1)
        # beyond the last timestamp → no offset
        assert c.offsets_for_times({("ts.lookup", 0): 999})[
            ("ts.lookup", 0)] is None
        # sentinel EARLIEST still works through v1
        assert c.offsets_for_times({("ts.lookup", 0): EARLIEST})[
            ("ts.lookup", 0)][1] == 0


def test_compaction_preserves_timestamps_and_v4_gap_offsets(broker):
    """Post-compaction offset gaps ride record-batch deltas."""
    with _client(broker) as c:
        c.produce_records("ts.c", 0, [(b"A", b"a1", 10), (b"B", b"b1", 20),
                                      (b"A", b"a2", 30)])
        broker.compact("ts.c")
        got = c.fetch_records("ts.c", 0, 0)
    assert got == [(1, 20, b"B", b"b1"), (2, 30, b"A", b"a2")]


def test_api_versions_negotiation(broker):
    """The first request real clients send: the advertised ranges are
    exactly what the broker dispatches — one record-batch dialect
    (Produce v3 / Fetch v4, ListOffsets v1), static membership
    (JoinGroup v5) beside JoinGroup v0, and v0 for the rest."""

    with _client(broker) as c:
        vers = c.api_versions()
    assert vers[API_PRODUCE] == (3, 3)
    assert vers[API_FETCH] == (4, 4)
    assert vers[API_LIST_OFFSETS] == (1, 1)
    assert vers[API_JOIN_GROUP] == (0, 5)   # KIP-345 static membership
    for key in (API_METADATA, API_OFFSET_COMMIT):
        assert vers[key] == (0, 0)
    assert vers == MiniKafkaBroker.SUPPORTED


@pytest.mark.parametrize("api,version", [
    (API_PRODUCE, 0), (API_PRODUCE, 2), (API_FETCH, 0), (API_FETCH, 3),
    (API_LIST_OFFSETS, 0)])
def test_retired_versions_close_the_connection(broker, api, version):
    """A request at a version the broker no longer serves fails loudly
    — the connection closes — instead of answering in another
    format."""
    with _client(broker) as c:
        with pytest.raises(ConnectionError):
            c._call(api, b"", version=version)


def test_idempotent_producer_dedupes_retries(broker):
    """KIP-98 idempotence: a verbatim retry of the last batch (the
    ambiguous-outcome resend after a request timeout) appends NOTHING
    and answers with the original base offset; sequence gaps and
    stale sequences are fenced with the spec error codes."""
    from aether_firebase_consumer_spark.sources.kafka_wire import (
        IdempotentProducer,
    )

    broker.create_topic("idem.t", partitions=1)
    with _client(broker) as c:
        p = IdempotentProducer(c)
        assert p.producer_id >= 1000 and p.epoch == 0
        b0 = p.send("idem.t", 0, [(b"k1", b"v1", 10), (b"k2", b"v2", 20)])
        assert b0 == 0
        # network retry: same sequence, same messages → deduped
        assert p.retry_last("idem.t", 0) == 0
        b1 = p.send("idem.t", 0, [(b"k3", b"v3", 30)])
        assert b1 == 2
        assert p.retry_last("idem.t", 0) == 2
        got = c.fetch_records("idem.t", 0, 0)
        assert [(o, k) for o, _ts, k, _v in got] == [
            (0, b"k1"), (1, b"k2"), (2, b"k3")]   # exactly once each

        # sequence GAP (a lost batch) is rejected loudly
        with pytest.raises(RuntimeError, match="out-of-order"):
            c.produce_records("idem.t", 0, [(b"x", b"y", 40)],
                              producer_id=p.producer_id,
                              producer_epoch=p.epoch, base_sequence=99)
        # a sequence below the window is a duplicate error, not data
        with pytest.raises(RuntimeError, match="[Dd]uplicate"):
            c.produce_records("idem.t", 0, [(b"x", b"y", 40)],
                              producer_id=p.producer_id,
                              producer_epoch=p.epoch, base_sequence=0)
        # two producers don't fence each other; plain produces (-1)
        # bypass idempotence entirely
        p2 = IdempotentProducer(c)
        assert p2.producer_id != p.producer_id
        assert p2.send("idem.t", 0, [(b"a", b"b", 50)]) == 3
        assert c.produce_records("idem.t", 0, [(b"c", b"d", 60)]) == 4
        assert len(c.fetch_records("idem.t", 0, 0)) == 5


# ----------------------------------------------- consumer-group poll loop

def test_offset_commit_fetch_group_isolation(broker):
    with _client(broker) as c:
        c.produce_records("g.t", 0, [(None, b"x"), (None, b"y")])
        assert c.offset_fetch("g1", "g.t", 0) == -1   # unknown group
        c.offset_commit("g1", "g.t", 0, 2)
        assert c.offset_fetch("g1", "g.t", 0) == 2
        assert c.offset_fetch("g2", "g.t", 0) == -1   # isolated


def test_poll_loop_consumer_crash_resume(broker):
    """The reference's manual-commit loop: poll → process → commit;
    a crash between processing and commit re-delivers (at-least-once),
    a crash after commit resumes exactly; groups are independent."""
    with _client(broker) as c:
        c.produce_records("loop.t", 0, [(None, f"m{i}".encode())
                                        for i in range(10)])

    with PollLoopConsumer(broker.bootstrap, "job1",
                          topics=["loop.t"]) as con:
        first = con.poll(max_messages=4)
        assert [bytes(v).decode() for *_, v in first] \
            == ["m0", "m1", "m2", "m3"]
        con.commit()
        con.poll(max_messages=2)   # m4, m5 consumed but NOT committed
    # "crash": new consumer, same group → resumes at the committed 4
    with PollLoopConsumer(broker.bootstrap, "job1",
                          topics=["loop.t"]) as con:
        redelivered = con.poll(max_messages=3)
        assert [bytes(v).decode() for *_, v in redelivered] \
            == ["m4", "m5", "m6"]
        con.commit()
    # an unrelated group starts from auto.offset.reset=earliest
    with PollLoopConsumer(broker.bootstrap, "job2",
                          topics=["loop.t"]) as con:
        assert bytes(con.poll(1)[0][4]) == b"m0"
    # latest reset skips history
    with PollLoopConsumer(broker.bootstrap, "job3", topics=["loop.t"],
                          auto_offset_reset="latest") as con:
        assert con.poll(5) == []
        with _client(broker) as c:
            c.produce_records("loop.t", 0, [(None, b"fresh")])
        assert bytes(con.poll(1)[0][4]) == b"fresh"


def test_poll_loop_consumer_pattern_and_round_robin(broker):
    broker.create_topic("rr.a", partitions=2)
    with _client(broker) as c:
        c.produce_records("rr.a", 0, [(None, b"p0-a"), (None, b"p0-b")])
        c.produce_records("rr.a", 1, [(None, b"p1-a")])
        c.produce_records("other.x", 0, [(None, b"ignored")])
    with PollLoopConsumer(broker.bootstrap, "g", pattern=r"rr\..*") as con:
        got = con.poll(max_messages=10)
        assert sorted(bytes(v).decode() for *_, v in got) \
            == ["p0-a", "p0-b", "p1-a"]


def test_poll_skips_marker_and_gap_spans(broker):
    """Offsets holding no record — a transaction's commit marker, a
    compacted-away key — come back as an empty fetch below the high
    watermark; the poll loop skips to it instead of spinning, and the
    committed position lands past the span."""
    with _client(broker) as c:
        c.produce_records("gap.t", 0, [(b"A", b"a1"), (b"A", b"a2")])
        broker.compact("gap.t")                    # offset 0 gone
        txn = TransactionalProducer(c, "gap-txn")
        txn.begin_transaction()
        txn.send("gap.t", 0, [(b"B", b"b1", 5)])   # offset 2
        txn.commit_transaction()                   # marker at 3
    with PollLoopConsumer(broker.bootstrap, "gap",
                          topics=["gap.t"]) as con:
        got = con.poll(max_messages=10)
        assert [(o, v) for _t, _p, o, _k, v in got] \
            == [(1, b"a2"), (2, b"b1")]
        assert con.poll(max_messages=10) == []
        con.commit()
    with _client(broker) as c:
        assert c.offset_fetch("gap", "gap.t", 0) == 4
