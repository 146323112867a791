"""KIP-98 transactions on the jar-free wire stack.

The reference consumed Kafka at-least-once via its SDK's poll loop
(/root/reference/firebase/app/artifacts.py:272,310-326, auto-commit
config at /root/reference/firebase/conf/consumer/kafka.json); it had
no transactional story at all. These tests pin the exactly-once
upgrade: atomic multi-partition produce, read_committed vs
read_uncommitted visibility, zombie fencing via epoch bumps, offsets-
in-transaction (consume-transform-produce), and durability of the
transaction outcome across a broker restart.
"""

from __future__ import annotations

import pytest

from aether_firebase_consumer_spark.sources.kafka_consumer import (
    GroupConsumer,
)
from aether_firebase_consumer_spark.sources.kafka_wire import (
    KafkaWireClient,
    MiniKafkaBroker,
    ProducerFencedError,
    TransactionalProducer,
)


def _drain(bootstrap: str, group: str, topic: str, *,
           isolation: str, expect: int | None = None,
           polls: int = 40) -> list[tuple[int, bytes | None, bytes]]:
    """Poll a GroupConsumer until it stops yielding; returns
    (offset, key, value) sorted by offset."""
    out: list[tuple[int, bytes | None, bytes]] = []
    with GroupConsumer(bootstrap, group, [topic],
                       isolation=isolation) as c:
        idle = 0
        for _ in range(polls):
            got = c.poll(max_messages=50)
            if got:
                out.extend((off, k, v) for _t, _p, off, k, v in got)
                idle = 0
            else:
                idle += 1
                if idle >= 3 and (expect is None or len(out) >= expect):
                    break
    return sorted(out)


def test_commit_makes_records_visible_atomically():
    """Records of a committed transaction appear to read_committed
    consumers only after EndTxn — and then all of them, across both
    partitions, with the marker consuming one offset per partition."""
    with MiniKafkaBroker() as b:
        b.create_topic("tx.t", partitions=2)
        with KafkaWireClient(b.host, b.port) as pc:
            p = TransactionalProducer(pc, "tx-commit")
            p.begin_transaction()
            p.send("tx.t", 0, [(b"a", b"1", 10), (b"b", b"2", 11)])
            p.send("tx.t", 1, [(b"c", b"3", 12)])
            with KafkaWireClient(b.host, b.port) as rc:
                # before EndTxn: read_committed sees nothing (LSO = 0),
                # read_uncommitted already sees the pending records
                recs, hw, lso = rc.fetch_records_meta(
                    "tx.t", 0, 0, isolation="read_committed")
                assert recs == [] and lso == 0 and hw == 2
                uncommitted = rc.fetch_records("tx.t", 0, 0)
                assert [(k, v) for _o, _t, k, v in uncommitted] == \
                    [(b"a", b"1"), (b"b", b"2")]
            p.commit_transaction()
            with KafkaWireClient(b.host, b.port) as rc:
                recs, hw, lso = rc.fetch_records_meta(
                    "tx.t", 0, 0, isolation="read_committed")
                assert [(o, k, v) for o, _t, k, v in recs] == \
                    [(0, b"a", b"1"), (1, b"b", b"2")]
                # commit marker occupies offset 2: LSO == LEO == 3
                assert hw == lso == 3
                assert rc.list_offsets("tx.t", 1, -1) == 2  # 1 rec + marker
        assert b.txn_markers("tx.t", 0) == [(2, 1000, True)]


def test_aborted_records_invisible_read_committed_visible_uncommitted():
    """The done-criterion pin: an aborted transaction's records are
    invisible to a read_committed GroupConsumer and visible to a
    read_uncommitted one; committed/plain records around them survive,
    original offsets preserved."""
    with MiniKafkaBroker() as b:
        b.create_topic("tx.mix", partitions=1)
        with KafkaWireClient(b.host, b.port) as pc:
            pc.produce_records("tx.mix", 0, [(b"p0", b"plain0", 1)])
            p = TransactionalProducer(pc, "tx-abort")
            p.begin_transaction()
            p.send("tx.mix", 0, [(b"x", b"doomed1", 2),
                                 (b"y", b"doomed2", 3)])
            # a plain produce interleaves INSIDE the open transaction
            pc.produce_records("tx.mix", 0, [(b"p1", b"plain1", 4)])
            p.abort_transaction()
            pc.produce_records("tx.mix", 0, [(b"p2", b"plain2", 5)])

        committed = _drain(b.bootstrap, "g-rc", "tx.mix",
                           isolation="read_committed", expect=3)
        assert committed == [(0, b"p0", b"plain0"),
                             (3, b"p1", b"plain1"),
                             (5, b"p2", b"plain2")]
        uncommitted = _drain(b.bootstrap, "g-ru", "tx.mix",
                             isolation="read_uncommitted", expect=5)
        assert [k for _o, k, _v in uncommitted] == \
            [b"p0", b"x", b"y", b"p1", b"p2"]
        assert b.txn_markers("tx.mix", 0) == [(4, 1000, False)]


def test_open_transaction_blocks_read_committed_then_unblocks():
    """LSO semantics: while a transaction is open, a read_committed
    consumer sees records only below its first offset — even records
    OTHER producers appended after it stay hidden until the marker."""
    with MiniKafkaBroker() as b:
        b.create_topic("tx.lso", partitions=1)
        with KafkaWireClient(b.host, b.port) as pc:
            pc.produce_records("tx.lso", 0, [(b"before", b"0", 1)])
            p = TransactionalProducer(pc, "tx-open")
            p.begin_transaction()
            p.send("tx.lso", 0, [(b"pending", b"1", 2)])
            pc.produce_records("tx.lso", 0, [(b"after", b"2", 3)])
            with KafkaWireClient(b.host, b.port) as rc:
                recs, hw, lso = rc.fetch_records_meta(
                    "tx.lso", 0, 0, isolation="read_committed")
                assert [k for _o, _t, k, _v in recs] == [b"before"]
                assert lso == 1 and hw == 3
            p.commit_transaction()
            with KafkaWireClient(b.host, b.port) as rc:
                recs, hw, lso = rc.fetch_records_meta(
                    "tx.lso", 0, 0, isolation="read_committed")
                assert [k for _o, _t, k, _v in recs] == \
                    [b"before", b"pending", b"after"]
                assert hw == lso == 4


def test_zombie_fencing_on_epoch_bump():
    """Two producer instances claim the same transactional.id: the
    second InitProducerId bumps the epoch, aborts the first's open
    transaction broker-side, and every later write or EndTxn from the
    first raises ProducerFencedError."""
    with MiniKafkaBroker() as b:
        b.create_topic("tx.fence", partitions=1)
        with KafkaWireClient(b.host, b.port) as c1, \
                KafkaWireClient(b.host, b.port) as c2:
            old = TransactionalProducer(c1, "tx-id")
            old.begin_transaction()
            old.send("tx.fence", 0, [(b"zombie", b"w", 1)])

            new = TransactionalProducer(c2, "tx-id")
            assert new.producer_id == old.producer_id   # stable pid
            assert new.epoch == old.epoch + 1           # bumped

            # the zombie's open transaction was aborted by the bump
            recs, _hw, lso = c2.fetch_records_meta(
                "tx.fence", 0, 0, isolation="read_committed")
            assert recs == [] and lso == 2   # record + abort marker
            assert b.txn_markers("tx.fence", 0) == \
                [(1, old.producer_id, False)]

            # stale-epoch produce and EndTxn are both fenced
            with pytest.raises(ProducerFencedError):
                old.send("tx.fence", 0, [(b"late", b"w", 2)])
            with pytest.raises(ProducerFencedError):
                old.commit_transaction()

            # the new instance works normally
            new.begin_transaction()
            new.send("tx.fence", 0, [(b"fresh", b"v", 3)])
            new.commit_transaction()
            got = _drain(b.bootstrap, "g-f", "tx.fence",
                         isolation="read_committed", expect=1)
            assert [(k, v) for _o, k, v in got] == [(b"fresh", b"v")]


def test_send_offsets_to_transaction_atomic_with_records():
    """Consume-transform-produce: the consumer-group offset staged via
    TxnOffsetCommit commits atomically with the produced records — an
    abort rolls BOTH back, so a restarted worker reprocesses the input
    instead of dropping it."""
    with MiniKafkaBroker() as b:
        b.create_topic("tx.in", partitions=1)
        b.create_topic("tx.out", partitions=1)
        with KafkaWireClient(b.host, b.port) as pc:
            pc.produce_records("tx.in", 0, [(b"i", b"input", 1)])
            group = "ctp-group"

            # attempt 1: produce output + stage offset, then ABORT
            p = TransactionalProducer(pc, "tx-ctp")
            p.begin_transaction()
            p.send("tx.out", 0, [(b"o", b"output-v1", 2)])
            p.send_offsets_to_transaction({("tx.in", 0): 1}, group)
            p.abort_transaction()
            assert pc.offset_fetch(group, "tx.in", 0) == -1  # rolled back

            # attempt 2 (the retry after the crash): commit
            p.begin_transaction()
            p.send("tx.out", 0, [(b"o", b"output-v2", 3)])
            p.send_offsets_to_transaction({("tx.in", 0): 1}, group)
            p.commit_transaction()
            assert pc.offset_fetch(group, "tx.in", 0) == 1

        got = _drain(b.bootstrap, "g-out", "tx.out",
                     isolation="read_committed", expect=1)
        assert [(k, v) for _o, k, v in got] == [(b"o", b"output-v2")]


def test_end_txn_without_ongoing_transaction_is_invalid():
    with MiniKafkaBroker() as b:
        with KafkaWireClient(b.host, b.port) as c:
            pid, epoch = c.init_producer_id("tx-empty")
            with pytest.raises(RuntimeError,
                               match="no ongoing transaction"):
                c.end_txn("tx-empty", pid, epoch, True)
            # unknown transactional id → id-mapping error
            with pytest.raises(RuntimeError, match="mapping"):
                c.end_txn("never-seen", 1, 0, True)


def test_produce_to_unadded_partition_rejected():
    """A transactional batch for a partition never AddPartitionsToTxn'd
    is rejected (the coordinator wouldn't know where to write the
    marker) — the client surfaces the named error."""
    with MiniKafkaBroker() as b:
        b.create_topic("tx.raw", partitions=1)
        with KafkaWireClient(b.host, b.port) as c:
            pid, epoch = c.init_producer_id("tx-unadded")
            with pytest.raises(RuntimeError,
                               match="AddPartitionsToTxn"):
                c.produce_records(
                    "tx.raw", 0, [(b"k", b"v", 1)],
                    producer_id=pid, producer_epoch=epoch,
                    base_sequence=0, transactional_id="tx-unadded")


def test_transaction_outcome_survives_broker_restart():
    """Markers, aborted-record sets, pid/epoch mappings, and staged
    group offsets are durable state: a broker restarted from
    snapshot() filters exactly as before, resumes offsets where the
    log ended, and still fences the old epoch."""
    with MiniKafkaBroker() as b1:
        b1.create_topic("tx.dur", partitions=1)
        with KafkaWireClient(b1.host, b1.port) as pc:
            p = TransactionalProducer(pc, "tx-dur")
            p.begin_transaction()
            p.send("tx.dur", 0, [(b"keep", b"committed", 1)])
            p.commit_transaction()
            p.begin_transaction()
            p.send("tx.dur", 0, [(b"drop", b"aborted", 2)])
            p.abort_transaction()
            old_pid, old_epoch = p.producer_id, p.epoch
        leo = b1.log_end_offset("tx.dur", 0)
        state = b1.snapshot()

    with MiniKafkaBroker(state=state) as b2:
        assert b2.log_end_offset("tx.dur", 0) == leo == 4
        assert b2.txn_markers("tx.dur", 0) == \
            [(1, old_pid, True), (3, old_pid, False)]
        committed = _drain(b2.bootstrap, "g-dur", "tx.dur",
                           isolation="read_committed", expect=1)
        assert committed == [(0, b"keep", b"committed")]
        uncommitted = _drain(b2.bootstrap, "g-dur2", "tx.dur",
                             isolation="read_uncommitted", expect=2)
        assert [k for _o, k, _v in uncommitted] == [b"keep", b"drop"]
        with KafkaWireClient(b2.host, b2.port) as c:
            # epoch continuity: re-init bumps past the pre-restart one
            pid, epoch = c.init_producer_id("tx-dur")
            assert pid == old_pid and epoch == old_epoch + 1


def test_sequences_continue_across_transactions():
    """Idempotence sequences span transactions (per KIP-98): a second
    transaction's batches continue the sequence, and the broker's
    dedupe window still rejects a regression."""
    with MiniKafkaBroker() as b:
        b.create_topic("tx.seq", partitions=1)
        with KafkaWireClient(b.host, b.port) as c:
            p = TransactionalProducer(c, "tx-seq")
            p.begin_transaction()
            p.send("tx.seq", 0, [(b"a", b"1", 1), (b"b", b"2", 2)])
            p.commit_transaction()
            p.begin_transaction()
            p.send("tx.seq", 0, [(b"c", b"3", 3)])   # base_seq = 2
            p.commit_transaction()
            assert p._seq[("tx.seq", 0)] == 3
            got = _drain(b.bootstrap, "g-seq", "tx.seq",
                         isolation="read_committed", expect=3)
            assert [k for _o, k, _v in got] == [b"a", b"b", b"c"]

def test_kafka_py_isolation_read_committed_end_to_end(spark):
    """The Spark path: a kafka_py batch read with
    isolation=read_committed surfaces exactly the committed
    transactions' records; the default read surfaces aborted ones too.
    Marker offsets appear as gaps in the offset column, which the
    planner's [start, LEO) ranges must tolerate."""
    from aether_firebase_consumer_spark.sources.kafka_pysource import (
        register_kafka_py,
    )

    register_kafka_py(spark)
    with MiniKafkaBroker() as b:
        b.create_topic("sp.tx", partitions=2)
        with KafkaWireClient(b.host, b.port) as c:
            p = TransactionalProducer(c, "sp-tx")
            p.begin_transaction()
            p.send("sp.tx", 0, [(b"d1", b"aborted-0", 1)])
            p.send("sp.tx", 1, [(b"d2", b"aborted-1", 2)])
            p.abort_transaction()
            p.begin_transaction()
            p.send("sp.tx", 0, [(b"k1", b"committed-0", 3)])
            p.send("sp.tx", 1, [(b"k2", b"committed-1", 4)])
            p.commit_transaction()

        def read(iso):
            return (spark.read.format("kafka_py")
                    .option("bootstrap", b.bootstrap)
                    .option("subscribe", "sp.tx")
                    .option("isolation", iso)
                    .load()
                    .selectExpr("cast(value as string) v", "offset")
                    .collect())

        committed = sorted((r.v, r.offset) for r in read("read_committed"))
        assert committed == [("committed-0", 2), ("committed-1", 2)]
        everything = sorted(r.v for r in read("read_uncommitted"))
        assert everything == ["aborted-0", "aborted-1",
                              "committed-0", "committed-1"]
        with pytest.raises(Exception, match="isolation"):
            read("read_banana")


def test_kafka_py_transactional_sink_exactly_once(spark, tmp_path):
    """The kafka_py sink's exactly-once tier: with
    transactionalIdPrefix, task writes stay invisible until the
    driver-side commit finalizes every task's transaction; a
    read_committed scan then sees exactly the written rows, and the
    transaction markers show one transaction per Spark task."""
    from aether_firebase_consumer_spark.sources.kafka_pysource import (
        register_kafka_py,
    )

    register_kafka_py(spark)
    with MiniKafkaBroker() as b:
        b.create_topic("sink.tx", partitions=2)
        df = spark.createDataFrame(
            [(str(i).encode(), b"row-%d" % i, i % 2) for i in range(20)],
            "key binary, value binary, partition int").repartition(3)
        (df.write.format("kafka_py")
           .option("bootstrap", b.bootstrap)
           .option("topic", "sink.tx")
           .option("transactionalIdPrefix", "eos-batch")
           .mode("append").save())

        committed = (spark.read.format("kafka_py")
                     .option("bootstrap", b.bootstrap)
                     .option("subscribe", "sink.tx")
                     .option("isolation", "read_committed")
                     .load()
                     .selectExpr("cast(value as string) v").collect())
        assert sorted(r.v for r in committed) == \
            sorted("row-%d" % i for i in range(20))
        # every producing task closed with a COMMIT marker
        markers = (b.txn_markers("sink.tx", 0)
                   + b.txn_markers("sink.tx", 1))
        assert markers and all(committed for _o, _p, committed
                               in markers)


def test_kafka_py_transactional_sink_streaming_all_or_nothing(
        spark, tmp_path):
    """Streaming: each micro-batch commits atomically; rows of a batch
    become visible together, and the read_committed offsets show the
    per-batch transaction markers as gaps."""
    from aether_firebase_consumer_spark.sources.kafka_pysource import (
        register_kafka_py,
    )

    register_kafka_py(spark)
    src = tmp_path / "src"
    src.mkdir()
    with MiniKafkaBroker() as b:
        b.create_topic("sink.tx.s", partitions=1)

        def feed(name, rows):
            spark.createDataFrame(rows, "value string") \
                .coalesce(1).write.parquet(str(src / name))

        feed("b1", [("s-0",), ("s-1",)])
        stream = (spark.readStream.schema("value string")
                  .parquet(str(src) + "/*"))
        q = (stream.writeStream.format("kafka_py")
             .option("bootstrap", b.bootstrap)
             .option("topic", "sink.tx.s")
             .option("transactionalIdPrefix", "eos-stream")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        feed("b2", [("s-2",)])
        q = (stream.writeStream.format("kafka_py")
             .option("bootstrap", b.bootstrap)
             .option("topic", "sink.tx.s")
             .option("transactionalIdPrefix", "eos-stream")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

        with KafkaWireClient(b.host, b.port) as c:
            got = c.fetch_records("sink.tx.s", 0, 0,
                                  isolation="read_committed")
        assert sorted(v.decode() for _o, _t, _k, v in got) == \
            ["s-0", "s-1", "s-2"]
        # commit markers occupy offsets between the batches
        assert all(m_committed for _o, _p, m_committed
                   in b.txn_markers("sink.tx.s", 0))


def test_streaming_read_committed_does_not_skip_open_transaction(
        spark, tmp_path):
    """The planner hazard this round's fix exists for: a micro-batch
    planned to the LOG END while a transaction is open would record
    the transaction's offsets as consumed and skip its records forever
    once the commit lands. read_committed planning stops at the LAST
    STABLE OFFSET instead: trigger 1 sees only pre-transaction rows,
    and after the commit a restart from the SAME checkpoint delivers
    the transaction's rows."""
    from aether_firebase_consumer_spark.sources.kafka_pysource import (
        register_kafka_py,
    )

    register_kafka_py(spark)
    with MiniKafkaBroker() as b:
        b.create_topic("rc.s", partitions=1)
        with KafkaWireClient(b.host, b.port) as pc:
            pc.produce_records("rc.s", 0, [(b"k0", b"before", 1)])
            p = TransactionalProducer(pc, "rc-s-txn")
            p.begin_transaction()
            p.send("rc.s", 0, [(b"k1", b"inflight", 2)])

            out_dir = str(tmp_path / "out")

            def run_trigger():
                q = (spark.readStream.format("kafka_py")
                     .option("bootstrap", b.bootstrap)
                     .option("subscribe", "rc.s")
                     .option("isolation", "read_committed")
                     .load()
                     .selectExpr("cast(value as string) v", "offset")
                     .writeStream.format("parquet")
                     .option("path", out_dir)
                     .option("checkpointLocation", str(tmp_path / "ck"))
                     .trigger(availableNow=True).start())
                q.awaitTermination()
                return sorted((r.v, r.offset) for r in
                              spark.read.parquet(out_dir).collect())

            assert run_trigger() == [("before", 0)]
            p.commit_transaction()
            pc.produce_records("rc.s", 0, [(b"k2", b"after", 4)])
            # same checkpoint: the once-open transaction's record
            # arrives now — nothing was skipped (offset 2 is the
            # commit marker's gap)
            assert run_trigger() == [("after", 3), ("before", 0),
                                     ("inflight", 1)]


def test_eos_relay_end_to_end():
    """KafkaEosRelay: consume→transform→produce with offsets in the
    transaction. Normal operation relays every record exactly once
    (transform applied, drops honored); a second drain is a no-op."""
    from aether_firebase_consumer_spark.sources.kafka_consumer import (
        KafkaEosRelay,
    )
    with MiniKafkaBroker() as b:
        b.create_topic("eos.in", partitions=2)
        b.create_topic("eos.out", partitions=2)
        with KafkaWireClient(b.host, b.port) as c:
            c.produce_records("eos.in", 0,
                              [(b"a", b"1", 10), (b"b", b"drop", 11)])
            c.produce_records("eos.in", 1, [(b"c", b"3", 12)])

        def xf(k, v):
            return None if v == b"drop" else (k, v.upper())

        with KafkaEosRelay(b.bootstrap, "eos-g", "eos.in", "eos.out",
                           "eos-relay-1", transform=xf) as r:
            assert r.run_to_end() == 3
            assert r.run_to_end() == 0      # caught up, no reprocess
        got = _drain(b.bootstrap, "eos-check", "eos.out",
                     isolation="read_committed", expect=2)
        assert sorted((k, v) for _o, k, v in got) == \
            [(b"a", b"1"), (b"c", b"3")]


def test_eos_relay_crash_before_commit_reprocesses_cleanly():
    """The exactly-once pin: a relay that dies between produce and
    commit leaves NOTHING behind — its output is invisible to
    read_committed and its input offsets rolled back — so the restart
    reprocesses the batch and the destination sees each record ONCE."""
    from aether_firebase_consumer_spark.sources.kafka_consumer import (
        KafkaEosRelay,
    )
    with MiniKafkaBroker() as b:
        b.create_topic("eosc.in", partitions=1)
        b.create_topic("eosc.out", partitions=1)
        with KafkaWireClient(b.host, b.port) as c:
            c.produce_records("eosc.in", 0, [(b"k", b"v", 10)])

        crashed = KafkaEosRelay(b.bootstrap, "eosc-g", "eosc.in",
                                "eosc.out", "eosc-relay")
        boom = RuntimeError("injected crash before commit")
        orig_commit = crashed._producer.commit_transaction

        def exploding_commit():
            raise boom
        crashed._producer.commit_transaction = exploding_commit
        with pytest.raises(RuntimeError, match="injected crash"):
            crashed.run_once()
        crashed.close()
        # nothing visible, nothing consumed
        with KafkaWireClient(b.host, b.port) as c:
            assert c.fetch_records("eosc.out", 0, 0,
                                   isolation="read_committed") == []
            assert c.offset_fetch("eosc-g", "eosc.in", 0) == -1

        with KafkaEosRelay(b.bootstrap, "eosc-g", "eosc.in",
                           "eosc.out", "eosc-relay") as r:
            assert r.run_to_end() == 1
        got = _drain(b.bootstrap, "eosc-check", "eosc.out",
                     isolation="read_committed", expect=1)
        assert [(k, v) for _o, k, v in got] == [(b"k", b"v")]


def test_eos_relay_zombie_instance_fenced():
    """Two relay instances with one transactional.id: the newer one
    fences the older mid-cycle — the zombie's produce dies, its
    half-done transaction is aborted, and the survivor relays the
    input exactly once."""
    from aether_firebase_consumer_spark.sources.kafka_consumer import (
        KafkaEosRelay,
    )
    with MiniKafkaBroker() as b:
        b.create_topic("eosz.in", partitions=1)
        b.create_topic("eosz.out", partitions=1)
        with KafkaWireClient(b.host, b.port) as c:
            c.produce_records("eosz.in", 0, [(b"k", b"v", 10)])
        old = KafkaEosRelay(b.bootstrap, "eosz-g", "eosz.in",
                            "eosz.out", "eosz-relay")
        # the old instance opens a transaction and stalls (simulated
        # by beginning + sending without committing)
        old._producer.begin_transaction()
        old._producer.send("eosz.out", 0, [(b"zombie", b"w", 1)])
        # a replacement instance comes up (deploy restart)
        new = KafkaEosRelay(b.bootstrap, "eosz-g", "eosz.in",
                            "eosz.out", "eosz-relay")
        assert new.run_to_end() == 1
        # the zombie's later activity is rejected
        with pytest.raises(ProducerFencedError):
            old._producer.send("eosz.out", 0, [(b"late", b"w", 2)])
        old.close()
        new.close()
        got = _drain(b.bootstrap, "eosz-check", "eosz.out",
                     isolation="read_committed", expect=1)
        assert [(k, v) for _o, k, v in got] == [(b"k", b"v")]
