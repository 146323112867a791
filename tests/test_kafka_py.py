"""Jar-free Kafka path: wire codec, mini broker, kafka_py DataSource
(batch + streaming), and the full reference input path end-to-end
(broker → Avro values → filter/mask/route → upsert sink) — the O1
surface that was environment-blocked before this source existed.
"""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from aether_firebase_consumer_spark.sources.kafka_wire import (
    EARLIEST,
    LATEST,
    KafkaWireClient,
    MiniKafkaBroker,
)


@pytest.fixture()
def broker():
    with MiniKafkaBroker() as b:
        yield b


def _client(broker):
    return KafkaWireClient(broker.host, broker.port)


# ----------------------------------------------------------- batch reading

def _register(spark):
    from aether_firebase_consumer_spark.sources.kafka_pysource import (
        register_kafka_py,
    )
    register_kafka_py(spark)


def test_batch_read_parallel_partitions(spark, broker):
    _register(spark)
    broker.create_topic("tenant.orders", partitions=3)
    with _client(broker) as c:
        for i in range(30):
            c.produce_records("tenant.orders", i % 3,
                              [(f"k{i}".encode(), f"v{i}".encode())])
    df = (spark.read.format("kafka_py")
          .option("bootstrap", broker.bootstrap)
          .option("subscribe", "tenant.orders").load())
    rows = df.collect()
    assert len(rows) == 30
    assert {r.partition for r in rows} == {0, 1, 2}
    assert sorted(bytes(r.value).decode() for r in rows) \
        == sorted(f"v{i}" for i in range(30))
    # offsets are dense per partition
    per_part = {}
    for r in rows:
        per_part.setdefault(r.partition, []).append(r.offset)
    for offs in per_part.values():
        assert sorted(offs) == list(range(len(offs)))


def test_batch_read_option_validation(spark, broker):
    _register(spark)
    df = spark.read.format("kafka_py").option("bootstrap", broker.bootstrap)
    with pytest.raises(Exception, match="subscribe"):
        df.load().collect()  # neither subscribe nor pattern


# -------------------------------------------------------------- streaming

def test_stream_incremental_and_pattern_growth(spark, broker, tmp_path):
    _register(spark)
    broker.create_topic("tenant.topic-a", partitions=2)
    with _client(broker) as c:
        for i in range(10):
            c.produce_records("tenant.topic-a", i % 2,
                              [(None, f"v{i}".encode())])
    sdf = (spark.readStream.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribePattern", r"tenant\..*").load())
    q = (sdf.writeStream.format("memory").queryName("kpy_grow")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
        assert spark.table("kpy_grow").count() == 10
        with _client(broker) as c:
            c.produce_records("tenant.topic-a", 0, [(None, b"late")])
            # topic that appears mid-stream and matches the pattern is
            # picked up from offset 0; non-matching topic is not
            c.produce_records("tenant.topic-b", 0, [(None, b"new-topic")])
            c.produce_records("other.topic", 0, [(None, b"ignored")])
        q.processAllAvailable()
        out = spark.table("kpy_grow")
        assert out.count() == 12
        assert set(r.topic for r in out.select("topic").distinct().collect()) \
            == {"tenant.topic-a", "tenant.topic-b"}
    finally:
        q.stop()


def test_stream_restart_exactly_once(spark, broker, tmp_path):
    _register(spark)
    broker.create_topic("t.x", partitions=2)
    with _client(broker) as c:
        for i in range(10):
            c.produce_records("t.x", i % 2, [(None, f"v{i}".encode())])
    ckpt, outdir = str(tmp_path / "ck"), str(tmp_path / "out")
    sdf = (spark.readStream.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "t.x").load())

    def run_once():
        q = (sdf.selectExpr("CAST(value AS STRING) AS v",
                            "topic", "partition", "offset")
             .writeStream.format("parquet").option("path", outdir)
             .option("checkpointLocation", ckpt).start())
        q.processAllAvailable()
        q.stop()

    run_once()
    assert spark.read.parquet(outdir).count() == 10
    with _client(broker) as c:
        c.produce_records("t.x", 0, [(None, b"extra1")])
        c.produce_records("t.x", 1, [(None, b"extra2")])
    run_once()  # restart from checkpoint: only the 2 new offsets
    out = spark.read.parquet(outdir)
    assert out.count() == 12
    assert out.groupBy("topic", "partition", "offset").count() \
        .filter("count > 1").count() == 0


def test_stream_starting_offsets_latest(spark, broker, tmp_path):
    _register(spark)
    with _client(broker) as c:
        c.produce_records("t.y", 0, [(None, b"old1"), (None, b"old2")])
    sdf = (spark.readStream.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "t.y")
           .option("startingOffsets", "latest").load())
    q = (sdf.writeStream.format("memory").queryName("kpy_latest")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
        assert spark.table("kpy_latest").count() == 0  # history skipped
        with _client(broker) as c:
            c.produce_records("t.y", 0, [(None, b"fresh")])
        q.processAllAvailable()
        vals = [bytes(r.value) for r in spark.table("kpy_latest").collect()]
        assert vals == [b"fresh"]
    finally:
        q.stop()


# ------------------------------------------- full reference path, jar-free

DOC_AVSC = {
    "type": "record",
    "name": "Doc",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "topic", "type": "string"},
        {"name": "user_id", "type": "long"},
        {"name": "value", "type": "double"},
        {"name": "props", "type": ["null", "string"], "default": None},
    ],
}


def test_reference_path_kafka_avro_pipeline(spark, broker, tmp_path):
    """Broker → kafka_py stream → jar-free Avro decode → filter/mask/
    route → hash-gated MERGE upsert: the reference's whole consumer
    loop (artifacts.py:263-327) as one Structured Streaming query,
    with no Kafka jar and no Avro jar."""
    from aether_firebase_consumer_spark.operators.filtering import (
        FilterConfig,
    )
    from aether_firebase_consumer_spark.operators.masking import MaskConfig
    from aether_firebase_consumer_spark.operators.routing import Subscription
    from aether_firebase_consumer_spark.sinks.upsert import (
        HashStateTable,
        ParquetUpsertTable,
    )
    from aether_firebase_consumer_spark.sources.avro_codec import (
        decode_avro_docs_py,
        encode_record,
    )
    from aether_firebase_consumer_spark.sources.kafka_pysource import (
        register_kafka_py,
    )
    from aether_firebase_consumer_spark.streaming.pipeline import (
        PipelineConfig,
        StreamingUpsertJob,
    )

    register_kafka_py(spark)
    broker.create_topic("t1.docs", partitions=2)
    docs = [
        {"id": f"d{i}", "topic": "t1.click" if i % 2 else "t1.ignore",
         "user_id": i, "value": float(i), "props": f"secret-{i}"}
        for i in range(20)
    ]
    with _client(broker) as c:
        for i, d in enumerate(docs):
            c.produce_records("t1.docs", i % 2,
                              [(d["id"].encode(), encode_record(DOC_AVSC, d))])

    stream = (spark.readStream.format("kafka_py")
              .option("bootstrap", broker.bootstrap)
              .option("subscribe", "t1.docs").load())
    decoded = decode_avro_docs_py(
        stream.select("value", F.col("offset").alias("kafka_offset")),
        json.dumps(DOC_AVSC))

    cfg = PipelineConfig(
        tenant="t1",
        filter_config=FilterConfig("topic", ["t1.click"]),
        mask_config=MaskConfig(["public", "private"], "public"),
        classifications={"props": "private"},
        subscriptions=[Subscription(id="s1", topic_pattern="*")],
        sync_mode="sync",
    )
    doc_table = ParquetUpsertTable(spark, str(tmp_path / "docs"), ["id"])
    hash_table = HashStateTable(spark, str(tmp_path / "hashes"))
    job = StreamingUpsertJob(cfg, doc_table, hash_table)
    q = job.writer(decoded, str(tmp_path / "ckpt")).start()
    q.processAllAvailable()
    q.stop()

    out = doc_table.read()
    rows = out.collect()
    assert len(rows) == 10                      # only t1.click docs
    assert "props" not in out.columns           # private column masked
    assert {r["target_path"] for r in rows} == {"_aether/entities/click"}
    assert {r["id"] for r in rows} == {f"d{i}" for i in range(20) if i % 2}

    # re-deliver everything (at-least-once broker redelivery): the
    # hash gate suppresses unchanged docs end-to-end
    with _client(broker) as c:
        for i, d in enumerate(docs):
            c.produce_records("t1.docs", i % 2,
                              [(d["id"].encode(), encode_record(DOC_AVSC, d))])
    job2 = StreamingUpsertJob(cfg, doc_table, hash_table)
    q = job2.writer(decoded, str(tmp_path / "ckpt")).start()
    q.processAllAvailable()
    q.stop()
    assert doc_table.read().count() == 10       # nothing re-written


def test_stream_kafka_source_falls_back_to_wire(spark, broker, tmp_path):
    """readers.stream_kafka_source prefers the JVM source; with the jar
    absent (this image) it transparently serves the same stream through
    kafka_py — the poll loop works either way."""
    from aether_firebase_consumer_spark.sources.readers import (
        stream_kafka_source,
    )

    with _client(broker) as c:
        c.produce_records("t1.a", 0, [(None, b"m1"), (None, b"m2")])
    sdf = stream_kafka_source(spark, broker.bootstrap, r"t1\..*")
    q = (sdf.writeStream.format("memory").queryName("kpy_fb")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
        vals = sorted(bytes(r.value) for r in spark.table("kpy_fb").collect())
        assert vals == [b"m1", b"m2"]
    finally:
        q.stop()


def test_stream_kafka_source_security_has_no_fallback(spark, broker):
    from aether_firebase_consumer_spark.sources.readers import (
        stream_kafka_source,
    )

    with pytest.raises(NotImplementedError, match="security"):
        stream_kafka_source(spark, broker.bootstrap, r"t1\..*",
                            security={"security.protocol": "SASL_SSL"})


def test_job_reconcile_on_kafka_source(spark, broker, tmp_path):
    """O2/O18 on the REAL source type: a JobManager-managed streaming
    query consumes a Kafka topic pattern through the wire source; the
    subscription's pattern changes mid-run → reconfigure swaps queries
    on the same checkpoint. Offsets for the old topics stay committed
    (no reprocessing), the new pattern's topics are consumed from
    earliest — Kafka resubscription semantics, exactly what the
    reference's reconcile poll does (artifacts.py:287-300)."""
    from aether_firebase_consumer_spark.control.jobs import (
        JobManager,
        JobStatus,
    )
    from aether_firebase_consumer_spark.sources.readers import (
        stream_kafka_source,
    )

    out_dir = str(tmp_path / "out")

    def make_start_fn(pattern):
        def start_fn(checkpoint):
            stream = stream_kafka_source(spark, broker.bootstrap, pattern)
            return (stream.selectExpr("CAST(value AS STRING) AS v",
                                      "topic", "partition", "offset")
                    .writeStream.format("parquet").option("path", out_dir)
                    .option("checkpointLocation", checkpoint)
                    .start())
        return start_fn

    with _client(broker) as c:
        c.produce_records("t1.alpha", 0, [(None, b"a1"), (None, b"a2")])
        c.produce_records("t1.beta", 0, [(None, b"b1")])

    mgr = JobManager(str(tmp_path / "ckpt"))
    job = mgr.add_job("t1", "job-k", make_start_fn(r"t1\.alpha"))
    job.start()
    job.query.processAllAvailable()
    q1 = job.query
    assert sorted(r.v for r in spark.read.parquet(out_dir).collect()) \
        == ["a1", "a2"]

    job.reconfigure(make_start_fn(r"t1\.beta"))
    assert not q1.isActive and job.query is not q1
    assert job.get_status() == JobStatus.NORMAL
    with _client(broker) as c:
        # t1.alpha is no longer subscribed
        c.produce_records("t1.alpha", 0, [(None, b"a3")])
        c.produce_records("t1.beta", 0, [(None, b"b2")])
    job.query.processAllAvailable()
    job.stop()

    vals = sorted(r.v for r in spark.read.parquet(out_dir).collect())
    # alpha rows exactly once from before the swap; beta consumed from
    # earliest on resubscription; a3 not consumed
    assert vals == ["a1", "a2", "b1", "b2"]


def test_max_offsets_per_trigger_bounds_batches(spark, broker, tmp_path):
    """maxOffsetsPerTrigger=10: once the first commit anchors the cap
    (the engine's very first batch is uncapped — see the reader
    docstring), a backlog of 35 messages drains in micro-batches of
    ≤ 10 rows, exactly once."""
    _register(spark)
    broker.create_topic("t.cap", partitions=1)
    with _client(broker) as c:
        c.produce_records("t.cap", 0, [(None, b"seed")])
    sdf = (spark.readStream.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "t.cap")
           .option("maxOffsetsPerTrigger", "10").load())
    q = (sdf.writeStream.format("memory").queryName("kpy_cap")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()           # batch 0: the seed row
        assert spark.table("kpy_cap").count() == 1
        with _client(broker) as c:        # 35-message backlog
            c.produce_records("t.cap", 0,
                              [(None, f"m{i}".encode()) for i in range(35)])
        q.processAllAvailable()
        out = spark.table("kpy_cap")
        assert out.count() == 36          # drained, no duplicates
        assert out.select("offset").distinct().count() == 36
        sizes = [p["numInputRows"] for p in q.recentProgress
                 if p["numInputRows"] > 0]
        # the backlog batches are capped: 35 rows → ≥ 4 batches of ≤ 10
        assert sizes and max(sizes) <= 10 and len(sizes) >= 5
    finally:
        q.stop()


# ------------------------------------------------------------------- sink

def test_batch_write_then_read_roundtrip(spark, broker):
    """df.write.format('kafka_py') produces over the wire; a batch read
    gets every row back. Keyed rows land on a stable partition
    (default-partitioner contract)."""
    _register(spark)
    broker.create_topic("sink.topic", partitions=3)
    df = spark.createDataFrame(
        [(f"k{i % 5}", f"payload-{i}") for i in range(40)],
        "key string, value string")
    (df.write.format("kafka_py")
     .option("bootstrap", broker.bootstrap)
     .option("topic", "sink.topic").mode("append").save())
    back = (spark.read.format("kafka_py")
            .option("bootstrap", broker.bootstrap)
            .option("subscribe", "sink.topic").load())
    rows = back.collect()
    assert sorted(bytes(r.value).decode() for r in rows) \
        == sorted(f"payload-{i}" for i in range(40))
    # same key → same partition, always
    key_parts = {}
    for r in rows:
        key_parts.setdefault(bytes(r.key), set()).add(r.partition)
    assert all(len(ps) == 1 for ps in key_parts.values())


def test_explicit_partition_column_wins(spark, broker):
    _register(spark)
    broker.create_topic("sink.explicit", partitions=4)
    df = spark.createDataFrame(
        [(None, f"v{i}", i % 2) for i in range(10)],
        "key string, value string, partition int")
    (df.write.format("kafka_py")
     .option("bootstrap", broker.bootstrap)
     .option("topic", "sink.explicit").mode("append").save())
    back = (spark.read.format("kafka_py")
            .option("bootstrap", broker.bootstrap)
            .option("subscribe", "sink.explicit").load())
    assert {r.partition for r in back.collect()} == {0, 1}


def test_stream_topic_to_topic_pipe(spark, broker, tmp_path):
    """readStream one topic → writeStream another: the wire source and
    sink compose into a streaming pipe, incremental across triggers."""
    _register(spark)
    broker.create_topic("pipe.in", partitions=2)
    broker.create_topic("pipe.out", partitions=2)
    with _client(broker) as c:
        for i in range(8):
            c.produce_records("pipe.in", i % 2, [(None, f"m{i}".encode())])
    sdf = (spark.readStream.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "pipe.in").load())
    q = (sdf.selectExpr("key", "upper(CAST(value AS STRING)) AS value",
                        "partition")
         .writeStream.format("kafka_py")
         .option("bootstrap", broker.bootstrap)
         .option("topic", "pipe.out")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
        with _client(broker) as c:
            c.produce_records("pipe.in", 0, [(None, b"late")])
        q.processAllAvailable()
    finally:
        q.stop()
    out = (spark.read.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "pipe.out").load())
    vals = sorted(bytes(r.value).decode() for r in out.collect())
    assert vals == sorted([f"M{i}" for i in range(8)] + ["LATE"])


# --------------------------------------- schema-registry framed messages

V1_AVSC = {
    "type": "record", "name": "Doc", "fields": [
        {"name": "id", "type": "string"},
        {"name": "count", "type": "int"},
    ],
}
V2_AVSC = {
    "type": "record", "name": "Doc", "fields": [
        {"name": "id", "type": "string"},
        {"name": "count", "type": "long"},          # int → long promotion
        {"name": "source", "type": "string", "default": "legacy"},
    ],
}


def test_framed_mixed_generation_topic(spark, broker):
    """One topic, two producer generations: each message carries its
    schema id (magic 0x00 + int32); the decoder resolves every record
    to the reader schema — v1 rows get the reader default for the new
    field and the int→long promotion."""
    from aether_firebase_consumer_spark.sources.avro_codec import (
        decode_avro_docs_py_framed,
        encode_framed,
    )

    _register(spark)
    with _client(broker) as c:
        c.produce_records("t.framed", 0, [
            (None, encode_framed(1, V1_AVSC, {"id": "a", "count": 7})),
            (None, encode_framed(2, V2_AVSC,
                                 {"id": "b", "count": 9_999_999_999,
                                  "source": "web"})),
            (None, encode_framed(1, V1_AVSC, {"id": "c", "count": 3})),
        ])
    raw = (spark.read.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "t.framed").load())
    out = decode_avro_docs_py_framed(
        raw, {1: json.dumps(V1_AVSC), 2: json.dumps(V2_AVSC)},
        json.dumps(V2_AVSC))
    rows = {r["id"]: (r["count"], r["source"]) for r in out.collect()}
    assert rows == {"a": (7, "legacy"), "b": (9_999_999_999, "web"),
                    "c": (3, "legacy")}
    assert dict(out.dtypes)["count"] == "bigint"  # promoted reader type


def test_framed_unknown_schema_id_raises(spark, broker):
    from aether_firebase_consumer_spark.sources.avro_codec import (
        decode_avro_docs_py_framed,
        encode_framed,
    )

    _register(spark)
    with _client(broker) as c:
        c.produce_records("t.framed2", 0, [
            (None, encode_framed(9, V1_AVSC, {"id": "x", "count": 1}))])
    raw = (spark.read.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "t.framed2").load())
    out = decode_avro_docs_py_framed(
        raw, {1: json.dumps(V1_AVSC)}, json.dumps(V1_AVSC))
    with pytest.raises(Exception, match="schema id 9"):
        out.collect()


def test_min_partitions_splits_offset_ranges(spark, broker, tmp_path):
    """minPartitions=8 over a single-Kafka-partition topic: the batch
    splits into ≥8 Spark tasks with disjoint offset ranges, result
    identical — the skewed-topic parallelism escape hatch."""
    _register(spark)
    with _client(broker) as c:
        c.produce_records("skewed.t", 0, [(None, f"m{i}".encode())
                                          for i in range(200)])
    df = (spark.read.format("kafka_py")
          .option("bootstrap", broker.bootstrap)
          .option("subscribe", "skewed.t")
          .option("minPartitions", "8").load())
    assert df.rdd.getNumPartitions() >= 8
    rows = df.collect()
    assert sorted(r.offset for r in rows) == list(range(200))

    # streaming path honors it too
    sdf = (spark.readStream.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "skewed.t")
           .option("minPartitions", "4").load())
    q = (sdf.writeStream.format("memory").queryName("kpy_minp")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
        assert spark.table("kpy_minp").count() == 200
    finally:
        q.stop()


def test_log_compaction_preserves_offsets_and_reader_handles_gaps(
        spark, broker, tmp_path):
    """After compaction the log keeps the LAST message per key at its
    ORIGINAL offset (gaps appear); batch and streaming reads both
    tolerate the gaps — the real-Kafka compacted-topic contract."""
    _register(spark)
    with _client(broker) as c:
        c.produce_records("state.t", 0, [(b"A", b"a1"), (b"B", b"b1"),
                                         (b"A", b"a2"), (b"C", b"c1"),
                                         (b"A", b"a3")])
    assert broker.compact("state.t") == 2   # a1, a2 removed
    with _client(broker) as c:
        assert c.list_offsets("state.t", 0, EARLIEST) == 1  # b1's offset
        assert c.list_offsets("state.t", 0, LATEST) == 5
        got = c.fetch_records("state.t", 0, 0)
        assert [(o, k, v) for o, _ts, k, v in got] \
            == [(1, b"B", b"b1"), (3, b"C", b"c1"), (4, b"A", b"a3")]
        # fetch from inside a gap lands on the next retained offset
        assert c.fetch_records("state.t", 0, 2)[0][0] == 3

    df = (spark.read.format("kafka_py")
          .option("bootstrap", broker.bootstrap)
          .option("subscribe", "state.t").load())
    rows = {bytes(r.key): (bytes(r.value), r.offset) for r in df.collect()}
    assert rows == {b"A": (b"a3", 4), b"B": (b"b1", 1), b"C": (b"c1", 3)}

    # streaming resumes over the gap and picks up post-compaction data
    sdf = (spark.readStream.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "state.t").load())
    q = (sdf.writeStream.format("memory").queryName("kpy_compact")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
        assert spark.table("kpy_compact").count() == 3
        with _client(broker) as c:
            c.produce_records("state.t", 0, [(b"B", b"b2")])
        q.processAllAvailable()
        assert spark.table("kpy_compact").count() == 4
    finally:
        q.stop()


def test_control_plane_lists_broker_topics(broker):
    from aether_firebase_consumer_spark.control.jobs import JobManager

    with _client(broker) as c:
        c.produce_records("t1.alpha", 0, [(None, b"x")])
        c.produce_records("t1.beta", 0, [(None, b"x")])
        c.produce_records("t2.gamma", 0, [(None, b"x")])
        c.produce_records("t10.delta", 0, [(None, b"x")])  # prefix-share trap
    assert JobManager.list_topics_from_broker(broker.bootstrap, "t1") \
        == ["alpha", "beta"]


def test_event_time_window_over_wire_stream(spark, broker, tmp_path):
    """Event-time tumbling window with a watermark over the wire
    source, with event time taken from the payload rather than the
    record timestamp — exactly the 100 TB posture (record timestamps
    are produce time; analytics windows on payload time)."""
    import json as _json

    _register(spark)
    with _client(broker) as c:
        evs = [("2024-01-01T00:00:05", 1.0), ("2024-01-01T00:00:55", 2.0),
               ("2024-01-01T00:01:10", 4.0), ("2024-01-01T00:02:30", 8.0)]
        c.produce_records("win.t", 0, [
            (None, _json.dumps({"ts": ts, "v": v}).encode())
            for ts, v in evs])
    sdf = (spark.readStream.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "win.t").load())
    parsed = (sdf.select(F.from_json(F.col("value").cast("string"),
                                     "ts string, v double").alias("d"))
              .select(F.to_timestamp("d.ts").alias("ts"), "d.v")
              .withWatermark("ts", "10 minutes"))
    agg = (parsed.groupBy(F.window("ts", "1 minute").alias("w"))
           .agg(F.sum("v").alias("total")))
    q = (agg.writeStream.format("memory").queryName("kpy_win")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
        got = {r.w.start.isoformat(): r.total
               for r in spark.table("kpy_win").collect()}
        assert got == {"2024-01-01T00:00:00": 3.0,
                       "2024-01-01T00:01:00": 4.0,
                       "2024-01-01T00:02:00": 8.0}
    finally:
        q.stop()


def test_dead_letter_queue_pattern(spark, broker, tmp_path):
    """Poison-message handling end to end, fully distributed:
    permissive Avro decode with keep_value=True keeps the original
    bytes beside the decoded columns, so foreachBatch routes good rows
    onward and produces the byte-identical bad payloads to a
    dead-letter topic via the kafka_py sink — nothing lost, nothing
    fatal, no driver-side row handling."""
    import json as _json

    from aether_firebase_consumer_spark.sources.avro_codec import (
        decode_avro_docs_py,
        encode_record,
    )

    _register(spark)
    avsc = {"type": "record", "name": "R", "fields": [
        {"name": "id", "type": "string"},
        {"name": "n", "type": "long"}]}
    with _client(broker) as c:
        c.produce_records("dlq.in", 0, [
            (None, encode_record(avsc, {"id": "a", "n": 1})),
            (None, b"\xff\xff\xff\xff"),
            (None, encode_record(avsc, {"id": "b", "n": 2})),
        ])
    broker.create_topic("dlq.bad", partitions=1)

    sdf = (spark.readStream.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "dlq.in").load())
    good_dir = str(tmp_path / "good")

    def route(batch, epoch_id):
        decoded = decode_avro_docs_py(
            batch.select("value"), _json.dumps(avsc),
            mode="permissive", keep_value=True)
        decoded.filter(F.col("id").isNotNull()) \
            .drop("value").write.mode("append").parquet(good_dir)
        bad = decoded.filter(F.col("id").isNull()
                             & F.col("value").isNotNull())
        (bad.select(F.lit(None).cast("binary").alias("key"), "value")
            .write.format("kafka_py")
            .option("bootstrap", broker.bootstrap)
            .option("topic", "dlq.bad").mode("append").save())

    q = (sdf.writeStream.foreachBatch(route)
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    q.stop()

    assert {r["id"] for r in spark.read.parquet(good_dir).collect()} \
        == {"a", "b"}
    dlq = (spark.read.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "dlq.bad").load())
    assert [bytes(r.value) for r in dlq.collect()] == [b"\xff\xff\xff\xff"]


def test_rest_list_topics_from_live_broker(broker, tmp_path):
    """E3 over HTTP against the LIVE broker: GET /job/list_topics
    serves a wire Metadata round trip; an unreachable broker maps to
    502 (the reference's wrapped connection error)."""
    import json as _json
    import urllib.request

    from aether_firebase_consumer_spark.control.api import ControlApi
    from aether_firebase_consumer_spark.control.jobs import JobManager
    from aether_firebase_consumer_spark.control.resources import (
        ResourceRegistry,
    )

    with _client(broker) as c:
        c.produce_records("t1.alpha", 0, [(None, b"x")])
        c.produce_records("t2.beta", 0, [(None, b"x")])
    api = ControlApi(ResourceRegistry(), JobManager(str(tmp_path / "ck")),
                     bootstrap=broker.bootstrap)
    port = api.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/job/list_topics",
            headers={"x-oauth-realm": "t1"})
        with urllib.request.urlopen(req) as resp:
            assert _json.loads(resp.read()) == ["alpha"]
    finally:
        api.stop()

    # dead broker → 502
    dead = ControlApi(ResourceRegistry(), JobManager(str(tmp_path / "ck2")),
                      bootstrap="127.0.0.1:1")
    port = dead.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/job/list_topics",
            headers={"x-oauth-realm": "t1"})
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected HTTP 502")
        except urllib.error.HTTPError as err:
            assert err.code == 502
    finally:
        dead.stop()


# ----------------------------------------------- consumer-group poll loop

def test_consumer_lag_endpoint(broker, tmp_path):
    import json as _json
    import urllib.request

    from aether_firebase_consumer_spark.control.api import ControlApi
    from aether_firebase_consumer_spark.control.jobs import JobManager
    from aether_firebase_consumer_spark.control.resources import (
        ResourceRegistry,
    )
    from aether_firebase_consumer_spark.sources.kafka_consumer import (
        PollLoopConsumer,
    )

    with _client(broker) as c:
        c.produce_records("t1.a", 0, [(None, f"m{i}".encode())
                                      for i in range(6)])
    with PollLoopConsumer(broker.bootstrap, "job1", topics=["t1.a"]) as con:
        con.poll(max_messages=4)
        con.commit()
    assert JobManager.consumer_lag(broker.bootstrap, "job1", "t1") \
        == {"t1.a,0": 2}
    assert JobManager.consumer_lag(broker.bootstrap, "fresh", "t1") \
        == {"t1.a,0": 6}

    api = ControlApi(ResourceRegistry(), JobManager(str(tmp_path / "ck")),
                     bootstrap=broker.bootstrap)
    port = api.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/job/consumer_lag?group=job1",
            headers={"x-oauth-realm": "t1"})
        with urllib.request.urlopen(req) as resp:
            assert _json.loads(resp.read()) == {"t1.a,0": 2}
    finally:
        api.stop()


def test_volume_10k_messages_exactly_once(spark, broker, tmp_path):
    """10k messages across 4 partitions: the executor fetch loop pages
    through max_bytes-bounded responses; every offset arrives exactly
    once, batch and streaming."""
    _register(spark)
    broker.create_topic("vol.t", partitions=4)
    with _client(broker) as c:
        for p in range(4):
            msgs = [(None, f"p{p}-m{i}-{'x' * 64}".encode())
                    for i in range(2500)]
            for i in range(0, len(msgs), 500):
                c.produce_records("vol.t", p, msgs[i:i + 500])
    df = (spark.read.format("kafka_py")
          .option("bootstrap", broker.bootstrap)
          .option("subscribe", "vol.t").load())
    agg = df.groupBy("partition").count().collect()
    assert {r.partition: r["count"] for r in agg} \
        == {0: 2500, 1: 2500, 2: 2500, 3: 2500}
    assert df.select("partition", "offset").distinct().count() == 10_000

    sdf = (spark.readStream.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "vol.t")
           .option("maxOffsetsPerTrigger", "4000").load())
    q = (sdf.selectExpr("partition", "offset")
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 10_000
    assert out.distinct().count() == 10_000


def test_jar_fallback_only_for_source_missing_errors():
    """stream_kafka_source's jar-free fallback engages ONLY on the
    classpath/source-resolution error family — any other load()
    failure surfaces as-is (ADVICE r5: don't mask real errors with a
    silent PLAINTEXT v0 client swap)."""
    from aether_firebase_consumer_spark.sources.readers import (
        _is_source_missing_error,
    )

    assert _is_source_missing_error(
        Exception("[DATA_SOURCE_NOT_FOUND] Failed to find the data "
                  "source: kafka."))
    assert _is_source_missing_error(
        Exception("java.lang.ClassNotFoundException: kafka.DefaultSource"))
    assert not _is_source_missing_error(
        ValueError("Option 'kafka.bootstrap.servers' must be set"))
    assert not _is_source_missing_error(
        Exception("Connection refused: broker:9092"))
    assert not _is_source_missing_error(
        Exception("SASL authentication failed"))


def test_record_headers_roundtrip_wire_and_spark(spark, broker):
    """KIP-82 record headers end to end: produced via the sink's
    ``headers`` column (array<struct<key,value>> — the JVM source's
    shape), stored by the broker, and surfaced by a read with
    ``includeHeaders=true``; without the option the schema is
    unchanged. Null header values survive."""
    from aether_firebase_consumer_spark.sources.kafka_wire import (
        KafkaWireClient,
    )

    _register(spark)
    broker.create_topic("hdr.t", partitions=1)
    df = spark.createDataFrame(
        [(b"k1", b"v1", [("trace", b"abc"), ("nullv", None)]),
         (b"k2", b"v2", [])],
        "key binary, value binary, "
        "headers array<struct<key:string,value:binary>>")
    (df.write.format("kafka_py")
       .option("bootstrap", broker.bootstrap)
       .option("topic", "hdr.t").mode("append").save())

    # wire level: headers stored per record
    with KafkaWireClient(broker.host, broker.port) as c:
        recs, _hw, _lso = c.fetch_records_meta("hdr.t", 0, 0,
                                               include_headers=True)
    by_key = {k: h for _o, _t, k, _v, h in recs}
    assert by_key[b"k1"] == (("trace", b"abc"), ("nullv", None))
    assert by_key[b"k2"] == ()

    got = (spark.read.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "hdr.t")
           .option("includeHeaders", "true")
           .load())
    assert "headers" in got.columns
    rows = {bytes(r.key): r.headers for r in got.collect()}
    assert [(h.key, h.value and bytes(h.value))
            for h in rows[b"k1"]] == [("trace", b"abc"),
                                      ("nullv", None)]
    assert rows[b"k2"] == []

    plain = (spark.read.format("kafka_py")
             .option("bootstrap", broker.bootstrap)
             .option("subscribe", "hdr.t").load())
    assert "headers" not in plain.columns


def test_assign_subscription_mode(spark, broker):
    """The JVM source's third subscription mode: assign consumes ONLY
    the named partitions — other partitions of the same topic are
    invisible; mixing subscription modes is rejected."""
    _register(spark)
    broker.create_topic("asg.t", partitions=3)
    with _client(broker) as c:
        for p in range(3):
            c.produce_records("asg.t", p, [(None, b"p%d" % p)])
    got = (spark.read.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("assign", '{"asg.t": [0, 2]}')
           .load()
           .selectExpr("cast(value as string) v", "partition")
           .collect())
    assert sorted((r.v, r.partition) for r in got) == \
        [("p0", 0), ("p2", 2)]
    with pytest.raises(Exception, match="exactly one of"):
        (spark.read.format("kafka_py")
         .option("bootstrap", broker.bootstrap)
         .option("assign", '{"asg.t": [0]}')
         .option("subscribe", "asg.t").load().collect())
    with pytest.raises(Exception, match="non-empty partition list"):
        (spark.read.format("kafka_py")
         .option("bootstrap", broker.bootstrap)
         .option("assign", '{"asg.t": []}').load().collect())


def test_stream_read_with_headers(spark, broker, tmp_path):
    """includeHeaders on the STREAMING reader: the headers column
    rides micro-batches and checkpointed restarts identically to the
    batch path."""
    _register(spark)
    broker.create_topic("hdr.s", partitions=1)
    with _client(broker) as c:
        c.produce_records("hdr.s", 0,
                          [(b"k1", b"v1", 10, (("h", b"one"),))])
    sdf = (spark.readStream.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "hdr.s")
           .option("includeHeaders", "true").load())
    q = (sdf.writeStream.format("memory").queryName("kpy_hdr")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
        with _client(broker) as c:
            c.produce_records("hdr.s", 0,
                              [(b"k2", b"v2", 20, (("h", b"two"),))])
        q.processAllAvailable()
        rows = {bytes(r.key): [(h.key, bytes(h.value))
                               for h in r.headers]
                for r in spark.table("kpy_hdr").collect()}
        assert rows == {b"k1": [("h", b"one")],
                        b"k2": [("h", b"two")]}
    finally:
        q.stop()
