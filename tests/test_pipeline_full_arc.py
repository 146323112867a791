"""The whole production shape, wire to derived stores, in one test
(round 11): a keyed Kafka topic (upserts + null tombstones over the
pure-Python wire broker) feeds a value-recording lake corpus through a
checkpointed ``kafka_py`` stream; the corpus's COMMIT-TIME change log,
consumed as a SECOND checkpointed stream (``table_changes`` with
``includeValues``), maintains BOTH a full mirror table and an ANN
index — inserts, updates, and takedowns all flow through the same two
logs. No stage ever rescans an upstream table (stage 2 reads only
recorded ``_changes/`` parquet), and restarting both streams between
produce rounds neither loses nor replays effects.

This is the lake-native, restartable replacement for the reference's
poll→push loop (``/root/reference/firebase/app/artifacts.py:263-327``),
which has no history, no derived-store maintenance, and no recovery
story.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from aether_firebase_consumer_spark.sinks.upsert import (
    ParquetUpsertTable,
    latest_per_key,
)
from aether_firebase_consumer_spark.streaming.table_changes_source import (
    register_table_changes,
)

from tests.test_ann_ingest import _df, _mk_job, _recompute_topk, _snap, _vec


def test_kafka_to_lake_to_derived_full_arc(spark, tmp_path):
    from aether_firebase_consumer_spark.sources.kafka_pysource import (
        register_kafka_py,
    )
    from aether_firebase_consumer_spark.sources.kafka_wire import (
        KafkaWireClient,
        MiniKafkaBroker,
    )

    register_kafka_py(spark)
    register_table_changes(spark)

    corpus = ParquetUpsertTable(spark, str(tmp_path / "corpus"),
                                ["vec_id"], retain_versions=20,
                                record_change_values=True)
    mirror = ParquetUpsertTable(spark, str(tmp_path / "mirror"),
                                ["vec_id"], retain_versions=5)
    job = _mk_job(spark, tmp_path / "ann")

    # -- stage 1: wire topic -> corpus (CDC collapse by Kafka offset,
    #    delete-before-merge; the corpus records value-carrying CDF)
    def apply_cdc(df, epoch_id):
        final = latest_per_key(df, ["vec_id"], "offset")
        dead = (final.filter(F.col("embedding").isNull())
                .select("vec_id"))
        live = (final.filter(F.col("embedding").isNotNull())
                .select("vec_id", "embedding"))
        if not dead.isEmpty():
            corpus.delete_keys(dead)
        corpus.merge(live)

    # -- stage 2: corpus change log -> mirror + ANN index. Only the
    #    recorded _changes/ files are read; post-images ride the feed
    #    (includeValues), so neither consumer touches the corpus.
    def apply_changes(df, epoch_id):
        final = latest_per_key(df, ["vec_id"], "version")
        dead = (final.filter(F.col("change_type") == "delete")
                .select("vec_id"))
        live = (final.filter(F.col("change_type") != "delete")
                .select("vec_id", "embedding"))
        if not dead.isEmpty():
            mirror.delete_keys(dead)
            job.delete(dead)
        mirror.merge(live)
        job.process_batch(live, epoch_id)

    def run_streams(broker):
        q1 = (spark.readStream.format("kafka_py")
              .option("bootstrap", broker.bootstrap)
              .option("subscribe", "vecs.cdc").load()
              .select("offset",
                      F.col("key").cast("string").cast("bigint")
                      .alias("vec_id"),
                      F.from_json(F.col("value").cast("string"),
                                  "embedding array<double>")
                      .getField("embedding").alias("embedding"))
              .writeStream.foreachBatch(apply_cdc)
              .option("checkpointLocation", str(tmp_path / "ck1"))
              .start())
        q1.processAllAvailable()
        q1.stop()
        q2 = (spark.readStream.format("table_changes")
              .option("path", corpus.path).option("keyCols", "vec_id")
              .option("includeValues", "true")
              .option("startingVersion", 0).load()
              .writeStream.foreachBatch(apply_changes)
              .option("checkpointLocation", str(tmp_path / "ck2"))
              .start())
        q2.processAllAvailable()
        q2.stop()

    def produce(broker, entries):
        with KafkaWireClient(broker.host, broker.port) as c:
            c.produce_records("vecs.cdc", 0, [
                (str(i).encode(),
                 None if v is None else
                 json.dumps({"embedding": v}).encode())
                for i, v in entries])

    with MiniKafkaBroker() as broker:
        produce(broker, [(i, _vec(i)) for i in range(1, 8)])
        run_streams(broker)

        def snap(t):
            return sorted((r.vec_id, tuple(r.embedding))
                          for r in t.read().collect())

        assert snap(mirror) == snap(corpus)
        assert len(snap(corpus)) == 7

        # round 2 — update, takedown, insert, and an
        # update-then-tombstone that must net to ABSENT — then a full
        # restart of BOTH streams from their checkpoints
        produce(broker, [(3, _vec(103)), (2, None), (9, _vec(9)),
                         (5, _vec(105)), (5, None)])
        run_streams(broker)
        assert snap(mirror) == snap(corpus)
        assert sorted(r.vec_id for r in corpus.read().collect()) == \
            [1, 3, 4, 6, 7, 9]

        # restart with nothing new: no replayed effects (version
        # counts stay put — a replay would commit fresh versions)
        v_corpus, v_mirror = corpus.current_version(), \
            mirror.current_version()
        run_streams(broker)
        assert (corpus.current_version(),
                mirror.current_version()) == (v_corpus, v_mirror)

    # the ANN index fed ONLY from the change log equals a from-scratch
    # job over the corpus's net state — inserts, the update, and both
    # takedowns all arrived through recorded changes
    state = [(1, _vec(1)), (3, _vec(103)), (4, _vec(4)),
             (6, _vec(6)), (7, _vec(7)), (9, _vec(9))]
    got = {(r.vec_id, r.cell, tuple(r.codes))
           for r in job.codes.read().collect()}
    want = {(r.vec_id, r.cell, tuple(r.codes))
            for r in job.code_rows(_df(spark, state)).collect()}
    assert got == want
    queries = _df(spark, [(0, _vec(2)), (0, _vec(103))])
    assert _snap(job.topk(queries, k=3, shortlist=10)) == \
        _snap(_recompute_topk(spark, state, queries, k=3,
                              shortlist=10))
