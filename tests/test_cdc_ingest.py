"""CDC / tombstone ingestion (round 10): takedowns flow through the
SAME stream that feeds the persisted indexes. A keyed record with a
null payload is a tombstone (the Kafka log-compaction contract); the
CdcIngest mixin collapses each micro-batch to the latest record per
id, deletes the tombstoned ids through the jobs' partition-pruned
delete(), then MERGEs the live rows — end-of-batch semantics, ordered
by the Kafka offset."""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import functions as F

from aether_firebase_consumer_spark.sinks.upsert import ParquetUpsertTable
from aether_firebase_consumer_spark.streaming.ann_ingest import AnnIndexJob
from aether_firebase_consumer_spark.streaming.dedup_ingest import (
    DedupIngestJob,
)

from tests.test_ann_ingest import (
    _df,
    _mk_job,
    _recompute_topk,
    _snap,
    _vec,
)
from tests.test_dedup_ingest import D1, D1_NEAR, D2


def _cdf(spark, rows):
    """Rows (vec_id, embedding|None, off) — a CDC batch with an
    explicit sequence column."""
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, off bigint")


def test_ann_cdc_tombstone_update_insert(spark, tmp_path):
    """One CDC batch mixing a takedown, an update, and an insert: the
    post-batch index equals a from-scratch job over the net state,
    and the tombstoned vector stops answering probes."""
    job = _mk_job(spark, tmp_path / "t")
    job.process_batch(_df(spark, [(i, _vec(i)) for i in range(1, 7)]), 0)

    stats = job.process_cdc_batch(
        _cdf(spark, [(2, None, 10),            # takedown
                     (3, _vec(103), 11),       # update
                     (7, _vec(7), 12)]),       # insert
        1, order_col="off")
    assert stats == {"tombstones": 1, "deleted": 1, "upserts": 2}

    state = [(1, _vec(1)), (3, _vec(103)), (4, _vec(4)),
             (5, _vec(5)), (6, _vec(6)), (7, _vec(7))]
    got = {(r.vec_id, r.cell, tuple(r.codes))
           for r in job.codes.read().collect()}
    want = {(r.vec_id, r.cell, tuple(r.codes))
            for r in job.code_rows(_df(spark, state)).collect()}
    assert got == want
    queries = _df(spark, [(0, _vec(2)), (0, _vec(103))])
    assert _snap(job.topk(queries, k=3, shortlist=10)) == \
        _snap(_recompute_topk(spark, state, queries, k=3,
                              shortlist=10))


def test_ann_cdc_latest_per_key_wins(spark, tmp_path):
    """In-batch ordering: insert-then-tombstone nets to a takedown,
    tombstone-then-reinsert nets to an upsert, and a tombstone for an
    id that was never present is legal traffic (deleted <
    tombstones)."""
    job = _mk_job(spark, tmp_path / "t")
    job.process_batch(_df(spark, [(1, _vec(1)), (2, _vec(2))]), 0)

    stats = job.process_cdc_batch(
        _cdf(spark, [(1, _vec(101), 100), (1, None, 101),
                     (2, None, 100), (2, _vec(102), 101),
                     (9, None, 100)]),
        1, order_col="off")
    assert stats == {"tombstones": 2, "deleted": 1, "upserts": 1}

    state = [(2, _vec(102))]
    assert {r.vec_id for r in job.corpus.read().collect()} == {2}
    got = {(r.vec_id, r.cell, tuple(r.codes))
           for r in job.codes.read().collect()}
    want = {(r.vec_id, r.cell, tuple(r.codes))
            for r in job.code_rows(_df(spark, state)).collect()}
    assert got == want


def test_dedup_cdc_takedown_admits_newcomer_same_batch(spark, tmp_path):
    """End-of-batch semantics for the gated jobs: a new document
    arriving in the same batch as the takedown of its near-duplicate
    is judged against the post-takedown corpus — admitted, not
    ghost-gated."""
    corpus = ParquetUpsertTable(spark, str(tmp_path / "c"), ["doc_id"])
    rejects = ParquetUpsertTable(spark, str(tmp_path / "r"), ["doc_id"])
    job = DedupIngestJob(spark, corpus, rejects)
    job.process_batch(spark.createDataFrame(
        [(1, D1), (2, D2)], "doc_id bigint, text string"), 0)

    stats = job.process_cdc_batch(spark.createDataFrame(
        [(1, None, 10), (10, D1_NEAR, 11)],
        "doc_id bigint, text string, off bigint"), 1, order_col="off")
    assert stats == {"tombstones": 1, "deleted": 1, "upserts": 1}
    assert {r.doc_id for r in corpus.read().collect()} == {2, 10}
    rej = rejects.read()
    assert rej is None or rej.count() == 0


def test_kafka_compacted_topic_takedown_e2e(spark, tmp_path):
    """Full wire composition: a keyed topic carries JSON upserts and
    null-value tombstones; cdc_writer ordered by the Kafka offset
    maintains the persisted ANN index across triggers — bit-equal to
    a batch recompute over the topic's net state."""
    from aether_firebase_consumer_spark.sources.kafka_pysource import (
        register_kafka_py,
    )
    from aether_firebase_consumer_spark.sources.kafka_wire import (
        KafkaWireClient,
        MiniKafkaBroker,
    )

    register_kafka_py(spark)
    job = _mk_job(spark, tmp_path / "t")

    with MiniKafkaBroker() as broker:
        def produce(entries):
            """entries: (id, vec|None) — key carries the id so
            tombstones (null value) stay addressable."""
            with KafkaWireClient(broker.host, broker.port) as c:
                c.produce_records("vecs.cdc", 0, [
                    (str(i).encode(),
                     None if v is None else
                     json.dumps({"embedding": v}).encode())
                    for i, v in entries])

        stream = (spark.readStream.format("kafka_py")
                  .option("bootstrap", broker.bootstrap)
                  .option("subscribe", "vecs.cdc").load())
        vecs = stream.select(
            "offset",
            F.col("key").cast("string").cast("bigint").alias("vec_id"),
            F.from_json(F.col("value").cast("string"),
                        "embedding array<double>")
            .getField("embedding").alias("embedding"))
        q = (job.cdc_writer(vecs, str(tmp_path / "ckpt"),
                            order_col="offset").start())
        try:
            produce([(i, _vec(i)) for i in range(1, 7)])
            q.processAllAvailable()
            assert job.codes.read().count() == 6
            produce([(2, None), (3, _vec(103)), (7, _vec(7))])
            q.processAllAvailable()
        finally:
            q.stop()

    state = [(1, _vec(1)), (3, _vec(103)), (4, _vec(4)),
             (5, _vec(5)), (6, _vec(6)), (7, _vec(7))]
    got = {(r.vec_id, r.cell, tuple(r.codes))
           for r in job.codes.read().collect()}
    want = {(r.vec_id, r.cell, tuple(r.codes))
            for r in job.code_rows(_df(spark, state)).collect()}
    assert got == want
    queries = _df(spark, [(0, _vec(2))])
    assert _snap(job.topk(queries, k=3, shortlist=10)) == \
        _snap(_recompute_topk(spark, state, queries, k=3,
                              shortlist=10))
    assert job.stats["deleted"] == 1


def test_semantic_cdc_takedown_ungates_same_batch(spark, tmp_path):
    """Mixin symmetry on the semantic job: a tombstone for a gating
    vector and a near-dup of it in the SAME batch — end-of-batch
    semantics admit the newcomer (the gate vector is gone first)."""
    from tests.test_delete_propagation import _mk_sem, _near
    from tests.test_delete_propagation import _vec as _dvec

    job = _mk_sem(spark, tmp_path / "s")
    v1, v2 = _dvec(1), _dvec(2)
    job.process_batch(spark.createDataFrame(
        [(1, v1), (2, v2)], "vec_id bigint, embedding array<double>"), 0)

    stats = job.process_cdc_batch(spark.createDataFrame(
        [(1, None, 10), (30, _near(v1, "n30"), 11)],
        "vec_id bigint, embedding array<double>, off bigint"),
        1, order_col="off")
    assert stats == {"tombstones": 1, "deleted": 1, "upserts": 1}
    assert {r.vec_id for r in job.corpus.read().collect()} == {2, 30}
    assert {r.vec_id for r in job.cluster_index.read().collect()} \
        == {2, 30}


def test_embedding_cdc_full_index_shape(spark, tmp_path):
    """Mixin symmetry on the sign-LSH job at the full three-table
    shape: one CDC batch mixing takedown + update + insert leaves
    corpus AND both band tables at the net state."""
    from tests.test_delete_propagation import BANDS16, _near
    from tests.test_delete_propagation import _vec as _dvec
    from aether_firebase_consumer_spark.streaming.embedding_ingest \
        import EmbeddingIngestJob

    root = tmp_path / "e"
    root.mkdir()
    corpus = ParquetUpsertTable(spark, str(root / "c"), ["vec_id"],
                                partition_col="idp")
    doc_t = ParquetUpsertTable(spark, str(root / "d"), ["vec_id"])
    long_t = ParquetUpsertTable(spark, str(root / "l"),
                                ["vec_id", "bi"], partition_col="bkp")
    job = EmbeddingIngestJob(spark, corpus, band_index=doc_t,
                             band_long_index=long_t, threshold=0.9,
                             bands=BANDS16, n_parts=16, idp_parts=8)
    v1, v2 = _dvec(1), _dvec(2)
    job.process_batch(spark.createDataFrame(
        [(1, v1), (2, v2)], "vec_id bigint, embedding array<double>"), 0)

    stats = job.process_cdc_batch(spark.createDataFrame(
        [(1, None, 10),                      # takedown
         (2, _dvec(22), 11),                 # update
         (40, _near(v1, "n40"), 12)],        # insert (un-gated now)
        "vec_id bigint, embedding array<double>, off bigint"),
        1, order_col="off")
    assert stats == {"tombstones": 1, "deleted": 1, "upserts": 2}
    want = {2, 40}
    assert {r.vec_id for r in corpus.read().collect()} == want
    assert {r.vec_id for r in doc_t.read().collect()} == want
    assert {r.vec_id for r in long_t.read().collect()} == want
    # reconcile agrees the family is consistent after the CDC batch
    assert job.reconcile() == {"re_indexed": 0, "orphans_dropped": 0}
