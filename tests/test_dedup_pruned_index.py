"""Partition-pruned persisted LSH band index (round 7).

The round-6 probe equi-joined each batch into the FULL index table —
compute ∝ batch, I/O ∝ corpus. These tests pin the closed gap:

- the pruned probe is bit-identical to the recompute / unpruned forms;
- the probe plan shows real PartitionFilters on both scans (band-key
  prefixes on the long index, candidate-id prefixes on the per-doc
  index);
- the bytes a probe's partitions hold stay FLAT while the corpus grows
  across ≥5 merge batches into other partitions (the 100 TB I/O claim,
  measured on disk, not asserted from a docstring);
- DedupIngestJob with a long index reproduces the recompute job's
  corpus/rejects/counters exactly and keeps the long table MERGE-exact
  under updates (stale band keys deleted) and tombstones.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from aether_firebase_consumer_spark.operators.dedup import (
    band_partition,
    id_partition,
    lsh_band_index_rows,
    lsh_incremental_pairs,
    lsh_index_frame,
    lsh_probe_partitioned_pairs,
)
from aether_firebase_consumer_spark.sinks.upsert import ParquetUpsertTable
from aether_firebase_consumer_spark.streaming.dedup_ingest import DedupIngestJob

N_PARTS = 64
IDP_PARTS = 8


def _mk_doc(i: int, words: int = 30) -> str:
    return " ".join(f"w{i}x{j}" for j in range(words))


def _doc_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _mk_tables(spark, tmp_path, existing_df):
    doc_t = ParquetUpsertTable(spark, str(tmp_path / "doc_idx"),
                               ["doc_id"], partition_col="idp")
    long_t = ParquetUpsertTable(spark, str(tmp_path / "long_idx"),
                                ["doc_id", "band_key"],
                                partition_col="bkp")
    doc_t.merge(lsh_index_frame(existing_df, "doc_id", "text")
                .withColumn("idp", id_partition(F.col("doc_id"),
                                                IDP_PARTS)))
    long_t.merge(lsh_band_index_rows(existing_df, "doc_id", "text",
                                     n_parts=N_PARTS))
    return doc_t, long_t


def _pairs_set(df):
    return {(r.new_id, r.old_id, round(r.jaccard, 9))
            for r in df.collect()}


def test_pruned_probe_equals_incremental(spark, tmp_path):
    base = [(i, _mk_doc(i)) for i in range(20)]
    # near-dups across the split: 100→5 and 101→11
    incoming = [(100, _mk_doc(5) + " tail"), (101, _mk_doc(11)),
                (102, _mk_doc(900))]
    existing_df = _doc_df(spark, base)
    incoming_df = _doc_df(spark, incoming)
    doc_t, long_t = _mk_tables(spark, tmp_path, existing_df)

    got = lsh_probe_partitioned_pairs(
        long_t.read(), doc_t.read(), incoming_df, "doc_id", "text",
        threshold=0.3, n_parts=N_PARTS, idp_parts=IDP_PARTS)
    want = lsh_incremental_pairs(existing_df, incoming_df,
                                 "doc_id", "text", threshold=0.3)
    assert _pairs_set(got) == _pairs_set(want)
    assert {(r.new_id, r.old_id) for r in got.collect()} >= {(100, 5),
                                                             (101, 11)}


def test_pruned_probe_empty_batch_and_no_shingles(spark, tmp_path):
    existing_df = _doc_df(spark, [(i, _mk_doc(i)) for i in range(5)])
    doc_t, long_t = _mk_tables(spark, tmp_path, existing_df)
    empty = _doc_df(spark, [])
    assert lsh_probe_partitioned_pairs(
        long_t.read(), doc_t.read(), empty, "doc_id", "text",
        n_parts=N_PARTS).count() == 0
    blank = _doc_df(spark, [(7, "")])
    assert lsh_probe_partitioned_pairs(
        long_t.read(), doc_t.read(), blank, "doc_id", "text",
        n_parts=N_PARTS).count() == 0


def _explain(df) -> str:
    return df.sparkSession.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_probe_plan_pushes_partition_filters(spark, tmp_path):
    existing_df = _doc_df(spark, [(i, _mk_doc(i)) for i in range(30)])
    doc_t, long_t = _mk_tables(spark, tmp_path, existing_df)
    probe = _doc_df(spark, [(100, _mk_doc(3))])
    got = lsh_probe_partitioned_pairs(
        long_t.read(), doc_t.read(), probe, "doc_id", "text",
        threshold=0.3, n_parts=N_PARTS, idp_parts=IDP_PARTS,
        materialize=False)
    plan = _explain(got)
    # both parquet scans carry REAL partition filters (the prefix
    # in-lists / equalities), not empty brackets
    real = re.compile(r"#\d+L? (=|IN|INSET)")
    bkp = re.findall(r"PartitionFilters: \[[^\]]*bkp[^\]]*\]", plan)
    idp = re.findall(r"PartitionFilters: \[[^\]]*idp[^\]]*\]", plan)
    assert bkp and all(real.search(f) for f in bkp)
    assert idp and all(real.search(f) for f in idp)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def test_probe_io_flat_while_corpus_grows(spark, tmp_path):
    """The measured 100 TB claim: grow the index table over 5+ merge
    batches whose docs land OUTSIDE the probe's partitions; the bytes
    held by the probe's partitions — exactly what a PartitionFilters-
    pruned scan reads — stay constant while the table grows."""
    probe = _doc_df(spark, [(1000, _mk_doc(7))])
    probe_prefixes = {
        r[0] for r in
        lsh_band_index_rows(probe, "doc_id", "text", n_parts=N_PARTS)
        .select("bkp").distinct().collect()}
    assert probe_prefixes

    # seed the corpus with a planted near-dup of the probe doc, so
    # every later probe has a real match to find
    seed = _doc_df(spark, [(7, _mk_doc(7) + " tail")])
    doc_t, long_t = _mk_tables(spark, tmp_path, seed)

    def probed_bytes() -> int:
        vdir = long_t._data_dir(long_t.current_version())
        return sum(_dir_bytes(os.path.join(vdir, f"bkp={p}"))
                   for p in probe_prefixes
                   if os.path.isdir(os.path.join(vdir, f"bkp={p}")))

    base_probed = probed_bytes()
    sizes, totals = [], []
    next_id = 2000
    for _batch in range(5):
        # filler docs REJECTED if any band key hashes into a probed
        # partition — corpus growth lands elsewhere by construction
        fillers = _doc_df(spark, [(next_id + j, _mk_doc(next_id + j))
                                  for j in range(40)])
        next_id += 40
        rows = lsh_band_index_rows(fillers, "doc_id", "text",
                                   n_parts=N_PARTS).localCheckpoint()
        bad = (rows.filter(F.col("bkp").isin(list(probe_prefixes)))
               .select("doc_id").distinct())
        keep_rows = rows.join(bad, "doc_id", "left_anti")
        keep_docs = fillers.join(bad, "doc_id", "left_anti")
        assert keep_docs.count() > 0
        doc_t.merge(lsh_index_frame(keep_docs, "doc_id", "text")
                    .withColumn("idp", id_partition(F.col("doc_id"),
                                                    IDP_PARTS)))
        long_t.merge(keep_rows)
        sizes.append(probed_bytes())
        totals.append(_dir_bytes(long_t._data_dir(
            long_t.current_version())))
        got = lsh_probe_partitioned_pairs(
            long_t.read(), doc_t.read(), probe, "doc_id", "text",
            threshold=0.3, n_parts=N_PARTS, idp_parts=IDP_PARTS)
        assert {(r.new_id, r.old_id) for r in got.collect()} == {
            (1000, 7)}

    # probed-partition bytes: FLAT across all 5 growth batches
    assert set(sizes) == {base_probed}
    # while the table itself genuinely grew every batch
    assert all(b > a for a, b in zip(totals, totals[1:]))
    assert totals[0] > base_probed


def test_long_index_job_matches_recompute_job(spark, tmp_path):
    """DedupIngestJob with the pruned long index reproduces the
    recompute job bit-for-bit (corpus, rejects, counters) over a
    choreography with in-batch dups, cross-batch dups, UPDATEs that
    change band keys, and an empty-text tombstone — and the long table
    stays MERGE-exact (== explode of a from-scratch index of the
    corpus text; no stale keys survive the update)."""

    def mk_job(root, kind):
        root.mkdir()
        corpus = ParquetUpsertTable(spark, str(root / "c"), ["doc_id"])
        rejects = ParquetUpsertTable(spark, str(root / "r"), ["doc_id"])
        if kind == "recompute":
            return DedupIngestJob(spark, corpus, rejects), corpus, rejects
        doc_t = ParquetUpsertTable(spark, str(root / "d"), ["doc_id"],
                                   partition_col="idp")
        long_t = ParquetUpsertTable(spark, str(root / "l"),
                                    ["doc_id", "band_key"],
                                    partition_col="bkp")
        job = DedupIngestJob(spark, corpus, rejects, band_index=doc_t,
                             band_long_index=long_t, n_parts=N_PARTS,
                             idp_parts=IDP_PARTS)
        return job, corpus, rejects

    jobs = {k: mk_job(tmp_path / k, k)
            for k in ("recompute", "pruned")}

    batches = [
        # b1: 3 is an in-batch near-dup of 1
        [(1, _mk_doc(1)), (2, _mk_doc(2)), (3, _mk_doc(1) + " x")],
        # b2: 4 near-dups corpus doc 2; 5 is new
        [(4, _mk_doc(2) + " y"), (5, _mk_doc(5))],
        # b3: UPDATE doc 1 with entirely different text (band keys
        # change); tombstone doc 2 (empty text); 6 is new
        [(1, _mk_doc(77)), (2, ""), (6, _mk_doc(6))],
        # b4: 7 near-dups doc 1's NEW text — only found if the index
        # reflects the update; 8 would near-dup doc 1's OLD text —
        # only rejected if stale keys lingered (they must not)
        [(7, _mk_doc(77) + " z"), (8, _mk_doc(1) + " q")],
    ]
    for i, rows in enumerate(batches):
        for _k, (job, _c, _r) in jobs.items():
            job.process_batch(_doc_df(spark, rows), i)

    def snap(t):
        df = t.read()
        return (sorted((r.doc_id, r.text) for r in df.collect())
                if "text" in df.columns else
                sorted((r.doc_id, r.dup_of) for r in df.collect()))

    (jr, cr, rr), (jp, cp, rp) = jobs["recompute"], jobs["pruned"]
    assert snap(cr) == snap(cp)
    assert snap(rr) == snap(rp)
    assert jr.stats == jp.stats
    # doc 7 rejected (index saw the update), doc 8 accepted (no stale
    # keys for doc 1's old text)
    ids = {r.doc_id for r in cp.read().collect()}
    assert 8 in ids and 7 not in ids

    # long table MERGE-exact vs from-scratch index of current corpus
    fresh = (lsh_index_frame(cp.read(), "doc_id", "text")
             .select("doc_id", F.explode("band_keys").alias("band_key")))
    stored = jobs["pruned"][0].band_long_index.read() \
        .select("doc_id", "band_key")
    assert (sorted(map(tuple, fresh.collect()))
            == sorted(map(tuple, stored.collect())))
    # and bkp on every stored row matches the write-time recipe
    bad = (jobs["pruned"][0].band_long_index.read()
           .filter(F.col("bkp") != band_partition(F.col("band_key"),
                                                  N_PARTS)))
    assert bad.count() == 0


def test_long_index_backfills_onto_indexed_corpus(spark, tmp_path):
    """Attaching band_long_index to a job whose corpus AND per-doc
    index already exist backfills the long table from the per-doc
    table once; subsequent probes use it and match the recompute
    semantics."""
    corpus = ParquetUpsertTable(spark, str(tmp_path / "c"), ["doc_id"])
    doc_t = ParquetUpsertTable(spark, str(tmp_path / "d"), ["doc_id"])
    job1 = DedupIngestJob(spark, corpus, band_index=doc_t)
    job1.process_batch(_doc_df(spark, [(i, _mk_doc(i))
                                       for i in range(6)]), 0)
    job1.process_batch(_doc_df(spark, [(6, _mk_doc(6))]), 1)
    assert doc_t.read().count() == 7

    long_t = ParquetUpsertTable(spark, str(tmp_path / "l"),
                                ["doc_id", "band_key"],
                                partition_col="bkp")
    job2 = DedupIngestJob(spark, corpus, band_index=doc_t,
                          band_long_index=long_t, n_parts=N_PARTS)
    # this batch still probes the per-doc path (long table empty),
    # then backfills the long table from the merged per-doc rows
    job2.process_batch(_doc_df(spark, [(10, _mk_doc(3) + " t"),
                                       (11, _mk_doc(40))]), 2)
    ids = {r.doc_id for r in corpus.read().collect()}
    assert 11 in ids and 10 not in ids
    fresh = (lsh_index_frame(corpus.read(), "doc_id", "text")
             .select("doc_id", F.explode("band_keys").alias("band_key")))
    assert (sorted(map(tuple, long_t.read()
                       .select("doc_id", "band_key").collect()))
            == sorted(map(tuple, fresh.collect())))
    # next batch probes the PRUNED path and still gates correctly
    # doc 12 near-dups doc 11's text (which is _mk_doc(40))
    job2.process_batch(_doc_df(spark, [(12, _mk_doc(40) + " u"),
                                       (13, _mk_doc(41))]), 3)
    ids = {r.doc_id for r in corpus.read().collect()}
    assert 13 in ids and 12 not in ids


def test_pruned_index_job_from_kafka_stream(spark, tmp_path):
    """Full r7 composition: documents arrive as JSON over the wire
    Kafka source; DedupIngestJob grows the corpus using the
    bkp-partitioned long index (pruned probes) across triggers."""
    import json

    from aether_firebase_consumer_spark.sources.kafka_pysource import (
        register_kafka_py,
    )
    from aether_firebase_consumer_spark.sources.kafka_wire import (
        KafkaWireClient,
        MiniKafkaBroker,
    )

    register_kafka_py(spark)
    corpus = ParquetUpsertTable(spark, str(tmp_path / "c"), ["doc_id"])
    doc_t = ParquetUpsertTable(spark, str(tmp_path / "d"), ["doc_id"],
                               partition_col="idp")
    long_t = ParquetUpsertTable(spark, str(tmp_path / "l"),
                                ["doc_id", "band_key"],
                                partition_col="bkp")
    job = DedupIngestJob(spark, corpus, band_index=doc_t,
                         band_long_index=long_t, n_parts=N_PARTS,
                         idp_parts=IDP_PARTS)

    with MiniKafkaBroker() as broker:
        def produce(rows):
            with KafkaWireClient(broker.host, broker.port) as c:
                c.produce_records("docs.pr", 0, [
                    (str(i).encode(),
                     json.dumps({"doc_id": i, "text": t}).encode())
                    for i, t in rows])

        stream = (spark.readStream.format("kafka_py")
                  .option("bootstrap", broker.bootstrap)
                  .option("subscribe", "docs.pr").load())
        docs = (stream.select(
            F.from_json(F.col("value").cast("string"),
                        "doc_id bigint, text string").alias("d"))
            .select("d.doc_id", "d.text"))
        q = job.writer(docs, str(tmp_path / "ckpt")).start()
        try:
            produce([(i, _mk_doc(i)) for i in range(4)])
            q.processAllAvailable()
            assert {r.doc_id for r in corpus.read().collect()} \
                == {0, 1, 2, 3}
            # near-dup of doc 2 rejected via the PRUNED probe; fresh
            # doc accepted; long table stays MERGE-exact
            produce([(10, _mk_doc(2) + " x"), (11, _mk_doc(50))])
            q.processAllAvailable()
            assert {r.doc_id for r in corpus.read().collect()} \
                == {0, 1, 2, 3, 11}
        finally:
            q.stop()
    fresh = (lsh_index_frame(corpus.read(), "doc_id", "text")
             .select("doc_id", F.explode("band_keys").alias("band_key")))
    assert (sorted(map(tuple, long_t.read()
                       .select("doc_id", "band_key").collect()))
            == sorted(map(tuple, fresh.collect())))
