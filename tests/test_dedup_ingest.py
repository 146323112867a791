"""Streaming incremental dedup: DedupIngestJob rejects near-dups
within a batch and against the accumulated corpus, with an audit log.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from aether_firebase_consumer_spark.sinks.upsert import ParquetUpsertTable
from aether_firebase_consumer_spark.streaming.dedup_ingest import DedupIngestJob

D1 = ("the quick brown fox jumps over the lazy dog near the old river "
      "bank today")
D1_NEAR = ("the quick brown fox jumps over the lazy dog near the old "
           "river bank tonight")
D2 = ("spark structured streaming maintains state across micro batches "
      "with checkpointed offsets and watermarks")
D2_NEAR = ("spark structured streaming maintains state across micro "
           "batches with checkpointed offsets and watermark")
D5 = ("an entirely unrelated document describing minhash banding and "
      "jaccard verification for corpus hygiene")


def _feed(spark, src, name, rows):
    spark.createDataFrame(rows, "doc_id bigint, text string") \
        .coalesce(1).write.parquet(str(src / name))


def test_dedup_ingest_in_batch_and_cross_batch(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    corpus = ParquetUpsertTable(spark, str(tmp_path / "corpus"), ["doc_id"])
    rejects = ParquetUpsertTable(spark, str(tmp_path / "rejects"), ["doc_id"])
    job = DedupIngestJob(spark, corpus, rejects)

    def run():
        stream = (spark.readStream.schema("doc_id bigint, text string")
                  .parquet(str(src) + "/*"))
        q = job.writer(stream, str(tmp_path / "ckpt")).start()
        q.processAllAvailable()
        q.stop()

    # batch 1: d3 is a near-dup of d1 within the batch → rejected,
    # keep-smallest-id
    _feed(spark, src, "b1", [(1, D1), (2, D2), (3, D1_NEAR)])
    run()
    assert {r.doc_id for r in corpus.read().collect()} == {1, 2}
    assert {r.doc_id: r.dup_of for r in rejects.read().collect()} == {3: 1}

    # batch 2: d4 near-dups d2 from the CORPUS → rejected with audit;
    # d5 is new → accepted
    _feed(spark, src, "b2", [(4, D2_NEAR), (5, D5)])
    run()
    assert {r.doc_id for r in corpus.read().collect()} == {1, 2, 5}
    rej = {r.doc_id: r.dup_of for r in rejects.read().collect()}
    assert rej == {3: 1, 4: 2}
    jac = {r.doc_id: r.jaccard for r in rejects.read().collect()}
    assert 0.5 <= jac[4] <= 1.0

    # batch 3: re-delivering a known doc id is an UPDATE (bypasses the
    # near-dup gate — it would only match its own prior version); a
    # near-dup of d5 arriving in the same batch is caught IN-BATCH
    # against the re-delivery and logged with dup_of = 5
    _feed(spark, src, "b3", [(5, D5), (6, D5 + " extra")])
    run()
    assert {r.doc_id for r in corpus.read().collect()} == {1, 2, 5}
    rej3 = {r.doc_id: r.dup_of for r in rejects.read().collect()}
    assert rej3 == {3: 1, 4: 2, 6: 5}
    # counters: 7 docs in (3+2+2), 4 accepted (1,2,5,5-update), 3 rejected
    assert job.stats == {"batches": 3, "accepted": 4, "rejected": 3,
                         "deleted": 0}


def test_dedup_ingest_from_kafka_stream(spark, tmp_path):
    """Full composition: documents arrive as JSON over the wire Kafka
    source; DedupIngestJob grows the corpus with near-dup rejection
    across triggers."""
    from aether_firebase_consumer_spark.sources.kafka_wire import (
        KafkaWireClient,
        MiniKafkaBroker,
    )
    from aether_firebase_consumer_spark.sources.kafka_pysource import (
        register_kafka_py,
    )
    import json

    register_kafka_py(spark)
    corpus = ParquetUpsertTable(spark, str(tmp_path / "corpus"), ["doc_id"])
    job = DedupIngestJob(spark, corpus)

    with MiniKafkaBroker() as broker:
        def produce(rows):
            with KafkaWireClient(broker.host, broker.port) as c:
                c.produce_records("docs.in", 0, [
                    (str(i).encode(),
                     json.dumps({"doc_id": i, "text": t}).encode())
                    for i, t in rows])

        stream = (spark.readStream.format("kafka_py")
                  .option("bootstrap", broker.bootstrap)
                  .option("subscribe", "docs.in").load())
        docs = (stream
                .select(F.from_json(F.col("value").cast("string"),
                                    "doc_id bigint, text string").alias("d"))
                .select("d.doc_id", "d.text"))
        q = job.writer(docs, str(tmp_path / "ckpt")).start()
        try:
            produce([(1, D1), (2, D2)])
            q.processAllAvailable()
            assert {r.doc_id for r in corpus.read().collect()} == {1, 2}
            produce([(3, D1_NEAR), (4, D5)])   # 3 near-dups corpus doc 1
            q.processAllAvailable()
            assert {r.doc_id for r in corpus.read().collect()} == {1, 2, 4}
        finally:
            q.stop()


# ------------------------------------------------ persisted band index

def _mk_doc(i: int, words: int = 30) -> str:
    # deterministic, mutually non-near-dup documents: each doc's word
    # stream is salted with its id so jaccard between distinct docs
    # stays near zero
    return " ".join(f"w{i}x{j}" for j in range(words))


def test_band_index_job_matches_recompute_job(spark, tmp_path):
    """With band_index set, DedupIngestJob must produce EXACTLY the
    corpus, rejects, and counters of the recompute path over the same
    batch sequence (in-batch dups, corpus near-dups, updates), and the
    maintained index must equal a from-scratch lsh_index_frame of the
    corpus text (plus empty-text tombstones)."""
    from aether_firebase_consumer_spark.operators.dedup import (
        lsh_index_frame,
    )

    def mk_job(root, with_index):
        corpus = ParquetUpsertTable(spark, str(root / "corpus"), ["doc_id"])
        rejects = ParquetUpsertTable(spark, str(root / "rej"), ["doc_id"])
        idx = ParquetUpsertTable(spark, str(root / "idx"), ["doc_id"]) \
            if with_index else None
        return DedupIngestJob(spark, corpus, rejects, band_index=idx), \
            corpus, rejects, idx

    (a := tmp_path / "a").mkdir()
    (b := tmp_path / "b").mkdir()
    job_i, corp_i, rej_i, idx_i = mk_job(a, True)
    job_r, corp_r, rej_r, _ = mk_job(b, False)

    batches = [
        [(1, D1), (2, D2), (3, D1_NEAR)],          # in-batch near-dup
        [(4, D2_NEAR), (5, D5)],                   # corpus near-dup
        [(5, D5 + " rev"), (6, D5 + " extra")],    # update + in-batch
        [(7, D1_NEAR), (8, _mk_doc(8))],           # dup of indexed doc 1
        [(2, ""), (9, D2_NEAR)],                   # doc 2 EMPTIED; 9
                                                   # still matches 2's
                                                   # PRE-merge index row
        [(10, D2_NEAR)],                           # after the tombstone:
                                                   # 10 matches nothing
    ]
    for n, rows in enumerate(batches):
        bdf = spark.createDataFrame(rows, "doc_id bigint, text string")
        job_i.process_batch(bdf, n)
        job_r.process_batch(bdf, n)

    def snap(t):
        return sorted((r.doc_id, r.text) for r in t.read().collect())

    assert snap(corp_i) == snap(corp_r)
    assert {r.doc_id for r in corp_i.read().collect()} == {1, 2, 5, 8, 10}
    ri = {(r.doc_id, r.dup_of) for r in rej_i.read().collect()}
    assert ri == {(r.doc_id, r.dup_of) for r in rej_r.read().collect()}
    assert ri == {(3, 1), (4, 2), (6, 5), (7, 1), (9, 2)}
    assert job_i.stats == job_r.stats

    # index ≡ from-scratch recompute over current corpus text, with
    # empty-text docs present as tombstones (zero band keys)
    want = {(r.doc_id, tuple(r.sh), tuple(r.band_keys))
            for r in lsh_index_frame(
                corp_i.read(), "doc_id", "text").collect()}
    got = {(r.doc_id, tuple(r.sh), tuple(r.band_keys))
           for r in idx_i.read().collect()}
    tombs = {r.doc_id for r in idx_i.read()
             .filter(F.size("band_keys") == 0).collect()}
    assert tombs == {2}
    assert {g for g in got if g[0] not in tombs} == want


def test_band_index_backfills_existing_corpus(spark, tmp_path):
    """Attaching a band_index to an ALREADY-populated corpus backfills
    the index from the full corpus on the next batch, so probes see
    pre-index history."""
    corpus = ParquetUpsertTable(spark, str(tmp_path / "c"), ["doc_id"])
    job0 = DedupIngestJob(spark, corpus)  # no index yet
    job0.process_batch(
        spark.createDataFrame([(1, D1), (2, D2)],
                              "doc_id bigint, text string"), 0)

    idx = ParquetUpsertTable(spark, str(tmp_path / "i"), ["doc_id"])
    job1 = DedupIngestJob(spark, corpus, band_index=idx)
    job1.process_batch(
        spark.createDataFrame([(5, D5)], "doc_id bigint, text string"), 1)
    assert {r.doc_id for r in idx.read().collect()} == {1, 2, 5}
    # a near-dup of PRE-INDEX doc 1 is now caught via the index probe
    job1.process_batch(
        spark.createDataFrame([(6, D1_NEAR)],
                              "doc_id bigint, text string"), 2)
    assert {r.doc_id for r in corpus.read().collect()} == {1, 2, 5}


def test_probe_index_pairs_equals_incremental_pairs(spark):
    """Operator-level contract: lsh_probe_index_pairs over
    lsh_index_frame(existing) is bit-identical to
    lsh_incremental_pairs(existing, incoming)."""
    from aether_firebase_consumer_spark.operators.dedup import (
        lsh_incremental_pairs,
        lsh_index_frame,
        lsh_probe_index_pairs,
    )

    existing = spark.createDataFrame(
        [(i, _mk_doc(i)) for i in range(20)] + [(100, D1), (101, D2)],
        "doc_id bigint, text string")
    incoming = spark.createDataFrame(
        [(200, D1_NEAR), (201, D2_NEAR), (202, _mk_doc(202)),
         (203, D1)],
        "doc_id bigint, text string")
    ref = {(r.new_id, r.old_id, r.jaccard) for r in
           lsh_incremental_pairs(existing, incoming, "doc_id", "text")
           .collect()}
    idx = lsh_index_frame(existing, "doc_id", "text")
    got = {(r.new_id, r.old_id, r.jaccard) for r in
           lsh_probe_index_pairs(idx, incoming, "doc_id", "text")
           .collect()}
    assert got == ref
    assert {(n, o) for n, o, _ in ref} == {(200, 100), (201, 101),
                                           (203, 100)}


def test_process_batch_single_materialization_job_count(spark, tmp_path):
    """r5 VERDICT item 2: the survivors/LSH plan executes ONCE per
    batch (localCheckpoint), not re-run for each of counters + merge.
    Pinned via Spark job count under a job group: if the checkpoints
    are removed, the count jumps well past the bound."""
    corpus = ParquetUpsertTable(spark, str(tmp_path / "c"), ["doc_id"])
    rejects = ParquetUpsertTable(spark, str(tmp_path / "r"), ["doc_id"])
    idx = ParquetUpsertTable(spark, str(tmp_path / "i"), ["doc_id"])
    job = DedupIngestJob(spark, corpus, rejects, band_index=idx)
    job.process_batch(
        spark.createDataFrame([(1, D1), (2, D2)],
                              "doc_id bigint, text string"), 0)

    sc = spark.sparkContext
    batch = spark.createDataFrame(
        [(3, D1_NEAR), (4, D5), (4, D5), (5, D2_NEAR)],
        "doc_id bigint, text string")
    sc.setJobGroup("dedup-batch-probe", "single-materialization pin")
    try:
        job.process_batch(batch, 1)
    finally:
        sc.setJobGroup("", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("dedup-batch-probe"))
    # measured: ~61 jobs per batch with the three localCheckpoints
    # (the merges and AQE stages dominate); the same batch WITHOUT the
    # checkpoints — the pre-r6 re-execution shape — measured ~569.
    # The bound sits at 2× the checkpointed count: removing any
    # checkpoint blows through it immediately.
    assert 0 < n_jobs <= 130, f"batch ran {n_jobs} Spark jobs"


def test_soak_holds_no_pins_between_triggers(spark, tmp_path):
    """A long-lived job holds bounded executor blocks: over 50 triggers
    (a delete every 10th), every call leaves the persisted-RDD count
    where it was before the first trigger — each call's pins are
    released when it returns."""
    corpus = ParquetUpsertTable(spark, str(tmp_path / "c"), ["doc_id"])
    idx = ParquetUpsertTable(spark, str(tmp_path / "i"), ["doc_id"])
    job = DedupIngestJob(spark, corpus, band_index=idx)
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    for t in range(50):
        # three fresh docs and a near-dup of one the deletes spare
        docs = [(10 * t + j, _mk_doc(10 * t + j)) for j in range(3)]
        if t:
            docs.append((10 * t + 9, _mk_doc(10 * t - 8) + " tail"))
        job.process_batch(
            spark.createDataFrame(docs, "doc_id bigint, text string"), t)
        assert jsc.getPersistentRDDs().size() == base, f"trigger {t}"
        if t % 10 == 9:
            assert job.delete([10 * t, 10 * t + 1]) == 2
            assert jsc.getPersistentRDDs().size() == base, f"delete {t}"
    assert job.stats["batches"] == 50
    assert job.stats["rejected"] == 49
    assert corpus.read().count() == 150 - 10


def test_index_probe_plan_never_touches_corpus_text(spark, tmp_path):
    """The 100 TB claim in executable form: with a band_index, the
    cross-batch matching plan scans the INDEX table only — the corpus
    parquet (and its text column) appears nowhere, so per-batch
    matching cost cannot scale with corpus re-shingling. Pinned
    deterministically via file-scan ReadSchemas (this box's wall
    clock swings ±40%, so no timing assertions): the recompute plan
    reads ``text`` from the corpus parquet and re-shingles it per
    batch; the probe plan reads NO text from any file — only the
    precomputed (sh, band_keys) arrays."""
    from aether_firebase_consumer_spark.operators.dedup import (
        lsh_incremental_pairs,
        lsh_index_frame,
        lsh_probe_index_pairs,
    )

    corpus = ParquetUpsertTable(spark, str(tmp_path / "c"), ["doc_id"])
    idx = ParquetUpsertTable(spark, str(tmp_path / "i"), ["doc_id"])
    docs = [(i, _mk_doc(i, words=60)) for i in range(3000)]
    cdf = spark.createDataFrame(docs, "doc_id bigint, text string")
    corpus.merge(cdf)
    idx.merge(lsh_index_frame(cdf, "doc_id", "text"))

    batch = spark.createDataFrame(
        [(100000 + i, _mk_doc(100000 + i)) for i in range(20)]
        + [(200000, D1)], "doc_id bigint, text string")

    probe = lsh_probe_index_pairs(idx.read(), batch, "doc_id", "text")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    corpus_path = str(tmp_path / "c")
    idx_path = str(tmp_path / "i")
    assert idx_path in plan          # the index IS scanned
    assert corpus_path not in plan   # the corpus text is NOT

    # deterministic work proxy via file-scan ReadSchemas: text is
    # shingled from a FILE scan only in the recompute plan (the
    # probe's text comes from the in-memory batch; its only file scan
    # is the index's precomputed arrays)
    assert "text:string" not in plan
    assert "band_keys:array<string>" in plan
    recompute = lsh_incremental_pairs(corpus.read(), batch,
                                      "doc_id", "text")
    plan_re = recompute._jdf.queryExecution().executedPlan().toString()
    assert corpus_path in plan_re    # the recompute really scans it
    assert "text:string" in plan_re  # ...including the text column
    # and both forms agree on the matches (bit-parity re-pinned here
    # on a corpus 150x the operator test's)
    got = {(r.new_id, r.old_id) for r in probe.collect()}
    ref = {(r.new_id, r.old_id) for r in recompute.collect()}
    assert got == ref


def test_dedup_ingest_under_job_manager_lifecycle(spark, tmp_path):
    """The ingest job composes with the O18 control plane: managed as
    a SparkJob, pause (stop) mid-corpus, feed more data, resume — the
    checkpoint continues exactly where it paused (no re-processing, so
    no spurious re-rejections), dedup semantics hold across the
    pause, and the job's band index stays consistent."""
    from aether_firebase_consumer_spark.control.jobs import (
        JobManager,
        JobStatus,
    )
    from aether_firebase_consumer_spark.operators.dedup import (
        lsh_index_frame,
    )

    src = tmp_path / "src"
    src.mkdir()
    corpus = ParquetUpsertTable(spark, str(tmp_path / "c"), ["doc_id"])
    rejects = ParquetUpsertTable(spark, str(tmp_path / "r"), ["doc_id"])
    idx = ParquetUpsertTable(spark, str(tmp_path / "i"), ["doc_id"])
    ingest = DedupIngestJob(spark, corpus, rejects, band_index=idx)

    def start_fn(checkpoint):
        stream = (spark.readStream
                  .schema("doc_id bigint, text string")
                  .parquet(str(src) + "/*"))
        return (ingest.writer(stream, checkpoint)
                .trigger(availableNow=True).start())

    mgr = JobManager(str(tmp_path / "ckpt"))
    job = mgr.add_job("tenant-a", "dedup-ingest", start_fn)

    _feed(spark, src, "b1", [(1, D1), (2, D2), (3, D1_NEAR)])
    job.start()
    job.query.awaitTermination()
    assert {r.doc_id for r in corpus.read().collect()} == {1, 2}

    job.pause()
    assert job.get_status() == JobStatus.PAUSED
    _feed(spark, src, "b2", [(4, D2_NEAR), (5, D5)])

    job.resume()
    job.query.awaitTermination()
    assert job.get_status() in (JobStatus.NORMAL,
                                JobStatus.STOPPED)
    assert {r.doc_id for r in corpus.read().collect()} == {1, 2, 5}
    assert {(r.doc_id, r.dup_of) for r in rejects.read().collect()} \
        == {(3, 1), (4, 2)}
    # index stayed consistent with the corpus across the pause
    want = {(r.doc_id, tuple(r.band_keys)) for r in lsh_index_frame(
        corpus.read(), "doc_id", "text").collect()}
    got = {(r.doc_id, tuple(r.band_keys))
           for r in idx.read().collect()}
    assert got == want


def test_idp_corpus_job_matches_plain(spark, tmp_path):
    """Round 9: with the corpus table itself idp-partitioned, the
    known-id check prunes to the batch's own partitions — and the job
    still reproduces the plain-corpus recompute path exactly (corpus,
    rejects, counters) across in-batch dups, cross-batch dups, updates,
    and a tombstone."""
    from aether_firebase_consumer_spark.operators.dedup import (
        id_partition,
    )

    (a := tmp_path / "a").mkdir()
    (b := tmp_path / "b").mkdir()
    corp_p = ParquetUpsertTable(spark, str(a / "corpus"), ["doc_id"],
                                partition_col="idp")
    rej_p = ParquetUpsertTable(spark, str(a / "rej"), ["doc_id"])
    job_p = DedupIngestJob(spark, corp_p, rej_p, idp_parts=8)
    corp_r = ParquetUpsertTable(spark, str(b / "corpus"), ["doc_id"])
    rej_r = ParquetUpsertTable(spark, str(b / "rej"), ["doc_id"])
    job_r = DedupIngestJob(spark, corp_r, rej_r)

    batches = [
        [(1, D1), (2, D2), (3, D1_NEAR)],
        [(4, D2_NEAR), (5, D5)],
        [(5, D5 + " rev"), (6, D5 + " extra")],
        [(2, ""), (9, D2_NEAR)],
    ]
    for n, rows in enumerate(batches):
        bdf = spark.createDataFrame(rows, "doc_id bigint, text string")
        job_p.process_batch(bdf, n)
        job_r.process_batch(bdf, n)

    def snap(t):
        return sorted((r.doc_id, r.text) for r in t.read().collect())

    assert snap(corp_p) == snap(corp_r)
    assert {(r.doc_id, r.dup_of) for r in rej_p.read().collect()} \
        == {(r.doc_id, r.dup_of) for r in rej_r.read().collect()}
    assert job_p.stats == job_r.stats
    # every corpus row sits in the partition its id hashes to
    assert corp_p.read().filter(
        F.col("idp") != id_partition(F.col("doc_id"), 8)).count() == 0


def test_known_check_plan_prunes_corpus_partitions(spark, tmp_path):
    """The known-id scan carries real parquet PartitionFilters on idp
    — per-trigger known-check I/O is bounded by the batch's own id
    partitions, not the corpus."""
    import re

    corpus = ParquetUpsertTable(spark, str(tmp_path / "c"), ["doc_id"],
                                partition_col="idp")
    job = DedupIngestJob(spark, corpus, idp_parts=8)
    # mutually NON-near-dup seed docs (id-salted word streams), so all
    # 20 survive the in-batch gate and land in the corpus
    job.process_batch(spark.createDataFrame(
        [(i, _mk_doc(i)) for i in range(20)],
        "doc_id bigint, text string"), 0)
    batch = spark.createDataFrame([(3, _mk_doc(3)), (100, D5)],
                                  "doc_id bigint, text string")
    known = job._known_ids(corpus.read(), batch)
    plan = known._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[([^\]]*idp[^\]]*)\]", plan)
    assert pf and all(re.search(r"#\d+L? (=|IN|INSET)", f)
                      for f in pf), plan
    # and it still finds exactly the known ids of the batch
    assert {r.doc_id for r in known
            .join(batch.select("doc_id"), "doc_id", "left_semi")
            .collect()} == {3}


def test_idp_corpus_requires_idp_parts(spark, tmp_path):
    corpus = ParquetUpsertTable(spark, str(tmp_path / "c"), ["doc_id"],
                                partition_col="idp")
    with pytest.raises(ValueError, match="idp_parts is unset"):
        DedupIngestJob(spark, corpus)
    weird = ParquetUpsertTable(spark, str(tmp_path / "w"), ["doc_id"],
                               partition_col="other")
    with pytest.raises(ValueError, match="unpartitioned or partitioned"):
        DedupIngestJob(spark, weird)


def test_reshard_index_migrates_moduli(spark, tmp_path):
    """reshard_index(): the long table rebuilds at the new bkp modulus
    (one atomic swap, no re-shingling — re-exploded from the per-doc
    index), idp re-stamps, the recipe migrates, and probes afterwards
    still reproduce the recompute path exactly."""
    from aether_firebase_consumer_spark.operators.dedup import (
        band_partition,
        id_partition,
    )

    def mk(root, kind, n_parts=16, idp_parts=8):
        root.mkdir()
        corpus = ParquetUpsertTable(spark, str(root / "c"), ["doc_id"])
        rejects = ParquetUpsertTable(spark, str(root / "r"), ["doc_id"])
        if kind == "recompute":
            return DedupIngestJob(spark, corpus, rejects)
        doc_t = ParquetUpsertTable(spark, str(root / "d"), ["doc_id"],
                                   partition_col="idp")
        long_t = ParquetUpsertTable(spark, str(root / "l"),
                                    ["doc_id", "band_key"],
                                    partition_col="bkp")
        return DedupIngestJob(spark, corpus, rejects, band_index=doc_t,
                              band_long_index=long_t, n_parts=n_parts,
                              idp_parts=idp_parts)

    jp = mk(tmp_path / "a", "pruned")
    jr = mk(tmp_path / "b", "recompute")
    b0 = [(i, _mk_doc(i)) for i in range(8)]
    for j in (jp, jr):
        j.process_batch(spark.createDataFrame(
            b0, "doc_id bigint, text string"), 0)

    jp.reshard_index(n_parts=32, idp_parts=4)

    # long table == re-explode at the NEW modulus; per-doc idp
    # re-stamped at the new parts
    long_rows = jp.band_long_index.read()
    assert long_rows.filter(
        F.col("bkp") != band_partition(F.col("band_key"), 32)) \
        .count() == 0
    assert jp.band_index.read().filter(
        F.col("idp") != id_partition(F.col("doc_id"), 4)).count() == 0
    # recipe migrated: same params attach, old params rejected
    mk(tmp_path / "a2", "pruned")  # unrelated fresh root still fine
    import pytest as _pytest
    with _pytest.raises(ValueError, match="recipe mismatch"):
        DedupIngestJob(
            spark, jp.corpus, band_index=jp.band_index,
            band_long_index=jp.band_long_index, n_parts=16, idp_parts=8)
    DedupIngestJob(spark, jp.corpus, band_index=jp.band_index,
                   band_long_index=jp.band_long_index, n_parts=32,
                   idp_parts=4)

    # post-migration probes still match the recompute job
    b1 = [(100, _mk_doc(3) + " t"), (101, _mk_doc(50))]
    for j in (jp, jr):
        j.process_batch(spark.createDataFrame(
            b1, "doc_id bigint, text string"), 1)
    assert sorted((r.doc_id, r.text)
                  for r in jp.corpus.read().collect()) == \
        sorted((r.doc_id, r.text) for r in jr.corpus.read().collect())
    assert jp.stats == jr.stats


def test_reshard_index_with_all_tombstones(spark, tmp_path):
    """Edge: every corpus doc UPDATEd to empty text leaves an
    all-tombstone per-doc index (long table empty); reshard_index must
    still complete — new recipe committed, long table stays empty —
    instead of aborting half-migrated on an empty replace."""
    root = tmp_path / "a"
    root.mkdir()
    corpus = ParquetUpsertTable(spark, str(root / "c"), ["doc_id"])
    doc_t = ParquetUpsertTable(spark, str(root / "d"), ["doc_id"])
    long_t = ParquetUpsertTable(spark, str(root / "l"),
                                ["doc_id", "band_key"],
                                partition_col="bkp")
    job = DedupIngestJob(spark, corpus, band_index=doc_t,
                         band_long_index=long_t, n_parts=16)
    job.process_batch(spark.createDataFrame(
        [(1, _mk_doc(1)), (2, _mk_doc(2))],
        "doc_id bigint, text string"), 0)
    job.process_batch(spark.createDataFrame(
        [(1, ""), (2, "")], "doc_id bigint, text string"), 1)
    assert long_t.read().count() == 0  # stale keys deleted

    job.reshard_index(n_parts=32)
    assert long_t.read().count() == 0
    # recipe committed at the new modulus, no marker left behind
    import os
    assert not os.path.exists(str(root / "l" / "_RECIPE.json.next"))
    DedupIngestJob(spark, corpus, band_index=doc_t,
                   band_long_index=long_t, n_parts=32)
    with pytest.raises(ValueError, match="recipe mismatch"):
        DedupIngestJob(spark, corpus, band_index=doc_t,
                       band_long_index=long_t, n_parts=16)
