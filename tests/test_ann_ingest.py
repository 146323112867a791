"""AnnIndexJob: the persisted, incrementally-maintained IVFADC index
(round 9) — the similarity member of the ingest-job family. The batch
query, the persisted registered query, and this job share the stage
helpers in plans/similarity_queries.py; these tests pin the rest:
index maintenance under updates, probe equivalence vs a from-scratch
recompute, pruned plans, and the measured flat-I/O growth claim."""

from __future__ import annotations

import hashlib
import os
import re

import pytest

from pyspark.sql import functions as F

from aether_firebase_consumer_spark.functions.vectors import (
    ivf_centroids,
    pq_codebooks,
)
from aether_firebase_consumer_spark.plans.similarity_queries import (
    ivfadc_code_rows,
    ivfadc_query_frame,
    ivfadc_rerank,
    ivfadc_shortlist,
)
from aether_firebase_consumer_spark.sinks.upsert import ParquetUpsertTable
from aether_firebase_consumer_spark.streaming.ann_ingest import AnnIndexJob

DIM = 16
CENTS = ivf_centroids("test-ann-16", 4, DIM)
BOOKS = pq_codebooks("test-ann-pq", m=4, k=8, dim=DIM)
N_PARTS = 4
IDP_PARTS = 8


def _vec(i: int) -> list[float]:
    return [int(hashlib.md5(f"a{i}:{j}".encode()).hexdigest()[:8], 16)
            / 2**31 - 1.0 for j in range(DIM)]


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>")


def _mk_job(spark, root):
    root.mkdir()
    corpus = ParquetUpsertTable(spark, str(root / "c"), ["vec_id"],
                                partition_col="idp")
    codes = ParquetUpsertTable(spark, str(root / "i"), ["vec_id"],
                               partition_col="cp")
    return AnnIndexJob(spark, corpus, codes, CENTS, BOOKS,
                       n_parts=N_PARTS, idp_parts=IDP_PARTS)


def _recompute_topk(spark, corpus_rows, queries, k=5, shortlist=50):
    """The batch-recompute reference: same stage helpers over
    from-scratch frames — what similarity_ann_ivfadc does."""
    corpus_df = _df(spark, corpus_rows)
    inv = ivfadc_code_rows(corpus_df, CENTS, BOOKS)
    q = ivfadc_query_frame(queries, CENTS, BOOKS)
    sl = ivfadc_shortlist(inv, q, BOOKS, shortlist)
    q_emb = queries.select(F.col("vec_id").alias("query_id"),
                           F.col("embedding").alias("q_emb"))
    n_emb = corpus_df.select(F.col("vec_id").alias("neighbor_id"),
                             F.col("embedding").alias("n_emb"))
    return ivfadc_rerank(sl, q_emb, n_emb, topk=k)


def _snap(df):
    return sorted((r.query_id, r.neighbor_id, r.cos_sim)
                  for r in df.collect())


def test_table_partitioning_is_required(spark, tmp_path):
    flat = ParquetUpsertTable(spark, str(tmp_path / "f"), ["vec_id"])
    idp = ParquetUpsertTable(spark, str(tmp_path / "p"), ["vec_id"],
                             partition_col="idp")
    cp = ParquetUpsertTable(spark, str(tmp_path / "q"), ["vec_id"],
                            partition_col="cp")
    with pytest.raises(ValueError, match="partitioned by 'cp'"):
        AnnIndexJob(spark, idp, flat, CENTS, BOOKS)
    with pytest.raises(ValueError, match="partitioned by 'idp'"):
        AnnIndexJob(spark, flat, cp, CENTS, BOOKS)


def test_codes_table_matches_recompute_across_updates(spark, tmp_path):
    """Across batches — including an UPDATE that moves a vector to a
    different cell (and hence a different cp partition) — the persisted
    codes table stays bit-identical to a from-scratch encoding of the
    current corpus, with no stale rows."""
    job = _mk_job(spark, tmp_path / "j")
    state = {i: _vec(i) for i in range(1, 13)}
    job.process_batch(_df(spark, list(state.items())[:8]), 0)
    job.process_batch(_df(spark, list(state.items())[8:]), 1)
    # UPDATE: vector 3 re-embedded in a different direction
    state[3] = _vec(333)
    job.process_batch(_df(spark, [(3, state[3])]), 2)

    got = {(r.vec_id, r.cell, tuple(r.codes), r.cp)
           for r in job.codes.read().collect()}
    want = {(r.vec_id, r.cell, tuple(r.codes), r.cp)
            for r in job.code_rows(_df(spark, list(state.items())))
            .collect()}
    assert got == want
    assert len(got) == 12  # one row per vector, update replaced
    # the corpus mirrors the same 12 vectors exactly
    snap = sorted((r.vec_id, tuple(r.embedding))
                  for r in job.corpus.read().collect())
    assert snap == sorted((i, tuple(v)) for i, v in state.items())
    assert job.stats == {"batches": 3, "indexed": 13, "deleted": 0}


def test_topk_matches_batch_recompute(spark, tmp_path):
    """The done-criterion: the pruned probe against the persisted
    index returns EXACTLY the batch recompute's top-k — including for
    query ids that are themselves indexed (self-match excluded) and
    after an update changed the true answer."""
    job = _mk_job(spark, tmp_path / "j")
    state = {i: _vec(i) for i in range(1, 30)}
    items = list(state.items())
    job.process_batch(_df(spark, items[:15]), 0)
    job.process_batch(_df(spark, items[15:]), 1)
    queries = _df(spark, [(1, state[1]), (100, _vec(100))])
    got = job.topk(queries, k=5, shortlist=10)
    want = _recompute_topk(spark, list(state.items()), queries,
                           k=5, shortlist=10)
    assert _snap(got) == _snap(want)
    assert {r.query_id for r in got.collect()} == {1, 100}
    assert all(r.neighbor_id != r.query_id for r in got.collect())

    # update vector 2 and re-query: the index answer tracks it
    state[2] = _vec(222)
    job.process_batch(_df(spark, [(2, state[2])]), 2)
    got2 = job.topk(queries, k=5, shortlist=10)
    want2 = _recompute_topk(spark, list(state.items()), queries,
                            k=5, shortlist=10)
    assert _snap(got2) == _snap(want2)


def test_topk_on_empty_index_and_empty_queries(spark, tmp_path):
    job = _mk_job(spark, tmp_path / "j")
    queries = _df(spark, [(1, _vec(1))])
    assert job.topk(queries).count() == 0
    job.process_batch(_df(spark, [(1, _vec(1)), (2, _vec(2))]), 0)
    assert job.topk(_df(spark, [])).count() == 0


def test_probe_plan_prunes_both_scans(spark, tmp_path):
    """The production I/O shape: the codes scan carries real
    PartitionFilters on cp (query cells), the corpus re-rank fetch on
    idp (candidate ids)."""
    job = _mk_job(spark, tmp_path / "j")
    job.process_batch(_df(spark, [(i, _vec(i))
                                  for i in range(1, 25)]), 0)
    got = job.topk(_df(spark, [(100, _vec(100))]), k=3, shortlist=5,
                   materialize=False)
    plan = got._jdf.queryExecution().executedPlan().toString()
    real = re.compile(r"#\d+L? (=|IN|INSET)")
    cp_f = re.findall(r"PartitionFilters: \[([^\]]*\bcp\b[^\]]*)\]",
                      plan)
    idp_f = re.findall(r"PartitionFilters: \[([^\]]*\bidp\b[^\]]*)\]",
                       plan)
    assert cp_f and all(real.search(f) for f in cp_f), plan
    assert idp_f and all(real.search(f) for f in idp_f), plan


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def test_probe_io_flat_while_index_grows(spark, tmp_path):
    """The measured 100 TB claim: grow the index over 5 batches whose
    vectors land in OTHER cells (cp dirs) and OTHER id hashes (idp
    dirs); the bytes held by the partitions a fixed probe reads stay
    CONSTANT while both tables grow."""
    job = _mk_job(spark, tmp_path / "j")
    probe_vec = _vec(9999)
    queries = _df(spark, [(1000, probe_vec)])
    qrow = ivfadc_query_frame(queries, CENTS, BOOKS).collect()
    probe_cps = {r["cell"] % N_PARTS for r in qrow}

    # seed neighbors in the probe's own cells so every probe has real
    # candidates; record their idp partitions
    pool = [(3000 + i, _vec(3000 + i)) for i in range(1500)]
    assigned = job.code_rows(_df(spark, pool)).collect()
    in_cell = [r["vec_id"] for r in assigned if r["cp"] in probe_cps]
    out_cell = {r["vec_id"] for r in assigned
                if r["cp"] not in probe_cps}
    assert len(in_cell) >= 2 and len(out_cell) >= 150
    seeds = [(i, v) for i, v in pool if i in set(in_cell[:4])]
    job.process_batch(_df(spark, seeds), 0)
    seed_idps = {r["idp"] for r in
                 job.corpus.read().select("idp").collect()}
    # fillers: other cells AND other idp partitions — rejected by the
    # same pure partition functions the job writes with
    from aether_firebase_consumer_spark.operators.dedup import (
        id_partition,
    )
    pool_idp = {r["vec_id"]: r["p"] for r in
                _df(spark, pool).select(
                    "vec_id", id_partition(F.col("vec_id"),
                                           IDP_PARTS).alias("p"))
                .collect()}
    fillers = [(i, v) for i, v in pool
               if i in out_cell and pool_idp[i] not in seed_idps][:200]
    assert len(fillers) >= 150

    def probed_bytes() -> int:
        cdir = job.corpus._data_dir(job.corpus.current_version())
        idir = job.codes._data_dir(job.codes.current_version())
        dirs = [os.path.join(idir, f"cp={p}") for p in probe_cps]
        dirs += [os.path.join(cdir, f"idp={p}") for p in seed_idps]
        return sum(_dir_bytes(d) for d in dirs if os.path.isdir(d))

    def table_bytes() -> int:
        return (_dir_bytes(job.corpus._data_dir(
                    job.corpus.current_version()))
                + _dir_bytes(job.codes._data_dir(
                    job.codes.current_version())))

    base = probed_bytes()
    want = _snap(_recompute_topk(spark, seeds, queries, k=3,
                                 shortlist=10))
    assert want  # the probe finds the seeds
    sizes, totals = [], []
    for b in range(5):
        batch = fillers[b * 30:(b + 1) * 30]
        assert batch
        job.process_batch(_df(spark, batch), 1 + b)
        got = job.topk(queries, k=3, shortlist=10)
        # fillers sit in other cells: the answer never changes
        assert _snap(got) == want
        sizes.append(probed_bytes())
        totals.append(table_bytes())

    assert set(sizes) == {base}, (base, sizes)
    assert all(b > a for a, b in zip(totals, totals[1:])), totals
    assert totals[0] > base


def test_ann_ingest_streaming_writer(spark, tmp_path):
    """foreachBatch wiring: vectors arriving as a file stream build
    the same index the direct calls do, across triggers."""
    src = tmp_path / "src"
    src.mkdir()
    job = _mk_job(spark, tmp_path / "t")

    def feed(name, rows):
        _df(spark, rows).coalesce(1).write.parquet(str(src / name))

    feed("b1", [(i, _vec(i)) for i in range(1, 6)])
    stream = (spark.readStream
              .schema("vec_id bigint, embedding array<double>")
              .parquet(str(src) + "/*"))
    q = (job.writer(stream, str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    feed("b2", [(i, _vec(i)) for i in range(6, 11)])
    q = (job.writer(stream, str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    state = [(i, _vec(i)) for i in range(1, 11)]
    got = {(r.vec_id, r.cell, tuple(r.codes))
           for r in job.codes.read().collect()}
    want = {(r.vec_id, r.cell, tuple(r.codes))
            for r in job.code_rows(_df(spark, state)).collect()}
    assert got == want
    queries = _df(spark, [(0, _vec(77))])
    assert _snap(job.topk(queries, k=3, shortlist=10)) == \
        _snap(_recompute_topk(spark, state, queries, k=3,
                              shortlist=10))


def test_recipe_guard_rejects_mismatched_job(spark, tmp_path):
    """Attaching a job whose derivation parameters differ from what
    the index was written with must FAIL LOUDLY — a silent mismatch
    (different n_parts, retrained centroids) misses candidates without
    any error."""
    root = tmp_path / "j"
    job = _mk_job(spark, root)
    job.process_batch(_df(spark, [(1, _vec(1))]), 0)

    def attach(n_parts=N_PARTS, cents=CENTS, books=BOOKS):
        corpus = ParquetUpsertTable(spark, str(root / "c"), ["vec_id"],
                                    partition_col="idp")
        codes = ParquetUpsertTable(spark, str(root / "i"), ["vec_id"],
                                   partition_col="cp")
        return AnnIndexJob(spark, corpus, codes, cents, books,
                           n_parts=n_parts, idp_parts=IDP_PARTS)

    attach()  # identical recipe re-attaches fine
    with pytest.raises(ValueError, match="recipe mismatch.*n_parts"):
        attach(n_parts=8)
    other_cents = ivf_centroids("other-model", 4, DIM)
    with pytest.raises(ValueError, match="recipe mismatch.*model_fp"):
        attach(cents=other_cents)


def test_rebuild_migrates_model_and_modulus(spark, tmp_path):
    """rebuild(): re-encode the corpus under a refreshed model and a
    new partition modulus in one atomic swap — afterwards topk equals
    a from-scratch recompute under the NEW model, re-attach under the
    new recipe succeeds, and the old recipe is rejected."""
    root = tmp_path / "j"
    job = _mk_job(spark, root)
    state = [(i, _vec(i)) for i in range(1, 20)]
    job.process_batch(_df(spark, state), 0)
    v0 = job.codes.current_version()

    new_cents = ivf_centroids("retrained", 4, DIM)
    new_books = pq_codebooks("retrained-pq", m=4, k=8, dim=DIM)
    job.rebuild(centroids=new_cents, books=new_books, n_parts=2)
    assert job.codes.current_version() == v0 + 1  # ONE version commit

    got = {(r.vec_id, r.cell, tuple(r.codes), r.cp)
           for r in job.codes.read().collect()}
    want = {(r.vec_id, r.cell, tuple(r.codes), r.cp)
            for r in job.code_rows(_df(spark, state)).collect()}
    assert got == want

    queries = _df(spark, [(100, _vec(100))])
    inv = ivfadc_code_rows(_df(spark, state), new_cents, new_books)
    q = ivfadc_query_frame(queries, new_cents, new_books)
    sl = ivfadc_shortlist(inv, q, new_books, 10)
    q_emb = queries.select(F.col("vec_id").alias("query_id"),
                           F.col("embedding").alias("q_emb"))
    n_emb = _df(spark, state).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"))
    want_topk = _snap(ivfadc_rerank(sl, q_emb, n_emb, topk=3))
    assert _snap(job.topk(queries, k=3, shortlist=10)) == want_topk

    # the recipe migrated with the table: new params attach, old fail
    corpus = ParquetUpsertTable(spark, str(root / "c"), ["vec_id"],
                                partition_col="idp")
    codes = ParquetUpsertTable(spark, str(root / "i"), ["vec_id"],
                               partition_col="cp")
    AnnIndexJob(spark, corpus, codes, new_cents, new_books,
                n_parts=2, idp_parts=IDP_PARTS)
    with pytest.raises(ValueError, match="recipe mismatch"):
        AnnIndexJob(spark, corpus, codes, CENTS, BOOKS,
                    n_parts=N_PARTS, idp_parts=IDP_PARTS)


def test_ann_ingest_from_kafka_stream(spark, tmp_path):
    """Family-pattern composition: vectors arrive as JSON over the
    wire Kafka source; AnnIndexJob maintains the persisted index
    across triggers and topk answers from it — bit-equal to the batch
    recompute over everything produced."""
    import json

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
        def produce(rows):
            with KafkaWireClient(broker.host, broker.port) as c:
                c.produce_records("vecs.ann", 0, [
                    (str(i).encode(),
                     json.dumps({"vec_id": i, "embedding": v}).encode())
                    for i, v in rows])

        stream = (spark.readStream.format("kafka_py")
                  .option("bootstrap", broker.bootstrap)
                  .option("subscribe", "vecs.ann").load())
        vecs = (stream.select(
            F.from_json(F.col("value").cast("string"),
                        "vec_id bigint, embedding array<double>")
            .alias("d")).select("d.vec_id", "d.embedding"))
        q = (job.writer(vecs, str(tmp_path / "ckpt")).start())
        try:
            state = [(i, _vec(i)) for i in range(1, 9)]
            produce(state[:5])
            q.processAllAvailable()
            assert job.codes.read().count() == 5
            produce(state[5:])
            q.processAllAvailable()
        finally:
            q.stop()

    got = {(r.vec_id, r.cell, tuple(r.codes))
           for r in job.codes.read().collect()}
    want = {(r.vec_id, r.cell, tuple(r.codes))
            for r in job.code_rows(_df(spark, state)).collect()}
    assert got == want
    queries = _df(spark, [(0, _vec(50))])
    assert _snap(job.topk(queries, k=3, shortlist=10)) == \
        _snap(_recompute_topk(spark, state, queries, k=3,
                              shortlist=10))


def test_optimize_compacts_codes_without_changing_answers(spark,
                                                          tmp_path):
    """Streaming maintenance composition: micro-batches accumulate
    small files per cp partition; OPTIMIZE compacts them as a new
    version — probe answers identical, PartitionFilters still prune,
    and the recipe file is untouched (optimize changes layout, never
    derivation)."""
    import glob
    import json

    job = _mk_job(spark, tmp_path / "j")
    state = [(i, _vec(i)) for i in range(1, 25)]
    for b in range(4):  # 4 merges -> several files per partition
        job.process_batch(_df(spark, state[b * 6:(b + 1) * 6]), b)
    queries = _df(spark, [(100, _vec(100))])
    before = _snap(job.topk(queries, k=3, shortlist=10))
    vdir = job.codes._data_dir(job.codes.current_version())
    files_before = len(glob.glob(vdir + "/cp=*/*.parquet"))

    job.codes.optimize(num_files=1)

    vdir2 = job.codes._data_dir(job.codes.current_version())
    files_after = len(glob.glob(vdir2 + "/cp=*/*.parquet"))
    assert files_after < files_before
    assert _snap(job.topk(queries, k=3, shortlist=10)) == before
    got = job.topk(queries, k=3, shortlist=10, materialize=False)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*\bcp\b", plan)
    with open(str(tmp_path / "j" / "i" / "_RECIPE.json")) as fh:
        assert json.load(fh)["kind"] == "ivfadc"


def test_snapshot_pinned_index_serves_identical_topk(spark, tmp_path):
    """Composition with sinks/manifest.py: export the index tables as
    immutable snapshots (the 'this model release was evaluated against
    THESE bytes' pin); a probe served from the snapshots equals the
    live topk, and stays byte-verified after the live tables move on."""
    from aether_firebase_consumer_spark.sinks.manifest import (
        export_snapshot,
        read_snapshot_manifest,
        verify_manifest,
    )

    job = _mk_job(spark, tmp_path / "j")
    state = [(i, _vec(i)) for i in range(1, 20)]
    job.process_batch(_df(spark, state), 0)
    queries = _df(spark, [(100, _vec(100))])
    live = _snap(job.topk(queries, k=3, shortlist=10))

    snap_codes = str(tmp_path / "snap_codes")
    snap_corpus = str(tmp_path / "snap_corpus")
    export_snapshot(job.codes, snap_codes)
    export_snapshot(job.corpus, snap_corpus)

    # the live index moves on (new vectors, compaction)
    job.process_batch(_df(spark, [(50, _vec(50))]), 1)
    job.codes.optimize(num_files=1)

    # serve from the frozen snapshot: same stage helpers over the
    # snapshot scans — identical answer to the pre-move live probe
    inv = spark.read.parquet(snap_codes)
    corpus = spark.read.parquet(snap_corpus)
    q = ivfadc_query_frame(queries, CENTS, BOOKS)
    sl = ivfadc_shortlist(inv, q, BOOKS, 10)
    q_emb = queries.select(F.col("vec_id").alias("query_id"),
                           F.col("embedding").alias("q_emb"))
    n_emb = corpus.select(F.col("vec_id").alias("neighbor_id"),
                          F.col("embedding").alias("n_emb"))
    assert _snap(ivfadc_rerank(sl, q_emb, n_emb, topk=3)) == live
    # and the pinned bytes still verify
    assert verify_manifest(snap_codes,
                           read_snapshot_manifest(snap_codes)) == []
