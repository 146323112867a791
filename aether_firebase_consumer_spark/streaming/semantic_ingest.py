"""Streaming SEMANTIC dedup ingest — SemDeDup as corpus accumulation
(round 8, VERDICT r7 #6): each micro-batch assigns vectors to a fixed
centroid set, drops in-batch semantic near-dups within a (cluster,
subcluster) cell (keep smallest id), probes the accumulated corpus for
cross-batch near-dups in the SAME cell, and merges only the survivors
— the streaming form of ``plans.clustering_queries.
dedup_semantic_semdedup``, in the :class:`~.embedding_ingest.
EmbeddingIngestJob` job family (same audit table, same update
semantics, same JobManager lifecycle).

Scale posture: with ``cluster_index`` set (the production shape), the
per-vector cell assignment ``(vec_id, cluster, sub, cp)`` is an
incrementally-maintained :class:`~..sinks.upsert.ParquetUpsertTable`
partitioned by ``cp`` (cluster → partition): survivors merge their one
index row at ingest time, and each batch probes ONLY the partitions
its own clusters map to (a driver-side bounded IN-filter over ≤
``n_parts`` values → parquet PartitionFilters), fetching embeddings
per-candidate from the corpus — per-batch compute AND I/O stay ∝ batch
size, never ∝ corpus. With the corpus table itself partitioned by
``idp`` (``id_partition`` of the id column — the full 100 TB shape,
round 9), the embedding fetch AND the known-id check are partition-
pruned the same way: candidates' / the batch's own id partitions only,
both bounded driver-side lists. Without an index the job recomputes
corpus assignments per batch (correct, simple); rejection semantics
are identical across all paths and test-pinned.

One deliberate divergence from the batch query: the batch SemDeDup
derives the subcluster modulus from the CURRENT cluster size
(``ceil(n / 512)``), which cannot be replayed incrementally — a
growing cluster would silently re-shard history and the persisted
index would go stale. The streaming job fixes the modulus per job
(``n_sub``, a config), so a vector's cell is a pure function of
(id, embedding) forever and index rows are immutable under MERGE.
Size ``n_sub`` to the expected peak cluster population / 512 — same
bounded-comparisons guarantee, declared up front instead of adapted
per trigger (the standard streaming determinism trade). A corpus that
outgrows its declared modulus migrates via :meth:`SemanticIngestJob.
reshard` — a batch rebuild (read corpus → recompute cells at the new
``n_sub`` → one atomic index version swap), run between triggers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from aether_firebase_consumer_spark.functions.vectors import (
    cosine,
    ivf_cell,
)
from aether_firebase_consumer_spark.materialize import materialize as _materialize
from aether_firebase_consumer_spark.materialize import release_scope
from aether_firebase_consumer_spark.operators.dedup import (
    id_partition,
    portable_hash60,
)
from aether_firebase_consumer_spark.sinks.upsert import ParquetUpsertTable
from aether_firebase_consumer_spark.streaming.cdc import CdcIngest
from aether_firebase_consumer_spark.streaming.pruning import (
    doomed_rows,
    guard_idp_corpus,
    known_ids,
    normalize_ids,
)
from aether_firebase_consumer_spark.streaming.recipe import (
    model_fingerprint,
    recipe_begin,
    recipe_commit,
    recipe_guard,
)


class SemanticIngestJob(CdcIngest):
    """foreachBatch handler: semantic-dedup-gated corpus accumulation.

    Same contract as the band-index twins: known ids are UPDATEs and
    bypass the gate (they would match their own prior version — and
    their index row is re-merged, so a re-embedded vector moves cells
    atomically with its corpus row); in-batch groups keep their
    smallest id; audit rows pair ``dup_of`` and ``cos_sim`` from the
    SAME best match (max cosine, ties to the smallest winner id).
    Attaching a ``cluster_index`` to an already-populated corpus
    backfills it once on the next batch."""

    def __init__(self, spark: SparkSession, corpus: ParquetUpsertTable,
                 rejects: ParquetUpsertTable | None = None,
                 cluster_index: ParquetUpsertTable | None = None,
                 centroids: list[list[float]] | None = None,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 threshold: float = 0.35,
                 n_sub: int = 4, n_parts: int = 16,
                 idp_parts: int = 8) -> None:
        if cluster_index is not None \
                and cluster_index.partition_col != "cp":
            raise ValueError(
                "cluster_index must be partitioned by 'cp' — an "
                "unpartitioned index re-scans the whole table per "
                "trigger, the exact I/O shape it exists to avoid")
        # corpus-level guard: an idp-modulus drift across restarts
        # would silently gate UPDATEs against their own prior version
        guard_idp_corpus(corpus, idp_parts)
        if centroids is None:
            from aether_firebase_consumer_spark.plans.clustering_queries \
                import _KM_INIT
            centroids = _KM_INIT
        self.spark = spark
        self.corpus = corpus
        self.rejects = rejects
        self.cluster_index = cluster_index
        self.centroids = centroids
        self.id_col, self.vec_col = id_col, vec_col
        self.threshold = threshold
        self.n_sub, self.n_parts = n_sub, n_parts
        self.idp_parts = idp_parts
        if cluster_index is not None:
            # fail loudly on derivation drift: a probe at a different
            # n_sub / n_parts or against different centroids silently
            # misses near-dups (round 9, streaming/recipe.py)
            recipe_guard(cluster_index.path, self._recipe())
        #: cumulative driver-side counters
        self.stats = {"batches": 0, "accepted": 0, "rejected": 0,
                      "deleted": 0}

    def _recipe(self) -> dict:
        return {"kind": "semdedup-cells", "n_sub": self.n_sub,
                "n_parts": self.n_parts,
                "model_fp": model_fingerprint(self.centroids)}

    @property
    def _corpus_pruned(self) -> bool:
        return self.corpus.partition_col == "idp"

    def _with_idp(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "idp", id_partition(F.col(self.id_col), self.idp_parts))

    # -- cell assignment -----------------------------------------------

    def _assign(self, df: DataFrame) -> DataFrame:
        """(id, vec) → + (cluster, sub, cp): a pure codegen function of
        the row — zero shuffle, stable forever (see module docstring on
        the fixed ``n_sub``)."""
        cluster = ivf_cell(F.col(self.vec_col), self.centroids)
        sub = (portable_hash60(F.col(self.id_col).cast("string"))
               % F.lit(self.n_sub)).cast("bigint")
        return (df.withColumn("cluster", cluster)
                  .withColumn("sub", sub)
                  .withColumn("cp", F.pmod(F.col("cluster"),
                                           F.lit(self.n_parts))
                              .cast("int")))

    def index_rows(self, df: DataFrame) -> DataFrame:
        """The persisted index shape: one row per vector."""
        return self._assign(df).select(self.id_col, "cluster", "sub",
                                       "cp")

    # -- matching ------------------------------------------------------

    def _log_rejects(self, matches: DataFrame, loser_col: str,
                     winner_col: str, epoch_id: int) -> None:
        if self.rejects is None:
            return
        w = W.partitionBy(loser_col).orderBy(F.desc("cos_sim"),
                                             F.asc(winner_col))
        best = (matches.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1))
        self.rejects.merge(
            best.select(F.col(loser_col).alias(self.id_col),
                        F.col(winner_col).alias("dup_of"), "cos_sim",
                        F.lit(epoch_id).alias("epoch")))

    def _in_batch_pairs(self, assigned: DataFrame) -> DataFrame:
        left = assigned.select(F.col(self.id_col).alias("id_a"),
                               F.col(self.vec_col).alias("va"),
                               "cluster", "sub")
        right = assigned.select(F.col(self.id_col).alias("id_b"),
                                F.col(self.vec_col).alias("vb"),
                                "cluster", "sub")
        return (left.join(right, ["cluster", "sub"])
                .filter(F.col("id_a") < F.col("id_b"))
                .withColumn("cos_sim", cosine(F.col("va"),
                                              F.col("vb")))
                .filter(F.col("cos_sim") >= self.threshold)
                .select("id_a", "id_b", "cos_sim"))

    def _probe_pairs(self, index: DataFrame, existing: DataFrame,
                     fresh_assigned: DataFrame,
                     materialize: bool = True) -> DataFrame:
        """(old_id, new_id, cos_sim) of cross-batch semantic matches:
        index rows in the batch's cells (cp IN-filter → partition
        pruning) joined on (cluster, sub), embeddings fetched
        per-candidate (column-pruned semi-join against the corpus;
        additionally PARTITION-pruned to the candidates' idp values
        when the corpus table is idp-partitioned — exact, because a
        corpus row for old_id can only live at idp=id_partition(old_id),
        the value its merge computed from the same pure function).

        ``materialize=False`` keeps the lazy lineage (pruned scans
        visible to plan tests) at the cost of re-deriving the
        twice-referenced candidate frame."""
        cps = [r["cp"] for r in
               fresh_assigned.select("cp").distinct().collect()]
        if not cps:
            return fresh_assigned.sparkSession.createDataFrame(
                [], "old_id bigint, new_id bigint, cos_sim double")
        cand = (index.filter(F.col("cp").isin(cps))
                .select(F.col(self.id_col).alias("old_id"),
                        "cluster", "sub")
                .join(fresh_assigned.select(
                    F.col(self.id_col).alias("new_id"),
                    F.col(self.vec_col).alias("v_new"),
                    "cluster", "sub"),
                    ["cluster", "sub"]))
        if "idp" in existing.columns:
            if materialize:
                # referenced twice below (idp collect + verify join)
                cand, _ = _materialize(cand)
            idps = [r[0] for r in cand
                    .select(id_partition(F.col("old_id"),
                                         self.idp_parts).alias("p"))
                    .distinct().collect()]  # bounded by idp_parts
            if not idps:
                return fresh_assigned.sparkSession.createDataFrame(
                    [], "old_id bigint, new_id bigint, cos_sim double")
            existing = existing.filter(F.col("idp").isin(idps))
        old_vecs = (existing
                    .select(F.col(self.id_col).alias("old_id"),
                            F.col(self.vec_col).alias("v_old"))
                    .join(cand.select("old_id").distinct(), "old_id",
                          "left_semi"))
        return (cand.join(old_vecs, "old_id")
                .withColumn("cos_sim", cosine(F.col("v_old"),
                                              F.col("v_new")))
                .filter(F.col("cos_sim") >= self.threshold)
                .select("old_id", "new_id", "cos_sim"))

    # -- the batch handler ----------------------------------------------

    @release_scope()
    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        batch = batch.dropDuplicates([self.id_col])
        assigned = self._assign(batch)
        in_pairs, _ = _materialize(self._in_batch_pairs(assigned))
        self._log_rejects(in_pairs, "id_b", "id_a", epoch_id)
        losers = in_pairs.select(F.col("id_b").alias(self.id_col)) \
            .distinct()
        survivors = batch.join(losers, self.id_col, "left_anti")

        existing = self.corpus.read()
        had_index = False
        if existing is not None:
            # batch-idp-pruned known-id check (shared family logic,
            # streaming/pruning.py): I/O ∝ batch, not corpus
            known = known_ids(self.corpus, existing, batch,
                              self.id_col, self.idp_parts)
            fresh = survivors.join(known, self.id_col, "left_anti")
            index = self.cluster_index.read() \
                if self.cluster_index is not None else None
            had_index = index is not None
            if not had_index:
                # no persisted index: the index IS the corpus's cell
                # assignment — recompute it for this batch (identical
                # arithmetic, test-pinned equivalence)
                index = self.index_rows(existing)
            matches, _ = _materialize(self._probe_pairs(
                index, existing, self._assign(fresh)))
            self._log_rejects(matches, "new_id", "old_id", epoch_id)
            dup_ids = matches.select(
                F.col("new_id").alias(self.id_col)).distinct()
            accepted_fresh = fresh.join(dup_ids, self.id_col,
                                        "left_anti")
            updates = survivors.join(known, self.id_col, "left_semi")
            survivors = updates.unionByName(accepted_fresh)
        if self._corpus_pruned:
            survivors = self._with_idp(survivors)
        # one materialization: counters + all merges read this result
        survivors, n_kept = _materialize(survivors)
        n_in = batch.count()
        self.stats["batches"] += 1
        self.stats["accepted"] += n_kept
        self.stats["rejected"] += n_in - n_kept
        self.corpus.merge(survivors)
        if self.cluster_index is not None:
            src = survivors if (had_index or existing is None) \
                else self.corpus.read()      # one-time backfill
            # one row per vector keyed [id_col]: MERGE alone replaces
            # a re-embedded vector's cell exactly
            self.cluster_index.merge(self.index_rows(src))

    # -- maintenance ------------------------------------------------------

    @release_scope()
    def delete(self, ids) -> int:
        """Delete vectors by id from the corpus AND the persisted cell
        index (round 10, VERDICT r9 item 1): a removed vector must
        stop gating future near-dups, not linger as a ghost cell row.
        ``ids`` is a DataFrame carrying ``id_col`` or a plain list.
        Returns the number of vectors actually removed.

        Index rows first (their cp comes from re-assigning the doomed
        rows' embeddings — the same pure function ingest stamped, so
        both deletes are partition-pruned); a crash between the two
        ``delete_keys`` calls leaves a corpus row with no index row,
        which can never match a probe — re-running the delete clears
        it. A later re-delivery of a deleted id is a fresh document
        again (it is no longer 'known'), which is the takedown
        semantics a retention pipeline wants."""
        ids1 = normalize_ids(self.spark, ids, self.id_col)
        doomed = doomed_rows(self.corpus, ids1, self.id_col,
                             self.idp_parts)
        if doomed is None:
            return 0
        doomed, n = _materialize(doomed)
        if n == 0:
            return 0
        if self.cluster_index is not None \
                and self.cluster_index.read() is not None:
            self.cluster_index.delete_keys(
                self.index_rows(doomed).select(self.id_col, "cp"))
        cols = [self.id_col] + (["idp"] if self._corpus_pruned else [])
        self.corpus.delete_keys(doomed.select(*cols))
        self.stats["deleted"] += n
        return n

    @release_scope()
    def reconcile(self) -> dict:
        """Repair corpus/cluster-index divergence after a crash
        between the two MERGEs or the two deletes (round 10 — the
        semantic twin of :meth:`AnnIndexJob.reconcile`): corpus
        vectors missing their cell row are re-assigned and merged
        (they were not gating near-dups); cell rows whose vector left
        the corpus are deleted (ghost gates). Idempotent; run between
        triggers; no-op without a persisted index. Returns
        ``{"re_assigned": n, "orphans_dropped": n}``."""
        out = {"re_assigned": 0, "orphans_dropped": 0}
        if self.cluster_index is None:
            return out  # recompute path derives cells from the corpus
        corpus = self.corpus.read()
        index = self.cluster_index.read()
        if corpus is None and index is None:
            return out
        if corpus is None:
            n = index.count()
            if n:
                self.cluster_index.delete_keys(
                    index.select(self.id_col, "cp"))
                out["orphans_dropped"] = n
            return out
        missing = corpus if index is None else corpus.join(
            index.select(self.id_col), self.id_col, "left_anti")
        missing, n_miss = _materialize(missing)
        if n_miss:
            self.cluster_index.merge(self.index_rows(missing))
            out["re_assigned"] = n_miss
        if index is not None:
            orphans, n_orp = _materialize(
                index.select(self.id_col, "cp")
                .join(corpus.select(self.id_col), self.id_col,
                      "left_anti"))
            if n_orp:
                self.cluster_index.delete_keys(orphans)
                out["orphans_dropped"] = n_orp
        return out

    def reshard(self, new_n_sub: int) -> None:
        """Migrate the job to a new subcluster modulus — the batch
        rebuild that closes the fixed-``n_sub`` trade's only gap (a
        corpus that outgrows its declared modulus; see the module
        docstring): recompute every corpus vector's cell at
        ``new_n_sub`` and swap the persisted index to it ATOMICALLY
        (one :meth:`~..sinks.upsert.ParquetUpsertTable.replace`
        version commit — a concurrent reader sees the old index or the
        new one, never a mix of moduli). Subsequent batches assign and
        probe at the new modulus.

        Cost: one full corpus scan + index rewrite — a scheduled batch
        maintenance job, not a per-trigger cost (``cp`` depends only on
        the cluster, so even the partition LAYOUT is unchanged; only
        the ``sub`` values move). Run it between triggers: the handler
        reads the index once per batch, so a swap mid-stream is safe at
        batch boundaries but the modulus used to ASSIGN a batch must
        match the index it probes."""
        if new_n_sub < 1:
            raise ValueError("n_sub must be >= 1")
        self.n_sub = new_n_sub
        if self.cluster_index is None:
            return  # recompute path: the new modulus simply applies
        # crash-safe choreography: stage the new recipe, rebuild,
        # commit — a crash in either window leaves the .next marker
        # and every later attach fails loudly (recipe.py)
        recipe_begin(self.cluster_index.path, self._recipe())
        corpus = self.corpus.read()
        if corpus is not None and self.cluster_index.read() is not None:
            self.cluster_index.replace(self.index_rows(corpus))
        recipe_commit(self.cluster_index.path)

    def reshard_corpus(self, new_idp_parts: int) -> None:
        """Migrate the idp-partitioned corpus to a new partition
        modulus (round 9 — the semantic twin of the band jobs'
        ``reshard_index(idp_parts=...)``): re-stamp every row's idp
        from its id, one atomic version swap, corpus recipe migrated
        crash-safely. Run between triggers."""
        from aether_firebase_consumer_spark.streaming.pruning import (
            corpus_recipe,
        )

        if new_idp_parts < 1:
            raise ValueError("idp_parts must be >= 1")
        self.idp_parts = new_idp_parts
        if not self._corpus_pruned:
            return  # unpartitioned corpus: nothing persisted to move
        recipe_begin(self.corpus.path, corpus_recipe(new_idp_parts))
        corpus = self.corpus.read()
        if corpus is not None and not corpus.isEmpty():
            self.corpus.replace(self._with_idp(corpus.drop("idp")))
        recipe_commit(self.corpus.path)

    def writer(self, stream: DataFrame, checkpoint: str):
        return (stream.writeStream
                .foreachBatch(self.process_batch)
                .option("checkpointLocation", checkpoint))
