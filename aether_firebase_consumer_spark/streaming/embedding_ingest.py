"""Streaming EMBEDDING corpus growth with incremental near-dup
rejection — the vector twin of :mod:`.dedup_ingest`: each micro-batch
drops in-batch cosine near-dups (keep smallest id), probes the
accumulated corpus for cross-batch near-dups, and merges only the
survivors; rejected vectors can land in an audit table with their best
existing match.

Scale posture mirrors the text job exactly: with ``band_index`` set
(the production shape), the sign-LSH band index ``(id, band_keys)`` is
a second incrementally-maintained
:class:`~..sinks.upsert.ParquetUpsertTable` — survivors merge their
band keys at ingest time, each batch probes the PERSISTED index
(:func:`~..plans.similarity_queries.embedding_probe_index_pairs`), and
embeddings for the exact-cosine verify are fetched per-candidate from
the corpus (column-pruned semi-join), so per-batch COMPUTE is ∝ batch
size, never ∝ corpus. Per-batch I/O additionally stops growing with
the corpus when ``band_long_index`` is set (the full 100 TB shape): a
bkp-partitioned ``(id, bi, bk, bkp)`` table — key ``[id_col, "bi"]``
— whose probe (:func:`~..plans.similarity_queries.
embedding_probe_partitioned_pairs`) pushes the batch's band-key
prefixes as PartitionFilters; an idp-partitioned corpus additionally
prunes the embedding fetch to candidate partitions. Without
``band_index`` the job recomputes the corpus band frame per batch
(correct, simple); rejection semantics are identical across all paths
and test-pinned.

Banding is pluggable: the 2×4 demo config suits the fixtures' weak
thresholds; pass ``plans.similarity_queries._HI_BANDS`` with
``threshold=0.9`` for the production near-dup point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from aether_firebase_consumer_spark.materialize import materialize, release_scope
from aether_firebase_consumer_spark.operators.dedup import (
    BAND_INDEX_PARTITIONS,
    id_partition,
)
from aether_firebase_consumer_spark.plans.similarity_queries import (
    _NEARDUP_BANDS,
    embedding_band_index_rows,
    embedding_index_frame,
    embedding_neardup_pairs,
    embedding_probe_index_pairs,
    embedding_probe_partitioned_pairs,
)
from aether_firebase_consumer_spark.sinks.upsert import ParquetUpsertTable
from aether_firebase_consumer_spark.streaming.cdc import CdcIngest
from aether_firebase_consumer_spark.streaming.pruning import (
    corpus_recipe,
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


class EmbeddingIngestJob(CdcIngest):
    """foreachBatch handler: near-dup-gated vector-corpus accumulation.

    Same contract as :class:`~.dedup_ingest.DedupIngestJob`: known ids
    are UPDATEs and bypass the gate (they would match their own prior
    version); in-batch groups keep their smallest id; audit rows pair
    ``dup_of`` and ``cos_sim`` from the SAME best match (max cosine,
    ties to the smallest winner id). Attaching a ``band_index`` to an
    already-populated corpus backfills it once on the next batch."""

    def __init__(self, spark: SparkSession, corpus: ParquetUpsertTable,
                 rejects: ParquetUpsertTable | None = None,
                 band_index: ParquetUpsertTable | None = None,
                 band_long_index: ParquetUpsertTable | None = None,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 threshold: float = 0.35,
                 bands: list | None = None,
                 n_parts: int = BAND_INDEX_PARTITIONS,
                 idp_parts: int | None = None) -> None:
        if (band_long_index is not None
                and band_long_index.partition_col != "bkp"):
            raise ValueError(
                "band_long_index must be partitioned by 'bkp' — an "
                "unpartitioned long index re-scans the whole table per "
                "trigger, the exact I/O shape it exists to avoid")
        # corpus-level guard: an idp-modulus drift across restarts
        # would silently gate UPDATEs against their own prior version
        guard_idp_corpus(corpus, idp_parts)
        self.spark = spark
        self.corpus = corpus
        self.rejects = rejects
        self.band_index = band_index
        self.band_long_index = band_long_index
        self.id_col, self.vec_col = id_col, vec_col
        self.threshold = threshold
        self.bands = bands if bands is not None else _NEARDUP_BANDS
        self.n_parts, self.idp_parts = n_parts, idp_parts
        if band_long_index is not None:
            # fail loudly on derivation drift: different hyperplanes or
            # a different n_parts silently miss candidates (round 9,
            # streaming/recipe.py)
            recipe_guard(band_long_index.path, self._long_recipe())
        #: cumulative driver-side counters
        self.stats = {"batches": 0, "accepted": 0, "rejected": 0,
                      "deleted": 0}

    @release_scope()
    def delete(self, ids) -> int:
        """Delete vectors by id from the corpus and every persisted
        index table (round 10, VERDICT r9 item 1). ``ids`` is a
        DataFrame carrying ``id_col`` or a plain list. Returns the
        number of vectors actually removed.

        Index tables first, corpus last: band rows without a corpus
        row can still surface as CANDIDATES, but the exact-cosine
        verify fetches embeddings from the corpus, so a crash between
        deletes leaves wasted candidate I/O at worst, never a matched
        ghost — re-running the delete clears it. The long-index rows'
        bkp partitions are recomputed from the doomed rows' embeddings
        (pruned corpus fetch), the same pure function ingest stamped."""
        ids1 = normalize_ids(self.spark, ids, self.id_col)
        doomed = doomed_rows(self.corpus, ids1, self.id_col,
                             self.idp_parts)
        if doomed is None:
            return 0
        doomed, n = materialize(doomed)
        if n == 0:
            return 0
        if self.band_long_index is not None \
                and self.band_long_index.read() is not None:
            self.band_long_index.delete_keys(embedding_band_index_rows(
                doomed, self.id_col, self.vec_col, self.bands,
                self.n_parts).select(self.id_col, "bi", "bkp"))
        if self.band_index is not None \
                and self.band_index.read() is not None:
            self.band_index.delete_keys(doomed.select(self.id_col))
        cols = [self.id_col] \
            + (["idp"] if self.corpus.partition_col == "idp" else [])
        self.corpus.delete_keys(doomed.select(*cols))
        self.stats["deleted"] += n
        return n

    @release_scope()
    def reconcile(self) -> dict:
        """Repair corpus/band-index divergence after a crash between
        the family's table writes (round 10 — the sign-LSH twin of
        :meth:`DedupIngestJob.reconcile`): both index tables are
        diffed key-level against a recompute from the corpus (sign-LSH
        banding is a pure map-side function of the vector, so the
        recompute is one linear pass, no shuffle beyond the
        anti-joins) — missing rows merged (they had stopped gating /
        missed candidates), orphan rows deleted (ghost candidates).
        Idempotent; run between triggers; no-op on the recompute path.
        Returns ``{"re_indexed": n, "orphans_dropped": n}``."""
        out = {"re_indexed": 0, "orphans_dropped": 0}
        if self.band_index is None and self.band_long_index is None:
            return out
        corpus = self.corpus.read()
        if self.band_index is not None:
            idx = self.band_index.read()
            want = None if corpus is None else embedding_index_frame(
                corpus, self.id_col, self.vec_col, self.bands)
            n_miss = n_orp = 0
            if want is not None:
                miss = want if idx is None else want.join(
                    idx.select(self.id_col), self.id_col, "left_anti")
                miss, n_miss = materialize(miss)
                if n_miss:
                    self.band_index.merge(miss)
            if idx is not None:
                orp = idx if corpus is None else idx.join(
                    corpus.select(self.id_col), self.id_col,
                    "left_anti")
                orp, n_orp = materialize(orp)
                if n_orp:
                    self.band_index.delete_keys(
                        orp.select(self.id_col))
            out["re_indexed"] += n_miss
            out["orphans_dropped"] += n_orp
        if self.band_long_index is not None:
            longi = self.band_long_index.read()
            want = None if corpus is None else materialize(
                embedding_band_index_rows(
                    corpus, self.id_col, self.vec_col, self.bands,
                    self.n_parts))[0]
            keys = [self.id_col, "bi"]
            n_miss = n_orp = 0
            if want is not None:
                miss = want if longi is None else want.join(
                    longi.select(*keys), keys, "left_anti")
                miss, n_miss = materialize(miss)
                if n_miss:
                    self.band_long_index.merge(miss)
            if longi is not None:
                orp = longi if want is None else longi.join(
                    want.select(*keys), keys, "left_anti")
                orp, n_orp = materialize(orp)
                if n_orp:
                    self.band_long_index.delete_keys(
                        orp.select(self.id_col, "bi", "bkp"))
            out["re_indexed"] += n_miss
            out["orphans_dropped"] += n_orp
        return out

    def _long_recipe(self) -> dict:
        return {"kind": "sign-lsh-band",
                "model_fp": model_fingerprint(self.bands),
                "n_parts": self.n_parts, "idp_parts": self.idp_parts}

    def reshard_index(self, n_parts: int | None = None,
                      idp_parts: int | None = None) -> None:
        """Migrate the persisted tables to new partition moduli
        (round 9 — see ``DedupIngestJob.reshard_index``): the long
        band index rebuilds from the corpus vectors at the new
        ``n_parts``; ``idp_parts`` re-stamps the corpus's partition
        column. One atomic version swap per table, recipe updated in
        the same step; run between triggers."""
        if n_parts is None and idp_parts is None:
            return
        if n_parts is not None:
            if n_parts < 1:
                raise ValueError("n_parts must be >= 1")
            self.n_parts = n_parts
        if idp_parts is not None:
            if idp_parts < 1:
                raise ValueError("idp_parts must be >= 1")
            self.idp_parts = idp_parts
        # crash-safe choreography — see DedupIngestJob.reshard_index
        staged = []
        if self.band_long_index is not None:
            recipe_begin(self.band_long_index.path, self._long_recipe())
            staged.append(self.band_long_index.path)
        if idp_parts is not None and self.corpus.partition_col == "idp":
            recipe_begin(self.corpus.path,
                         corpus_recipe(self.idp_parts))
            staged.append(self.corpus.path)
        corpus = self.corpus.read()
        if corpus is not None and not corpus.isEmpty():
            if idp_parts is not None \
                    and self.corpus.partition_col == "idp":
                self.corpus.replace(corpus.drop("idp").withColumn(
                    "idp", id_partition(F.col(self.id_col),
                                        self.idp_parts)))
                corpus = self.corpus.read()
            if n_parts is not None and self.band_long_index is not None \
                    and self.band_long_index.read() is not None:
                self.band_long_index.replace(embedding_band_index_rows(
                    corpus, self.id_col, self.vec_col, self.bands,
                    self.n_parts))
        for path in staged:
            recipe_commit(path)

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

    def _known_ids(self, existing: DataFrame,
                   batch: DataFrame) -> DataFrame:
        """Batch-idp-pruned known-id check — shared family logic,
        :func:`~.pruning.known_ids`."""
        return known_ids(self.corpus, existing, batch, self.id_col,
                         self.idp_parts)

    def _recompute_pairs(self, existing: DataFrame,
                         fresh: DataFrame) -> DataFrame:
        """Fallback matching without a persisted index: band the
        corpus from its vectors per batch (identical arithmetic to the
        probe path — the index IS this frame, persisted)."""
        return embedding_probe_index_pairs(
            embedding_index_frame(existing, self.id_col, self.vec_col,
                                  self.bands),
            existing, fresh, self.id_col, self.vec_col,
            self.bands, self.threshold)

    @release_scope()
    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        batch = batch.dropDuplicates([self.id_col])
        # in-batch near-dups: id_a < id_b by construction → dropping
        # every id_b keeps the smallest id per near-dup group
        in_pairs, _ = materialize(embedding_neardup_pairs(
            batch, self.id_col, self.vec_col, self.bands, self.threshold))
        self._log_rejects(in_pairs, "id_b", "id_a", epoch_id)
        losers = in_pairs.select(F.col("id_b").alias(self.id_col)) \
            .distinct()
        survivors = batch.join(losers, self.id_col, "left_anti")

        existing = self.corpus.read()
        had_index = False
        had_long = False
        if existing is not None:
            known = self._known_ids(existing, batch)
            fresh = survivors.join(known, self.id_col, "left_anti")
            index = self.band_index.read() \
                if self.band_index is not None else None
            had_index = index is not None
            long_idx = self.band_long_index.read() \
                if self.band_long_index is not None else None
            had_long = long_idx is not None
            if had_long:
                matches = embedding_probe_partitioned_pairs(
                    long_idx, existing, fresh, self.id_col,
                    self.vec_col, self.bands, self.threshold,
                    n_parts=self.n_parts, idp_parts=self.idp_parts)
            elif had_index:
                matches = embedding_probe_index_pairs(
                    index, existing, fresh, self.id_col, self.vec_col,
                    self.bands, self.threshold)
            else:
                matches = self._recompute_pairs(existing, fresh)
            matches, _ = materialize(matches)
            self._log_rejects(matches, "new_id", "old_id", epoch_id)
            dup_ids = matches.select(
                F.col("new_id").alias(self.id_col)).distinct()
            accepted_fresh = fresh.join(dup_ids, self.id_col, "left_anti")
            updates = survivors.join(known, self.id_col, "left_semi")
            survivors = updates.unionByName(accepted_fresh)
        # one materialization: counters + all merges read this result
        survivors, n_kept = materialize(survivors)
        n_in = batch.count()
        self.stats["batches"] += 1
        self.stats["accepted"] += n_kept
        self.stats["rejected"] += n_in - n_kept
        merged = survivors
        if self.corpus.partition_col == "idp":
            # idp-partitioned corpus: the probe's embedding fetch and
            # the known-id check prune to bounded partition lists
            # (validated in __init__: idp_parts is set)
            merged = survivors.withColumn(
                "idp", id_partition(F.col(self.id_col), self.idp_parts))
        self.corpus.merge(merged)

        def _maint_src(populated: bool) -> DataFrame:
            if populated or existing is None:
                # ∝ batch; when the corpus was empty before this batch
                # the survivors ARE the whole corpus — no re-read
                # (round-6 backfill double-read, folded)
                return survivors
            return self.corpus.read()  # one-time backfill

        if self.band_index is not None:
            self.band_index.merge(embedding_index_frame(
                _maint_src(had_index), self.id_col, self.vec_col,
                self.bands))
        if self.band_long_index is not None:
            # every vector emits exactly len(bands) rows keyed
            # (id, bi), so MERGE alone replaces updates exactly
            self.band_long_index.merge(embedding_band_index_rows(
                _maint_src(had_long), self.id_col, self.vec_col,
                self.bands, self.n_parts))

    def writer(self, stream: DataFrame, checkpoint: str):
        return (stream.writeStream
                .foreachBatch(self.process_batch)
                .option("checkpointLocation", checkpoint))
