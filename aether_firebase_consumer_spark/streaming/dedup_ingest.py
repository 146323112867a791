"""Streaming corpus ingestion with incremental near-dup rejection.

The streaming face of :func:`~.operators.dedup.lsh_incremental_pairs`:
each micro-batch of documents is deduplicated (a) within itself —
exact id + near-dup, keep-smallest-id — and (b) against the corpus
accumulated so far, then the survivors MERGE into the corpus table.
This is how a 100 TB training corpus actually grows: the corpus is
never self-joined; every trigger pays cost proportional to the batch,
probing the corpus's band index.

Scale posture — with ``band_index`` set (the production shape), the
LSH band index ``(id, sh, band_keys)`` is itself a second
incrementally-maintained :class:`~..sinks.upsert.ParquetUpsertTable`:
survivors merge their index rows at ingest time, and each batch
PROBES the persisted index (:func:`~.operators.dedup.
lsh_probe_index_pairs`) instead of re-shingling the accumulated
corpus — per-batch COMPUTE is shingle+hash the batch, one equi-join
into the index, and a candidate-only verify, independent of corpus
size. Per-batch I/O additionally stops growing with the corpus when
``band_long_index`` is set (the full 100 TB shape): a bkp-partitioned
``(id, band_key, bkp)`` table whose probe
(:func:`~.operators.dedup.lsh_probe_partitioned_pairs`) pushes the
batch's band-key prefixes as PartitionFilters, so each trigger scans
only index directories a batch key can possibly match; with the
per-doc table idp-partitioned, the shingle fetch for the verify is
pruned to candidate ids' partitions the same way. Without
``band_index`` the job falls back to recomputing the corpus band
frame per batch (correct, simple, fine for small corpora); the
rejection semantics are identical across all three paths and
test-pinned.

Rejected documents are not dropped silently: each batch can append a
(doc_id, dup_of, jaccard, epoch) audit row set to a rejection log —
the keep/reason artifact ``dedup_pipeline_keep`` produces in batch
form, maintained incrementally. ``dup_of`` and ``jaccard`` come from
the SAME matched pair (the best match: max jaccard, ties to the
smallest winner id — ``dedup_incremental_lsh``'s rule), never mixed
across matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from aether_firebase_consumer_spark.materialize import materialize, release_scope
from aether_firebase_consumer_spark.operators.dedup import (
    BAND_INDEX_PARTITIONS,
    band_partition,
    id_partition,
    lsh_candidate_pairs,
    lsh_incremental_pairs,
    lsh_index_frame,
    lsh_probe_index_pairs,
    lsh_probe_partitioned_pairs,
)
from aether_firebase_consumer_spark.sinks.upsert import ParquetUpsertTable
from aether_firebase_consumer_spark.streaming.cdc import CdcIngest
from aether_firebase_consumer_spark.streaming.pruning import (
    corpus_recipe,
    guard_idp_corpus,
    known_ids,
    normalize_ids,
)
from aether_firebase_consumer_spark.streaming.recipe import (
    recipe_begin,
    recipe_commit,
    recipe_guard,
)


class DedupIngestJob(CdcIngest):
    """foreachBatch handler: near-dup-gated corpus accumulation.

    ``band_index`` (optional but recommended): a second upsert table
    keyed by ``id_col`` holding each corpus doc's shingle set and LSH
    band keys. When present, cross-batch matching probes this table —
    cost ∝ batch — and the job maintains it: survivors upsert their
    rows after every merge; a doc UPDATEd to empty text gets an
    empty-array tombstone row (explodes to zero band keys, so probes
    skip it — same semantics as the recompute path, where empty docs
    drop out of the band frame). Attaching an index to an already-
    populated corpus backfills it from the full corpus ONCE on the
    next batch.

    ``band_long_index`` (optional, requires ``band_index``): the
    bkp-partitioned ``(id, band_key, bkp)`` probe table — key
    ``[id_col, "band_key"]``, ``partition_col="bkp"`` — that bounds
    per-trigger index I/O by the batch instead of the corpus (pruned
    probe via PartitionFilters). Maintained MERGE-exactly: updates
    delete their stale band keys (partition-pruned delete) before
    merging new ones. Construct the per-doc ``band_index`` with
    ``partition_col="idp"`` and pass ``idp_parts`` to also prune the
    verify's shingle fetch to candidate partitions.
    """

    def __init__(self, spark: SparkSession, corpus: ParquetUpsertTable,
                 rejects: ParquetUpsertTable | None = None,
                 band_index: ParquetUpsertTable | None = None,
                 band_long_index: ParquetUpsertTable | None = None,
                 id_col: str = "doc_id", text_col: str = "text",
                 threshold: float = 0.5, k: int = 8, bands: int = 4,
                 n_parts: int = BAND_INDEX_PARTITIONS,
                 idp_parts: int | None = None) -> None:
        if band_long_index is not None:
            if band_index is None:
                raise ValueError(
                    "band_long_index needs band_index: the pruned probe "
                    "fetches candidate shingle sets from the per-doc "
                    "index table")
            if band_long_index.partition_col != "bkp":
                raise ValueError(
                    "band_long_index must be partitioned by 'bkp' — an "
                    "unpartitioned long index re-scans the whole table "
                    "per trigger, the exact I/O shape this table exists "
                    "to avoid")
        if (band_index is not None and band_index.partition_col == "idp"
                and idp_parts is None):
            raise ValueError(
                "band_index is idp-partitioned but idp_parts is unset: "
                "index rows could not compute their partition value")
        # corpus-level guard: an idp-modulus drift across restarts
        # would silently gate UPDATEs against their own prior version
        guard_idp_corpus(corpus, idp_parts)
        self.spark = spark
        self.corpus = corpus
        self.rejects = rejects
        self.band_index = band_index
        self.band_long_index = band_long_index
        self.id_col, self.text_col = id_col, text_col
        self.threshold, self.k, self.bands = threshold, k, bands
        self.n_parts, self.idp_parts = n_parts, idp_parts
        if band_long_index is not None:
            # fail loudly on derivation drift: a probe at different
            # (k, bands, n_parts) computes different band keys /
            # prefixes and silently misses candidates (round 9,
            # streaming/recipe.py). The threshold is NOT part of the
            # recipe — it is a query-time choice the index contents
            # don't depend on.
            recipe_guard(band_long_index.path, self._long_recipe())
        #: cumulative counters (driver-side, tiny): batches processed,
        #: docs accepted into the corpus, docs rejected as near-dups —
        #: the processed/suppressed tallies the reference's report
        #: counter hand-maintains, fed from the batch plans' own counts
        self.stats = {"batches": 0, "accepted": 0, "rejected": 0,
                      "deleted": 0}

    def _log_rejects(self, matches: DataFrame, loser_col: str,
                     winner_col: str, epoch_id: int) -> None:
        if self.rejects is None:
            return
        # ONE matched pair per loser — best match first (max jaccard,
        # ties to smallest winner id) — so dup_of and jaccard always
        # describe the same pair, not a min(winner)/max(jaccard) mix
        w = W.partitionBy(loser_col).orderBy(F.desc("jaccard"),
                                             F.asc(winner_col))
        best = (matches.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1))
        self.rejects.merge(
            best.select(F.col(loser_col).alias(self.id_col),
                        F.col(winner_col).alias("dup_of"), "jaccard",
                        F.lit(epoch_id).alias("epoch")))

    def _known_ids(self, existing: DataFrame,
                   batch: DataFrame) -> DataFrame:
        """Batch-idp-pruned known-id check — shared family logic,
        :func:`~.pruning.known_ids`."""
        return known_ids(self.corpus, existing, batch, self.id_col,
                         self.idp_parts)

    def _index_rows(self, docs: DataFrame) -> DataFrame:
        """Index rows for ``docs``, including empty-array tombstones
        for docs whose text yields no shingles (an UPDATE to empty
        text must overwrite the stale keys of the previous version)."""
        idx = lsh_index_frame(docs, self.id_col, self.text_col,
                              k=self.k, bands=self.bands)
        empty_arr = F.array().cast("array<string>")
        blanks = (docs.select(self.id_col)
                  .join(idx.select(self.id_col), self.id_col, "left_anti")
                  .select(self.id_col, empty_arr.alias("sh"),
                          empty_arr.alias("band_keys")))
        rows = idx.unionByName(blanks)
        if (self.band_index is not None
                and self.band_index.partition_col == "idp"):
            rows = rows.withColumn(
                "idp", id_partition(F.col(self.id_col), self.idp_parts))
        return rows

    def _explode_long(self, doc_rows: DataFrame) -> DataFrame:
        """Long-index rows derived from per-doc index rows — the same
        (id, band_key, bkp) frame :func:`~..operators.dedup.
        lsh_band_index_rows` computes, but from already-shingled rows
        so ONE shingle pass feeds both index tables."""
        return (doc_rows
                .select(self.id_col,
                        F.explode("band_keys").alias("band_key"))
                .withColumn("bkp", band_partition(F.col("band_key"),
                                                  self.n_parts)))

    def _maintain_long_index(self, doc_rows: DataFrame,
                             prev_doc_index: DataFrame | None) -> None:
        """Keep the bkp-partitioned long index MERGE-exact: an UPDATE
        whose text changed must not leave its previous band keys behind
        (they would keep producing candidates forever — harmless for
        correctness, the verify reads current shingles, but unbounded
        I/O under churn). Old keys come from the PRE-merge per-doc
        index, so both the delete and the merge are pruned to the
        batch's partitions."""
        new_rows, _ = materialize(self._explode_long(doc_rows))
        if prev_doc_index is not None:
            old_long = (prev_doc_index
                        .join(doc_rows.select(self.id_col),
                              self.id_col, "left_semi")
                        .select(self.id_col,
                                F.explode("band_keys").alias("band_key")))
            stale = (old_long
                     .join(new_rows, [self.id_col, "band_key"],
                           "left_anti")
                     .withColumn("bkp",
                                 band_partition(F.col("band_key"),
                                                self.n_parts)))
            self.band_long_index.delete_keys(stale)
        self.band_long_index.merge(new_rows)

    @release_scope()
    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        batch = batch.dropDuplicates([self.id_col])
        # in-batch near-dups: id_a < id_b by construction → dropping
        # every id_b keeps the smallest id of each near-dup group.
        # materialize: the candidate join runs ONCE — the result
        # feeds the audit log, the loser anti-join, and (via survivors)
        # the counters and merge, all from the materialized frame.
        in_pairs, _ = materialize(lsh_candidate_pairs(
            batch, self.id_col, self.text_col, k=self.k, bands=self.bands)
            .filter(F.col("jaccard") >= self.threshold))
        self._log_rejects(in_pairs, "id_b", "id_a", epoch_id)
        losers = in_pairs.select(F.col("id_b").alias(self.id_col)).distinct()
        survivors = batch.join(losers, self.id_col, "left_anti")

        existing = self.corpus.read()
        had_index = False
        had_long = False
        prev_index = None
        if existing is not None:
            # an id the corpus already holds is a re-delivery or an
            # UPDATE of that document — it merges directly and must not
            # be near-dup-gated (it would match its own prior version)
            known = self._known_ids(existing, batch)
            fresh = survivors.join(known, self.id_col, "left_anti")
            prev_index = self.band_index.read() \
                if self.band_index is not None else None
            long_idx = (self.band_long_index.read()
                        if prev_index is not None
                        and self.band_long_index is not None else None)
            had_long = long_idx is not None
            if had_long:
                had_index = True
                matches = lsh_probe_partitioned_pairs(
                    long_idx, prev_index, fresh,
                    self.id_col, self.text_col,
                    k=self.k, bands=self.bands, threshold=self.threshold,
                    n_parts=self.n_parts, idp_parts=self.idp_parts)
            elif prev_index is not None:
                had_index = True
                matches = lsh_probe_index_pairs(
                    prev_index, fresh, self.id_col, self.text_col,
                    k=self.k, bands=self.bands, threshold=self.threshold)
            else:
                matches = lsh_incremental_pairs(
                    existing, fresh, self.id_col, self.text_col,
                    k=self.k, bands=self.bands, threshold=self.threshold)
            matches, _ = materialize(matches)
            self._log_rejects(matches, "new_id", "old_id", epoch_id)
            dup_ids = matches.select(
                F.col("new_id").alias(self.id_col)).distinct()
            accepted_fresh = fresh.join(dup_ids, self.id_col, "left_anti")
            updates = survivors.join(known, self.id_col, "left_semi")
            survivors = updates.unionByName(accepted_fresh)
        if self.corpus.partition_col == "idp":
            survivors = survivors.withColumn(
                "idp", id_partition(F.col(self.id_col), self.idp_parts))
        # one materialization of the survivor plan: counters and the
        # corpus/index merges all read the checkpointed result instead
        # of re-running the LSH joins (3× in the pre-r6 shape)
        survivors, n_kept = materialize(survivors)
        n_in = batch.count()
        self.stats["batches"] += 1
        self.stats["accepted"] += n_kept
        self.stats["rejected"] += n_in - n_kept
        self.corpus.merge(survivors)
        if self.band_index is not None:
            # had_index=False → first sight of the index table:
            # backfill from the full (just-merged) corpus so probes see
            # every doc — a one-time cost, then maintenance is ∝ batch
            src = survivors if had_index else self.corpus.read()
            doc_rows = self._index_rows(src)
            if self.band_long_index is not None:
                # ONE shingle pass feeds both index tables: the long
                # rows below are an explode of these materialized rows
                doc_rows, _ = materialize(doc_rows)
            self.band_index.merge(doc_rows)
            if self.band_long_index is not None:
                if had_long:
                    self._maintain_long_index(doc_rows, prev_index)
                else:
                    # first sight of the LONG table (possibly attached
                    # to an already-indexed corpus): backfill once from
                    # the just-merged per-doc table — no re-shingling
                    self.band_long_index.merge(
                        self._explode_long(self.band_index.read()))

    @release_scope()
    def delete(self, ids) -> int:
        """Delete documents by id from the corpus and every persisted
        index table (round 10, VERDICT r9 item 1) — the takedown dual
        of the gated MERGE ingest. ``ids`` is a DataFrame carrying
        ``id_col`` or a plain list. Returns the number of documents
        actually removed.

        No re-shingling: the long-index rows to delete are re-exploded
        from the PER-DOC index's stored band keys (the same frame
        ``_maintain_long_index`` prunes stale keys from), so the
        delete is pruned to the doomed keys' bkp partitions. Index
        tables go first, corpus last: leftover band rows only cost
        candidate I/O (the verify reads current shingles), while a
        corpus row without index rows would silently stop gating — the
        crash-safe order avoids matched ghosts, and re-running the
        delete clears any partial state."""
        ids1 = normalize_ids(self.spark, ids, self.id_col)
        existing = self.corpus.read()
        if existing is None:
            return 0
        # prune the membership check to the ids' own partitions (same
        # rule as known_ids: a doc can only live at its id's idp)
        doomed_ids, n = materialize(
            known_ids(self.corpus, existing, ids1, self.id_col,
                      self.idp_parts).join(ids1, self.id_col, "left_semi"))
        if n == 0:
            return 0
        if self.band_index is not None:
            doc_index = self.band_index.read()
            if doc_index is not None:
                if self.band_index.partition_col == "idp" \
                        and "idp" in doc_index.columns:
                    # prune the stored-band-key fetch to the ids' own
                    # partitions (same exactness rule as known_ids)
                    idps = [r[0] for r in doomed_ids
                            .select(id_partition(F.col(self.id_col),
                                                 self.idp_parts)
                                    .alias("p")).distinct().collect()]
                    doc_index = doc_index.filter(
                        F.col("idp").isin(idps))
                if self.band_long_index is not None \
                        and self.band_long_index.read() is not None:
                    doomed_rows_ = doc_index.join(
                        doomed_ids, self.id_col, "left_semi")
                    self.band_long_index.delete_keys(
                        self._explode_long(doomed_rows_)
                        .select(self.id_col, "band_key", "bkp"))
                keys = doomed_ids
                if self.band_index.partition_col == "idp":
                    keys = keys.withColumn(
                        "idp", id_partition(F.col(self.id_col),
                                            self.idp_parts))
                self.band_index.delete_keys(keys)
        cols = [self.id_col] \
            + (["idp"] if self.corpus.partition_col == "idp" else [])
        doomed_keyed = doomed_ids
        if "idp" in cols:
            doomed_keyed = doomed_ids.withColumn(
                "idp", id_partition(F.col(self.id_col), self.idp_parts))
        self.corpus.delete_keys(doomed_keyed.select(*cols))
        self.stats["deleted"] += n
        return n

    def _doc_index_keys(self, rows: DataFrame) -> DataFrame:
        keys = rows.select(self.id_col)
        if self.band_index.partition_col == "idp":
            keys = keys.withColumn(
                "idp", id_partition(F.col(self.id_col), self.idp_parts))
        return keys

    @release_scope()
    def reconcile(self) -> dict:
        """Repair corpus/band-index divergence after a crash between
        the family's table writes (round 10 — the band twin of
        :meth:`AnnIndexJob.reconcile`): corpus docs missing their
        per-doc index row are re-shingled and merged into BOTH index
        tables (they had silently stopped gating); per-doc rows whose
        doc left the corpus are deleted from both (ghost candidates,
        via their STORED band keys — no re-shingling); finally the
        long index is synced row-level against the repaired per-doc
        table (a crash between the two index merges can leave it
        missing keys, which MISSES candidates). Idempotent; run
        between triggers; no-op on the recompute path. Returns
        ``{"re_indexed": n, "orphans_dropped": n,
        "long_repaired": n}``.

        Cost: id anti-joins for the corpus/per-doc directions plus one
        explode of the per-doc table for the long sync — a scheduled
        maintenance scan, not a per-trigger cost (the write ORDER
        makes divergence a crash-only state)."""
        out = {"re_indexed": 0, "orphans_dropped": 0,
               "long_repaired": 0}
        if self.band_index is None:
            return out  # recompute path derives candidates per batch
        corpus = self.corpus.read()
        doc_idx = self.band_index.read()
        has_long = (self.band_long_index is not None
                    and self.band_long_index.read() is not None)
        if corpus is None:
            if doc_idx is not None:
                n = doc_idx.count()
                if n:
                    if has_long:
                        self.band_long_index.delete_keys(
                            self._explode_long(doc_idx)
                            .select(self.id_col, "band_key", "bkp"))
                    self.band_index.delete_keys(
                        self._doc_index_keys(doc_idx))
                    out["orphans_dropped"] = n
            return out
        missing = corpus if doc_idx is None else corpus.join(
            doc_idx.select(self.id_col), self.id_col, "left_anti")
        missing, n_miss = materialize(missing)
        if n_miss:
            rows, _ = materialize(self._index_rows(missing))
            self.band_index.merge(rows)
            if self.band_long_index is not None:
                self.band_long_index.merge(self._explode_long(rows))
                has_long = True
            out["re_indexed"] = n_miss
        if doc_idx is not None:
            orphans, n_orp = materialize(
                doc_idx.join(corpus.select(self.id_col), self.id_col,
                             "left_anti"))
            if n_orp:
                if has_long:
                    self.band_long_index.delete_keys(
                        self._explode_long(orphans)
                        .select(self.id_col, "band_key", "bkp"))
                self.band_index.delete_keys(
                    self._doc_index_keys(orphans))
                out["orphans_dropped"] = n_orp
        if self.band_long_index is not None:
            doc_now = self.band_index.read()
            long_now = self.band_long_index.read()
            want = None if doc_now is None else \
                materialize(self._explode_long(doc_now))[0]
            keys = [self.id_col, "band_key"]
            if want is None:
                if long_now is not None:
                    n = long_now.count()
                    if n:
                        self.band_long_index.delete_keys(
                            long_now.select(self.id_col, "band_key",
                                            "bkp"))
                        out["long_repaired"] = n
            else:
                miss_l = want if long_now is None else want.join(
                    long_now.select(*keys), keys, "left_anti")
                miss_l, n_ml = materialize(miss_l)
                if n_ml:
                    self.band_long_index.merge(miss_l)
                stale_l, n_sl = (None, 0) if long_now is None else \
                    materialize(long_now.join(want.select(*keys), keys,
                                              "left_anti"))
                if n_sl:
                    self.band_long_index.delete_keys(
                        stale_l.select(self.id_col, "band_key", "bkp"))
                out["long_repaired"] = n_ml + n_sl
        return out

    def _long_recipe(self) -> dict:
        return {"kind": "minhash-band", "k": self.k,
                "bands": self.bands, "n_parts": self.n_parts,
                "idp_parts": self.idp_parts}

    def reshard_index(self, n_parts: int | None = None,
                      idp_parts: int | None = None) -> None:
        """Migrate the persisted index tables to new partition moduli
        (round 9 — the band-family twin of ``SemanticIngestJob.
        reshard``): a table that outgrew its declared ``n_parts`` /
        ``idp_parts`` is rebuilt at the new modulus, one atomic
        version swap per table, the recorded recipe updated in the
        same step. No re-shingling: the long table re-explodes the
        per-doc index; idp migration re-stamps the partition column
        from the id. Run between triggers — a probe's moduli must
        match the tables it prunes."""
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
        # crash-safe choreography: stage the new recipes FIRST (a
        # leftover .next marker fails every later attach loudly), then
        # rebuild, then commit — neither crash window can leave a
        # recipe silently validating a table of the other generation
        staged = []
        if self.band_long_index is not None:
            recipe_begin(self.band_long_index.path, self._long_recipe())
            staged.append(self.band_long_index.path)
        if idp_parts is not None and self.corpus.partition_col == "idp":
            recipe_begin(self.corpus.path,
                         corpus_recipe(self.idp_parts))
            staged.append(self.corpus.path)

        def restamp(table) -> None:
            df = table.read()
            if df is not None and not df.isEmpty():
                table.replace(df.drop("idp").withColumn(
                    "idp", id_partition(F.col(self.id_col),
                                        self.idp_parts)))

        if idp_parts is not None:
            if (self.band_index is not None
                    and self.band_index.partition_col == "idp"):
                restamp(self.band_index)
            if self.corpus.partition_col == "idp":
                restamp(self.corpus)
        if (n_parts is not None and self.band_long_index is not None
                and self.band_index is not None):
            doc_rows = self.band_index.read()
            if doc_rows is not None and not doc_rows.isEmpty():
                new_rows = self._explode_long(doc_rows)
                if new_rows.isEmpty():
                    # all-tombstone per-doc index (every doc emptied):
                    # the correct long table is EMPTY — replace() would
                    # refuse, so delete every surviving row instead
                    if self.band_long_index.read() is not None:
                        self.band_long_index.delete_keys(
                            self.band_long_index.read())
                else:
                    self.band_long_index.replace(new_rows)
        for path in staged:
            recipe_commit(path)

    def writer(self, stream: DataFrame, checkpoint: str):
        return (stream.writeStream
                .foreachBatch(self.process_batch)
                .option("checkpointLocation", checkpoint)
                .outputMode("update"))
