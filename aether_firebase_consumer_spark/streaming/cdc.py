"""Tombstone-driven takedowns through the SAME stream that feeds the
persisted indexes (round 10).

A compacted Kafka topic — the canonical CDC feed — represents a
takedown as a keyed record with a **null payload**: the tombstone of
the Kafka log-compaction contract (key present, value absent). The
reference consumes keyed documents and upserts them by id
(`/root/reference/firebase/app/artifacts.py:229-268` — every message
is an id-keyed write); the delete dual of that contract is the
tombstone, and a 100 TB deployment with retention/takedown
requirements needs it to flow through the *same* pipeline as the
upserts, in order, exactly once — not through an out-of-band admin
script that races the ingest.

:class:`CdcIngest` is a mixin over the four ingest jobs
(`AnnIndexJob`, `SemanticIngestJob`, `EmbeddingIngestJob`,
`DedupIngestJob`). Per micro-batch it:

1. collapses the batch to the **latest record per id** (``order_col``,
   normally the Kafka ``offset`` — per-key order is per-partition
   order for a keyed topic, so the offset is the correct sequence);
2. splits on the payload column: null payload → tombstone, else live;
3. applies the job's partition-pruned :meth:`delete` for the
   tombstoned ids **first**, then the normal :meth:`process_batch`
   MERGE for the live rows.

Delete-before-merge gives end-of-batch semantics for the gated jobs:
a new document arriving in the same batch as the takedown of its
near-duplicate is judged against the post-takedown corpus (the gate
doc is gone, so the newcomer is admitted). Both halves are idempotent
(MERGE by key; delete of an absent id is a no-op), so a foreachBatch
retry of the same epoch converges — the exactly-once story is
unchanged from the plain writer.

Scale shape: the collapse is one window over the micro-batch (size ∝
batch, never corpus); the split is two filters over one
``materialize`` pin; deletes and merges are the jobs' existing
partition-pruned paths. Nothing here scans the corpus beyond what
:meth:`delete` already prunes to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aether_firebase_consumer_spark.materialize import materialize, release_scope
from aether_firebase_consumer_spark.sinks.upsert import latest_per_key


class CdcIngest:
    """Mixin adding tombstone-aware batch processing to an ingest job.

    Requires the host class to provide ``id_col``, a payload column
    (``vec_col`` or ``text_col``), ``delete(ids)`` and
    ``process_batch(batch, epoch_id)``.
    """

    def _cdc_payload_col(self) -> str:
        col = getattr(self, "vec_col", None)
        if col is None:
            col = getattr(self, "text_col", None)
        if col is None:  # pragma: no cover - host class contract
            raise AttributeError(
                "CdcIngest host must define vec_col or text_col")
        return col

    @release_scope()
    def process_cdc_batch(self, batch: DataFrame, epoch_id: int,
                          order_col: str | list[str] | None = None,
                          ) -> dict:
        """Apply one CDC micro-batch: tombstones (null payload) are
        takedowns, the rest upserts. Returns
        ``{"tombstones": n, "deleted": n, "upserts": n}`` —
        ``deleted`` can be smaller than ``tombstones`` when an id was
        never (or no longer) present, which is legal CDC traffic."""
        pc = self._cdc_payload_col()
        if order_col is not None:
            seq = ([order_col] if isinstance(order_col, str)
                   else list(order_col))
            batch = latest_per_key(batch, [self.id_col], seq).drop(*seq)
        else:
            # caller promises ≤1 record per id (e.g. upstream compacted)
            batch = batch.dropDuplicates([self.id_col])
        # referenced twice (split) + counted: pin the collapse once
        batch, n = materialize(batch)
        dead = batch.where(F.col(pc).isNull()).select(self.id_col)
        live = batch.where(F.col(pc).isNotNull())
        n_dead = dead.count()
        deleted = self.delete(dead) if n_dead else 0
        n_live = n - n_dead
        if n_live:
            self.process_batch(live, epoch_id)
        return {"tombstones": n_dead, "deleted": deleted,
                "upserts": n_live}

    def cdc_writer(self, stream: DataFrame, checkpoint: str,
                   order_col: str | list[str] | None = None):
        """`writeStream` wiring for a CDC feed — the tombstone-aware
        twin of the jobs' plain :meth:`writer`."""
        return (stream.writeStream
                .foreachBatch(lambda b, e:
                              self.process_cdc_batch(b, e, order_col))
                .option("checkpointLocation", checkpoint))
