"""The E1 data path as a Structured Streaming pipeline (SURVEY.md §3).

Reference flow (``firebase/app/artifacts.py:263-327,382-406``):
poll → Avro-decode → filter (O3) → mask (O4) → route (O5/O6/O7) →
sync-mode gate (O8) → hash-gated (O10) batched upsert (O12).

Here the *same operator expressions* used by the batch queries are
applied to a streaming DataFrame; delivery is checkpoint + idempotent
MERGE in ``foreachBatch`` — the effectively-once upgrade of the
reference's manual-offset-commit + idempotent-set
(``firebase/conf/consumer/kafka.json:5``, ``artifacts.py:405-406``).

The source is pluggable (Kafka in production — same expressions after
``from_avro``/``from_json``; file/rate/memory sources in tests, since
the v1 image has no broker).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aether_firebase_consumer_spark.functions.hashing import content_hash_expr
from aether_firebase_consumer_spark.operators.filtering import FilterConfig, apply_filter
from aether_firebase_consumer_spark.operators.masking import MaskConfig, apply_mask
from aether_firebase_consumer_spark.operators.routing import Subscription, route_topics
from aether_firebase_consumer_spark.sinks.upsert import (
    HashStateTable,
    ParquetUpsertTable,
    latest_per_key,
)
from aether_firebase_consumer_spark.streaming.schema_drift import SchemaDriftDetector


@dataclass
class PipelineConfig:
    """One subscription's worth of pipeline configuration (the
    Subscription resource, ``firebase/app/fixtures/schemas.py:128-296``)."""

    tenant: str
    filter_config: FilterConfig | None = None
    mask_config: MaskConfig | None = None
    classifications: dict | None = None
    subscriptions: Sequence[Subscription] = field(default_factory=tuple)
    topic_col: str = "topic"
    id_col: str = "id"
    sync_mode: str = "forward"  # forward | sync | consume (helpers.py:42-46)
    #: ordering column (e.g. Kafka offset) used to pick the LATEST
    #: version when one micro-batch carries several versions of a doc;
    #: None falls back to an arbitrary-but-single survivor
    seq_col: str | None = None


def transform(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Apply filter → mask → route to a (batch or streaming) DataFrame.
    Identical expressions either way — this is the single definition of
    the pipeline's semantics."""
    out = df
    if cfg.filter_config is not None:
        out = apply_filter(out, cfg.filter_config)
    if cfg.mask_config is not None:
        out = apply_mask(out, cfg.mask_config, cfg.classifications)
    if cfg.subscriptions:
        out = route_topics(out, cfg.topic_col, cfg.subscriptions, cfg.tenant)
        out = out.filter(F.col("target_path").isNotNull())
    return out


class StreamingUpsertJob:
    """foreachBatch sink: sync-mode gate (O8) + hash-gated change
    detection (O10) + MERGE upsert (O12) + schema drift log (O14).

    The content hash is a column of ``doc_table``, gated by
    ``hash_table`` against the table's own ``(id, hash)``: a writing
    trigger makes exactly ONE commit (``hash_table``'s path is unused)."""

    def __init__(self, cfg: PipelineConfig, doc_table: ParquetUpsertTable,
                 hash_table: HashStateTable):
        self.cfg = cfg
        self.doc_table = doc_table
        self.hash_table = hash_table
        self.drift = SchemaDriftDetector()
        self.batches_seen = 0

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        self.batches_seen += 1
        self.drift.observe(batch)
        mode = self.cfg.sync_mode
        if mode in ("consume", "none"):
            # CONSUME/NONE: read and drop (firebase/app/artifacts.py:390-394)
            return
        # hash the document, not its position in the log: a
        # byte-identical re-send at a new offset must match its hash
        content = [c for c in batch.columns if c != self.cfg.seq_col]
        hashed = batch.withColumn("hash", content_hash_expr(batch, content))
        if self.cfg.id_col != "id":
            hashed = hashed.withColumnRenamed(self.cfg.id_col, "id")
        if self.cfg.seq_col is not None:
            # last writer wins: the latest version per id by offset
            hashed = latest_per_key(hashed, ["id"], self.cfg.seq_col)
        if mode == "sync":
            hashed = self.hash_table.needs_update(hashed, self.doc_table)
        # forward: unconditional. Either way one merge commits docs and
        # hashes; an empty gated batch commits nothing
        self.hash_table.record(hashed, self.doc_table)

    def writer(self, stream: DataFrame, checkpoint: str):
        # observe(): per-batch row count + distinct-path reach computed
        # INSIDE the streaming plan (no extra pass) and surfaced in
        # every StreamingQueryProgress under observedMetrics — the
        # counterpart of the reference's every-100-messages report
        # counter (firebase/app/artifacts.py:305,322,327), but pulled
        # from the engine, not hand-tallied in a loop
        metrics = [F.count(F.lit(1)).alias("rows_out")]
        if self.cfg.subscriptions:  # target_path only exists when routed
            metrics.append(F.approx_count_distinct("target_path")
                           .alias("paths_reached"))
        observed = transform(stream, self.cfg).observe(
            "afcs_pipeline", *metrics)
        return (observed
                .writeStream
                .foreachBatch(self.process_batch)
                .option("checkpointLocation", checkpoint)
                .outputMode("update"))
