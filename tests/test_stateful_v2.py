"""Streaming per-key top-k (bounded keyed state)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from aether_firebase_consumer_spark.streaming.stateful_v2 import (
    streaming_topk_per_key,
)
from aether_firebase_consumer_spark.tables import normalize_event_ts

SF = "/root/testdata/sf0.001"


def _batch_topk(ev, k=3):
    w = W.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (ev.select("user_id", "value", "event_id")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("user_id", "rank", "value", "event_id"))


def test_streaming_topk_matches_batch_across_batches(spark, tmp_path):
    """Feed the events in TWO micro-batches; the maintained state after
    the last trigger must equal the window top-k over ALL events —
    state carries across triggers."""
    ev = normalize_event_ts(spark.read.parquet(f"{SF}/events.parquet"))
    src = tmp_path / "src"
    src.mkdir()
    ev.where(F.col("event_id") % 2 == 0).write.parquet(
        str(src / "b0.parquet"))
    ev.where(F.col("event_id") % 2 == 1).write.parquet(
        str(src / "b1.parquet"))
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(str(src)))
    out = streaming_topk_per_key(stream, k=3)
    q = (out.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .format("memory").queryName("topk_out").start())
    q.processAllAvailable()
    q.stop()

    emitted = spark.sql("SELECT * FROM topk_out")
    assert emitted.count() > 0
    expected = {(r["user_id"], r["rank"]): (r["value"], r["event_id"])
                for r in _batch_topk(ev).collect()}
    # The merged state only improves: at every rank the later emission
    # dominates under (value desc, event_id asc), so the final ranking
    # per (user, rank) is the best emitted pair — no reliance on
    # memory-sink row order.
    best: dict = {}
    for r in emitted.collect():
        key = (r["user_id"], r["rank"])
        cand = (r["value"], r["event_id"])
        if key not in best or (-cand[0], cand[1]) < \
                (-best[key][0], best[key][1]):
            best[key] = cand
    assert best == expected
