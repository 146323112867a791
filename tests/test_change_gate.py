"""The O10 change gate of the streaming upsert sink (fast tier).

The content hash is a column of the doc table and covers every column
except the ``seq_col`` offset. A byte-identical document re-sent at a
new offset is therefore gated out, and a trigger that does write
commits exactly one version of one table.
"""

from __future__ import annotations

import os

from aether_firebase_consumer_spark.sinks.upsert import (
    HashStateTable,
    ParquetUpsertTable,
)
from aether_firebase_consumer_spark.streaming.pipeline import (
    PipelineConfig,
    StreamingUpsertJob,
)

DDL = "id string, payload string, offset long"


def test_resend_at_new_offset_is_gated_and_a_change_commits_once(
        spark, tmp_path):
    cfg = PipelineConfig(tenant="t1", sync_mode="sync", seq_col="offset")
    docs = ParquetUpsertTable(spark, str(tmp_path / "docs"), ["id"])
    hash_path = str(tmp_path / "hashes")
    hashes = HashStateTable(spark, hash_path)
    job = StreamingUpsertJob(cfg, docs, hashes)

    def send(rows, epoch_id):
        job.process_batch(spark.createDataFrame(rows, DDL), epoch_id)

    send([("x", "a", 1), ("y", "b", 2)], 0)
    v = docs.current_version()

    # the same documents, byte for byte, at higher offsets: no commit
    send([("x", "a", 3), ("y", "b", 4)], 1)
    assert docs.current_version() == v

    # one changed document beside an unchanged re-send: one version
    send([("x", "a2", 5), ("y", "b", 6)], 2)
    assert docs.current_version() == v + 1
    assert sorted((r.id, r.change_type)
                  for r in docs.changes(v + 1).collect()) == \
        [("x", "update")]
    got = {r.id: (r.payload, r.offset) for r in docs.read().collect()}
    assert got == {"x": ("a2", 5), "y": ("b", 2)}

    # the hash lives in the doc table; its own table is never written
    assert "hash" in docs.read().columns
    assert hashes.table.current_version() == -1
    assert [n for _, _, names in os.walk(hash_path) for n in names] == []
