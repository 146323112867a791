"""Custom stateful streaming operator: per-key hash change detection
via ``applyInPandasWithState`` — the reference's O10
(``firebase/app/helpers.py:51-67``, intended call site
``artifacts.py:396-402``) as TRUE streaming state instead of a per-doc
remote read.

Where ``sinks.upsert.HashStateTable`` implements O10 as a per-micro-
batch anti-join against the doc table's own ``hash`` column (the
replayable, rescalable default: gate and write commit as one table
version), this operator keeps the last-seen content hash *in Spark's
keyed state store*: one state row per document id, checkpointed with
the query, recovered on restart. That is the right shape when the
change-gate must be low-latency and inline (no sink round-trip), and it
demonstrates the engine's arbitrary-stateful surface
(flatMapGroupsWithState semantics from Python, Arrow-batched).

Scale posture: state is partitioned by the grouping key across
executors (RocksDB-backed store in production configs), so state size
scales horizontally with the cluster; the operator itself adds exactly
one shuffle (hash-partition by id).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def change_detect_stream(stream: DataFrame, id_col: str = "id",
                         hash_col: str = "hash",
                         seq_col: str | None = None,
                         state_ttl_ms: int | None = None) -> DataFrame:
    """Emit only rows whose ``hash_col`` differs from the last hash seen
    for their ``id_col`` (new ids always emit). State: one hash string
    per id.

    The reference's semantics are Kafka-offset order within a key
    (sequential poll loop, ``artifacts.py:310-326``), but
    ``applyInPandasWithState`` gives NO intra-batch ordering guarantee
    after the shuffle — so when a micro-batch can carry multiple
    versions of one id, pass ``seq_col`` (event time / offset) and each
    group is explicitly stably sorted on it before the hash fold.
    Without ``seq_col``, per-key order within a batch is whatever the
    shuffle produced; only use that when keys are unique per batch.

    ``state_ttl_ms`` bounds state size for UNBOUNDED key spaces (at
    100 TB the doc-id space never stops growing; without a TTL the
    state store grows forever): keys idle longer than the TTL are
    evicted via a processing-time timeout, and a doc re-seen after
    eviction re-emits as new — the safe direction for a change gate
    (at-least-once emission, idempotent MERGE downstream absorbs it).

    TTL mode requires a CONTINUOUS trigger (default or
    ``processingTime``): ``FlatMapGroupsWithStateExec`` with a
    processing-time timeout always reports "should run another batch",
    so a run-to-completion trigger (``availableNow``/``once``) never
    terminates — it busy-spins no-data batches and the checkpoint
    metadata log grows unboundedly. Pass ``state_ttl_ms=None`` for
    drain-style jobs; :func:`validate_ttl_trigger` (used by
    :func:`start_change_detect_query`) raises on the bad combination
    instead of hanging."""
    out_schema = stream.schema

    def detect(key: Tuple[Any],
               pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()          # idle key: evict, emit nothing
            return
        last = state.get[0] if state.exists else None
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((last,))
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True)
        if seq_col is not None:
            pdf = pdf.sort_values(seq_col, kind="stable",
                                  ignore_index=True)
        keep = []
        for i, h in enumerate(pdf[hash_col]):
            if h != last:
                keep.append(i)
                last = h
        state.update((last,))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if keep:
            yield pdf.iloc[keep]

    # append: emitted rows are final (never retracted), which also
    # composes with append-only sinks (files, Kafka)
    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if state_ttl_ms is not None else GroupStateTimeout.NoTimeout)
    return (stream.groupBy(id_col)
            .applyInPandasWithState(
                detect,
                outputStructType=out_schema,
                stateStructType="last_hash string",
                outputMode="append",
                timeoutConf=timeout))


def validate_ttl_trigger(state_ttl_ms: int | None,
                         **trigger_kwargs) -> dict:
    """Guard the TTL/trigger interaction: ``state_ttl_ms`` with a
    run-to-completion trigger (``availableNow=True`` / ``once=True``)
    makes the query spin forever (see :func:`change_detect_stream`), so
    that combination raises here instead of hanging at runtime. Returns
    the kwargs unchanged for inline use::

        .trigger(**validate_ttl_trigger(ttl, processingTime="1 second"))
    """
    if state_ttl_ms is not None and (trigger_kwargs.get("availableNow")
                                     or trigger_kwargs.get("once")):
        raise ValueError(
            "state_ttl_ms with a run-to-completion trigger "
            "(availableNow/once) never terminates: the processing-time "
            "timeout always schedules another batch. Use the default or "
            "a processingTime trigger, or drop the TTL for drain jobs.")
    return trigger_kwargs


def start_change_detect_query(stream: DataFrame, path: str,
                              checkpoint: str, id_col: str = "id",
                              hash_col: str = "hash",
                              seq_col: str | None = None,
                              state_ttl_ms: int | None = None,
                              output_format: str = "parquet",
                              **trigger_kwargs):
    """Wire :func:`change_detect_stream` to a file sink and start it,
    with the TTL/trigger footgun structurally impossible
    (:func:`validate_ttl_trigger` runs before anything starts)."""
    trigger_kwargs = validate_ttl_trigger(state_ttl_ms, **trigger_kwargs)
    out = change_detect_stream(stream, id_col, hash_col,
                               seq_col=seq_col, state_ttl_ms=state_ttl_ms)
    writer = (out.writeStream.format(output_format)
              .option("path", path)
              .option("checkpointLocation", checkpoint)
              .outputMode("append"))
    if trigger_kwargs:
        writer = writer.trigger(**trigger_kwargs)
    return writer.start()
