"""Streaming per-key top-k — bounded keyed state.

The operator: each key maintains the k largest (value, id) pairs ever
seen and emits its refreshed ranking whenever new rows arrive. This is
the leaderboard / per-entity-extremes pattern: state is O(k) per key
(the store never holds history), updates are merge + truncate, and the
plan adds exactly one shuffle (hash partition on the key), so
throughput scales with executors like any keyed streaming aggregate.

:func:`streaming_topk_per_key` binds it to ``applyInPandasWithState``
(GroupState); the state is the top-k lists themselves (two bounded
arrays). Spark 4's ``transformWithStateInPandas`` is not bound: its
Python↔JVM state protocol needs ``google.protobuf``, which this image
lacks.

The reference engine has no stateful surface at all (its consumer is
stateless per message, ``firebase/app/artifacts.py:302-327``); this is
capability-gap coverage (SURVEY.md §2.2 stateful streaming row).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: Output schema of :func:`streaming_topk_per_key`.
TOPK_OUTPUT_SCHEMA = (
    "user_id bigint, rank int, value double, event_id bigint"
)


def _merge_topk(pairs: list[tuple[float, int]], k: int
                ) -> list[tuple[float, int]]:
    """Deterministic ranking: value desc, event_id asc tie-break."""
    pairs.sort(key=lambda p: (-p[0], p[1]))
    return pairs[:k]


def streaming_topk_per_key(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-key running top-k via ``applyInPandasWithState`` (streaming
    only — the legacy API rejects batch frames; the batch equivalent is
    the ``window_topk_per_group`` query). Tests replay the stream in
    micro-batches and compare the final state against the window top-k
    oracle."""

    def topk(key: Tuple[Any],
             pdfs: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            values, ids = state.get
            pairs = list(zip(values, ids))
        else:
            pairs = []
        new = False
        for pdf in pdfs:
            if len(pdf):
                new = True
                pairs.extend(zip(pdf["value"].astype(float),
                                 pdf["event_id"].astype(int)))
        pairs = _merge_topk(pairs, k)
        state.update(([v for v, _ in pairs], [i for _, i in pairs]))
        if not new:
            return
        (uid,) = key
        yield pd.DataFrame({
            "user_id": [int(uid)] * len(pairs),
            "rank": list(range(1, len(pairs) + 1)),
            "value": [v for v, _ in pairs],
            "event_id": [i for _, i in pairs],
        })

    return (events.select("user_id", "value", "event_id")
            .groupBy("user_id")
            .applyInPandasWithState(
                topk,
                outputStructType=TOPK_OUTPUT_SCHEMA,
                stateStructType="values array<double>, ids array<bigint>",
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))
