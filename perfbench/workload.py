"""Workload definitions, deterministic documents and the reference replay.

Pure Python, no Spark: the load generator process and the consumer
process both import it, so each can rebuild any document from the
run's seed alone.

A document is identified by an integer ``idx``; its JSON bytes are a
pure function of ``(seed, idx, rev)`` (see :func:`doc_bytes`). Seeded
documents carry ``rev = 0``; the ``j``-th document of the steady
stream carries ``rev = j + 1``, so every update is distinguishable.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import random
import zlib
from dataclasses import dataclass

TENANT = "tenant1"
TOPIC = "bench.docs"          # the one Kafka topic the consumer reads
PARTITIONS = 4
#: document topics: the first three pass the filter, the last does not
DOC_TOPICS = ("tenant1.click", "tenant1.view", "tenant1.visit",
              "tenant1.audit")
PASS_TOPICS = DOC_TOPICS[:3]
MASKED = ("props",)           # classified private, dropped by the mask
#: from_json schema of a document (``offset`` comes from Kafka)
DOC_SCHEMA = ("id string, topic string, status string, user_id bigint, "
              "value double, rev bigint, props string")
#: document fields the final table is compared on (transport metadata
#: such as ``offset`` is left out)
COMPARE_FIELDS = ("id", "topic", "status", "user_id", "value", "rev",
                  "target_path")

#: open loop: one lz4 batch per partition every TICK_S; NEW_SHARE of the
#: documents are new ids, the rest Zipf(ZIPF_S)-skewed updates
TICK_S = 0.1
NEW_SHARE = 0.7
ZIPF_S = 1.1
#: untimed triggers of the workload's own shape after the seed trigger
WARMUP_TRIGGERS = 2

_STATUS = ("operational", "degraded", "maintenance")
_WORDS = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
          "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
          "oscar", "papa", "quebec", "romeo", "sierra", "tango")


@dataclass(frozen=True)
class Workload:
    """One traffic shape. ``mode`` is ``open`` (scheduled sends that do
    not wait for the consumer) or ``closed`` (a released backlog is
    drained before the next one is released)."""

    name: str
    why: str
    mode: str
    seed_ids: int                 # ids in the tables before the query starts
    max_per_trigger: int | None   # maxOffsetsPerTrigger, None = uncapped
    rate: int = 0                 # open loop: documents per second
    round_docs: int = 0           # closed loop: documents per round
    resend: bool = False          # closed loop: re-send seeded documents


WORKLOADS = {
    w.name: w for w in (
        Workload(
            name="steady",
            why="open loop at 200 docs/s in 100 ms lz4 batches over 5k "
                "seeded ids: ~700-doc triggers, so the fixed per-trigger "
                "job chain sets freshness",
            mode="open", seed_ids=5_000, max_per_trigger=None, rate=200),
        Workload(
            name="backlog",
            why="catch-up after downtime: a 30k-doc release of new ids "
                "over 20k seeded ids, drained at 10k docs/trigger, so "
                "per-document work weighs in throughput",
            mode="closed", seed_ids=20_000, max_per_trigger=10_000,
            round_docs=10_000),
        Workload(
            name="resend",
            why="as backlog, but every document is a byte-identical "
                "re-send of a seeded one, so the hash gate is exercised "
                "as a reader",
            mode="closed", seed_ids=20_000, max_per_trigger=10_000,
            round_docs=10_000, resend=True),
    )
}


# -- documents ---------------------------------------------------------

def doc_id(idx: int) -> str:
    return f"doc-{idx:08d}"


def doc_topic(idx: int) -> str:
    return DOC_TOPICS[idx % len(DOC_TOPICS)]


def passes_filter(idx: int) -> bool:
    return doc_topic(idx) in PASS_TOPICS


def doc_partition(idx: int) -> int:
    """Key partitioning: every version of an id lands on one Kafka
    partition, so offset order is send order for that id."""
    return zlib.crc32(doc_id(idx).encode()) % PARTITIONS


def doc_fields(seed: int, idx: int, rev: int) -> dict:
    """The document ``idx`` at revision ``rev`` (a pure function)."""
    h = hashlib.blake2b(f"{seed}:{idx}:{rev}".encode(),
                        digest_size=24).digest()
    words = " ".join(_WORDS[b % len(_WORDS)] for b in h[8:8 + 6 + h[7] % 12])
    return {
        "id": doc_id(idx),
        "topic": doc_topic(idx),
        "status": _STATUS[h[0] % len(_STATUS)],
        "user_id": int.from_bytes(h[1:5], "big"),
        "value": int.from_bytes(h[5:7], "big") / 100,
        "rev": rev,
        "props": words,
    }


def doc_bytes(seed: int, idx: int, rev: int) -> bytes:
    return json.dumps(doc_fields(seed, idx, rev),
                      separators=(",", ":")).encode()


# -- traffic -----------------------------------------------------------

class SteadyStream:
    """The open-loop document sequence: item ``j`` is ``(idx, rev)``.
    New ids count up from the end of the seed; updates pick a seeded id
    with Zipf-skewed popularity. Deterministic in ``seed``."""

    def __init__(self, seed: int, wl: Workload) -> None:
        self._rng = random.Random(seed * 7919 + 17)
        self._wl = wl
        self._next_new = wl.seed_ids
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(wl.seed_ids)]
        total = sum(weights)
        acc, self._cdf = 0.0, []
        for w in weights:
            acc += w / total
            self._cdf.append(acc)
        self.items: list[tuple[int, int]] = []

    def take(self, n: int) -> list[tuple[int, int]]:
        out = []
        for _ in range(n):
            rev = len(self.items) + 1
            if self._rng.random() < NEW_SHARE:
                idx = self._next_new
                self._next_new += 1
            else:
                rank = min(bisect.bisect_left(self._cdf, self._rng.random()),
                           self._wl.seed_ids - 1)
                idx = (rank * 7919) % self._wl.seed_ids  # scatter hot ids
            self.items.append((idx, rev))
            out.append((idx, rev))
        return out


def closed_round(wl: Workload, k: int) -> list[tuple[int, int]]:
    """Round ``k`` of a closed-loop workload, one capped trigger's worth
    of ``(idx, rev)`` items: fresh ids for ``backlog``, seeded documents
    (rev 0, so byte-identical to the seed) for ``resend``. A release is
    one or more consecutive rounds."""
    if wl.resend:
        base = k * wl.round_docs
        return [((base + i) % wl.seed_ids, 0) for i in range(wl.round_docs)]
    base = wl.seed_ids + k * wl.round_docs
    return [(base + i, 0) for i in range(wl.round_docs)]


def split_by_key(items: list) -> dict[int, list]:
    parts: dict[int, list] = {p: [] for p in range(PARTITIONS)}
    for item in items:
        parts[doc_partition(item[0])].append(item)
    return parts


def split_round(items: list) -> dict[int, list]:
    """Closed-loop releases go round-robin over partitions, so every
    partition gets the same share and each trigger is exactly
    ``max_per_trigger`` documents."""
    parts: dict[int, list] = {p: [] for p in range(PARTITIONS)}
    for i, item in enumerate(items):
        parts[i % PARTITIONS].append(item)
    return parts


# -- reference replay --------------------------------------------------

def expected_row(fields: dict) -> dict | None:
    """filter → mask → route of one document in plain Python; None when
    the filter drops it."""
    if fields["topic"] not in PASS_TOPICS:
        return None
    row = {k: v for k, v in fields.items() if k not in MASKED}
    row["target_path"] = ("_aether/entities/"
                          + fields["topic"].removeprefix(TENANT + "."))
    return row


def replay(seed: int, sent) -> dict[str, dict]:
    """Final doc table the pipeline must produce from every sent
    ``(idx, rev)``, in send order, the last writer winning per id.

    Send order is the pipeline's order: the versions of an id that can
    differ (seed and open-loop updates) all go to the id's partition,
    so later sends have higher offsets and land in the same or a later
    trigger. Closed-loop releases spread over partitions, but they
    carry each id once, after its seed."""
    table: dict[str, dict] = {}
    for idx, rev in sent:
        row = expected_row(doc_fields(seed, idx, rev))
        if row is not None:
            table[row["id"]] = row
    return table


def compare_tables(expected: dict[str, dict],
                   actual: dict[str, dict]) -> list[str]:
    """Ids whose row is missing, wrong or unexpected."""
    bad = [i for i, row in expected.items()
           if {k: actual.get(i, {}).get(k) for k in COMPARE_FIELDS} != row]
    bad += [i for i in actual if i not in expected]
    return sorted(bad)
