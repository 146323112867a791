"""The reference's consumer model, runnable against the wire broker.

The reference ingests with a group-scoped, manual-commit poll loop
(``consumer.poll_and_deserialize(timeout, num_messages)`` inside a
while-loop, ``firebase/app/artifacts.py:263-285``; ``enable.auto.
commit: false`` / ``auto.offset.reset: earliest`` from
``conf/consumer/kafka.json:3-6``). The Spark engine replaces that loop
with Structured Streaming + checkpoints — but O19's consumer-group
contract (commit AFTER processing, resume from the group's committed
position, group isolation) deserves an executable form, and non-Spark
tooling around a corpus (probes, backfills, smoke monitors) still
consumes this way. :class:`PollLoopConsumer` is that form: ~80 lines
over the wire client, crash-resume proven in tests.

:class:`GroupConsumer` adds the piece the reference actually leans on
the broker for: DYNAMIC PARTITION ASSIGNMENT. The reference's
consumers share the ``{tenant}.firebaseconsumer.{job_id}`` group
(``firebase/app/artifacts.py:226-232``) and let the broker's
rebalance protocol split partitions across instances; this class runs
that same protocol (FindCoordinator → JoinGroup → leader-computed
range assignment → SyncGroup → Heartbeat) against the wire broker —
two instances in one group consume disjoint partition sets, and a
member's death or departure hands its partitions to the survivors,
resuming from the group's committed offsets.

NOT a Spark input path — the engine's sources are ``kafka_py`` /
``stream_kafka_source``. This exists for reference parity and as the
second, independent consumer implementation the broker's offset APIs
are tested against.
"""

from __future__ import annotations

import re
import time as _time
from typing import Optional

from aether_firebase_consumer_spark.sources.kafka_wire import (
    EARLIEST,
    LATEST,
    GroupMembershipError,
    GroupRebalanceError,
    KafkaWireClient,
    range_assignment,
)


def _start_position(client: KafkaWireClient, group: str, reset: str,
                    tp: tuple[str, int]) -> int:
    """The group's committed position for ``tp``, else the
    ``auto.offset.reset`` end of its log."""
    committed = client.offset_fetch(group, *tp)
    if committed >= 0:
        return committed
    time = EARLIEST if reset == "earliest" else LATEST
    return client.list_offsets(tp[0], tp[1], time)


def _poll_partition(client: KafkaWireClient,
                    positions: dict[tuple[str, int], int],
                    tp: tuple[str, int], isolation: str,
                    out: list, max_messages: int) -> bool:
    """One Fetch v4 at ``tp``'s position: append up to ``max_messages``
    records to ``out`` as (topic, partition, offset, key, value) and
    advance the position past them. Zero records below the bound —
    the last stable offset for read_committed, else the high
    watermark — means the span holds no visible records (transaction
    markers, compaction gaps, aborted records: a v4 fetch always
    returns its first record whole), so the position skips to the
    bound. At or past it there is nothing to read yet; an open
    transaction may sit below the log end. Returns whether the
    position moved."""
    pos = positions[tp]
    recs, hw, lso = client.fetch_records_meta(tp[0], tp[1], pos,
                                              isolation=isolation)
    if not recs:
        bound = lso if isolation == "read_committed" else hw
        if pos < bound:
            positions[tp] = bound
            return True
        return False
    for off, _ts, key, value in recs:
        if len(out) >= max_messages:
            break
        out.append((tp[0], tp[1], off, key, value))
        positions[tp] = off + 1
    return True


class PollLoopConsumer:
    """Manual-commit poll loop: ``poll(n)`` → process → ``commit()``.

    At-least-once by construction, exactly like the reference: a crash
    between processing and commit re-delivers from the last committed
    position (the downstream idempotent upsert absorbs the replay)."""

    def __init__(self, bootstrap: str, group: str,
                 topics: Optional[list[str]] = None,
                 pattern: Optional[str] = None,
                 auto_offset_reset: str = "earliest") -> None:
        if bool(topics) == bool(pattern):
            raise ValueError("exactly one of topics/pattern required")
        if auto_offset_reset not in ("earliest", "latest"):
            raise ValueError(f"bad auto_offset_reset {auto_offset_reset!r}")
        host, _, port = bootstrap.rpartition(":")
        self._client = KafkaWireClient(host, int(port))
        self.group = group
        self._reset = auto_offset_reset
        meta = self._client.metadata(topics)
        rx = re.compile(pattern) if pattern else None
        self._tps: list[tuple[str, int]] = sorted(
            (t, p) for t, parts in meta.items()
            if (rx.fullmatch(t) if rx else True) for p in parts)
        #: next offset to read per tp (populated lazily from the
        #: group's committed position, else auto.offset.reset)
        self._pos: dict[tuple[str, int], int] = {}
        self._rr = 0

    def poll(self, max_messages: int = 1
             ) -> list[tuple[str, int, int, Optional[bytes],
                             Optional[bytes]]]:
        """≤ ``max_messages`` as (topic, partition, offset, key, value),
        round-robin across assigned partitions (the reference polls 1
        at a time — ``num_messages=1`` — which is just this with the
        default)."""
        out: list[tuple[str, int, int, Optional[bytes],
                        Optional[bytes]]] = []
        tried = 0
        while len(out) < max_messages and tried < len(self._tps):
            tp = self._tps[self._rr % len(self._tps)]
            self._rr += 1
            tried += 1
            if tp not in self._pos:
                self._pos[tp] = _start_position(
                    self._client, self.group, self._reset, tp)
            if _poll_partition(self._client, self._pos, tp,
                               "read_uncommitted", out, max_messages):
                tried = 0  # made progress: give every partition a new shot
        return out

    def commit(self) -> None:
        """Commit every consumed position broker-side — called AFTER
        processing, the manual-commit contract."""
        for (topic, partition), pos in self._pos.items():
            self._client.offset_commit(self.group, topic, partition, pos)

    def close(self) -> None:
        self._client.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


class GroupConsumer:
    """Broker-coordinated group member: joins, gets its partition
    share, polls only that share, heartbeats, and rebalances when the
    group changes — the reference's multi-instance consumption model.

    ``poll`` drives everything: it (re)joins on first use and whenever
    a heartbeat/commit reports a rebalance, so callers keep the same
    ``poll → process → commit`` loop as :class:`PollLoopConsumer`.
    Manual commit, at-least-once: a member that takes over a partition
    resumes from the GROUP's committed position (committed by whichever
    member held it last), re-delivering anything processed-but-
    uncommitted — exactly the reference's crash semantics.

    ``background_heartbeat=True`` moves heartbeating to a daemon
    thread on its OWN connection (the KIP-62 split of session liveness
    from processing progress): a member that takes longer than the
    session timeout to process a batch between polls stays in the
    group instead of being evicted mid-work — the exact hazard of the
    reference's process-then-commit loop under a slow sink. The
    thread only sends heartbeats; rebalances it observes flip
    ``_active`` and the next ``poll`` rejoins, same as the inline
    path."""

    def __init__(self, bootstrap: str, group: str, topics: list[str],
                 session_timeout_ms: int = 10000,
                 heartbeat_interval_ms: int = 1000,
                 auto_offset_reset: str = "earliest",
                 background_heartbeat: bool = False,
                 group_instance_id: str | None = None,
                 ssl_context=None,
                 sasl_plain: tuple[str, str] | None = None,
                 isolation: str = "read_uncommitted") -> None:
        if isolation not in ("read_uncommitted", "read_committed"):
            raise ValueError(f"unknown isolation level {isolation!r}")
        #: KIP-98: "read_committed" hides records of aborted or
        #: still-open transactions (fetches stop at the last stable
        #: offset); the default sees every record as it appends
        self._isolation = isolation
        host, _, port = bootstrap.rpartition(":")
        #: connection security, applied to EVERY connection this
        #: consumer opens (bootstrap probe, coordinator, heartbeat)
        self._conn_kw = dict(ssl_context=ssl_context,
                             sasl_plain=sasl_plain)
        # protocol fidelity: ask where the coordinator lives and talk
        # to it (single-node broker: it's the same address)
        with KafkaWireClient(host, int(port), **self._conn_kw) as probe:
            chost, cport = probe.find_coordinator(group)
        self._client = KafkaWireClient(chost, cport, **self._conn_kw)
        self.group = group
        self.topics = list(topics)
        self._session_ms = session_timeout_ms
        self._hb_interval = heartbeat_interval_ms / 1000.0
        self._reset = auto_offset_reset
        self.member_id = ""
        #: KIP-345 static membership: survives restarts, reclaiming
        #: the assignment without a rebalance (within session timeout)
        self.group_instance_id = group_instance_id
        self.generation = -1
        #: sorted (topic, partition) list this member currently owns
        self.assignment: list[tuple[str, int]] = []
        self._pos: dict[tuple[str, int], int] = {}
        self._rr = 0
        self._last_hb = 0.0
        self._active = False
        self._closed = False
        self._hb_thread = None
        if background_heartbeat:
            import threading
            self._hb_thread = threading.Thread(
                target=self._hb_loop, args=(chost, cport), daemon=True)
            self._hb_thread.start()

    def _hb_loop(self, host: str, port: int) -> None:
        """Background heartbeat on a dedicated connection (the wire
        client is one blocking socket — the poll loop keeps its own).
        Stale generation/member reads race benignly: the broker
        answers ILLEGAL_GENERATION/UNKNOWN_MEMBER_ID, which flips
        ``_active`` and the next poll rejoins."""
        hb_client = None
        while not self._closed:
            _time.sleep(self._hb_interval)
            if not self._active or self._closed:
                continue
            try:
                if hb_client is None:
                    hb_client = KafkaWireClient(host, port,
                                                **self._conn_kw)
                hb_client.heartbeat(self.group, self.generation,
                                    self.member_id)
                self._last_hb = _time.monotonic()
            except (GroupRebalanceError, GroupMembershipError):
                self._active = False
            except (ConnectionError, OSError, RuntimeError):
                try:
                    if hb_client is not None:
                        hb_client.close()
                finally:
                    hb_client = None
        if hb_client is not None:
            hb_client.close()

    # -- membership -------------------------------------------------------
    def _rejoin(self) -> None:
        """JoinGroup → (leader only) compute range assignment →
        SyncGroup; repeats if a concurrent membership change aborts
        the sync."""
        while True:
            try:
                me, gen, leader, members = self._client.join_group(
                    self.group, self.member_id, self.topics,
                    session_timeout_ms=self._session_ms,
                    group_instance_id=self.group_instance_id)
                self.member_id = me
                if me == leader:
                    topo = self._client.metadata(
                        sorted({t for subs in members.values()
                                for t in subs}))
                    plan = range_assignment(members, topo)
                    parts = self._client.sync_group(
                        self.group, gen, me, plan)
                else:
                    parts = self._client.sync_group(self.group, gen, me)
            except GroupRebalanceError:
                continue            # group moved on mid-sync: rejoin
            except GroupMembershipError:
                self.member_id = ""  # stale identity: start fresh
                continue
            self.generation = gen
            old = dict(self._pos)
            self.assignment = sorted(
                (t, p) for t, ps in parts.items() for p in ps)
            # positions for retained partitions carry over; gained
            # partitions re-resolve from the group's committed offsets
            self._pos = {tp: off for tp, off in old.items()
                         if tp in set(self.assignment)}
            self._rr = 0
            self._active = True
            self._last_hb = _time.monotonic()
            return

    def _maybe_heartbeat(self) -> None:
        if _time.monotonic() - self._last_hb < self._hb_interval:
            return
        try:
            self._client.heartbeat(self.group, self.generation,
                                   self.member_id)
            self._last_hb = _time.monotonic()
        except (GroupRebalanceError, GroupMembershipError):
            self._active = False

    # -- consumption ------------------------------------------------------
    def poll(self, max_messages: int = 1
             ) -> list[tuple[str, int, int, Optional[bytes],
                             Optional[bytes]]]:
        """≤ ``max_messages`` from this member's ASSIGNED partitions,
        (re)joining the group first when needed."""
        if not self._active:
            self._rejoin()
        self._maybe_heartbeat()
        if not self._active:     # heartbeat saw a rebalance
            self._rejoin()
        out: list[tuple[str, int, int, Optional[bytes],
                        Optional[bytes]]] = []
        tried = 0
        while (self.assignment and len(out) < max_messages
               and tried < len(self.assignment)):
            tp = self.assignment[self._rr % len(self.assignment)]
            self._rr += 1
            tried += 1
            if tp not in self._pos:
                self._pos[tp] = _start_position(
                    self._client, self.group, self._reset, tp)
            if _poll_partition(self._client, self._pos, tp,
                               self._isolation, out, max_messages):
                tried = 0
        return out

    def commit(self) -> None:
        """Commit consumed positions for the partitions this member
        holds — the group-shared positions a successor resumes from.

        Generation-fenced: a member whose membership lapsed (heartbeat
        saw a rebalance) must NOT write its stale positions over the
        new owners' progress (zombie commit — at-least-once survives
        but duplicates amplify), and positions for partitions lost in
        a rebalance are dropped rather than committed."""
        if not self._active:
            return
        held = set(self.assignment)
        self._pos = {tp: pos for tp, pos in self._pos.items()
                     if tp in held}
        for (topic, partition), pos in self._pos.items():
            self._client.offset_commit(self.group, topic, partition, pos)

    def close(self) -> None:
        """Leave the group (immediate rebalance for survivors) and
        drop the connection(s)."""
        self._closed = True
        if self._active:
            try:
                self._client.leave_group(self.group, self.member_id)
            except RuntimeError:
                pass
            self._active = False
        self._client.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


class KafkaEosRelay:
    """The reference's poll loop upgraded to END-TO-END EXACTLY-ONCE
    (round 8): consume from a source topic, transform, produce to a
    destination topic, and commit the input offsets INSIDE the same
    KIP-98 transaction (``send_offsets_to_transaction``). A crash
    anywhere in the cycle aborts the transaction: the produced records
    never become visible to read_committed consumers AND the input
    offsets roll back, so a restarted relay reprocesses the input
    instead of dropping or doubling it. This is the consume-transform-
    produce pattern Kafka Streams uses for EOS — the reference's
    at-least-once loop (auto-commit config,
    /root/reference/firebase/conf/consumer/kafka.json:5) could neither
    express nor approximate it.

    Zombie safety: construction claims ``transactional_id`` via
    InitProducerId, fencing any previous relay instance (its open
    transaction is aborted broker-side; its later sends raise
    :class:`~.kafka_wire.ProducerFencedError`).

    Reads are read_committed (an EOS chain composes: this relay's
    input may itself be another relay's transactional output). The
    driver-side loop shape is deliberate — it IS the reference's
    consumer model, upgraded; the Spark-distributed story is the
    ``kafka_py`` source + transactional sink + idempotent MERGE."""

    def __init__(self, bootstrap: str, group: str, src_topic: str,
                 dst_topic: str, transactional_id: str,
                 transform=None,
                 auto_offset_reset: str = "earliest") -> None:
        from aether_firebase_consumer_spark.sources.kafka_wire import (
            KafkaWireClient,
            TransactionalProducer,
        )
        host, _, port = bootstrap.rpartition(":")
        self._client = KafkaWireClient(host, int(port))
        self.group = group
        self.src_topic, self.dst_topic = src_topic, dst_topic
        self._reset = auto_offset_reset
        #: (key, value) -> (key, value) | None (None drops the record)
        self.transform = transform or (lambda k, v: (k, v))
        self._producer = TransactionalProducer(self._client,
                                               transactional_id)
        meta = self._client.metadata([src_topic])
        self._tps = sorted((src_topic, p)
                           for p in meta.get(src_topic, []))

    def run_once(self, max_messages: int = 500) -> int:
        """ONE atomic cycle: poll ≤ ``max_messages`` across the source
        partitions (read_committed), transform, produce every
        survivor to the destination topic (same partition index), and
        commit the advanced input offsets — all in one transaction.
        Returns the number of INPUT records consumed (0 = caught up;
        no transaction is opened for an empty poll)."""
        batch: list[tuple[int, int, Optional[bytes],
                          Optional[bytes]]] = []
        new_pos: dict[tuple[str, int], int] = {}
        budget = max_messages
        for tp in self._tps:
            if budget <= 0:
                break
            pos = _start_position(self._client, self.group, self._reset,
                                  tp)
            recs, _hw, lso = self._client.fetch_records_meta(
                tp[0], tp[1], pos, isolation="read_committed")
            if not recs:
                if pos < lso:      # fully-aborted span: skip forward
                    new_pos[tp] = lso
                continue
            recs = recs[:budget]
            budget -= len(recs)
            for off, ts, k, v in recs:
                batch.append((tp[1], ts, k, v))
            new_pos[tp] = recs[-1][0] + 1
        if not batch and not new_pos:
            return 0
        self._producer.begin_transaction()
        try:
            by_part: dict[int, list] = {}
            for part, ts, k, v in batch:
                out = self.transform(k, v)
                if out is not None:
                    by_part.setdefault(part, []).append(
                        (out[0], out[1], ts))
            for part, msgs in by_part.items():
                self._producer.send(self.dst_topic, part, msgs)
            self._producer.send_offsets_to_transaction(
                {tp: off for tp, off in new_pos.items()}, self.group)
            self._producer.commit_transaction()
        except Exception:
            # crash path: roll EVERYTHING back (produced records and
            # offsets together); a fenced producer's abort is already
            # done broker-side
            try:
                self._producer.abort_transaction()
            except Exception:
                pass
            raise
        return len(batch)

    def run_to_end(self, max_messages: int = 500) -> int:
        """Drain until caught up; returns total input records."""
        total = 0
        while True:
            n = self.run_once(max_messages)
            if n == 0:
                return total
            total += n

    def close(self) -> None:
        self._client.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
