"""``kafka_py`` — a jar-free Kafka source for Spark, batch + streaming.

Built on the PySpark 4 Python DataSource API over the pure-Python wire
client in :mod:`kafka_wire`. This makes the reference's actual input
path (consumer poll loop → decode → pipeline,
``firebase/app/artifacts.py:263-285``) executable end-to-end in this
image, which has neither a broker nor the spark-sql-kafka jar: tests
run a real TCP produce→fetch round trip against
:class:`~.kafka_wire.MiniKafkaBroker`.

Semantics mirror the JVM Kafka source where they overlap:

* output schema ``key binary, value binary, topic string,
  partition int, offset bigint, timestamp timestamp,
  timestampType int`` — the JVM source's columns. Timestamps ride
  magic-2 record batches (Fetch v4), so every row carries one;
  ``timestampType`` is 0 (CreateTime) — the mini broker serves every
  batch as CreateTime, and per-topic LogAppendTime marking is a
  real-broker concern,
* options: ``bootstrap`` (host:port), ``securityProtocol``
  (PLAINTEXT | SASL_PLAINTEXT | SSL | SASL_SSL, with
  ``saslUsername``/``saslPassword`` and optional ``sslCaFile`` pinned
  trust anchor), ``subscribe`` (comma-separated
  topics) or ``subscribePattern`` (anchored regex over broker
  metadata), ``startingOffsets`` (earliest|latest, default earliest)
  or ``startingTimestamp`` (epoch ms — each partition starts at the
  first message at-or-after it via ListOffsets v1; partitions with
  nothing that late start at the log end, the JVM source's 'latest'
  fallback strategy), ``isolation`` (read_uncommitted default |
  read_committed — KIP-98: hide records of aborted/open
  transactions), ``assign`` (JSON ``{"topic": [0, 2]}`` — explicit
  partition assignment, the JVM source's third subscription mode),
  ``includeHeaders`` (adds the JVM source's
  ``headers array<struct<key,value>>`` column — KIP-82 record
  headers, read and written end to end; the sink accepts the same
  column), and on the sink
  ``transactionalIdPrefix`` (the exactly-once tier: per-task
  transactions, driver-finalized — see :class:`KafkaPyWriter`),
* streaming offsets are per-(topic, partition) log positions,
  checkpointed by Spark — restart resumes exactly where the last
  committed micro-batch ended (exactly-once with an idempotent sink),
* topic-pattern subscriptions re-resolve against broker metadata at
  every ``latestOffset`` poll, so topics created mid-stream are
  picked up from offset 0 (earliest) — the reconcile behavior O2
  needs.

Scale shape: one :class:`InputPartition` per (topic, partition,
offset-range); each Spark task opens its own socket and fetches only
its range — the consumer-per-task model, parallelism = Kafka
partition count, no driver-side data movement. On a real cluster the
JVM spark-sql-kafka source (options via
``readers.kafka_source_options``) remains the production path; this
is the proof-of-semantics twin, like ``avro_codec`` is for Avro.
"""

from __future__ import annotations

import datetime
import re
import zlib
from typing import Iterator, Optional

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from aether_firebase_consumer_spark.sources.kafka_wire import (
    EARLIEST,
    LATEST,
    KafkaWireClient,
)

SCHEMA = ("key binary, value binary, topic string, "
          "partition int, offset bigint, timestamp timestamp, "
          "timestampType int")

#: KIP-82 record headers, surfaced as the JVM source's includeHeaders
#: column shape (array of key/value structs)
HEADERS_FIELD = "headers array<struct<key:string,value:binary>>"


def _include_headers(options: dict) -> bool:
    v = (options.get("includeheaders")
         or options.get("includeHeaders") or "false")
    return str(v).lower() == "true"

_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _ms_to_dt(ts_ms: int) -> datetime.datetime:
    # timedelta arithmetic is exact at ms precision (float
    # fromtimestamp is not); aware UTC datetimes convert to Spark
    # TimestampType unambiguously
    return _EPOCH + datetime.timedelta(milliseconds=ts_ms)


def _parse_bootstrap(options: dict) -> tuple[str, int]:
    boot = options.get("bootstrap")
    if not boot:
        raise ValueError("kafka_py: 'bootstrap' option (host:port) required")
    host, _, port = boot.rpartition(":")
    return host, int(port)


_SEC_KEYS = ("securityprotocol", "saslusername", "saslpassword",
             "sslcafile")


def _security_options(options: dict) -> dict:
    """The picklable (string-only) security subset of the options —
    carried to executors, turned into live objects per connection by
    :func:`_security_kwargs`."""
    return {k.lower(): v for k, v in options.items()
            if k.lower() in _SEC_KEYS}


def _security_kwargs(sec: dict) -> dict:
    """securityProtocol / saslUsername / saslPassword / sslCaFile →
    KafkaWireClient kwargs. PLAINTEXT (default), SASL_PLAINTEXT, SSL,
    SASL_SSL — the JVM source's four listener flavors. An SSL context
    is built HERE (per process) because contexts don't pickle; with
    ``sslCaFile`` the given certificate is the pinned trust anchor,
    without it verification is disabled (test/self-signed mode)."""
    proto = (sec.get("securityprotocol") or "PLAINTEXT").upper()
    if proto not in ("PLAINTEXT", "SASL_PLAINTEXT", "SSL", "SASL_SSL"):
        raise ValueError(f"kafka_py: bad securityProtocol {proto!r}")
    kw: dict = {}
    if proto in ("SSL", "SASL_SSL"):
        import ssl as _ssl
        ctx = _ssl.SSLContext(_ssl.PROTOCOL_TLS_CLIENT)
        ca = sec.get("sslcafile")
        ctx.check_hostname = False
        if ca:
            ctx.load_verify_locations(ca)
            ctx.verify_mode = _ssl.CERT_REQUIRED
        else:
            ctx.verify_mode = _ssl.CERT_NONE
        kw["ssl_context"] = ctx
    if proto in ("SASL_PLAINTEXT", "SASL_SSL"):
        user, pwd = sec.get("saslusername"), sec.get("saslpassword")
        if user is None or pwd is None:
            raise ValueError("kafka_py: saslUsername and saslPassword "
                             f"required for {proto}")
        kw["sasl_plain"] = (user, pwd)
    return kw


def _tp_key(topic: str, partition: int) -> str:
    # offsets serialize through JSON → string keys; ',' cannot appear
    # in a partition number, and a ',' inside a topic name is rejected
    # by Kafka's own topic-name rules
    return f"{topic},{partition}"


def _split_tp(key: str) -> tuple[str, int]:
    topic, _, part = key.rpartition(",")
    return topic, int(part)


class KafkaRangePartition(InputPartition):
    """One (topic, partition, [start, end)) fetch range — pickled to
    the executor, which opens its own socket."""

    def __init__(self, host: str, port: int, topic: str, partition: int,
                 start: int, end: int, security: dict | None = None,
                 isolation: str = "read_uncommitted") -> None:
        self.host, self.port = host, port
        self.topic, self.partition = topic, partition
        self.start, self.end = start, end
        self.security = security or {}
        self.isolation = isolation
        self.include_headers = False


def _read_range(p: KafkaRangePartition) -> Iterator[tuple]:
    """Executor-side fetch loop: repeated bounded fetches until the
    range is drained (one fetch returns at most max_bytes; the loop is
    the poll loop of the reference consumer, minus the sleep)."""
    with KafkaWireClient(p.host, p.port,
                         **_security_kwargs(p.security)) as client:
        offset = p.start
        while offset < p.end:
            batch, _hw, _lso = client.fetch_records_meta(
                p.topic, p.partition, offset, isolation=p.isolation,
                include_headers=p.include_headers)
            if not batch:
                # a v4 fetch returns at least the first record when one
                # exists (KIP-74) — empty means the rest of the range
                # holds only transaction control markers, compaction
                # gaps or (read_committed) aborted records
                break
            for rec in batch:
                off, ts, key, value = rec[:4]
                if off >= p.end:
                    break
                if off < offset:
                    continue
                row = (key, value, p.topic, p.partition, off,
                       _ms_to_dt(ts), 0)
                if p.include_headers:
                    row += (list(rec[4]),)
                yield row
            offset = max(offset + 1, batch[-1][0] + 1)


class _TopicResolver:
    """Shared driver-side topic/offset discovery for both readers."""

    def __init__(self, options: dict) -> None:
        self.host, self.port = _parse_bootstrap(options)
        self.security = _security_options(options)
        subscribe = options.get("subscribe")
        pattern = options.get("subscribepattern") \
            or options.get("subscribePattern")
        assign = options.get("assign")
        if sum(map(bool, (subscribe, pattern, assign))) != 1:
            raise ValueError(
                "kafka_py: exactly one of 'subscribe', "
                "'subscribePattern' or 'assign' must be set")
        self.topics = [t.strip() for t in subscribe.split(",")] \
            if subscribe else None
        self.pattern = re.compile(pattern) if pattern else None
        #: explicit partition assignment (the JVM source's third
        #: subscription mode): JSON {"topic": [0, 2]} — consume ONLY
        #: those partitions, no metadata-driven discovery
        self.assign: dict[str, list[int]] | None = None
        if assign:
            import json as _json
            parsed = _json.loads(assign)
            if (not isinstance(parsed, dict) or not parsed
                    or not all(isinstance(v, list) and v
                               and all(isinstance(x, int) for x in v)
                               for v in parsed.values())):
                raise ValueError(
                    "kafka_py: 'assign' must be a JSON object of "
                    "topic -> non-empty partition list")
            self.assign = {t: sorted(ps) for t, ps in parsed.items()}
            self.topics = sorted(self.assign)
        self.include_headers = _include_headers(options)
        start_opt = (options.get("startingoffsets")
                     or options.get("startingOffsets"))
        ts_opt = (options.get("startingtimestamp")
                  or options.get("startingTimestamp"))
        if start_opt and ts_opt:
            raise ValueError(
                "kafka_py: startingOffsets and startingTimestamp are "
                "mutually exclusive")
        start = (start_opt or "earliest").lower()
        if start not in ("earliest", "latest"):
            raise ValueError(f"kafka_py: bad startingOffsets {start!r}")
        self.starting = start
        #: epoch-ms start position (JVM source's startingTimestamp):
        #: each partition begins at the first message with
        #: timestamp >= this; partitions with no such message start at
        #: the log end (the JVM 'latest' fallback strategy)
        self.starting_ts = int(ts_opt) if ts_opt else None
        #: KIP-98 isolation (the JVM source's kafka.isolation.level):
        #: read_committed hides records of aborted/open transactions.
        #: Ranges are still PLANNED to the log end (ListOffsets v1 has
        #: no isolation field); the executor-side fetch filters, and a
        #: span left invisible by a then-open transaction is skipped —
        #: the batch read reflects what was committed at read time.
        iso = (options.get("isolation")
               or options.get("isolationlevel")
               or options.get("isolationLevel")
               or "read_uncommitted").lower()
        if iso not in ("read_uncommitted", "read_committed"):
            raise ValueError(f"kafka_py: bad isolation level {iso!r}")
        self.isolation = iso

    def _client(self) -> KafkaWireClient:
        return KafkaWireClient(self.host, self.port,
                               **_security_kwargs(self.security))

    def _wanted(self, c: KafkaWireClient) -> dict[str, list[int]]:
        if self.assign is not None:
            return dict(self.assign)
        meta = c.metadata(self.topics)
        return {topic: parts for topic, parts in meta.items()
                if not (self.pattern
                        and not self.pattern.fullmatch(topic))}

    def offsets(self, time: int) -> dict[str, int]:
        """One metadata + ONE bulk ListOffsets round trip per poll,
        regardless of partition count."""
        with self._client() as c:
            wanted = self._wanted(c)
            if not wanted:
                return {}
            bulk = c.list_offsets_bulk(wanted, time)
        return {_tp_key(t, p): off for (t, p), off in bulk.items()}

    def stable_offsets(self) -> dict[str, int]:
        """Per-partition LAST STABLE OFFSET — the read_committed
        visibility limit. Offset ranges (micro-batch ends, batch scan
        ends) must stop HERE, not at the log end: a range planned past
        an open transaction would be recorded as consumed, and its
        records — invisible while undecided — would be skipped forever
        once the transaction commits. One tiny fetch per partition
        (ListOffsets carries no isolation field at the versions this
        stack speaks; the v4 fetch response's last_stable_offset is
        the only way to read it)."""
        with self._client() as c:
            wanted = self._wanted(c)
            if not wanted:
                return {}
            starts = c.list_offsets_bulk(wanted, EARLIEST)
            out = {}
            for (t, p), lo in starts.items():
                _recs, _hw, lso = c.fetch_records_meta(
                    t, p, lo, max_bytes=1,
                    isolation="read_committed")
                out[_tp_key(t, p)] = lso
        return out

    def initial_offsets(self) -> dict[str, int]:
        """Where consumption starts: startingTimestamp (ListOffsets v1
        timestamp→offset, one bulk request) when set, else
        startingOffsets earliest/latest."""
        if self.starting_ts is None:
            return self.offsets(
                EARLIEST if self.starting == "earliest" else LATEST)
        with self._client() as c:
            wanted = self._wanted(c)
            if not wanted:
                return {}
            targets = {(t, p): self.starting_ts
                       for t, parts in wanted.items() for p in parts}
            hits = c.offsets_for_times(targets)
            ends = c.list_offsets_bulk(wanted, LATEST)
        return {_tp_key(t, p): (hits[(t, p)][1]
                                if hits.get((t, p)) is not None
                                else ends[(t, p)])
                for t, parts in wanted.items() for p in parts}


def _split_ranges(ranges: list[tuple[str, int, int, int]],
                  min_partitions: Optional[int],
                  host: str, port: int,
                  security: dict | None = None,
                  isolation: str = "read_uncommitted",
                  include_headers: bool = False
                  ) -> list[KafkaRangePartition]:
    """(topic, partition, start, end) → InputPartitions, subdividing
    offset ranges until there are ≥ ``min_partitions`` tasks (the JVM
    source's ``minPartitions`` contract): a skewed topic whose data
    sits in one Kafka partition would otherwise serialize into one
    Spark task. Ranges are split proportionally to their length, so
    splits stay balanced."""
    total = sum(e - s for _, _, s, e in ranges)
    out: list[KafkaRangePartition] = []
    want = min_partitions or 0
    for topic, part, s, e in ranges:
        n = 1
        if want > len(ranges) and total > 0:
            n = max(1, round((e - s) / total * want))
        n = min(n, e - s)
        step = (e - s + n - 1) // n
        for lo in range(s, e, step):
            part_obj = KafkaRangePartition(
                host, port, topic, part, lo, min(lo + step, e),
                security=security, isolation=isolation)
            part_obj.include_headers = include_headers
            out.append(part_obj)
    return out


class KafkaPyBatchReader(DataSourceReader):
    """Batch scan: a snapshot of earliest→latest at planning time."""

    def __init__(self, options: dict) -> None:
        self._resolver = _TopicResolver(options)
        mopt = (options.get("minpartitions")
                or options.get("minPartitions"))
        self._min_partitions = int(mopt) if mopt else None

    def partitions(self):
        lo = self._resolver.initial_offsets()
        hi = (self._resolver.stable_offsets()
              if self._resolver.isolation == "read_committed"
              else self._resolver.offsets(LATEST))
        ranges = []
        for key, end in sorted(hi.items()):
            start = lo.get(key, 0)
            if end > start:
                topic, part = _split_tp(key)
                ranges.append((topic, part, start, end))
        return _split_ranges(ranges, self._min_partitions,
                             self._resolver.host, self._resolver.port,
                             self._resolver.security,
                             isolation=self._resolver.isolation,
                             include_headers=self._resolver
                             .include_headers)

    def read(self, partition: KafkaRangePartition):
        return _read_range(partition)


class KafkaPyStreamReader(DataSourceStreamReader):
    """Micro-batch reader: offsets are {"topic,partition": position}
    dicts, checkpointed by Spark.

    ``maxOffsetsPerTrigger`` bounds micro-batch size (the scalable
    analogue of the reference's per-poll message cap,
    ``artifacts.py:272``): the total is split evenly across the
    topic-partitions with pending data, and ``latestOffset`` advances
    at most that far beyond ``_floor`` — the per-tp high-water mark of
    everything already PLANNED, learned from the (start, end) ranges
    the engine passes to :meth:`partitions`. Two protocol facts
    observed against Spark 4.1's microbatch engine dictate that
    anchor (the Python DataSource API has no ReadLimit):

    * ordering — the engine's first ``latestOffset`` precedes
      ``initialOffset``, and ``commit(batch_n)`` can arrive AFTER
      ``latestOffset`` for batch n+1, so the committed position is a
      stale base; the planned end is the correct one. Until the first
      ``partitions`` call the floor is empty, so the first micro-batch
      of a fresh start or a restart-from-checkpoint (whose position
      lives in Spark's checkpoint, invisible here) is uncapped.
    * monotonicity — the engine plans ``partitions(prev_end,
      new_latest)`` without clamping, so a ``latestOffset`` result
      stepping behind an already-planned end would re-read (duplicate)
      that range; capping against the floor also guarantees the
      result never regresses."""

    def __init__(self, options: dict) -> None:
        self._resolver = _TopicResolver(options)
        mopt = (options.get("maxoffsetspertrigger")
                or options.get("maxOffsetsPerTrigger"))
        self._max_per_trigger = int(mopt) if mopt else None
        mp = options.get("minpartitions") or options.get("minPartitions")
        self._min_partitions = int(mp) if mp else None
        #: per-tp high-water mark of planned ranges (see docstring)
        self._floor: dict = {}

    def initialOffset(self) -> dict:
        return self._resolver.initial_offsets()

    def latestOffset(self) -> dict:
        # read_committed plans to the LAST STABLE OFFSET, never the
        # log end — a micro-batch end past an open transaction would
        # checkpoint-skip its records once the commit marker lands
        latest = (self._resolver.stable_offsets()
                  if self._resolver.isolation == "read_committed"
                  else self._resolver.offsets(LATEST))
        out = dict(latest)
        base = self._floor
        if self._max_per_trigger is not None and base:
            pending = [k for k, v in out.items() if v > base.get(k, 0)]
            if pending:
                share = max(1, self._max_per_trigger // len(pending))
                for k in pending:
                    out[k] = min(out[k], base.get(k, 0) + share)
        for k, v in base.items():  # never step behind a planned end
            out[k] = max(out.get(k, v), v)
        return out

    def partitions(self, start: dict, end: dict):
        ranges = []
        for key, e in sorted(end.items()):
            # a tp absent from start = topic that appeared mid-stream
            # (pattern subscription): consume it from the beginning
            s = start.get(key, 0)
            # learn the planned high-water mark (incl. checkpointed
            # positions flowing through after a restart)
            self._floor[key] = max(self._floor.get(key, 0), s, e)
            if e > s:
                topic, part = _split_tp(key)
                ranges.append((topic, part, s, e))
        return _split_ranges(ranges, self._min_partitions,
                             self._resolver.host, self._resolver.port,
                             self._resolver.security,
                             isolation=self._resolver.isolation,
                             include_headers=self._resolver
                             .include_headers)

    def read(self, partition: KafkaRangePartition):
        return _read_range(partition)

    def commit(self, end: dict) -> None:
        pass  # positions live in Spark's checkpoint, not the broker

    def stop(self) -> None:
        pass


class KafkaWriteCommit(WriterCommitMessage):
    """Per-task produce receipt (rows produced per topic-partition).
    Transactional tasks also carry their open transaction's identity
    (txn_id, pid, epoch) — the driver finalizes it in commit()/abort()
    (EndTxn is broker-coordinated state keyed by transactional.id, so
    any connection may close it)."""

    def __init__(self, counts: dict,
                 txn: "tuple[str, int, int] | None" = None) -> None:
        self.counts = counts
        self.txn = txn


def _to_bytes(v) -> Optional[bytes]:
    if v is None:
        return None
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return str(v).encode("utf-8")


def _to_ts_ms(v) -> Optional[int]:
    """Sink ``timestamp`` column → epoch ms. Accepts epoch-ms ints,
    and datetimes (naive ones are taken as UTC — pass aware datetimes
    or ints for unambiguous wire timestamps)."""
    if v is None:
        return None
    if isinstance(v, (int, float)):
        return int(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int((v - _EPOCH) / datetime.timedelta(milliseconds=1))
    raise ValueError(f"kafka_py sink: bad timestamp value {v!r}")


class KafkaPyWriter(DataSourceWriter, DataSourceStreamWriter):
    """Produce rows to a topic over the wire client — the sink half of
    the round trip (batch ``df.write`` and streaming
    ``writeStream.format("kafka_py")``).

    Input columns: ``value`` (binary or string, required), optional
    ``key`` (binary or string), optional ``partition`` (int), optional
    ``timestamp`` (timestamp or epoch-ms long, the record's producer
    CreateTime; rows without one are stamped at produce time) and
    optional ``headers``. Without
    a ``partition`` column rows route by ``crc32(key) % n_partitions``
    — a process-independent stand-in for the default partitioner's
    murmur2 (Python's own ``hash()`` is seed-randomized per process
    and would scatter one key across partitions between executors);
    keyless rows go round-robin within the task. Without
    ``transactionalIdPrefix`` delivery is AT-LEAST-ONCE, same as the
    JVM Kafka sink: a task retry re-produces its rows, so exactly-once
    needs an idempotent consumer downstream (which the pipeline's
    MERGE sink is).

    Each task opens one socket and produces in 500-message chunks — a
    produce-request sizing choice (the reference's Firestore
    batch-commit size is 50 docs, MAX_SUBMIT in firebase/app/
    artifacts.py — that contract lives in sinks/upsert.py, not here)
    — and the same producer-per-task shape the reader uses.

    EXACTLY-ONCE TIER (round 8, on KIP-98 transactions): with
    ``transactionalIdPrefix`` set, each task produces inside a
    transaction whose transactional.id is ``{prefix}-{sparkPartition}``
    — STABLE across task retries, so a zombie attempt is fenced the
    moment its retry calls InitProducerId (the broker aborts whatever
    the zombie left open, and its later produce/EndTxn die with
    ProducerFencedError). Tasks leave their transactions OPEN; the
    driver's commit() finalizes every task's EndTxn only after ALL
    tasks succeeded, and abort() rolls them back — so a failed batch
    is invisible to read_committed consumers IN ITS ENTIRETY (the
    all-or-nothing upgrade over at-least-once). Honest limit: a replay
    of an already-committed micro-batch (failure between sink commit
    and checkpoint write) re-produces under fresh transactions — full
    end-to-end exactly-once additionally needs consumer-side dedup or
    offsets-in-transaction, which Spark's sink API has no hook for;
    Kafka Streams closes that gap with TxnOffsetCommit, available on
    this wire stack as ``TransactionalProducer.
    send_offsets_to_transaction`` for foreachBatch pipelines."""

    def __init__(self, options: dict) -> None:
        self.host, self.port = _parse_bootstrap(options)
        self.security = _security_options(options)
        self.topic = options.get("topic")
        if not self.topic:
            raise ValueError("kafka_py sink: 'topic' option required")
        self.txn_prefix = (options.get("transactionalidprefix")
                           or options.get("transactionalIdPrefix"))

    def write(self, rows) -> KafkaWriteCommit:
        counts: dict[int, int] = {}
        with KafkaWireClient(self.host, self.port,
                             **_security_kwargs(self.security)) as client:
            parts = client.metadata([self.topic]).get(self.topic) or [0]
            producer = None
            txn = None
            if self.txn_prefix is not None:
                from pyspark import TaskContext
                from aether_firebase_consumer_spark.sources.kafka_wire \
                    import TransactionalProducer
                ctx = TaskContext.get()
                if ctx is None:   # pragma: no cover — defensive
                    raise RuntimeError(
                        "kafka_py sink: no TaskContext; transactional "
                        "writes need the per-task partition id for "
                        "zombie fencing")
                txn_id = f"{self.txn_prefix}-{ctx.partitionId()}"
                producer = TransactionalProducer(client, txn_id)
                producer.begin_transaction()
                txn = (txn_id, producer.producer_id, producer.epoch)
            buf: dict[int, list] = {}
            rr = 0

            def flush(p: int) -> None:
                if not buf.get(p):
                    return
                # rows without a timestamp are stamped at produce time
                send = (producer.send if producer is not None
                        else client.produce_records)
                send(self.topic, p, buf[p])
                counts[p] = counts.get(p, 0) + len(buf[p])
                buf[p] = []

            for row in rows:
                d = row.asDict() if hasattr(row, "asDict") else dict(row)
                key = _to_bytes(d.get("key"))
                value = _to_bytes(d.get("value"))
                ts = _to_ts_ms(d.get("timestamp"))
                hdrs = tuple(
                    (h["key"] if isinstance(h, dict) else h[0],
                     _to_bytes(h["value"] if isinstance(h, dict)
                               else h[1]))
                    for h in (d.get("headers") or ()))
                if d.get("partition") is not None:
                    p = int(d["partition"]) % len(parts)
                elif key is not None:
                    p = zlib.crc32(key) % len(parts)
                else:
                    p = parts[rr % len(parts)]
                    rr += 1
                buf.setdefault(p, []).append((key, value, ts, hdrs))
                if len(buf[p]) >= 500:
                    flush(p)
            for p in list(buf):
                flush(p)
        # the transaction (if any) stays OPEN — the driver finalizes
        return KafkaWriteCommit(counts, txn=txn)

    def _end_all(self, messages, commit: bool) -> None:
        txns = [m.txn for m in messages
                if m is not None and getattr(m, "txn", None)]
        if not txns:
            return
        from aether_firebase_consumer_spark.sources.kafka_wire import (
            ProducerFencedError,
        )
        with KafkaWireClient(self.host, self.port,
                             **_security_kwargs(self.security)) as c:
            for txn_id, pid, epoch in txns:
                try:
                    c.end_txn(txn_id, pid, epoch, commit)
                except ProducerFencedError:
                    # a task retry re-claimed this transactional.id and
                    # its attempt superseded this one — the broker
                    # already aborted the fenced attempt's data
                    if commit:
                        raise
                except RuntimeError as e:
                    if commit or "no ongoing transaction" not in str(e):
                        raise
                    # aborting a task that never produced: nothing open

    def commit(self, messages, batchId: int | None = None) -> None:
        # transactional mode: all tasks succeeded — make every task's
        # writes visible to read_committed consumers. Plain mode:
        # produce is unconditional; nothing to finalize.
        self._end_all(messages, commit=True)

    def abort(self, messages, batchId: int | None = None) -> None:
        # transactional mode: roll back every completed task's open
        # transaction — the whole attempt becomes invisible. Plain
        # mode: produced rows stay (at-least-once), consumer dedups.
        self._end_all(messages, commit=False)


class KafkaPyDataSource(DataSource):
    """``spark.read.format("kafka_py")`` / ``spark.readStream.…`` after
    ``spark.dataSource.register(KafkaPyDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "kafka_py"

    def schema(self) -> str:
        if _include_headers(dict(self.options)):
            return SCHEMA + ", " + HEADERS_FIELD
        return SCHEMA

    def reader(self, schema) -> KafkaPyBatchReader:
        return KafkaPyBatchReader(dict(self.options))

    def streamReader(self, schema) -> KafkaPyStreamReader:
        return KafkaPyStreamReader(dict(self.options))

    def writer(self, schema, overwrite: bool) -> KafkaPyWriter:
        if overwrite:
            raise ValueError(
                "kafka_py sink: overwrite mode is meaningless for an "
                "append-only log; use mode('append')")
        return KafkaPyWriter(dict(self.options))

    def streamWriter(self, schema, overwrite: bool) -> KafkaPyWriter:
        return KafkaPyWriter(dict(self.options))


def register_kafka_py(spark) -> None:
    """Idempotent registration of the kafka_py format on a session."""
    spark.dataSource.register(KafkaPyDataSource)
