"""Timestamp surfaces of ``kafka_py`` and the consumer-group
rebalance protocol (JoinGroup/SyncGroup/Heartbeat/LeaveGroup) — the
round-6 close of O19: the reference's consumers share a group and let
the BROKER split partitions across instances
(``firebase/app/artifacts.py:226-232``); these tests run that same
choreography against the wire broker.
"""

from __future__ import annotations

import threading

import pytest

from aether_firebase_consumer_spark.sources.kafka_consumer import (
    GroupConsumer,
)
from aether_firebase_consumer_spark.sources.kafka_wire import (
    KafkaWireClient,
    MiniKafkaBroker,
    range_assignment,
)


@pytest.fixture()
def broker():
    with MiniKafkaBroker() as b:
        # generous rebalance window: under a loaded box (the full gate
        # runs Spark + bench on all 32 threads) a member's SyncGroup
        # can miss a 2 s window, leaving it unassigned and flaking the
        # split/disjoint assertions — 6 s only delays FAILURE, never
        # slows a passing run (members join within milliseconds when
        # scheduled). Tests that exercise the timeout itself override
        # this per-test.
        b.rebalance_timeout = 6.0
        yield b


def _client(broker):
    return KafkaWireClient(broker.host, broker.port)


# ------------------------------------------------------------ range assignor

def test_range_assignment_algorithm():
    plan = range_assignment(
        {"m1": ["t"], "m2": ["t"]}, {"t": [0, 1, 2, 3, 4]})
    assert plan == {"m1": {"t": [0, 1, 2]}, "m2": {"t": [3, 4]}}
    # member subscribed to a topic with no partitions gets nothing;
    # multiple topics assign independently
    plan = range_assignment(
        {"m1": ["a", "b"], "m2": ["b"]}, {"a": [0], "b": [0, 1]})
    assert plan == {"m1": {"a": [0], "b": [0]}, "m2": {"b": [1]}}


# ------------------------------------------------------- group choreography

def _seed(broker, topic: str, parts: int, per_part: int) -> None:
    broker.create_topic(topic, partitions=parts)
    with _client(broker) as c:
        for p in range(parts):
            c.produce_records(topic, p,
                              [(None, f"{topic}-{p}-{i}".encode())
                               for i in range(per_part)])


# JoinGroup BLOCKS until the whole generation gathers — so each group
# member must live on its own thread, exactly like real deployments
# (one consumer per process/thread; interleaving two members on one
# thread would deadlock-then-evict in real Kafka too).

class _Member(threading.Thread):
    """A scripted consumer on its own thread: keeps poll-driven
    liveness (heartbeats, rejoins) while the test directs phases."""

    def __init__(self, broker, group: str, topics: list[str],
                 session_timeout_ms: int = 10000,
                 instance_id: str | None = None) -> None:
        super().__init__(daemon=True)
        self.c = GroupConsumer(broker.bootstrap, group, topics,
                               session_timeout_ms=session_timeout_ms,
                               heartbeat_interval_ms=100,
                               group_instance_id=instance_id)
        self.got: list[tuple] = []
        self.budget = 0          # how many messages to consume
        self.lock = threading.Lock()
        self.stop_evt = threading.Event()
        self.err: Exception | None = None

    def run(self) -> None:
        try:
            while not self.stop_evt.is_set():
                with self.lock:
                    want = min(5, self.budget)
                msgs = self.c.poll(want)
                with self.lock:
                    self.got.extend(msgs)
                    self.budget -= len(msgs)
                threading.Event().wait(0.02)
        except Exception as e:   # pragma: no cover
            self.err = e

    def allow(self, n: int) -> None:
        with self.lock:
            self.budget += n

    def snapshot(self) -> list[tuple]:
        with self.lock:
            return list(self.got)

    def stop(self, leave: bool = True) -> None:
        self.stop_evt.set()
        self.join(timeout=10)
        if leave:
            self.c.close()


def _wait_until(pred, timeout: float = 30.0) -> bool:
    import time
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if pred():
            return True
        time.sleep(0.05)
    return False


def test_two_members_split_partitions_disjointly(broker):
    _seed(broker, "g.t", 4, 5)
    a = _Member(broker, "grp", ["g.t"])
    b = _Member(broker, "grp", ["g.t"])
    a.start()
    b.start()
    try:
        a.allow(100)
        b.allow(100)
        assert _wait_until(
            lambda: len(a.snapshot()) + len(b.snapshot()) >= 20)
        assert a.err is None and b.err is None
        pa, pb = set(a.c.assignment), set(b.c.assignment)
        assert pa and pb and pa.isdisjoint(pb)
        assert pa | pb == {("g.t", p) for p in range(4)}
        assert a.c.generation == b.c.generation
        seen = {(t, p, o) for t, p, o, _, _ in a.snapshot() + b.snapshot()}
        assert len(seen) == 20                      # no dup, no loss
        # each member read only from its own share
        assert {(t, p) for t, p, _, _, _ in a.snapshot()} <= pa
        assert {(t, p) for t, p, _, _, _ in b.snapshot()} <= pb
    finally:
        a.stop()
        b.stop()


def test_survivor_takes_over_from_committed_offsets(broker):
    """Member departure → survivor rebalances onto ALL partitions and
    resumes the departed member's partition from the GROUP's committed
    position (at-least-once: uncommitted work re-delivers)."""
    _seed(broker, "g.h", 2, 10)
    a = _Member(broker, "grp2", ["g.h"])
    b = _Member(broker, "grp2", ["g.h"])
    a.start()
    b.start()
    try:
        assert _wait_until(lambda: len(a.c.assignment) == 1
                           and len(b.c.assignment) == 1)
        # b consumes 3 from its single partition and commits
        b.allow(3)
        assert _wait_until(lambda: len(b.snapshot()) == 3)
        b.c.commit()
        bt, bp = b.c.assignment[0]
        assert [o for _, _, o, _, _ in b.snapshot()] == [0, 1, 2]
        # clean departure → a absorbs both partitions
        b.stop(leave=True)
        assert _wait_until(
            lambda: set(a.c.assignment) == {("g.h", 0), ("g.h", 1)})
        a.allow(100)
        assert _wait_until(lambda: len(a.snapshot()) >= 17)
        by_tp: dict[tuple, list[int]] = {}
        for t, p, o, _, _ in a.snapshot():
            by_tp.setdefault((t, p), []).append(o)
        # b's partition resumes from its commit (offset 3), not 0
        assert by_tp[(bt, bp)] == list(range(3, 10))
        # a's own partition from earliest (nothing committed)
        (at, ap) = next(tp for tp in by_tp if tp != (bt, bp))
        assert by_tp[(at, ap)] == list(range(10))
    finally:
        a.stop()


def test_silent_death_expires_via_session_timeout(broker):
    """A member that dies WITHOUT LeaveGroup is evicted once its
    session lapses; the survivor's next heartbeat surfaces the
    rebalance and it absorbs the dead member's partitions."""
    broker.rebalance_timeout = 1.0
    _seed(broker, "g.d", 2, 2)
    a = _Member(broker, "grp3", ["g.d"], session_timeout_ms=1000)
    b = _Member(broker, "grp3", ["g.d"], session_timeout_ms=1000)
    a.start()
    b.start()
    try:
        assert _wait_until(lambda: len(a.c.assignment) == 1
                           and len(b.c.assignment) == 1)
        # hard death: socket gone, no LeaveGroup, no more heartbeats
        b.stop_evt.set()
        b.join(timeout=10)
        b.c._client.close()
        assert _wait_until(
            lambda: set(a.c.assignment) == {("g.d", 0), ("g.d", 1)},
            timeout=20.0), "survivor never absorbed dead member's share"
        assert a.err is None
    finally:
        a.stop()


def test_concurrent_joins_converge_to_one_generation(broker):
    """Three members joining concurrently converge to ONE stable
    generation with a full, disjoint partition cover."""
    _seed(broker, "g.c", 6, 1)
    members = [_Member(broker, "grp4", ["g.c"]) for _ in range(3)]
    for m in members:
        m.start()
    try:
        def settled() -> bool:
            gens = {m.c.generation for m in members}
            cover = [tp for m in members for tp in m.c.assignment]
            return (len(gens) == 1
                    and sorted(cover) == [("g.c", p) for p in range(6)])

        assert _wait_until(settled, timeout=30.0)
        assert all(m.err is None for m in members)
    finally:
        for m in members:
            m.stop()


# ------------------------------------------- kafka_py timestamp column

def _register(spark):
    from aether_firebase_consumer_spark.sources.kafka_pysource import (
        register_kafka_py,
    )
    register_kafka_py(spark)


def test_kafka_py_surfaces_timestamp_column(spark, broker):
    """The JVM source's timestamp/timestampType columns, served from
    magic-2 record batches: each record's producer CreateTime, with
    timestampType 0 (CreateTime)."""
    import datetime as dt

    _register(spark)
    with _client(broker) as c:
        c.produce_records("spark.ts", 0, [(b"k1", b"v1", 1_600_000_000_000)])
        c.produce_records("spark.ts", 0, [(b"k2", b"v2", 1_700_000_000_000)])
    df = (spark.read.format("kafka_py")
          .option("bootstrap", broker.bootstrap)
          .option("subscribe", "spark.ts").load())
    assert df.columns == ["key", "value", "topic", "partition",
                          "offset", "timestamp", "timestampType"]
    rows = {r.offset: r for r in df.collect()}
    utc = dt.timezone.utc

    def as_utc(ts):
        # session-tz-naive datetime → aware UTC instant
        return ts.astimezone(utc) if ts.tzinfo else \
            ts.replace(tzinfo=dt.timezone.utc)

    got0 = rows[0].timestamp
    assert got0 is not None and rows[0].timestampType == 0
    assert int(as_utc(got0).timestamp() * 1000) in (1_600_000_000_000,)
    assert int(as_utc(rows[1].timestamp).timestamp() * 1000) \
        == 1_700_000_000_000 and rows[1].timestampType == 0


def test_kafka_py_sink_timestamp_column_roundtrip(spark, broker):
    """writeStream/write with a timestamp column produces v3 record
    batches whose CreateTime round-trips exactly."""
    _register(spark)
    broker.create_topic("spark.sink", partitions=1)
    df = spark.createDataFrame(
        [(b"a", b"p1", 123_000), (b"b", b"p2", 456_000)],
        "key binary, value binary, timestamp long")
    (df.write.format("kafka_py")
     .option("bootstrap", broker.bootstrap)
     .option("topic", "spark.sink").mode("append").save())
    with _client(broker) as c:
        got = sorted(c.fetch_records("spark.sink", 0, 0),
                     key=lambda e: e[2] or b"")
    assert [(k, v, ts) for _, ts, k, v in got] \
        == [(b"a", b"p1", 123_000), (b"b", b"p2", 456_000)]


def test_kafka_py_starting_timestamp(spark, broker, tmp_path):
    """startingTimestamp (JVM-source parity): batch and streaming
    reads begin at the first message at-or-after the timestamp; a
    partition with nothing that late starts at its log end."""
    _register(spark)
    broker.create_topic("ts.start", partitions=2)
    with _client(broker) as c:
        c.produce_records("ts.start", 0,
                          [(None, b"old0", 100), (None, b"new0", 5000)])
        c.produce_records("ts.start", 1,
                          [(None, b"old1", 200)])   # nothing >= 1000
    df = (spark.read.format("kafka_py")
          .option("bootstrap", broker.bootstrap)
          .option("subscribe", "ts.start")
          .option("startingTimestamp", "1000").load())
    assert [bytes(r.value) for r in df.collect()] == [b"new0"]

    # streaming: initial offset honors the timestamp, later data flows
    sdf = (spark.readStream.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "ts.start")
           .option("startingTimestamp", "1000").load())
    q = (sdf.writeStream.format("memory").queryName("kpy_ts")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
        vals = {bytes(r.value) for r in spark.table("kpy_ts").collect()}
        assert vals == {b"new0"}
        with _client(broker) as c:
            c.produce_records("ts.start", 1, [(None, b"late1", 9000)])
        q.processAllAvailable()
        vals = {bytes(r.value) for r in spark.table("kpy_ts").collect()}
        assert vals == {b"new0", b"late1"}
    finally:
        q.stop()


def test_kafka_py_starting_timestamp_excludes_starting_offsets(
        spark, broker):
    _register(spark)
    broker.create_topic("ts.both", partitions=1)
    df = (spark.read.format("kafka_py")
          .option("bootstrap", broker.bootstrap)
          .option("subscribe", "ts.both")
          .option("startingOffsets", "earliest")
          .option("startingTimestamp", "1000"))
    import pytest as _pytest
    with _pytest.raises(Exception, match="mutually exclusive"):
        df.load().collect()


def test_background_heartbeat_survives_slow_processing(broker):
    """KIP-62 split: with background_heartbeat, a member that stalls
    between polls LONGER than its session timeout stays in the group
    (the daemon thread heartbeats on its own connection); without it,
    the same stall gets the member evicted and the next poll rejoins
    under a bumped generation."""
    import time

    broker.rebalance_timeout = 1.0
    _seed(broker, "g.slow", 1, 3)

    slow = GroupConsumer(broker.bootstrap, "grp-slow", ["g.slow"],
                         session_timeout_ms=1200,
                         heartbeat_interval_ms=200,
                         background_heartbeat=True)
    try:
        slow.poll(1)
        gen = slow.generation
        time.sleep(2.5)                   # >> session timeout
        slow.poll(1)
        assert slow.generation == gen     # never evicted, no rejoin
    finally:
        slow.close()

    lazy = GroupConsumer(broker.bootstrap, "grp-lazy", ["g.slow"],
                         session_timeout_ms=1200,
                         heartbeat_interval_ms=200)
    try:
        lazy.poll(1)
        gen = lazy.generation
        time.sleep(2.5)
        lazy.poll(1)                      # evicted → rejoined
        assert lazy.generation > gen
    finally:
        lazy.close()


def test_kafka_timestamp_drives_event_time_window(spark, broker, tmp_path):
    """The surfaced timestamp column is a real TimestampType event-time
    axis: a streaming kafka_py read supports withWatermark + windowed
    aggregation on it (the thing the JVM source's timestamp exists
    for). Producer CreateTime timestamps land in fixed 10s windows."""
    _register(spark)
    broker.create_topic("wm.t", partitions=1)
    base = 1_700_000_000_000
    with _client(broker) as c:
        c.produce_records("wm.t", 0, [
            (None, b"a", base + 1_000),      # window [0, 10s)
            (None, b"b", base + 4_000),      # window [0, 10s)
            (None, b"c", base + 12_000),     # window [10s, 20s)
        ])
    from pyspark.sql import functions as F
    sdf = (spark.readStream.format("kafka_py")
           .option("bootstrap", broker.bootstrap)
           .option("subscribe", "wm.t").load()
           .withWatermark("timestamp", "5 seconds")
           .groupBy(F.window("timestamp", "10 seconds"))
           .agg(F.count("*").alias("n")))
    q = (sdf.writeStream.format("memory").queryName("kpy_wm")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
        rows = {(int(r["window"].start.timestamp() * 1000) - base, r.n)
                for r in spark.table("kpy_wm").collect()}
        assert rows == {(0, 2), (10_000, 1)}
    finally:
        q.stop()


# ------------------------------------------- round-7 ADVICE closures

def test_join_negotiates_common_protocol(broker):
    """Members proposing DIFFERENT protocol preference lists agree on
    the first leader-preferred protocol every member supports — not
    an arbitrary last-completer pick (ADVICE r6). Choreographed like
    the real protocol: member a completes a solo generation first,
    then b's join forces a rebalance a re-enters."""
    from aether_firebase_consumer_spark.sources.kafka_wire import (
        GroupRebalanceError,
    )

    broker.create_topic("np.t", partitions=2)
    results = {}
    a_joined = threading.Event()

    def member(name, protocols, wait_rebalance=False):
        with _client(broker) as c:
            me = ""
            for _ in range(6):
                me, gen, _leader, members = c.join_group(
                    "np-grp", me, ["np.t"], protocols=protocols)
                if name == "a":
                    a_joined.set()
                if wait_rebalance:
                    # hold the solo generation's sync until b's join
                    # has flipped the group back to Joining
                    _wait_until(lambda: broker._groups["np-grp"]
                                ["state"] == "Joining", 5)
                    wait_rebalance = False
                try:
                    if members:               # leader syncs everyone
                        plan = range_assignment(members,
                                                {"np.t": [0, 1]})
                        c.sync_group("np-grp", gen, me, {
                            m: plan.get(m, {}) for m in members})
                    else:
                        c.sync_group("np-grp", gen, me)
                except GroupRebalanceError:
                    continue
                results[name] = (me, gen, c.last_group_protocol)
                return

    t1 = threading.Thread(target=member,
                          args=("a", ["sticky", "range", "rr"], True))
    t1.start()
    assert a_joined.wait(10)
    t2 = threading.Thread(target=member, args=("b", ["range", "rr"]))
    t2.start()
    t1.join(10)
    t2.join(10)
    assert set(results) == {"a", "b"}
    # both synced the SAME generation, whose protocol is the first
    # leader-preferred entry common to both lists: "range" ("sticky"
    # is a-only, so it must not win even though a leads)
    assert results["a"][1] == results["b"][1]
    assert results["a"][2] == results["b"][2] == "range"


def test_join_rejects_disjoint_protocol_list(broker):
    """A joiner whose protocol list shares nothing with the group's
    members is rejected with INCONSISTENT_GROUP_PROTOCOL instead of
    silently winning the pick (ADVICE r6)."""
    broker.create_topic("dp.t", partitions=1)
    joined = threading.Event()

    def member_a():
        with _client(broker) as c:
            me, gen, leader, members = c.join_group(
                "dp-grp", "", ["dp.t"], protocols=["range"])
            joined.set()
            from aether_firebase_consumer_spark.sources.kafka_wire \
                import range_assignment
            plan = range_assignment(members, {"dp.t": [0]})
            c.sync_group("dp-grp", gen, me, {
                m: plan.get(m, {}) for m in members})

    t = threading.Thread(target=member_a)
    t.start()
    t.join(10)
    assert joined.is_set()
    with _client(broker) as c:
        with pytest.raises(RuntimeError,
                           match="inconsistent group protocol"):
            c.join_group("dp-grp", "", ["dp.t"],
                         protocols=["my-custom-only"])


def test_commit_fenced_after_membership_loss(broker):
    """A member whose membership lapsed must not commit stale
    positions over the group's progress (zombie commit, ADVICE r6
    #2); positions for partitions not currently held are dropped."""
    _seed(broker, "cf.t", 2, 3)
    with GroupConsumer(broker.bootstrap, "cf-grp", ["cf.t"]) as con:
        got = []
        while len(got) < 6:
            msgs = con.poll(6 - len(got))
            got.extend(msgs)
        con.commit()
        with _client(broker) as c:
            base = {p: c.offset_fetch("cf-grp", "cf.t", p)
                    for p in (0, 1)}
        assert base == {0: 3, 1: 3}

        # simulate a heartbeat-observed rebalance, then stale progress
        con._active = False
        con._pos = {("cf.t", 0): 999, ("cf.t", 1): 999}
        con.commit()                      # must be a no-op
        with _client(broker) as c:
            after = {p: c.offset_fetch("cf-grp", "cf.t", p)
                     for p in (0, 1)}
        assert after == base

        # rejoin (single member: regains both partitions); a position
        # for a partition NOT held is dropped from the commit
        con.poll(0)
        assert con._active
        con._pos[("other.t", 0)] = 123
        con.commit()
        with _client(broker) as c:
            assert c.offset_fetch("cf-grp", "other.t", 0) == -1


def test_static_membership_restart_keeps_assignment(broker):
    """KIP-345-lite: a member with a group.instance.id that restarts
    within its session timeout reclaims its member id, generation,
    and partition assignment WITHOUT a rebalance — the survivor's
    generation never bumps and its polling never hiccups (VERDICT r6
    #8: the reference's long-lived jobs restart workers routinely)."""
    _seed(broker, "st.t", 4, 50)
    a = _Member(broker, "st-grp", ["st.t"], instance_id="inst-a")
    b = _Member(broker, "st-grp", ["st.t"], instance_id="inst-b")
    a.start()
    b.start()
    b2 = None
    try:
        a.allow(20)
        b.allow(20)
        assert _wait_until(
            lambda: len(a.snapshot()) + len(b.snapshot()) >= 40)
        gen = a.c.generation
        assert gen == b.c.generation
        b_member, b_parts = b.c.member_id, set(b.c.assignment)
        assert b_parts

        # "crash" b: stop polling without LeaveGroup, then restart as
        # a NEW consumer carrying the same instance id
        b.stop(leave=False)
        b2 = _Member(broker, "st-grp", ["st.t"], instance_id="inst-b")
        b2.start()
        b2.allow(20)
        assert _wait_until(lambda: len(b2.snapshot()) >= 20)
        assert b2.err is None and a.err is None
        assert b2.c.member_id == b_member          # identity reclaimed
        assert set(b2.c.assignment) == b_parts     # same share
        assert b2.c.generation == gen              # no generation bump
        # the survivor never rebalanced and kept consuming
        a.allow(20)
        assert _wait_until(lambda: len(a.snapshot()) >= 40)
        assert a.c.generation == gen
        assert a.err is None
        # b2 reads only b's old share (no overlap introduced)
        assert {(t, p) for t, p, _, _, _ in b2.snapshot()} <= b_parts
    finally:
        a.stop()
        if b2 is not None:
            b2.stop()

