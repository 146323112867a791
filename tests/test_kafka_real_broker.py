"""Real-broker conformance tier (round 8, VERDICT r7 #7).

Everything the jar-free wire stack claims — its one data-plane dialect
(magic-2 record batches under all five codec ids via Produce v3 /
Fetch v4, ListOffsets v1), timestamps, consumer-group
membership, idempotent produce, transactions/read_committed — is
currently verified OUR CLIENT against OUR BROKER, which is
self-referential by construction. This tier breaks the loop: point
``AFCS_KAFKA_BOOTSTRAP=host:port`` at a real Apache Kafka broker
(optionally ``AFCS_KAFKA_SASL=user:pass`` for a SASL/PLAIN listener)
and the same client-side calls run against the real implementation.

The image this repo builds in has no broker and no JVM kafka jar, so
by default every test here SELF-SKIPS with a reason naming what it
would verify. What the tier covers when a broker is present:

- ApiVersions: the broker serves the version the client sends for
  each data-plane API
- Produce v3 (magic-2 record batch, producer CreateTime timestamps)
  → Fetch v4 round trip, per-record timestamps intact
- each compressed codec the encoder emits (gzip via stdlib, snappy /
  lz4 / zstd via pyarrow's C codecs) decoded back by the REAL broker's fetch
  path and re-served to us
- ListOffsets v1 earliest/latest and timestamp→offset lookup
- OffsetCommit/OffsetFetch group positions
- consumer-group membership: FindCoordinator → JoinGroup → SyncGroup
  (leader-computed range assignment) → Heartbeat → LeaveGroup, two
  members splitting partitions disjointly
- KIP-98 idempotent produce: a verbatim sequence retry appends nothing
- KIP-98 transactions: commit visibility, abort invisibility under
  read_committed, zombie fencing on InitProducerId epoch bump

Topics are created by produce-side auto-creation; run against a
throwaway broker (``auto.create.topics.enable=true``) — topic names
are uuid-suffixed to avoid collisions but nothing is deleted.
"""

from __future__ import annotations

import os
import time
import uuid

import pytest

from aether_firebase_consumer_spark.sources.kafka_wire import (
    API_FETCH,
    API_INIT_PRODUCER_ID,
    API_LIST_OFFSETS,
    API_PRODUCE,
    EARLIEST,
    LATEST,
    KafkaWireClient,
    ProducerFencedError,
    TransactionalProducer,
)

BOOTSTRAP = os.environ.get("AFCS_KAFKA_BOOTSTRAP")

pytestmark = pytest.mark.skipif(
    BOOTSTRAP is None,
    reason="no real broker: set AFCS_KAFKA_BOOTSTRAP=host:port to run "
           "the conformance tier (see module docstring for coverage)")


def _client() -> KafkaWireClient:
    host, _, port = BOOTSTRAP.rpartition(":")
    kw = {}
    sasl = os.environ.get("AFCS_KAFKA_SASL")
    if sasl:
        user, _, pwd = sasl.partition(":")
        kw["sasl_plain"] = (user, pwd)
    return KafkaWireClient(host, int(port), **kw)


def _topic(tag: str) -> str:
    return f"afcs.conf.{tag}.{uuid.uuid4().hex[:12]}"


def _await_topic(c: KafkaWireClient, topic: str,
                 timeout: float = 10.0) -> None:
    """Auto-created topics take a metadata round to settle leaders."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if topic in c.metadata([topic]):
            return
        time.sleep(0.2)
    raise AssertionError(f"topic {topic} did not appear in metadata")


def test_api_versions_cover_the_claimed_subset():
    with _client() as c:
        vers = c.api_versions()
    for key, sent in ((API_PRODUCE, 3), (API_FETCH, 4),
                      (API_LIST_OFFSETS, 1), (API_INIT_PRODUCER_ID, 0)):
        assert key in vers, f"broker does not advertise api {key}"
        lo, hi = vers[key]
        assert lo <= sent <= hi, f"api {key} v{sent} not in {lo}..{hi}"


def test_record_batch_roundtrip_with_timestamps():
    topic = _topic("rb")
    with _client() as c:
        base = c.produce_records(
            topic, 0, [(b"a", b"1", 1111), (None, b"2", 2222)])
        got = c.fetch_records(topic, 0, base)
    assert [(ts, k, v) for _o, ts, k, v in got] == \
        [(1111, b"a", b"1"), (2222, None, b"2")]


@pytest.mark.parametrize("codec", ["gzip", "snappy", "lz4", "zstd"])
def test_compressed_produce_roundtrip(codec):
    """Our encoders emit batches the REAL broker accepts,
    stores, and re-serves — the strongest possible check on the codec
    implementations."""
    topic = _topic(f"codec-{codec}")
    msgs = [(b"k%d" % i, b"the quick brown fox %d " % i * 20, 100 + i)
            for i in range(50)]
    with _client() as c:
        base = c.produce_records(topic, 0, msgs, codec=codec)
        got = c.fetch_records(topic, 0, base)
    assert [(ts, k, v) for _o, ts, k, v in got] == \
        [(ts, k, v) for k, v, ts in msgs]


def test_list_offsets_and_timestamp_lookup():
    topic = _topic("lo")
    with _client() as c:
        c.produce_records(topic, 0, [(None, b"a", 100),
                                     (None, b"b", 200),
                                     (None, b"c", 300)])
        assert c.list_offsets(topic, 0, EARLIEST) == 0
        assert c.list_offsets(topic, 0, LATEST) == 3
        hit = c.offsets_for_times({(topic, 0): 150})[(topic, 0)]
        assert hit == (200, 1)


def test_offset_commit_fetch_roundtrip():
    topic = _topic("oc")
    group = f"afcs-conf-{uuid.uuid4().hex[:8]}"
    with _client() as c:
        c.produce_records(topic, 0, [(None, b"x")])
        assert c.offset_fetch(group, topic, 0) == -1
        c.offset_commit(group, topic, 0, 1)
        assert c.offset_fetch(group, topic, 0) == 1


def test_group_membership_two_members_split_partitions():
    from aether_firebase_consumer_spark.sources.kafka_consumer import (
        GroupConsumer,
    )
    topic = _topic("grp")
    group = f"afcs-conf-{uuid.uuid4().hex[:8]}"
    with _client() as c:
        # force ≥2 partitions via keyed produce to 0 and 1 — requires
        # broker-side num.partitions ≥ 2 or pre-created topics; skip
        # gracefully when partition 1 doesn't exist
        c.produce_records(topic, 0, [(None, b"p0")])
        _await_topic(c, topic)
        if 1 not in c.metadata([topic]).get(topic, []):
            pytest.skip("broker auto-creates single-partition topics; "
                        "pre-create a 2-partition topic to run this")
        c.produce_records(topic, 1, [(None, b"p1")])
    with GroupConsumer(BOOTSTRAP, group, [topic]) as m1, \
            GroupConsumer(BOOTSTRAP, group, [topic]) as m2:
        m1.poll(0)
        m2.poll(0)
        held = sorted(m1.assignment + m2.assignment)
        assert held == [(topic, 0), (topic, 1)]
        assert not (set(m1.assignment) & set(m2.assignment))


def test_idempotent_retry_appends_nothing():
    from aether_firebase_consumer_spark.sources.kafka_wire import (
        IdempotentProducer,
    )
    topic = _topic("idem")
    with _client() as c:
        p = IdempotentProducer(c)
        p.send(topic, 0, [(b"k", b"v", 10)])
        p.retry_last(topic, 0)
        assert c.list_offsets(topic, 0, LATEST) == 1


def test_transactions_commit_abort_and_fencing():
    topic = _topic("txn")
    txn_id = f"afcs-conf-{uuid.uuid4().hex[:8]}"
    with _client() as c1, _client() as c2:
        p = TransactionalProducer(c1, txn_id)
        p.begin_transaction()
        p.send(topic, 0, [(b"keep", b"committed", 1)])
        p.commit_transaction()
        p.begin_transaction()
        p.send(topic, 0, [(b"drop", b"aborted", 2)])
        p.abort_transaction()
        committed = c2.fetch_records(topic, 0, 0,
                                     isolation="read_committed")
        assert [k for _o, _t, k, _v in committed] == [b"keep"]
        # zombie fencing: a second claimant bumps the epoch
        newer = TransactionalProducer(c2, txn_id)
        assert newer.epoch > p.epoch
        p.begin_transaction()
        with pytest.raises(ProducerFencedError):
            p.send(topic, 0, [(b"late", b"w", 3)])
