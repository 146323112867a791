"""Broker and load generator, run together in their own process.

The consumer under test shares nothing with this process but the TCP
socket to :class:`MiniKafkaBroker`, so the generator keeps its schedule
whatever the consumer is doing. The parent drives it over a
``multiprocessing`` pipe with ``(command, *args)`` tuples; every
command is answered with one reply.

* ``("open", t0)`` — start the open loop: tick ``k`` is due at
  ``t0 + k * TICK_S`` and sends ``rate * TICK_S`` documents as one
  lz4-compressed Produce per partition. A late tick is sent late, never
  skipped, and its lateness is recorded.
* ``("close_open",)`` — stop the open loop; replies with its send
  records.
* ``("release", items)`` — closed loop: append ``(idx, rev)`` items to
  the log at once, round-robin over partitions, and reply with the
  release time and the send records.
* ``("log_end",)`` — per-partition log end offsets.
* ``("stop",)`` — stop the broker and exit.

A send record is ``(partition, base_offset, [(idx, rev), ...], due,
sent)``: ``due`` is the scheduled time and ``sent`` the time the
Produce was issued, both ``time.time()`` on the shared host clock.
"""

from __future__ import annotations

import threading
import time

import workload as W


def _fast_broker_codec() -> None:
    """The broker re-encodes every fetch response; with the pure-Python
    lz4 encoder that re-encode would dominate a backlog drain. Inside
    this process only, compress with pyarrow's C lz4 frame encoder: the
    consumer still receives standard lz4 frames and decodes them with
    the program's own codec path."""
    import pyarrow as pa
    try:
        from aether_firebase_consumer_spark.sources import lz4_py
    except ImportError:  # codec module gone: the wire path uses C codecs
        return
    lz4_py.compress_frame = (
        lambda data, **_: pa.compress(data, codec="lz4", asbytes=True))


class _OpenLoop(threading.Thread):
    def __init__(self, host: str, port: int, wl: W.Workload,
                 stream: W.SteadyStream, seed: int, t0: float) -> None:
        super().__init__(daemon=True)
        self._host, self._port = host, port
        self._wl, self._stream, self._seed, self._t0 = wl, stream, seed, t0
        self._halt = threading.Event()
        self.records: list = []
        self.error: BaseException | None = None

    def run(self) -> None:
        from aether_firebase_consumer_spark.sources.kafka_wire import (
            KafkaWireClient,
        )
        per_tick = round(self._wl.rate * W.TICK_S)
        try:
            with KafkaWireClient(self._host, self._port) as client:
                k = 0
                while not self._halt.is_set():
                    due = self._t0 + k * W.TICK_S
                    delay = due - time.time()
                    if delay > 0 and self._halt.wait(delay):
                        break
                    by_part: dict[int, list] = {}
                    for idx, rev in self._stream.take(per_tick):
                        by_part.setdefault(W.doc_partition(idx), []).append(
                            (idx, rev))
                    for part, items in sorted(by_part.items()):
                        msgs = [(W.doc_id(i).encode(),
                                 W.doc_bytes(self._seed, i, r),
                                 int(due * 1000)) for i, r in items]
                        sent = time.time()
                        base = client.produce_records(W.TOPIC, part, msgs,
                                                      codec="lz4")
                        self.records.append((part, base, items, due, sent))
                    k += 1
        except BaseException as exc:  # reported to the parent on close
            self.error = exc

    def close(self) -> list:
        self._halt.set()
        self.join(timeout=30)
        if self.error is not None:
            raise RuntimeError(f"open loop failed: {self.error!r}")
        return self.records


def _release(broker, seed: int, items: list,
             spread: bool) -> tuple[float, list]:
    """Append a whole release to the log in one step, so the consumer
    never plans a trigger against a half-written backlog."""
    parts = W.split_round(items) if spread else W.split_by_key(items)
    # encode before taking the lock: the consumer's offset polls wait on it
    encoded = {part: [(W.doc_id(idx).encode(), W.doc_bytes(seed, idx, rev))
                      for idx, rev in chunk] for part, chunk in parts.items()}
    records = []
    with broker._lock:
        now = time.time()
        ts = int(now * 1000)
        for part, chunk in parts.items():
            tp = (W.TOPIC, part)
            log = broker._logs.setdefault(tp, [])
            base = broker._next.get(tp, 0)
            log.extend((base + i, ts, key, value, ())
                       for i, (key, value) in enumerate(encoded[part]))
            broker._next[tp] = base + len(chunk)
            records.append((part, base, chunk, now, now))
    return now, records


def serve(conn, workload_name: str, seed: int) -> None:
    """Process entry point: run the broker, put the seed documents on
    the log (the consumer's first micro-batch reads them), then answer
    commands."""
    from aether_firebase_consumer_spark.sources.kafka_wire import (
        MiniKafkaBroker,
    )
    _fast_broker_codec()
    wl = W.WORKLOADS[workload_name]
    broker = MiniKafkaBroker(fetch_codec="lz4").start()
    broker.create_topic(W.TOPIC, partitions=W.PARTITIONS)
    stream = W.SteadyStream(seed, wl) if wl.mode == "open" else None
    loop: _OpenLoop | None = None
    _t, seeded = _release(broker, seed, [(i, 0) for i in range(wl.seed_ids)],
                          spread=False)
    conn.send(("ready", broker.host, broker.port, seeded))
    try:
        while True:
            cmd, *args = conn.recv()
            if cmd == "open":
                loop = _OpenLoop(broker.host, broker.port, wl, stream, seed,
                                 args[0])
                loop.start()
                conn.send(("ok",))
            elif cmd == "close_open":
                conn.send(("ok", loop.close()))
            elif cmd == "release":
                conn.send(("ok",) + _release(broker, seed, args[0],
                                             spread=True))
            elif cmd == "log_end":
                conn.send(("ok", {p: broker.log_end_offset(W.TOPIC, p)
                                  for p in range(W.PARTITIONS)}))
            elif cmd == "stop":
                conn.send(("ok",))
                return
            else:
                conn.send(("error", f"unknown command {cmd!r}"))
    finally:
        if loop is not None:
            loop._halt.set()
        broker.stop()
