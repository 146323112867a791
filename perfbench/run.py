#!/usr/bin/env python3
"""Streaming-consumer benchmark: sink freshness and catch-up throughput.

Runs ``streaming.pipeline.StreamingUpsertJob`` end to end — ``kafka_py``
source → ``from_json`` → filter/mask/route → ``HashStateTable`` gate →
two ``ParquetUpsertTable.merge`` commits — against a ``MiniKafkaBroker``
fed by a load generator in a separate process (``loadgen.py``).

Usage, from the repository root::

    python3 perfbench/run.py --workload steady --seed 1 --seconds 12 --trace 0

The last line of standard output is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The full record of
a run (diagnostics, per-trigger progress, spans) is written to
``.perfbench_out/``. See ``NOTES.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()   # consumer process start, for setup_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
if ROOT not in sys.path:
    sys.path.insert(1, ROOT)

import analysis as A  # noqa: E402
import workload as W  # noqa: E402

DRAIN_TIMEOUT_S = 60.0
POLL_S = 0.05
#: closed loop: the window's release holds one capped trigger's worth
#: of documents per this many seconds of ``--seconds``. A 10k-doc
#: trigger takes 4-5 s on a 4-core box, so at 12 s the 3-trigger
#: release drains in about 14 s.
CLOSED_TRIGGER_S = 4
#: the JVM compiles with C1 only. A run is too short for C2 to finish:
#: with it, trigger time still fell by a fifth across the window, so
#: the window measured the compiler's progress. With C1 it is flat from
#: the second trigger after the seed.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:-UsePerfData"
#: open loop: the window waits while the last trigger lost more than
#: this share of CPU time to steal, for at most QUIET_EXTRA triggers.
#: Steal is the hypervisor running other guests on our vCPUs; in runs
#: where it reached 4-28% of a window, triggers took 1.4-2.5x as long.
QUIET_STEAL = 0.02
QUIET_EXTRA = 3
#: pause after each forced GC for Spark's ContextCleaner
HEAP_SETTLE_S = 0.5
#: record fields echoed to stderr, enough to diagnose a noisy run
DIAGNOSTICS = ("env", "timeline", "setup", "warmup_trigger_s",
               "window_cpu_busy_share", "window_cpu_steal_share",
               "generator_lateness_s_p99", "freshness_docs",
               "freshness_triggers", "quiet_extra_triggers", "rounds",
               "consumed_docs",
               "recorder_input_rows", "recorder_falling_behind", "drained",
               "bad_ids")


def _env() -> dict:
    """Pin the knobs that change what a trigger costs, keep every file
    the JVM and Python write inside the checkout, and record them."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={tmp} {JVM_OPTS}")
            + " pyspark-shell"),
    })
    return {"nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": cpus,
            "driver_mem": "2g", "jvm_opts": JVM_OPTS,
            "loadavg_start": os.getloadavg()}


def _pss_mb(exclude: int) -> tuple[float, int]:
    """Summed PSS of this process and its Python descendants (daemon,
    workers, source runners), leaving out the ``exclude`` subtree."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    st = fh.read()
            except OSError:
                continue
            parent[int(d)] = int(st[st.rindex(")") + 2:].split()[1])
    mine = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in mine and pid not in mine and pid != exclude:
                mine.add(pid)
                grew = True
    total_kb, n = 0, 0
    for pid in mine:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if not fh.read().startswith("python"):
                    continue
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        n += 1
                        break
        except OSError:
            continue
    return total_kb / 1024, n


def _cpu_ticks() -> list[int]:
    """Aggregate CPU ticks from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _tree_bytes(paths, seen: set | None = None) -> tuple[int, int]:
    """Bytes and file count under ``paths``, each inode counted once
    (versions share unchanged files as hardlinks). Inodes already in
    ``seen`` add no bytes."""
    seen = set() if seen is None else seen
    total = files = 0
    for top in paths:
        for dirpath, _dirs, names in os.walk(top):
            for name in names:
                try:
                    st = os.lstat(os.path.join(dirpath, name))
                except OSError:
                    continue
                files += 1
                if (st.st_dev, st.st_ino) not in seen:
                    seen.add((st.st_dev, st.st_ino))
                    total += st.st_size
    return total, files


def _from_json(df):
    from pyspark.sql import functions as F
    return (df.select(F.from_json(F.col("value").cast("string"),
                                  W.DOC_SCHEMA).alias("d"), "offset")
            .select("d.*", "offset"))


class Consumer:
    """The system under test plus the recording around it."""

    def __init__(self, spark, wl: W.Workload, tracer: A.Tracer) -> None:
        from aether_firebase_consumer_spark.operators.filtering import (
            FilterConfig,
        )
        from aether_firebase_consumer_spark.operators.masking import (
            MaskConfig,
        )
        from aether_firebase_consumer_spark.operators.routing import (
            Subscription,
        )
        from aether_firebase_consumer_spark.sinks.upsert import (
            HashStateTable,
            ParquetUpsertTable,
        )
        from aether_firebase_consumer_spark.streaming.pipeline import (
            PipelineConfig,
            StreamingUpsertJob,
        )
        self.spark, self.wl, self.tracer = spark, wl, tracer
        self.cfg = PipelineConfig(
            tenant=W.TENANT,
            filter_config=FilterConfig("topic", list(W.PASS_TOPICS)),
            mask_config=MaskConfig(["public", "private"], "public"),
            classifications={c: "private" for c in W.MASKED},
            subscriptions=[Subscription(id="s1", topic_pattern="*")],
            sync_mode="sync", seq_col="offset")
        self.doc_path = os.path.join(WORK, "docs")
        self.hash_path = os.path.join(WORK, "hashes")
        self.doc_table = ParquetUpsertTable(spark, self.doc_path, ["id"])
        self.hash_table = HashStateTable(spark, self.hash_path)
        self.job = StreamingUpsertJob(self.cfg, self.doc_table,
                                      self.hash_table)
        self.started: dict[int, float] = {}
        self.done: dict[int, float] = {}
        self.steal: dict[int, float] = {}   # share of CPU time stolen
        self.sink: dict[int, dict] = {}     # traced: per-trigger sink probe
        self._inodes: set = set()
        self.query = None
        self._instrument()

    def _instrument(self) -> None:
        """Time every trigger; with tracing on, also span the public
        calls ``process_batch`` makes into the streaming and sink layers
        and probe what each trigger wrote."""
        t, job = self.tracer, self.job
        job.drift.observe = t.wrap("streaming.drift_observe",
                                   job.drift.observe)
        self.hash_table.needs_update = t.wrap("sinks.hash_gate",
                                              self.hash_table.needs_update)
        self.hash_table.record = t.wrap("sinks.hash_record",
                                        self.hash_table.record)
        self.doc_table.merge = t.wrap("sinks.doc_merge", self.doc_table.merge)
        inner = t.wrap("streaming.process_batch", job.process_batch)

        def on_batch(batch, epoch_id):
            t.trigger = epoch_id
            if t.enabled:
                before = (self.doc_table.current_version(),
                          self.hash_table.table.current_version())
            ticks = _cpu_ticks()
            self.started[epoch_id] = time.time()
            inner(batch, epoch_id)
            ticks = [b - a for a, b in zip(ticks, _cpu_ticks())]
            self.steal[epoch_id] = ticks[7] / max(1, sum(ticks))
            self.done[epoch_id] = time.time()
            if t.enabled:
                self._probe_sink(epoch_id, before)
        job.process_batch = on_batch

    def _probe_sink(self, epoch_id: int, before: tuple[int, int]) -> None:
        """After the trigger's commits, outside its spans: docs written
        (from the change feed of the new doc-table versions), new
        versions of both tables, new-inode bytes, files per version."""
        doc_v = self.doc_table.current_version()
        hash_v = self.hash_table.table.current_version()
        new_docs = range(before[0] + 1, doc_v + 1)
        self.sink[epoch_id] = {
            "written": sum(self.doc_table.changes(v).count()
                           for v in new_docs),
            "versions": (doc_v - before[0]) + (hash_v - before[1]),
            "bytes": _tree_bytes([self.doc_path, self.hash_path],
                                 self._inodes)[0],
            "files": [_tree_bytes([os.path.join(self.doc_path, f"v{v}")])[1]
                      for v in new_docs]}

    def start(self, bootstrap: str) -> None:
        from aether_firebase_consumer_spark.sources.kafka_pysource import (
            register_kafka_py,
        )
        register_kafka_py(self.spark)
        reader = (self.spark.readStream.format("kafka_py")
                  .option("bootstrap", bootstrap)
                  .option("subscribe", W.TOPIC)
                  .option("startingOffsets", "earliest"))
        if self.wl.max_per_trigger:
            reader = reader.option("maxOffsetsPerTrigger",
                                   str(self.wl.max_per_trigger))
        self.query = self.job.writer(
            _from_json(reader.load()),
            os.path.join(WORK, "checkpoint")).start()

    def progress(self) -> dict[int, dict]:
        return {p["batchId"]: p for p in
                (json.loads(x.json) for x in self.query.recentProgress)}

    def _wait(self, ready, timeout: float):
        """Poll ``ready()`` until it returns a value other than None.
        Between polls only Python state is read; the query's health is
        asked of the JVM once a second."""
        deadline = time.time() + timeout
        next_check = 0.0
        while time.time() < deadline:
            if time.time() >= next_check:
                if self.query.exception() is not None:
                    raise RuntimeError(
                        f"query failed: {self.query.exception()}")
                next_check = time.time() + 1
            got = ready()
            if got is not None:
                return got
            time.sleep(POLL_S)
        return None

    def wait_committed(self, log_end: dict[int, int],
                       timeout: float = DRAIN_TIMEOUT_S) -> int | None:
        """Id of the batch whose commit reached ``log_end`` on every
        partition, or None after ``timeout``. Progress is read from the
        JVM only for a batch that finished since the last read."""
        read = {"batch": None}

        def ready():
            latest = max(self.done, default=None)
            if latest is None or latest == read["batch"]:
                return None
            p = self.query.lastProgress
            p = json.loads(p.json) if p is not None else None
            if p is None or p["batchId"] != latest:
                return None     # the commit lags process_batch a little
            read["batch"] = latest
            got = A.tp_offsets(p["sources"][0]["endOffset"])
            if all(got.get(k, 0) >= e for k, e in log_end.items()):
                return latest
            return None
        return self._wait(ready, timeout)

    def wait_triggers(self, n: int, timeout: float = DRAIN_TIMEOUT_S) -> None:
        if self._wait(lambda: True if len(self.done) >= n else None,
                      timeout) is None:
            raise RuntimeError(f"only {len(self.done)} of {n} triggers "
                               f"in {timeout:.0f}s")

    def table_rows(self) -> dict[str, dict]:
        pdf = self.doc_table.read().select(*W.COMPARE_FIELDS).toPandas()
        cols = {c: pdf[c].tolist() for c in W.COMPARE_FIELDS}
        return {cols["id"][i]: {c: cols[c][i] for c in W.COMPARE_FIELDS}
                for i in range(len(pdf))}


class Generator:
    """Handle on the broker + load generator process."""

    def __init__(self, wl: W.Workload, seed: int) -> None:
        import multiprocessing as mp

        import loadgen
        ctx = mp.get_context("spawn")
        self.conn, child = ctx.Pipe()
        self.proc = ctx.Process(target=loadgen.serve,
                                args=(child, wl.name, seed), daemon=True)
        self.proc.start()
        child.close()
        self.records: list = []       # every send, in send order
        self.bootstrap = ""

    def ready(self) -> str:
        if not self.conn.poll(120):
            raise RuntimeError("load generator did not start")
        _tag, host, port, seeded = self.conn.recv()
        self.records += seeded
        self.bootstrap = f"{host}:{port}"
        return self.bootstrap

    def call(self, *cmd):
        self.conn.send(cmd)
        if not self.conn.poll(120):
            raise RuntimeError(f"load generator did not answer {cmd[0]!r}")
        reply = self.conn.recv()
        if reply[0] != "ok":
            raise RuntimeError(f"load generator: {reply}")
        return reply[1:]

    def release(self, items) -> float:
        t, records = self.call("release", items)
        self.records += records
        return t

    def log_end(self) -> dict[int, int]:
        return self.call("log_end")[0]

    def close(self) -> None:
        try:
            if self.proc.is_alive():
                self.call("stop")
        except (OSError, EOFError, RuntimeError):
            pass
        self.proc.join(timeout=30)
        if self.proc.is_alive():
            self.proc.terminate()
            self.proc.join(timeout=10)
        # spawning also started multiprocessing's resource tracker; stop
        # it and wait for it rather than leave it to exit after us
        from multiprocessing import resource_tracker
        resource_tracker._resource_tracker._stop()


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it the
    Python daemon and workers) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()      # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def _mxbeans(spark):
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory


def _jvm_gc_s(spark) -> float:
    return sum(b.getCollectionTime()
               for b in _mxbeans(spark).getGarbageCollectorMXBeans()) / 1000


def _jvm_live_heap_mb(spark) -> float:
    """Heap still in use after forced full GCs, from each heap pool's
    post-GC usage (later allocations do not touch it). A GC only queues
    the weak references through which Spark's ContextCleaner frees
    broadcast and shuffle blocks; the cleaner thread drops them a moment
    later and the next GC reclaims them. So GC repeats, with a pause
    for the cleaner, until a GC frees nothing new."""
    # Python objects in reference cycles pin the JVM objects their py4j
    # handles point at until Python's own collector runs
    gc.collect()
    beans = _mxbeans(spark)
    pools = [p for p in beans.getMemoryPoolMXBeans()
             if p.getType().name() == "HEAP"]
    live = float("inf")
    for _ in range(10):
        beans.getMemoryMXBean().gc()
        time.sleep(HEAP_SETTLE_S)
        now = sum(p.getCollectionUsage().getUsed() for p in pools
                  if p.getCollectionUsage() is not None) / 2 ** 20
        if live - now < 0.5:
            return now
        live = now
    return live


def _due_map(records) -> dict[tuple[int, int], float]:
    return {(part, base + i): due
            for part, base, items, due, _sent in records
            for i in range(len(items))}


def _run_open(con: Consumer, gen: Generator, seconds: float, rec: dict,
              start_window) -> tuple[float, float, list]:
    """Steady: warm up on the open loop, adding up to ``QUIET_EXTRA``
    triggers while the host steals CPU time, keep it running for
    ``seconds`` more, then stop it and drain everything that was sent.
    Returns the window and an empty list of releases."""
    gen.call("open", time.time() + 0.1)
    warm = 1 + W.WARMUP_TRIGGERS
    con.wait_triggers(warm)
    # the window starts on a quiet host if one comes soon: a trigger
    # slowed by steal says nothing about the program
    extra = 0
    while con.steal[max(con.done)] > QUIET_STEAL and extra < QUIET_EXTRA:
        extra += 1
        con.wait_triggers(warm + extra)
    rec["quiet_extra_triggers"] = extra
    t_win0 = start_window()
    time.sleep(max(0.0, t_win0 + seconds - time.time()))
    t_win1 = time.time()
    sends = gen.call("close_open")[0]
    gen.records += sends
    log_end = {p: 0 for p in range(W.PARTITIONS)}
    for part, base, items, _due, _sent in gen.records:
        log_end[part] = max(log_end[part], base + len(items))
    rec["drained"] = con.wait_committed(log_end) is not None
    late = A.lateness(sends)
    rec["generator_lateness_s_p99"] = A.percentile(late, 99)
    rec["generator_lateness_s_max"] = max(late)
    return t_win0, t_win1, []


def _run_closed(con: Consumer, gen: Generator, seconds: float, rec: dict,
                start_window) -> tuple[float, float, list]:
    """Backlog / resend: warm up on one release of ``WARMUP_TRIGGERS``
    capped triggers, then time one release of a trigger's worth of
    documents per ``CLOSED_TRIGGER_S`` of ``seconds``. Each release is
    drained before the run goes on. Its size does not depend on speed,
    so every run does the same work. Returns the window and the
    releases as ``(released, committed, docs)``."""
    wl = con.wl

    def release(ks) -> tuple[float, int]:
        t = gen.release([item for k in ks for item in W.closed_round(wl, k)])
        last = con.wait_committed(gen.log_end())
        if last is None:
            raise RuntimeError("release not drained")
        return t, last

    warm = W.WARMUP_TRIGGERS
    release(range(warm))
    t_win0 = start_window()
    n = max(1, round(seconds / CLOSED_TRIGGER_S))
    t_rel, last = release(range(warm, warm + n))
    rec["drained"] = True
    return t_win0, time.time(), [(t_rel, con.done[last], n * wl.round_docs)]


def _probe_fetch(bootstrap: str, ranges: dict, batches) -> tuple:
    """Re-fetch the window's offset ranges through the wire client the
    source uses (fetch + lz4 + record decode), in the Spark driver
    process."""
    from aether_firebase_consumer_spark.sources.kafka_wire import (
        KafkaWireClient,
    )
    host, _, port = bootstrap.rpartition(":")
    values, nbytes = [], 0
    t = time.perf_counter()
    with KafkaWireClient(host, int(port)) as client:
        for b in batches:
            for part, (start, end) in ranges[b].items():
                off = start
                while off < end:
                    recs = client.fetch_records(W.TOPIC, part, off)
                    for o, _ts, key, value in recs:
                        if o < end:
                            values.append((value.decode(), o))
                            nbytes += len(key or b"") + len(value)
                    off = recs[-1][0] + 1
    return time.perf_counter() - t, values, nbytes


def _probe_transform(con: Consumer, values) -> float:
    """``pipeline.transform`` over the window's documents as a static
    frame (from_json included), written to the noop sink."""
    import pandas as pd

    from aether_firebase_consumer_spark.streaming.pipeline import transform
    pdf = pd.DataFrame(values, columns=["value", "offset"])
    src = con.spark.createDataFrame(pdf, "value string, offset bigint")
    src = src.cache()
    src.count()
    t = time.perf_counter()
    (transform(_from_json(src), con.cfg)
     .write.format("noop").mode("overwrite").save())
    dt = time.perf_counter() - t
    src.unpersist()
    return dt


def _per_layer(con: Consumer, gen: Generator, progress: dict, ranges: dict,
               batches: list, setup: dict, gc_s: float) -> dict:
    t = con.tracer
    win = set(batches)
    prog = [progress[b] for b in batches]
    dur = [p["durationMs"] for p in prog]
    fetch_s, values, fetched = _probe_fetch(gen.bootstrap, ranges, batches)
    kdocs = len(values) / 1000
    transform_s = _probe_transform(con, values)
    rows_out = sum(p["observedMetrics"]["afcs_pipeline"]["rows_out"]
                   for p in prog)
    rows_in = sum(p["numInputRows"] for p in prog)
    # documents left after the seq_col collapse, per trigger, from the
    # generator's own records: distinct ids that pass the filter
    owner = {(part, base + i): idx
             for part, base, items, _d, _s in gen.records
             for i, (idx, _rev) in enumerate(items)}
    collapsed = 0
    for b in batches:
        ids = {owner[(part, o)] for part, (s, e) in ranges[b].items()
               for o in range(s, e)}
        collapsed += sum(map(W.passes_filter, ids))
    sink = [con.sink[b] for b in batches]
    # lag: documents on the log when the trigger began, minus its
    # planned end
    sends = sorted((sent, len(items))
                   for _p, _b, items, _d, sent in gen.records)
    lag = [sum(n for sent, n in sends if sent <= con.started[b])
           - sum(e for _s, e in ranges[b].values()) for b in batches]
    pb = [i for i, s in enumerate(t.spans)
          if s.name == "streaming.process_batch" and s.trigger in win]
    batch_s = t.durations("streaming.process_batch", win)

    def p50(values):
        return A.percentile(values, 50)

    return {
        "sources.latest_offset_s_p50": (
            p50([d.get("latestOffset", 0) / 1000 for d in dur]), "s"),
        "sources.fetch_decode_s_per_kdoc": (fetch_s / kdocs, "s/kdoc"),
        "sources.fetched_mb": (fetched / 2 ** 20, "MB"),
        "sources.lag_docs_max": (max(lag), "docs"),
        "streaming.triggers": (len(batches), "count"),
        "streaming.docs_per_trigger_p50": (
            p50([p["numInputRows"] for p in prog]), "docs"),
        "streaming.engine_overhead_s_p50": (
            p50([(d["triggerExecution"] - d["addBatch"]) / 1000
                 for d in dur]), "s"),
        "streaming.batch_s_p50": (p50(batch_s), "s"),
        "streaming.batch_s_p90": (A.percentile(batch_s, 90), "s"),
        "streaming.batch_self_s_p50": (
            p50([t.self_time(i) for i in pb]), "s"),
        "streaming.drift_observe_s_p50": (
            p50(t.durations("streaming.drift_observe", win)), "s"),
        "operators.transform_s_per_kdoc": (transform_s / kdocs, "s/kdoc"),
        "operators.pass_ratio": (rows_out / rows_in, "ratio"),
        "sinks.doc_merge_s_p50": (
            p50(t.durations("sinks.doc_merge", win)), "s"),
        "sinks.hash_record_s_p50": (
            p50(t.durations("sinks.hash_record", win)), "s"),
        "sinks.hash_gate_s_p50": (
            p50(t.durations("sinks.hash_gate", win)), "s"),
        "sinks.gate_pass_ratio": (
            sum(s["written"] for s in sink) / collapsed, "ratio"),
        "sinks.versions_per_trigger": (
            statistics.mean(s["versions"] for s in sink), "count"),
        "sinks.bytes_written_per_trigger_mb": (
            p50([s["bytes"] / 2 ** 20 for s in sink]), "MB"),
        "sinks.files_per_version": (
            p50([f for s in sink for f in s["files"]]), "count"),
        "setup.spark_s": (setup["spark_s"], "s"),
        "setup.seed_s": (setup["seed_s"], "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "jvm.gc_s": (gc_s, "s"),
    }


def run(args) -> tuple[dict, dict]:
    """One run; returns the result line and the full record."""
    timeline = {}

    def mark(name: str) -> float:
        timeline[name] = time.perf_counter() - T_PROCESS
        return time.perf_counter()

    rec: dict = {"workload": args.workload, "seed": args.seed,
                 "seconds": args.seconds, "trace": args.trace,
                 "env": _env(), "timeline": timeline}
    wl = W.WORKLOADS[args.workload]
    tracer = A.Tracer(bool(args.trace))
    gen = Generator(wl, args.seed)
    spark = con = None
    try:
        from aether_firebase_consumer_spark.control.metrics import (
            MetricsRecorder,
        )
        from aether_firebase_consumer_spark.session import get_spark
        t0 = mark("start")
        spark = get_spark("perfbench")
        t1 = mark("spark")
        con = Consumer(spark, wl, tracer)
        bootstrap = gen.ready()
        mark("generator_ready")
        con.start(bootstrap)
        mark("query_started")
        # the first micro-batch is uncapped: it takes the whole seed
        if con.wait_committed(gen.log_end()) is None:
            raise RuntimeError("seed not consumed")
        t2 = mark("seeded")
        recorder = MetricsRecorder(history=1000)
        win: dict = {}

        def start_window() -> float:
            win["warm_end"] = mark("warm")
            win["gc0"] = _jvm_gc_s(spark)
            win["cpu0"] = _cpu_ticks()
            win["first_batch"] = max(con.done) + 1
            spark.streams.addListener(recorder)
            return time.time()

        runner = _run_open if wl.mode == "open" else _run_closed
        t_win0, t_win1, rounds = runner(con, gen, args.seconds, rec,
                                        start_window)
        mark("drained")
        gc_s = _jvm_gc_s(spark) - win["gc0"]
        cpu = [b - a for a, b in zip(win["cpu0"], _cpu_ticks())]
        # host contention on a shared machine shows as steal
        rec["window_cpu_busy_share"] = 1 - (cpu[3] + cpu[4]) / sum(cpu)
        rec["window_cpu_steal_share"] = cpu[7] / sum(cpu)
        pss_mb, rec["python_procs"] = _pss_mb(gen.proc.pid)
        disk_mb = _tree_bytes([con.doc_path, con.hash_path])[0] / 2 ** 20
        setup = {"spark_s": t1 - t0, "seed_s": t2 - t1,
                 "warmup_s": win["warm_end"] - t2}
        setup_s = win["warm_end"] - T_PROCESS

        # the window's triggers are those that began in it; every
        # document they consumed is a freshness sample, so the samples
        # cover whole trigger cycles whatever the window's phase
        progress = con.progress()
        ranges = A.batch_ranges(progress.values())
        batches = sorted(b for b in ranges
                         if t_win0 <= con.started.get(b, -1) < t_win1)
        samples = A.attribute({b: ranges[b] for b in batches}, con.done,
                              _due_map(gen.records))
        fresh = [s for s, _b in samples]
        consumed = len(samples)
        if rounds:
            drain = (sum(n for *_t, n in rounds)
                     / sum(done - rel for rel, done, _n in rounds))
        else:
            # open loop: documents the window's triggers committed per
            # second since the trigger before them committed
            prev = max(b for b in con.done if b < batches[0])
            drain = consumed / (con.done[batches[-1]] - con.done[prev])
        qid = str(con.query.id)
        deadline = time.time() + 10
        while (not set(batches) <= {m.batch_id
                                    for m in recorder.batches(qid)}
               and time.time() < deadline):
            time.sleep(POLL_S)
        rec_rows = sum(m.num_input_rows for m in recorder.batches(qid)
                       if m.batch_id in batches)
        rec.update({
            "setup": setup, "freshness_docs": len(fresh),
            "freshness_triggers": len(batches),
            "window_batches": batches, "rounds": rounds,
            "consumed_docs": consumed, "recorder_input_rows": rec_rows,
            "recorder_falling_behind":
                recorder.summary(qid).get("falling_behind"),
            "trigger_steal_share": con.steal,
            "warmup_trigger_s": [con.done[b] - con.started[b]
                                 for b in sorted(con.done)
                                 if b < win["first_batch"]],
            "progress": [progress[b] for b in sorted(progress)],
        })
        metrics = {
            "freshness_p50_s": (A.percentile(fresh, 50), "s"),
            "freshness_p90_s": (A.percentile(fresh, 90), "s"),
            "drain_docs_per_s": (drain, "docs/s"),
            "setup_s": (setup_s, "s"),
            "python_pss_mb": (pss_mb, "MB"),
            "sink_disk_mb": (disk_mb, "MB"),
        }
        con.query.stop()
        # after the stop no trigger is mid-flight: what survives a full
        # GC is what the consumer retains
        metrics["jvm_live_heap_mb"] = (_jvm_live_heap_mb(spark), "MB")
        mark("stopped")
        if tracer.enabled:
            # the traced run's own end-to-end numbers sit beside the
            # layers, so tracing overhead is their difference from an
            # untraced run
            metrics = {f"traced.{k}": v for k, v in metrics.items()}
            metrics.update(_per_layer(con, gen, progress, ranges, batches,
                                      setup, gc_s))
            rec["spans"] = tracer.as_json()
            mark("probed")

        # correctness: the final doc table against the reference replay
        sent = [item for *_pb, items, _d, _s in gen.records
                for item in items]
        bad = W.compare_tables(W.replay(args.seed, sent), con.table_rows())
        rec["bad_ids"] = bad[:20]
        rec["recorder_matches"] = rec_rows == consumed
        mark("checked")
        return {
            "correct": (not bad and rec["recorder_matches"]
                        and rec["drained"]),
            "attempted": len(sent),
            "failed": len(bad),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }, rec
    finally:
        if con is not None and con.query is not None:
            con.query.stop()
        if spark is not None:
            spark.stop()
            _stop_jvm()
        gen.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import aether_firebase_consumer_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout ({exc})",
              file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        result, record = run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({k: record[k] for k in DIAGNOSTICS if k in record},
                     default=str), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
