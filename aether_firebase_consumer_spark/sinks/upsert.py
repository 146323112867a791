"""Batched upsert sink (reference O12) + hash change gate (O10).

The reference accumulates Firestore ``batch.set(ref, doc)`` calls keyed
by ``doc['id']`` — set = full-document upsert — committing every 50 docs
(``firebase/app/artifacts.py:302-327,403-406``; refs built at
``firebase/app/helpers.py:98-103``). Its sink is a hierarchical document
store addressed by ``{target_path}/{id}``.

Spark-first re-expression: a **keyed table with MERGE semantics**.
Without Delta on the classpath (v1 image), MERGE is implemented as the
classic *parquet version-swap*:

    new_version = current ⟕anti batch (by key)  ∪  batch
    write new_version → atomically repoint `_VERSION`

Writes are idempotent by key, so at-least-once delivery from a
restarted micro-batch converges — the same effectively-once argument
the reference gets from deterministic document ids.

Scale posture: the anti-join shuffles on the key (same partitioning the
MERGE write needs); with a partitioned table only partitions containing
batch keys are rewritten (``merge`` prunes via a semi-join on the
partition column when ``partition_col`` is set) — at 100 TB you never
rewrite the whole table for a small batch. Swap to Delta/Iceberg MERGE
is a drop-in upgrade of this class.
"""

from __future__ import annotations

import datetime
import functools
import json
import os
import random
import shutil
import time
import uuid
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from aether_firebase_consumer_spark.materialize import materialize, release_scope

HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the version this write was derived
    against (optimistic-concurrency conflict). RETRYABLE: re-read the
    table and re-derive the write — the table methods do this
    themselves up to ``commit_retries`` times before letting the
    error escape."""


def _retrying(fn):
    """Re-run a whole write method on commit conflict: each attempt
    re-reads the current version, so the re-derived MERGE/DELETE is
    correct against the other writer's committed result — the classic
    optimistic-concurrency loop (what Delta's commit protocol does for
    concurrent blind appends, generalized to re-derivation because our
    writes read the table)."""
    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        last = None
        for attempt in range(self.commit_retries + 1):
            try:
                return fn(self, *args, **kwargs)
            except ConcurrentCommitError as e:
                last = e
                # full-jitter backoff, capped at 2 s: the cap must
                # exceed a typical opponent commit's wall time or two
                # sustained writers re-collide on every attempt
                time.sleep(random.random() * min(0.1 * 2 ** attempt, 2.0))
        raise last
    return wrapper


def hive_partition_value(v) -> str:
    """The string Spark writes for ``v`` in a partition directory name
    (after Hive %-escaping is undone). Python ``str()`` is WRONG for
    booleans (``str(True)`` = ``'True'`` but Hive writes ``pc=true``)
    and for null (``__HIVE_DEFAULT_PARTITION__``) — mismatches there
    hardlinked the stale partition *alongside* the merged one."""
    if v is None:
        return HIVE_DEFAULT_PARTITION
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _key_join(left: DataFrame, keys_df: DataFrame, key_cols: list[str],
              how: str) -> DataFrame:
    """NULL-SAFE ``left ANTI|SEMI JOIN keys_df ON key_cols`` (``how`` is
    ``"left_anti"`` or ``"left_semi"``): the name-list join form uses
    null-unsafe equality, under which a null-keyed row in ``left``
    never matches a null key in the batch — a MERGE would then keep
    the old row alongside the new one (silent duplicate) and a DELETE
    would never delete it. Null keys are pathological for a document
    table but perfectly legal for a GROUP BY view maintained through
    this table (SQL groups nulls), so key matching is ``<=>``
    throughout."""
    l, r = left.alias("l"), keys_df.select(*key_cols).alias("r")
    cond = None
    for k in key_cols:
        e = F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}"))
        cond = e if cond is None else cond & e
    return l.join(r, cond, how)


def _touched_filter(pc: str, touched: list) -> Column:
    """Null-safe ``pc IN touched``: ``isin`` never matches null, so a
    batch carrying a null partition value must OR in ``isNull`` or the
    current null-partition rows silently fall out of the merge."""
    non_null = [t for t in touched if t is not None]
    cond = F.col(pc).isin(non_null) if non_null else F.lit(False)
    if len(non_null) != len(touched):
        cond = cond | F.col(pc).isNull()
    return cond


class ParquetUpsertTable:
    """A keyed parquet table with MERGE-by-key (upsert) semantics."""

    def __init__(self, spark: SparkSession, path: str, key_cols: list[str],
                 partition_col: str | None = None,
                 retain_versions: int = 2,
                 commit_retries: int = 8,
                 stats_cols: list[str] | None = None,
                 bloom_cols: list[str] | None = None,
                 record_change_values: bool = False,
                 record_change_preimages: bool = False):
        if retain_versions < 2:
            raise ValueError("retain_versions must be >= 2 (current + "
                             "previous for concurrent readers)")
        self.spark = spark
        self.path = path
        self.key_cols = key_cols
        self.partition_col = partition_col
        self.retain_versions = retain_versions
        self.commit_retries = commit_retries
        #: version (or (version, kept-files)) -> lazy DataFrame
        #: handle of that immutable data (see _read_at / read_where)
        self._read_memo: dict = {}
        #: columns tracked in the per-version file-stats manifest
        #: (Delta-style data skipping — see sinks/stats.py). Every
        #: commit writes `_STATS.json` into the new version dir; only
        #: files NEW in that commit pay a footer read. Attaching
        #: stats_cols to an already-populated table bootstraps the
        #: manifest on the next commit (one full footer sweep, then
        #: incremental).
        self.stats_cols = stats_cols
        #: columns additionally tracked with per-file BLOOM filters in
        #: the manifest — equality/point-lookup skipping (the
        #: takedown-by-id case interval stats can't serve on an
        #: unsorted column). Costs a column-pruned data read per NEW
        #: file at commit time. Requires stats_cols (shares the
        #: manifest).
        self.bloom_cols = bloom_cols
        if bloom_cols and not stats_cols:
            raise ValueError(
                "bloom_cols requires stats_cols (the bloom filters "
                "live in the stats manifest; pass stats_cols=[...] — "
                "they may be different columns)")
        #: (files_scanned, files_total) of the last merge's moved-key
        #: scan when manifest key stats pruned it; None = full scan
        self.last_moved_scan: tuple | None = None
        #: when True, commit-time recordings carry the POST-IMAGE of
        #: every insert/update row (Delta-CDF-style row images), so a
        #: downstream consumer can maintain a derived table from the
        #: feed ALONE — no corpus re-read per poll. Deletes stay
        #: keys-only (absence is the whole message). Costs recording
        #: bytes ∝ changed rows' width instead of key width.
        self.record_change_values = record_change_values
        #: when True, commit-time recordings additionally carry the
        #: PRE-IMAGE of every update/delete row as ``_pre_<col>``
        #: columns (inserts carry nulls there) — the retraction feed
        #: an incremental aggregate maintainer needs: a view
        #: maintaining SUM/COUNT per group must SUBTRACT the old row
        #: (from its OLD group — group moves included) and add the
        #: new one, which post-images alone cannot express. Orthogonal
        #: to ``record_change_values``; a view maintainer wants both.
        self.record_change_preimages = record_change_preimages
        os.makedirs(path, exist_ok=True)

    # -- version pointer / commit protocol ------------------------------
    #
    # Round 10: commits are OPTIMISTIC-CONCURRENCY safe. The version-
    # file swap alone assumed a single writer — two jobs that both read
    # v5 would both write the v6 directory (clobbering each other's
    # files mid-write) and both repoint, silently dropping one commit.
    # The protocol now is the local-FS form of Delta's LogStore
    # put-if-absent:
    #
    #   1. stage the new version's data into a UNIQUE scratch dir
    #      (`_staged-<token>`) — concurrent writers never share a
    #      directory, so there is no data-file race at all;
    #   2. CAS: hardlink a fully-written marker file into
    #      `_COMMIT_v{n}` — os.link is atomic put-if-absent WITH
    #      content (an O_EXCL create + write would expose an empty
    #      marker to readers). Exactly ONE writer per version number
    #      wins; the loser raises ConcurrentCommitError, cleans its
    #      scratch, and the @_retrying wrapper re-derives against the
    #      winner's result;
    #   3. rename the scratch dir to `v{n}` and swap `_VERSION`.
    #
    # The marker is the durable commit point: it is created only after
    # the data is fully staged, so a crash after step 2 is ROLLED
    # FORWARD by the next current_version() call (finish the rename +
    # pointer swap on the crashed writer's behalf); a crash before it
    # leaves only an orphan scratch dir (reclaimed by vacuum). Readers
    # are unaffected throughout: they see `v{n}` dirs and the pointer,
    # exactly as before.
    def _version_file(self) -> str:
        return os.path.join(self.path, "_VERSION")

    def _marker(self, version: int) -> str:
        return os.path.join(self.path, f"_COMMIT_v{version}")

    def _stage_dir(self) -> str:
        return os.path.join(self.path, f"_staged-{uuid.uuid4().hex[:12]}")

    def current_version(self) -> int:
        try:
            with open(self._version_file()) as fh:
                v = int(fh.read().strip())
        except FileNotFoundError:
            v = -1
        # roll forward a commit that crashed between its marker link
        # and the pointer swap: the marker names the staged dir and is
        # only ever written after the data is complete
        while os.path.exists(self._marker(v + 1)):
            with open(self._marker(v + 1)) as fh:
                staged = json.load(fh)["staged"]
            self._finish_commit(v + 1, staged)
            v += 1
        return v

    def _finish_commit(self, v: int, staged_name: str) -> None:
        """Steps 3 of the commit protocol — idempotent and safe to run
        concurrently (a reader rolling forward can race the committing
        writer: one rename wins, the other sees the destination already
        in place; the pointer write is a same-content replace)."""
        dst = self._data_dir(v)
        src = os.path.join(self.path, staged_name)
        if not os.path.isdir(dst):
            try:
                os.rename(src, dst)
            except OSError:
                if not os.path.isdir(dst):
                    raise
        # per-process tmp name: a reader rolling this commit forward
        # can run _finish_commit concurrently with the committing
        # writer — a SHARED tmp path would let one process os.replace/
        # os.unlink a tmp the other already consumed (FileNotFoundError
        # crashing a read path)
        tmp = (f"{self._version_file()}.tmp{v}."
               f"{os.getpid()}.{uuid.uuid4().hex[:6]}")
        with open(tmp, "w") as fh:
            fh.write(str(v))
        # never move the pointer backwards: a v6 roll-forward racing a
        # v7 committer must not replace 7 with 6 (self-healing via the
        # marker loop, but avoidable here at the cost of one read)
        try:
            with open(self._version_file()) as fh:
                newer = int(fh.read().strip()) > v
        except (FileNotFoundError, ValueError):
            newer = False
        if newer:
            os.unlink(tmp)
        else:
            os.replace(tmp, self._version_file())

    def _data_dir(self, version: int) -> str:
        return os.path.join(self.path, f"v{version}")

    def _evict_read_memo(self, min_version: int) -> None:
        """Drop memoized read handles for versions below
        ``min_version`` (r15, VERDICT r14 #2): a continuously
        committing table adds one memo entry per version (plus one per
        skipped-read file set), and without eviction a long-lived
        writer pins every historical DataFrame handle and its JVM file
        index even though only ``retain_versions`` dirs stay on disk.
        Called from the commit GC and :meth:`vacuum`, mirroring the
        on-disk retention window exactly."""
        for k in [k for k in self._read_memo
                  if (k if isinstance(k, int) else k[0]) < min_version]:
            del self._read_memo[k]

    def _read_at(self, version: int) -> DataFrame | None:
        if version < 0:
            return None
        # memoized per version (r14): a version's data dir is IMMUTABLE
        # once committed (copy-on-write versioning — a new commit is a
        # NEW dir + atomic repoint), so re-resolving the parquet
        # footers (~100-200 ms of driver listing/schema work) per read
        # call buys nothing. Stale serving is impossible: a commit
        # advances current_version(), which keys the next lookup; a
        # vacuumed version's entry is simply never requested again.
        got = self._read_memo.get(version)
        if got is None:
            got = (self.spark.read.option("mergeSchema", "true")
                   .parquet(self._data_dir(version)))
            self._read_memo[version] = got
        return got

    # -- read -----------------------------------------------------------
    def read(self) -> DataFrame | None:
        # mergeSchema: partition-pruned merges under schema evolution
        # leave hardlinked partitions with old-schema footers; without
        # merging, Spark may sample one of those and silently drop the
        # newly added columns from the whole read
        return self._read_at(self.current_version())

    @staticmethod
    def _pred_cond(predicates) -> Column | None:
        """Conjunction Column for ``(col, op, literal)`` tuples —
        shared by read_where / delete_where so the filter applied is
        BY CONSTRUCTION the predicate the manifest pruned on."""
        cond = None
        for c, op, val in predicates:
            col = F.col(c)
            if op == "in":
                e = col.isin(list(val))
            else:
                e = {"<": col < val, "<=": col <= val, ">": col > val,
                     ">=": col >= val, "=": col == val,
                     "==": col == val}[op]
            cond = e if cond is None else cond & e
        return cond

    def files_for(self, predicates: list[tuple],
                  version: int | None = None) -> tuple | None:
        """Data-skipping plan for a conjunction of ``(col, op,
        literal)`` predicates: ``(version, kept_relpaths,
        total_files)`` from the stats manifest of ``version`` (default
        current), or None when no manifest exists (older versions, or
        a table without ``stats_cols``). Driver-side manifest lookup
        only — no file is listed or opened."""
        from aether_firebase_consumer_spark.sinks.stats import (
            load_manifest,
            prune_files,
        )

        v = self.current_version() if version is None else version
        if v < 0 or v not in self.versions():
            return None
        manifest = load_manifest(self._data_dir(v))
        if manifest is None:
            return None
        kept, total = prune_files(manifest, list(predicates),
                                  partition_col=self.partition_col)
        return v, kept, total

    def read_where(self, *predicates: tuple,
                   version: int | None = None) -> DataFrame | None:
        """Read with manifest-level file skipping: only files whose
        stats intervals admit the conjunction of ``(col, op,
        literal)`` predicates are handed to the scan, and the
        predicates are re-applied as real filters — so results are
        EXACT regardless of manifest coverage (skipping is purely an
        I/O optimization; row-group pruning inside the kept files
        still applies on top). Falls back to a full filtered read when
        the version predates ``stats_cols``. ``version`` time-travels
        the skipped read to a retained version (every version carries
        its own manifest, committed atomically with its data), raising
        like :meth:`read_version` when it was vacuumed."""
        cond = self._pred_cond(predicates)
        if version is not None and version not in self.versions():
            raise ValueError(
                f"version {version} vacuumed / not retained (have "
                f"{self.versions()})")
        plan = self.files_for(predicates, version=version)
        if plan is None:
            df = self.read() if version is None \
                else self.read_version(version)
            if df is None:
                return None
            return df.filter(cond) if cond is not None else df
        v, kept, _total = plan
        base = self._data_dir(v)
        if not kept:
            # constant-false filter folds to an empty scan (no files
            # touched) while preserving the version's schema
            df = self._read_at(v)
            return df.filter(F.lit(False))
        # same immutability argument as _read_at, keyed by the exact
        # kept-file set (the manifest prune is deterministic per
        # version + predicates, so repeated skipped reads re-resolve
        # the same footers)
        mkey = (v, tuple(kept))
        df = self._read_memo.get(mkey)
        if df is None:
            df = (self.spark.read.option("mergeSchema", "true")
                  .option("basePath", base)
                  .parquet(*[os.path.join(base, r) for r in kept]))
            self._read_memo[mkey] = df
        return df.filter(cond) if cond is not None else df

    def row_count(self) -> int | None:
        """Exact ``COUNT(*)`` of the current version from the stats
        manifest alone — zero file scans (the manifest file list is
        authoritative; parquet footer row counts are exact; hardlink
        carry preserves content byte-for-byte). None when the version
        has no manifest or predates row recording — fall back to
        ``read().count()``. The Delta-style metadata answer a 100 TB
        ``SELECT COUNT(*)`` wants."""
        from aether_firebase_consumer_spark.sinks.stats import (
            load_manifest,
            row_count,
        )

        v = self.current_version()
        if v < 0:
            return None
        manifest = load_manifest(self._data_dir(v))
        return None if manifest is None else row_count(manifest)

    def partition_row_counts(self) -> list[tuple] | None:
        """``[(partition value STRING, exact rows), ...]`` of the
        current version from the sharded manifest's root doc — a
        ``GROUP BY partition_col`` count with zero file opens. The
        null partition reports value None; reconstructing the typed
        partition value from its hive string is the caller's job.
        None when unavailable (no manifest / flat layout)."""
        from aether_firebase_consumer_spark.sinks.stats import (
            load_manifest,
            partition_row_counts,
        )

        v = self.current_version()
        if v < 0:
            return None
        manifest = load_manifest(self._data_dir(v))
        return None if manifest is None else \
            partition_row_counts(manifest)

    # -- change recording (commit-time CDF, round 11) --------------------
    #
    # changes(v) used to be a full-outer join of two COMPLETE versions —
    # O(table) per version, so a follower N versions behind rescanned
    # the whole table N times per poll (the takedown-propagation loop's
    # 100 TB wall). Every write op already touches exactly the data it
    # changes, so each now RECORDS its key-level delta as parquet under
    # `_changes/` inside the staged version dir — committed atomically
    # with the data by the same CAS publish (the stats-manifest
    # pattern), invisible to data readers (underscore prefix), GC'd
    # with its version. changes(v) reads the recording when present and
    # falls back to the diff for versions without one (pre-r11 history,
    # import_snapshot). Each op records from the frame it wrote: merge
    # and replace evaluate their batch once, so the write and the
    # recording see the same survivor per key. A merge cannot delete,
    # so its diff is confined to the batch's keys; the other ops diff
    # their rewritten scope only — hardlink-carried partitions are
    # inode-identical and provably contribute no changes.
    _CHANGES_DIR = "_changes"

    @staticmethod
    def _has_parquet(path: str) -> bool:
        try:
            return any(n.endswith(".parquet") for n in os.listdir(path))
        except OSError:
            return False

    @staticmethod
    def _type_hints(*dfs) -> dict:
        """First non-VOID type per column name across ``dfs`` (None
        entries skipped) — the repair map for :meth:`_repair_void`."""
        from pyspark.sql.types import NullType

        hints: dict = {}
        for df in dfs:
            if df is None:
                continue
            for f in df.schema.fields:
                if f.name not in hints and \
                        not isinstance(f.dataType, NullType):
                    hints[f.name] = f.dataType
        return hints

    def _repair_void(self, df: DataFrame, hints: dict) -> DataFrame:
        """Cast VOID (NullType) columns to a concrete type before
        RECORDING them. VOID leaks in exactly one way: a version whose
        every partition value is null reads back with the partition
        column type-INFERRED from the directory names — all
        ``__HIVE_DEFAULT_PARTITION__`` → NullType. A recording
        written with a VOID column poisons every later mergeSchema
        read of the feed (VOID and STRING cannot merge). The repair
        takes the true type from the caller's batch / the parent
        version (``hints``); an all-null column stays all-null —
        only its declared type changes. StringType is the last-resort
        default (a table that has NEVER seen a non-null value for the
        column): partition values ARE strings on disk, so later
        non-null batches agree. Found by the randomized op-script
        property test (tests/test_view_property.py)."""
        from pyspark.sql.types import NullType, StringType

        for f in df.schema.fields:
            if not isinstance(f.dataType, NullType):
                continue
            base = f.name[5:] if f.name.startswith("_pre_") else f.name
            dt = hints.get(base, StringType())
            df = df.withColumn(f.name, F.col(f.name).cast(dt))
        return df

    def _write_changes(self, staged: str, changes: DataFrame,
                       hints: dict | None = None) -> None:
        path = os.path.join(staged, self._CHANGES_DIR)
        changes = self._repair_void(changes, hints or {})
        lead = [*self.key_cols, "change_type"]
        rest = [c for c in changes.columns if c not in lead]
        out = changes.select(*lead, *rest)
        out.write.mode("overwrite").parquet(path)
        if not self._has_parquet(path):
            # an all-empty-partitions write leaves no files; a change
            # feed must still be READABLE as "no changes" (one
            # schema-ful empty file)
            out.repartition(1).write.mode("overwrite").parquet(path)

    def _diff_frames(self, old: DataFrame | None,
                     new: DataFrame) -> DataFrame:
        """Key-level diff of two row sets as (key_cols...,
        change_type ∈ insert/update/delete): full-outer join on the
        keys with a canonical row-hash comparison over the columns
        both sides share — schema evolution (O14) compares only
        common columns. Shared by the commit-time recorders and the
        legacy-version fallback in :meth:`changes`, so recorded and
        recomputed feeds agree by construction."""
        if old is None:
            return new.select(*self.key_cols).withColumn(
                "change_type", F.lit("insert"))
        common = [c for c in new.columns
                  if c in set(old.columns) and c not in self.key_cols]

        def rhash(df: DataFrame, tag: str) -> DataFrame:
            h = F.md5(F.to_json(F.struct(
                *[F.col(c) for c in sorted(common)])))
            return df.select(*self.key_cols, h.alias(f"_h_{tag}"))

        joined = rhash(old, "old").join(rhash(new, "new"),
                                        self.key_cols, "full_outer")
        return (joined.withColumn(
            "change_type",
            F.when(F.col("_h_old").isNull(), F.lit("insert"))
             .when(F.col("_h_new").isNull(), F.lit("delete"))
             .when(F.col("_h_old") != F.col("_h_new"), F.lit("update")))
            .where(F.col("change_type").isNotNull())
            .select(*self.key_cols, "change_type"))

    def _record_changes(self, staged: str, old: DataFrame | None,
                        new: DataFrame) -> None:
        """Record a write's delta as ``_changes/`` in its staged dir:
        ``new`` is the frame the op wrote into the rewritten scope and
        ``old`` the parent's rows of that scope (None at table
        creation). ``new`` supplies authoritative column types for the
        VOID repair (see :meth:`_repair_void`)."""
        pc = self.partition_col
        if (old is not None and pc in old.columns and pc in new.columns
                and new.schema[pc].dataType.typeName() != "void"):
            # the parent's partition column is typed by inference from
            # its directory names; diff it in the type the op wrote
            old = old.withColumn(pc, F.col(pc).cast(new.schema[pc].dataType))
        diff = self._diff_frames(old, new)
        if self.record_change_values:
            diff = self._attach_values(diff, new)
        if self.record_change_preimages:
            diff = self._attach_preimages(diff, old)
        self._write_changes(staged, diff,
                            hints=self._type_hints(new, old))

    def _attach_values(self, diff: DataFrame,
                       new: DataFrame) -> DataFrame:
        """Join the POST-IMAGE row onto each insert/update change row
        (``new`` has exactly one row per key, so the join is 1:1);
        delete rows carry nulls for the value columns — their message
        is the key's absence."""
        ins_upd = (diff.filter(F.col("change_type") != "delete")
                   .join(new, self.key_cols, "left"))
        dels = diff.filter(F.col("change_type") == "delete")
        return ins_upd.unionByName(dels, allowMissingColumns=True)

    def _attach_preimages(self, diff: DataFrame,
                          old: DataFrame | None) -> DataFrame:
        """Join the PRE-IMAGE row (value columns renamed
        ``_pre_<col>``) onto each update/delete change row (``old``
        has exactly one row per key, so the join is 1:1); insert rows
        carry nulls there — they had no prior image. With ``old`` None
        (table creation) every row is an insert and no pre-image
        columns exist at all."""
        if old is None:
            return diff
        pre = old.select(
            *self.key_cols,
            *[F.col(c).alias(f"_pre_{c}") for c in old.columns
              if c not in self.key_cols])
        upd_del = (diff.filter(F.col("change_type") != "insert")
                   .join(pre, self.key_cols, "left"))
        ins = diff.filter(F.col("change_type") == "insert")
        return upd_del.unionByName(ins, allowMissingColumns=True)

    def _moved_scan_source(self, batch1: DataFrame, parent: int,
                           untouched: Column) -> DataFrame | None:
        """The frame the moved-key semi-join scans (round 11): by
        default every untouched partition's rows — the one per-merge
        cost that grows with TABLE size rather than batch size. When
        the stats manifest covers key columns, prune that scan with
        the batch's key RANGE: one 1-row aggregate (min/max per
        stat-covered key col) collected to the driver, then only
        parent files whose key intervals intersect the batch's range
        are scanned. Exactness: a pruned file provably contains no row
        whose stat-covered key col falls in the batch's [min, max],
        so no row of it can equi-match any batch key (null keys never
        equi-match, and parquet bounds exclude nulls, so null rows in
        pruned files are irrelevant). Returns None when pruning proves
        NO file can hold a moved key. ``last_moved_scan`` records
        (files_scanned, files_total) for tests/ops; None = unpruned
        full scan."""
        from aether_firebase_consumer_spark.sinks.stats import (
            load_manifest,
            prune_files,
        )

        self.last_moved_scan = None
        current = self._read_at(parent)
        full = current.filter(untouched)
        stat_keys = [k for k in self.key_cols
                     if self.stats_cols and k in self.stats_cols]
        if not stat_keys or parent < 0:
            return full
        base = self._data_dir(parent)
        manifest = load_manifest(base)
        if manifest is None:
            return full
        aggs = []
        for k in stat_keys:
            aggs += [F.min(k).alias(f"_mn_{k}"),
                     F.max(k).alias(f"_mx_{k}")]
        row = batch1.agg(*aggs).collect()[0]  # exactly one row
        preds = []
        for k in stat_keys:
            mn, mx = row[f"_mn_{k}"], row[f"_mx_{k}"]
            if mn is None or mx is None:
                return full  # all-null key col: nothing provable
            preds += [(k, ">=", mn), (k, "<=", mx)]
        kept, total = prune_files(manifest, preds,
                                  partition_col=self.partition_col)
        self.last_moved_scan = (len(kept), total)
        if not kept:
            return None
        return (self.spark.read.option("mergeSchema", "true")
                .option("basePath", base)
                .parquet(*[os.path.join(base, r) for r in kept])
                .filter(untouched))

    # -- merge ----------------------------------------------------------
    @release_scope()
    def merge(self, batch: DataFrame,
              commit_meta: "dict | Callable | None" = None) -> None:
        """Upsert ``batch`` by key: one row per key (dropDuplicates on
        keys), replacing any existing rows with the same key.

        With ``partition_col`` set, the merge is PARTITION-PRUNED: only
        partitions containing batch keys are re-merged and rewritten;
        untouched partitions carry into the new version as hardlinks —
        O(batch ∩ partitions) work per merge, not O(table). The touched
        partition list is driver-side but bounded by partitions-per-
        batch (the same metadata Delta/Iceberg keep in the commit log).

        ``commit_meta`` (a small JSON-able dict) is written INTO the
        new version directory before the pointer swap, so it becomes
        visible atomically with the data — the Delta-style commit tag
        that lets foreachBatch sinks fence replayed epochs (see
        ``IncrementalRollup``).

        The batch is evaluated ONCE (``materialize``), so the write, the
        change recording and every commit retry see the same survivor per
        key, and the source behind it is read once."""
        batch1, rows = materialize(batch.dropDuplicates(self.key_cols))
        # an empty merge is a NO-OP whether or not the table exists:
        # onto an existing table the rewrite would copy EVERYTHING
        # for nothing, and onto a fresh table Spark would write a
        # version with no parquet files at all (only _SUCCESS),
        # bricking every later read with 'Unable to infer schema'
        if rows:
            self._merge(batch1, commit_meta)

    def _record_merge(self, staged: str, scope: DataFrame,
                      batch1: DataFrame) -> None:
        """Record a merge from the batch it wrote. A merge cannot
        delete, so the diff is confined to the batch's keys: ``new`` is
        the batch in the written schema (parent-only columns null),
        ``old`` the rows of ``scope`` holding those keys."""
        new = scope.limit(0).unionByName(batch1, allowMissingColumns=True)
        old = _key_join(scope, batch1, self.key_cols, "left_semi")
        self._record_changes(staged, old, new)

    @_retrying
    def _merge(self, batch1: DataFrame,
               commit_meta: "dict | Callable | None") -> None:
        parent = self.current_version()
        current = self._read_at(parent)
        target = self._stage_dir()
        if current is None:
            writer = batch1.write.mode("overwrite")
            if self.partition_col:
                writer = writer.partitionBy(self.partition_col)
            writer.parquet(target)
            self._record_changes(target, None, batch1)
            self._publish(target, parent, commit_meta)
            return
        if not self.partition_col:
            keep = _key_join(current, batch1, self.key_cols, "left_anti")
            keep.unionByName(batch1, allowMissingColumns=True) \
                .write.mode("overwrite").parquet(target)
            self._record_merge(target, current, batch1)
            self._publish(target, parent, commit_meta)
            return
        pc = self.partition_col
        touched = [r[0] for r in batch1.select(pc).distinct().collect()]
        # a key may MOVE partitions (its new row lands in a partition
        # its old row doesn't live in); the old copy must not survive
        # the merge, so partitions holding moved keys join the rewrite
        # set. Cost: one key-column semi-join over the untouched
        # partitions (column-pruned scan of keys only) — the price of
        # true MERGE-by-key semantics; partitions rewritten stay
        # O(batch ∩ partitions ∪ moved-key partitions)
        # NOT of the touched filter must be null-safe: for a pc=NULL
        # row, isin(...) is NULL and filter(~NULL) drops it — which
        # would hide a key moving OUT of the null partition and leave
        # its stale copy hardlinked into the new version
        untouched = ~F.coalesce(_touched_filter(pc, touched), F.lit(False))
        moved_src = self._moved_scan_source(batch1, parent, untouched)
        moved = (moved_src.join(batch1.select(*self.key_cols),
                                self.key_cols, "left_semi")
                 .select(pc).distinct()) if moved_src is not None \
            else None
        seen = {hive_partition_value(t) for t in touched}
        if moved is not None:
            for r in moved.collect():  # bounded by batch key count
                if hive_partition_value(r[0]) not in seen:
                    touched.append(r[0])
                    seen.add(hive_partition_value(r[0]))
        keep = _key_join(current.filter(_touched_filter(pc, touched)),
                         batch1, self.key_cols, "left_anti")
        # allowMissingColumns: document streams evolve (O14); a batch
        # adding or dropping a column merges with nulls on either side —
        # full-document set semantics, like the reference's batch.set
        (keep.unionByName(batch1, allowMissingColumns=True)
         .write.mode("overwrite").partitionBy(pc).parquet(target))
        # every current row whose key is in the batch lives in a
        # touched partition (the moved-key extension above guarantees
        # it), so the touched scope holds the whole pre-image side;
        # untouched partitions are carried as hardlinks, provably
        # unchanged
        self._record_merge(
            target, current.filter(_touched_filter(pc, touched)), batch1)
        self._link_untouched_partitions(
            self._data_dir(parent), target,
            {hive_partition_value(t) for t in touched})
        self._publish(target, parent, commit_meta)

    @staticmethod
    def _link_untouched_partitions(prev_dir: str, target: str,
                                   touched_values: set[str]) -> None:
        """Carry untouched partition directories into the new version as
        hardlinks (metadata-only; an object store would do a server-side
        copy or, with a real table format, just keep the file refs).
        Directory names are Hive-escaped (%2F for '/' etc.), so compare
        on the unescaped partition VALUE."""
        from urllib.parse import unquote
        if not os.path.isdir(prev_dir):
            return
        for name in os.listdir(prev_dir):
            src = os.path.join(prev_dir, name)
            if not os.path.isdir(src) or "=" not in name:
                continue
            value = unquote(name.split("=", 1)[1])
            if value in touched_values:
                continue
            dst = os.path.join(target, name)
            os.makedirs(dst, exist_ok=True)
            for fn in os.listdir(src):
                sf, df_ = os.path.join(src, fn), os.path.join(dst, fn)
                if os.path.isfile(sf) and not os.path.exists(df_):
                    os.link(sf, df_)

    @_retrying
    @release_scope()
    def replace(self, batch: DataFrame,
                commit_meta: "dict | Callable | None" = None) -> None:
        """Atomic full-table REPLACE: write ``batch`` as the next
        version and swap the pointer — readers see the old table or the
        new one, never a mix (same crash-safety as :meth:`merge`, which
        only becomes visible at the pointer swap too). This is the
        rebuild primitive for index-maintenance tools that change a
        derivation parameter for EVERY row (e.g. re-sharding a semantic
        index's subcluster modulus) — a merge would be a full rewrite
        anyway, without replace's drop-absent-keys semantics."""
        # one evaluation: the write and the recording share survivors
        batch1, rows = materialize(batch.dropDuplicates(self.key_cols))
        if not rows:
            # an all-files-empty parquet version is unreadable
            # ('Unable to infer schema'); an empty replace has no
            # valid target state to write, so refuse loudly instead
            # of bricking reads
            raise ValueError(
                "replace() with an empty batch would write an "
                "unreadable version — use delete_keys() to empty a "
                "table")
        parent = self.current_version()
        target = self._stage_dir()
        writer = batch1.write.mode("overwrite")
        if self.partition_col:
            writer = writer.partitionBy(self.partition_col)
        writer.parquet(target)
        # replace is O(table) by design (every row rewritten), so
        # its recording is the full old-vs-new diff — same cost
        self._record_changes(target, self._read_at(parent), batch1)
        self._publish(target, parent, commit_meta)

    @_retrying
    def delete_keys(self, keys: DataFrame,
                    commit_meta: "dict | Callable | None" = None) -> None:
        """MERGE ... WHEN MATCHED DELETE: drop rows whose key appears in
        ``keys``. Partition-pruned like :meth:`merge` when the deleted
        keys' partitions are identifiable (keys carry partition_col).
        ``commit_meta`` tags the version like :meth:`merge`'s (round
        12): a DELETE-ONLY maintenance fold has no merge to ride, yet
        still advances state — without a tag here its fence would
        lag the data (the aligned join view publishes cursor pairs
        that must equal the state)."""
        from urllib.parse import unquote

        parent = self.current_version()
        current = self._read_at(parent)
        if current is None or keys.isEmpty():
            return
        target = self._stage_dir()
        pc = self.partition_col
        if pc and pc in keys.columns:
            touched = [r[0] for r in keys.select(pc).distinct().collect()]
            remaining = _key_join(
                current.filter(_touched_filter(pc, touched)),
                keys, self.key_cols, "left_anti")
            if remaining.isEmpty() and not any(
                    os.path.isdir(os.path.join(self._data_dir(parent), d))
                    and "=" in d and unquote(d.split("=", 1)[1])
                    not in {hive_partition_value(t) for t in touched}
                    for d in os.listdir(self._data_dir(parent))):
                # the delete empties every touched partition AND no
                # untouched partition survives to be hardlinked: a
                # partitionBy write of zero rows leaves a file-less,
                # unreadable version — write one schema-ful empty file
                # (pc becomes a plain column; the next merge rewrites
                # hive-style as usual)
                remaining.repartition(1).write.mode("overwrite") \
                    .parquet(target)
                # every partition was touched, so old = whole table;
                # the diff records each surviving-nothing row a delete
                self._record_changes(target, current, remaining)
                self._publish(target, parent, commit_meta)
                return
            remaining.write.mode("overwrite").partitionBy(pc).parquet(target)
            self._record_changes(
                target, current.filter(_touched_filter(pc, touched)),
                remaining)
            self._link_untouched_partitions(
                self._data_dir(parent), target,
                {hive_partition_value(t) for t in touched})
        else:
            remaining = _key_join(current, keys, self.key_cols, "left_anti")
            if remaining.isEmpty():
                # deleting every row must still leave one schema-ful
                # (empty) parquet file, or the version is unreadable
                remaining = remaining.repartition(1)
            writer = remaining.write.mode("overwrite")
            if pc:
                writer = writer.partitionBy(pc)
            writer.parquet(target)
            self._record_changes(target, current, remaining)
        self._publish(target, parent, commit_meta)

    @_retrying
    def delete_where(self, *predicates: tuple) -> int:
        """Predicate retention delete — ``DELETE WHERE col op literal
        [AND ...]`` (round 10), the age/size/range dual of the by-key
        takedown: a 100 TB deployment expires data by predicate
        (``("ts", "<", cutoff)``), not by enumerating doomed keys.

        FILE-PRUNED via the stats manifest: only files whose [min,
        max] intervals admit the predicate are scanned and rewritten
        (SQL null semantics — rows where the predicate is NULL are
        kept); every other file carries into the new version as a
        hardlink, so the rewrite cost is proportional to the data the
        predicate touches, not the table. Files with uncertain stats
        are rewritten unnecessarily but never skipped wrongly — the
        same conservative direction as read_where. Without a manifest
        the delete degrades to a full filtered rewrite (correct,
        unpruned). Returns the number of rows deleted; a predicate
        matching nothing commits nothing."""
        from aether_firebase_consumer_spark.sinks.stats import (
            load_manifest,
            prune_files,
        )

        parent = self.current_version()
        current = self._read_at(parent)
        if current is None or not predicates:
            return 0
        cond = self._pred_cond(predicates)
        hit = F.coalesce(cond, F.lit(False))
        # pin the skip plan to the SAME version the read and the
        # publish use: files_for() would re-read current_version(),
        # which can advance past `parent` under a concurrent writer —
        # kept relpaths from the newer manifest resolved against the
        # parent's directory turn a retryable conflict into a hard
        # path-not-found read failure
        base = self._data_dir(parent)
        manifest = load_manifest(base)
        plan = None if manifest is None else \
            (parent, *prune_files(manifest, list(predicates),
                                  partition_col=self.partition_col))
        if plan is not None:
            _v, kept, total = plan
            if not kept:
                return 0
            affected = (self.spark.read
                        .option("mergeSchema", "true")
                        .option("basePath", base)
                        .parquet(*[os.path.join(base, r) for r in kept]))
            n_del = affected.filter(hit).count()
            if n_del == 0:
                return 0
            remaining = affected.filter(~hit)
            doomed_src = affected
            carried = total - len(kept)
        else:
            n_del = current.filter(hit).count()
            if n_del == 0:
                return 0
            remaining = current.filter(~hit)
            doomed_src = current
            kept, carried = None, 0
        # commit-time CDF: the doomed keys ARE the version's change
        # rows (survivors are rewritten byte-unchanged, carried files
        # untouched) — read from the parent's files, deterministic
        doomed = (doomed_src.filter(hit).select(*self.key_cols)
                  .withColumn("change_type", F.lit("delete")))
        if self.record_change_preimages:
            doomed = self._attach_preimages(doomed,
                                            doomed_src.filter(hit))
        target = self._stage_dir()
        if remaining.isEmpty() and carried == 0:
            # a file-less partitionBy write is unreadable — keep one
            # schema-ful empty file (same guard as delete_keys)
            remaining.repartition(1).write.mode("overwrite") \
                .parquet(target)
            self._write_changes(target, doomed,
                                hints=self._type_hints(current))
            self._publish(target, parent)
            return n_del
        writer = remaining.write.mode("overwrite")
        if self.partition_col:
            writer = writer.partitionBy(self.partition_col)
        writer.parquet(target)
        self._write_changes(target, doomed,
                            hints=self._type_hints(current))
        if kept is not None:
            self._link_files_except(base, target, set(kept))
        self._publish(target, parent)
        return n_del

    @staticmethod
    def _link_files_except(prev_dir: str, target: str,
                           skip_rels: set[str]) -> None:
        """Carry every parquet file of the parent version EXCEPT
        ``skip_rels`` into the staged dir as hardlinks — the FILE-level
        sibling of :meth:`_link_untouched_partitions` (works for
        partitioned and flat layouts alike; Spark part-file names embed
        a per-job UUID, so a fresh-write collision cannot happen).
        Hidden directories (the parent's ``_changes`` recording) are
        bookkeeping, not data — carrying them would stamp the parent's
        change rows onto the child version's feed."""
        for root, dirs, names in os.walk(prev_dir):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(root, name)
                rel = os.path.relpath(src, prev_dir)
                if rel in skip_rels:
                    continue
                dst = os.path.join(target, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                if not os.path.exists(dst):
                    os.link(src, dst)

    def commit_meta(self) -> dict | None:
        """The ``commit_meta`` of the CURRENT version, or None — read
        from the version directory the pointer names, so it can never
        be newer or older than the visible data."""
        import json as _json

        v = self.current_version()
        if v < 0:
            return None
        meta_path = os.path.join(self._data_dir(v), "_COMMIT_META.json")
        try:
            with open(meta_path) as fh:
                return _json.load(fh)
        except OSError:
            return None

    def _publish(self, staged: str, parent: int,
                 commit_meta: "dict | Callable | None" = None) -> None:
        """Commit the fully-staged directory ``staged`` as version
        ``parent + 1`` — the CAS step of the commit protocol (see the
        version-pointer comment block). Raises
        :class:`ConcurrentCommitError` (and removes the staged data)
        if any other writer got there first.

        ``commit_meta`` may be a CALLABLE returning the dict: it is
        evaluated HERE, inside the retried write body, so a caller
        whose meta depends on concurrently-advancing state (e.g. the
        join view stamping the other side's cursor) re-reads it fresh
        on every retry instead of publishing a pre-conflict
        snapshot."""
        v = parent + 1
        if callable(commit_meta):
            commit_meta = commit_meta()
        if commit_meta is None and parent >= 0:
            # carry the parent version's tag forward: a meta-less
            # maintenance commit (optimize, delete_keys, backfill
            # merge) must not silently erase the epoch fence a
            # streaming sink relies on for replay safety
            try:
                with open(os.path.join(self._data_dir(parent),
                                       "_COMMIT_META.json")) as fh:
                    commit_meta = json.load(fh)
            except OSError:
                pass
        if commit_meta is not None:
            with open(os.path.join(staged, "_COMMIT_META.json"),
                      "w") as fh:
                json.dump(commit_meta, fh)
        if self.stats_cols:
            # data-skipping manifest, committed atomically with the
            # data (it lives inside the staged dir the CAS publishes);
            # carried hardlinked files inherit the parent's entries,
            # only new files pay a footer read
            from aether_firebase_consumer_spark.sinks.stats import (
                write_manifest,
            )
            write_manifest(
                staged, self.stats_cols,
                self._data_dir(parent) if parent >= 0 else None,
                self.bloom_cols)
        # CAS: atomically link a fully-written marker into place —
        # exactly one writer can own version v
        marker_tmp = staged + ".marker"
        with open(marker_tmp, "w") as fh:
            json.dump({"staged": os.path.basename(staged)}, fh)
        try:
            os.link(marker_tmp, self._marker(v))
        except FileExistsError:
            shutil.rmtree(staged, ignore_errors=True)
            raise ConcurrentCommitError(
                f"{self.path}: version {v} was committed by another "
                f"writer while this write (derived against v{parent}) "
                "was in flight — re-read and re-derive (the table "
                "methods retry this automatically)") from None
        finally:
            os.unlink(marker_tmp)
        # guard the one case the marker CAS cannot see: a writer SO
        # stale that version v was already committed AND its marker
        # GC'd past the retention window — the link above then
        # "succeeds" for a version number that will never be looked at
        # again, silently hiding this commit. Detect via the pointer:
        # it can only exceed `parent` legitimately here if a concurrent
        # reader already rolled THIS commit forward (then v's dir
        # exists and our staged dir was consumed by the rename).
        try:
            with open(self._version_file()) as fh:
                raw = int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            raw = -1
        if raw > parent and not (os.path.isdir(self._data_dir(v))
                                 and not os.path.isdir(staged)):
            os.unlink(self._marker(v))
            shutil.rmtree(staged, ignore_errors=True)
            raise ConcurrentCommitError(
                f"{self.path}: table is at v{raw} but this write was "
                f"derived against v{parent} (beyond the marker "
                "retention window) — re-read and re-derive")
        if raw <= parent:
            self._finish_commit(v, os.path.basename(staged))
        # GC old versions outside the retention window (always keep the
        # previous one for concurrent readers; more for time travel)
        for old in range(v - self.retain_versions + 1):
            shutil.rmtree(self._data_dir(old), ignore_errors=True)
            try:
                os.unlink(self._marker(old))
            except OSError:
                pass
        # keep the driver-side read memo aligned with the on-disk window
        self._evict_read_memo(v - self.retain_versions + 1)

    @_retrying
    def touch(self, commit_meta: "dict | Callable") -> None:
        """METADATA-ONLY commit: publish a new version whose data is
        the parent's byte-for-byte (every file carried as a hardlink)
        with a new ``commit_meta`` — and an EMPTY change recording,
        so feed followers see "no changes" rather than the parent's
        rows replayed. The consumer is ``CdfTopKView``: a fold whose
        bench contents are already correct has nothing to merge or
        delete, but must still advance the bench's cursor stamp or
        the next fold distrusts (and clears) a perfectly valid bench
        (round-13 ADVICE / VERDICT item 3 — an append-heavy workload
        would otherwise thrash the bench). Raises on an empty table
        (a version must carry data files; there is nothing to stamp)
        and on a None meta (meta-less commits carry the parent's meta
        forward already — the touch would publish an identical
        version)."""
        if commit_meta is None:
            raise ValueError(
                "touch() needs a commit_meta — a meta-less touch "
                "would publish a version identical to its parent")
        parent = self.current_version()
        if parent < 0:
            raise ValueError(
                f"{self.path}: cannot touch an empty table — no "
                "data files to carry into the new version")
        target = self._stage_dir()
        os.makedirs(target, exist_ok=True)
        self._link_files_except(self._data_dir(parent), target, set())
        # the recording must say "no changes" explicitly: a version
        # with no _changes dir falls back to the recompute diff
        # (which would also be empty, but at full-diff cost)
        empty = self._read_at(parent).limit(0)
        self._record_changes(target, empty, empty)
        self._publish(target, parent, commit_meta)

    @_retrying
    def optimize(self, zorder_cols: list[str] | None = None,
                 num_files: int | None = None) -> None:
        """Rewrite the CURRENT version into a new, better-laid-out
        version (the lakehouse OPTIMIZE [ZORDER BY] maintenance op):
        with ``zorder_cols``, rows cluster on the Morton-interleaved
        key (multi-column footer-stats pruning — see
        ``sinks/layout.py``); without, a plain small-file compaction
        (round-robin to ``num_files``). Readers are never disturbed:
        the rewrite lands as a NEW version behind the atomic pointer
        swap, and time travel still reaches the pre-optimize
        snapshots. Row content is identical by construction."""
        parent = self.current_version()
        current = self._read_at(parent)
        if current is None:
            return
        target = self._stage_dir()
        parts = num_files or self.spark.sparkContext.defaultParallelism
        if zorder_cols:
            from aether_firebase_consumer_spark.sinks.layout import (
                zorder_key,
            )
            key, _ = zorder_key(current, zorder_cols)
            out = (current.withColumn("__zkey", key)
                   .repartitionByRange(parts, "__zkey")
                   .sortWithinPartitions("__zkey")
                   .drop("__zkey"))
        else:
            out = current.repartition(parts)
        writer = out.write.mode("overwrite")
        if self.partition_col:
            writer = writer.partitionBy(self.partition_col)
        writer.parquet(target)
        # row content is identical by construction — record an EMPTY
        # change set so followers skip this version without a diff
        self._write_changes(target, current.select(*self.key_cols)
                            .limit(0)
                            .withColumn("change_type", F.lit("insert")))
        self._publish(target, parent)

    def vacuum(self, keep_last_n: int) -> list[int]:
        """Explicitly drop all but the newest ``keep_last_n`` retained
        versions — the storage-reclaim path for tables configured with
        a large ``retain_versions`` (at streaming cadence, unbounded
        version history is unbounded storage). Hardlink-aware: untouched
        partitions are carried across versions as hardlinks, so removing
        an old version's directory only drops directory entries — data
        files still referenced by a retained version survive via their
        link count. Returns the version numbers removed; reads of the
        current version are unaffected, and
        :meth:`read_version` / :meth:`change_feed` raise a clear
        "vacuumed" error for removed history rather than serving a
        partial answer."""
        if keep_last_n < 1:
            raise ValueError("keep_last_n must be >= 1")
        cutoff = self.current_version() - keep_last_n
        removed = [v for v in self.versions() if v <= cutoff]
        for v in removed:
            shutil.rmtree(self._data_dir(v), ignore_errors=True)
            try:
                os.unlink(self._marker(v))
            except OSError:
                pass
        self._evict_read_memo(cutoff + 1)
        # reclaim orphan scratch dirs from crashed writers (a LIVE
        # writer's scratch is at most seconds old — only touch stale
        # ones) — the local-FS analogue of VACUUM'ing uncommitted files
        pending = set()
        nxt = self._marker(self.current_version() + 1)
        if os.path.exists(nxt):  # mid-commit: its staged dir is live
            with open(nxt) as fh:
                pending.add(json.load(fh)["staged"])
        for name in os.listdir(self.path):
            if (name.startswith("_staged-") and name not in pending
                    and os.path.isdir(os.path.join(self.path, name))
                    and time.time() - os.path.getmtime(
                        os.path.join(self.path, name)) > 3600):
                shutil.rmtree(os.path.join(self.path, name),
                              ignore_errors=True)
        return removed

    # -- time travel / change data feed ---------------------------------
    def versions(self) -> list[int]:
        """Retained, readable version numbers (ascending)."""
        vs = []
        for name in os.listdir(self.path):
            if name.startswith("v") and name[1:].isdigit() \
                    and os.path.isdir(os.path.join(self.path, name)):
                vs.append(int(name[1:]))
        return sorted(v for v in vs if v <= self.current_version())

    def read_version(self, version: int) -> DataFrame:
        """Snapshot read of a retained version (time travel). Versions
        outside the retention window are garbage-collected — raise
        rather than silently serving the wrong snapshot."""
        if version not in self.versions():
            raise ValueError(
                f"version {version} vacuumed / not retained (have "
                f"{self.versions()}; retain_versions={self.retain_versions})")
        return self.spark.read.parquet(self._data_dir(version))

    def changes(self, version: int) -> DataFrame:
        """Change data feed for ``version`` as (key_cols...,
        change_type ∈ insert/update/delete).

        Versions written since round 11 carry a commit-time RECORDING
        (``_changes/`` parquet inside the version dir, written by the
        op that knew its delta) — reading it is O(changed rows), no
        diff, and does not need ``version - 1`` retained. Versions
        without a recording (pre-r11 history, :func:`~.manifest.
        import_snapshot`) fall back to the key-level diff against
        ``version - 1``: one full-outer join on the keys with a
        canonical row-hash comparison over the columns both versions
        share — schema evolution (O14) compares only common columns.
        The first version reports every key as insert."""
        rec = os.path.join(self._data_dir(version), self._CHANGES_DIR)
        if version not in self.versions():
            raise ValueError(
                f"version {version} vacuumed / not retained (have "
                f"{self.versions()})")
        if self._has_parquet(rec):
            return (self.spark.read.option("mergeSchema", "true")
                    .parquet(rec)
                    .select(*self.key_cols, "change_type"))
        new = self.read_version(version)
        if version == 0:  # table creation: everything is an insert
            return self._diff_frames(None, new)
        if version - 1 not in self.versions():
            raise ValueError(
                f"version {version - 1} vacuumed and version {version} "
                "has no commit-time recording; cannot diff — change "
                "history older than the retention window is gone")
        return self._diff_frames(self.read_version(version - 1), new)

    def changes_with_values(self, version: int) -> DataFrame:
        """Change rows for ``version`` INCLUDING post-image value
        columns for inserts/updates (delete rows carry nulls — their
        message is the key's absence). Reads the value-carrying
        recording when the table was configured with
        ``record_change_values``; otherwise (keys-only recording, or
        no recording at all) derives the images by joining the diff
        against the version's rows — correct but a version-sized read,
        which is exactly what the recording exists to avoid."""
        rec = os.path.join(self._data_dir(version), self._CHANGES_DIR)
        if version not in self.versions():
            raise ValueError(
                f"version {version} vacuumed / not retained (have "
                f"{self.versions()})")
        if self._has_parquet(rec):
            df = (self.spark.read.option("mergeSchema", "true")
                  .parquet(rec))
            # pre-image columns are the RETRACTION feed's payload
            # (changes_with_images) — the post-image API drops them
            pres = [c for c in df.columns if c.startswith("_pre_")]
            posts = [c for c in df.columns
                     if c not in set(self.key_cols) | {"change_type"}
                     and not c.startswith("_pre_")]
            if pres:
                df = df.drop(*pres)
            if posts:
                return df
            # keys-only recording: a delete-only or empty version
            # needs no images at all (deletes carry none; the feed
            # union null-fills missing columns) — only a recording
            # with live rows pays the version read to derive them
            if df.filter(F.col("change_type") != "delete").isEmpty():
                return df
            return self._attach_values(df, self.read_version(version))
        return self._attach_values(self.changes(version),
                                   self.read_version(version))

    @staticmethod
    def _footer_all(md, only: str) -> bool:
        """True when the parquet FOOTER proves every row's
        ``change_type`` equals ``only`` (min==max==only in every row
        group). No data pages are read."""
        ct = None
        for ci in range(md.num_columns):
            if md.row_group(0).column(ci).path_in_schema == \
                    "change_type":
                ct = ci
                break
        if ct is None:
            return False
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(ct).statistics
            if s is None or not s.has_min_max or \
                    s.min != only or s.max != only:
                return False
        return True

    def _recording_safe(self, rec: str, images: bool = False) -> bool:
        """Can this recording be read VERBATIM as value-carrying
        (``images=False``) or image-complete (``images=True``) change
        rows, with mergeSchema null-fill as the correct completion?

        Per file (parquet FOOTERS only — no data pages):

        - post-image columns present (non-key, non-``_pre_``): a valid
          values file (delete rows already carry nulls). For the
          image feed it must ALSO carry ``_pre_`` columns, unless the
          footer proves every row is an insert (inserts have no
          pre-image by definition).
        - ``_pre_`` columns only: image-complete iff provably
          all-delete (a delete's whole message is key + pre-image);
          value-safe likewise (deletes carry no post values).
        - keys only: safe only if empty or provably all-delete
          (values mode); never image-safe with rows (deletes need
          their pre-image).

        A False means the caller derives the missing images from the
        version reads instead — correct, version-sized."""
        import pyarrow.parquet as pq

        lead = set(self.key_cols) | {"change_type"}
        try:
            names = [n for n in os.listdir(rec)
                     if n.endswith(".parquet")]
        except OSError:
            return False
        for name in names:
            pf = pq.ParquetFile(os.path.join(rec, name))
            cols = pf.schema_arrow.names
            has_pre = any(c.startswith("_pre_") for c in cols)
            has_post = any(c not in lead and not c.startswith("_pre_")
                           for c in cols)
            md = pf.metadata
            if md.num_rows == 0:
                continue
            if not images:
                if has_post:
                    continue  # value-carrying file
                if not self._footer_all(md, "delete"):
                    return False
                continue
            if has_post and has_pre:
                continue
            if has_post and self._footer_all(md, "insert"):
                continue
            if has_pre and not has_post and \
                    self._footer_all(md, "delete"):
                continue
            return False
        return True

    def change_feed_with_values(self, from_version: int = 0) -> DataFrame:
        """:meth:`change_feed` with post-image values — what a
        derived-table maintainer consumes to replicate MERGE + DELETE
        downstream without ever re-reading this table (see
        ``streaming/change_follower.py::mirror_changes``). Versions
        are unioned with missing columns as nulls (schema evolution:
        a column absent in an older version's recording is null
        there). Like :meth:`change_feed`, a range whose recordings are
        all verbatim-readable (:meth:`_recording_safe`) plans as
        ONE multi-path scan — constant plan size however far behind
        the consumer is; any version needing image derivation falls
        back to the per-version loop."""
        current = self.current_version()
        if current < 0 or from_version > current:
            raise ValueError(f"no versions in range [{from_version}, "
                             f"{current}]")
        recs = []
        for v in range(from_version, current + 1):
            rec = os.path.join(self._data_dir(v), self._CHANGES_DIR)
            if not self._has_parquet(rec) or \
                    not self._recording_safe(rec):
                recs = None
                break
            recs.append(rec)
        if recs is not None:
            ver = (F.element_at(
                F.regexp_extract_all(
                    F.input_file_name(),
                    F.lit(r"/v(\d+)/_changes/"), F.lit(1)), -1)
                .cast("long"))
            df = (self.spark.read.option("mergeSchema", "true")
                  .parquet(*recs).withColumn("version", ver))
            tail = {"change_type", "version"}
            vals = [c for c in df.columns
                    if c not in set(self.key_cols) | tail
                    and not c.startswith("_pre_")]
            return df.select(*self.key_cols, *vals,
                             "change_type", "version")
        feed = None
        for v in range(from_version, current + 1):
            part = self.changes_with_values(v).withColumn(
                "version", F.lit(v).cast("long"))
            feed = part if feed is None else \
                feed.unionByName(part, allowMissingColumns=True)
        return feed

    def changes_with_images(self, version: int) -> DataFrame:
        """Change rows for ``version`` with BOTH images: post-image
        value columns (null for deletes) and pre-image ``_pre_<col>``
        columns (null for inserts) — the RETRACTION feed an
        incremental aggregate maintainer consumes (see
        ``streaming/incremental_agg.py``): each update/delete
        subtracts its pre-image from its OLD group and each
        insert/update adds its post-image to its new one, so the view
        refresh is O(changed rows) with no table re-read. Verbatim
        when the recording is image-complete
        (:meth:`_recording_safe` with ``images=True`` — tables
        configured with ``record_change_values`` +
        ``record_change_preimages``); otherwise derived from the
        version reads: post from ``version``, pre from ``version-1``
        (raising when the predecessor needed for pre-images was
        vacuumed — derivation would silently drop retractions)."""
        rec = os.path.join(self._data_dir(version), self._CHANGES_DIR)
        if version not in self.versions():
            raise ValueError(
                f"version {version} vacuumed / not retained (have "
                f"{self.versions()})")
        if self._has_parquet(rec) and \
                self._recording_safe(rec, images=True):
            df = (self.spark.read.option("mergeSchema", "true")
                  .parquet(rec))
            return self._order_image_cols(df)
        diff = self.changes(version)
        post = self._attach_values(diff, self.read_version(version))
        if version == 0:
            return self._order_image_cols(post)
        if version - 1 not in self.versions():
            if diff.filter(
                    F.col("change_type") != "insert").isEmpty():
                return self._order_image_cols(post)
            raise ValueError(
                f"version {version - 1} vacuumed and version "
                f"{version}'s recording carries no pre-images; "
                "cannot derive the retraction feed")
        return self._order_image_cols(
            self._attach_preimages(post, self.read_version(version - 1)))

    def _order_image_cols(self, df: DataFrame) -> DataFrame:
        """Canonical image-feed column order: keys, post values,
        pre-images, change_type [, version]."""
        keys = set(self.key_cols)
        tail = [c for c in ("change_type", "version") if c in df.columns]
        posts = [c for c in df.columns
                 if c not in keys and c not in tail
                 and not c.startswith("_pre_")]
        pres = [c for c in df.columns if c.startswith("_pre_")]
        return df.select(*self.key_cols, *posts, *pres, *tail)

    def change_feed_with_images(self, from_version: int = 0) -> DataFrame:
        """:meth:`change_feed` with pre- AND post-images — the
        catch-up form of :meth:`changes_with_images`. A range whose
        recordings are all image-complete plans as ONE multi-path
        scan (constant plan size however far behind the consumer is);
        otherwise the per-version loop with unionByName null-fill."""
        current = self.current_version()
        if current < 0 or from_version > current:
            raise ValueError(f"no versions in range [{from_version}, "
                             f"{current}]")
        recs = []
        for v in range(from_version, current + 1):
            rec = os.path.join(self._data_dir(v), self._CHANGES_DIR)
            if not self._has_parquet(rec) or \
                    not self._recording_safe(rec, images=True):
                recs = None
                break
            recs.append(rec)
        if recs is not None:
            ver = (F.element_at(
                F.regexp_extract_all(
                    F.input_file_name(),
                    F.lit(r"/v(\d+)/_changes/"), F.lit(1)), -1)
                .cast("long"))
            df = (self.spark.read.option("mergeSchema", "true")
                  .parquet(*recs).withColumn("version", ver))
            return self._order_image_cols(df)
        feed = None
        for v in range(from_version, current + 1):
            part = self.changes_with_images(v).withColumn(
                "version", F.lit(v).cast("long"))
            feed = part if feed is None else \
                feed.unionByName(part, allowMissingColumns=True)
        return self._order_image_cols(feed)

    def backfill_changes(self) -> list[int]:
        """Write commit-time recordings for retained versions that
        lack one (pre-r11 history, :func:`~.manifest.import_snapshot`
        restores), so the ``table_changes`` source and the
        O(changed rows) read path cover them too. Computes the same
        diff :meth:`changes` falls back to (a version whose
        predecessor was vacuumed is skipped — the diff is gone),
        stages it inside the version dir, and RENAMES it into place
        atomically: data files are never touched, and a concurrent
        reader sees either no recording (and diffs) or the complete
        recording — both agree by construction. Losing a rename race
        to another backfiller is a no-op. Returns the versions
        backfilled."""
        done = []
        vs = self.versions()
        for v in vs:
            rec = os.path.join(self._data_dir(v), self._CHANGES_DIR)
            if self._has_parquet(rec):
                continue
            if v > 0 and v - 1 not in vs:
                continue
            tmp = os.path.join(self._data_dir(v),
                               f"_changes.tmp-{uuid.uuid4().hex[:8]}")
            self._record_changes(
                tmp, self.read_version(v - 1) if v > 0 else None,
                self.read_version(v))
            try:
                os.rename(os.path.join(tmp, self._CHANGES_DIR), rec)
            except OSError:
                pass
            else:
                done.append(v)
            shutil.rmtree(tmp, ignore_errors=True)
        return done

    def change_feed(self, from_version: int = 0) -> DataFrame:
        """The concatenated change data feed from ``from_version`` to
        the current version, each row tagged with the version that
        produced it — what a downstream CDC consumer reads to catch up
        after being offline. With commit-time recordings (round 11)
        a catch-up of N versions reads N recorded change sets —
        O(total changed rows), never a table rescan — and when EVERY
        version in range has a recording the plan is ONE multi-path
        scan with the version parsed from the recording's directory
        name (``/v{n}/_changes/``), not an N-way union: a consumer
        thousands of versions behind gets a constant-size plan instead
        of a plan that grows with its lag. Falls back to the
        per-version loop (diff fallback, loud unrecorded-version
        errors) when any recording is missing. Raises (via
        :meth:`changes`) if the range reaches an unrecorded version
        past the retention window, rather than silently skipping
        history."""
        current = self.current_version()
        if current < 0 or from_version > current:
            raise ValueError(f"no versions in range [{from_version}, "
                             f"{current}]")
        recs = []
        for v in range(from_version, current + 1):
            rec = os.path.join(self._data_dir(v), self._CHANGES_DIR)
            if not self._has_parquet(rec):
                recs = None
                break
            recs.append(rec)
        if recs is not None:
            # single scan; the LAST /v{n}/_changes/ segment is the
            # version (a table root that itself contains such a
            # segment can't confuse it)
            ver = (F.element_at(
                F.regexp_extract_all(
                    F.input_file_name(),
                    F.lit(r"/v(\d+)/_changes/"), F.lit(1)), -1)
                .cast("long"))
            return (self.spark.read.option("mergeSchema", "true")
                    .parquet(*recs)
                    .select(*self.key_cols, "change_type")
                    .withColumn("version", ver))
        feed = None
        for v in range(from_version, current + 1):
            part = self.changes(v).withColumn(
                "version", F.lit(v).cast("long"))
            feed = part if feed is None else feed.unionByName(part)
        return feed


class HashStateTable:
    """The O10 change gate over the ``_aether/entityHash`` state
    (``firebase/app/config.py:37``, ``helpers.py:51-58``), kept as the
    doc table's own ``hash`` column — the reference's separate path
    exists only because Firebase cannot join — so documents and
    hashes land in ONE merge commit."""

    def __init__(self, spark: SparkSession, path: str):
        # compatibility surface only: ``path`` is never written
        self.table = ParquetUpsertTable(spark, path, ["id"])

    def needs_update(self, incoming: DataFrame,
                     doc_table: ParquetUpsertTable) -> DataFrame:
        """Rows of ``incoming(id, hash, ...)`` that are new or changed:
        anti-join on (id, hash) against ``doc_table``. Implements the
        *documented* intent of ``remote_msg_needs_update``
        (``firebase/app/helpers.py:61-67``) — update on mismatch —
        fixing the reference's missing ``return True`` fall-through.
        A table written before it carried hashes gates nothing."""
        stored = doc_table.read()
        if stored is None or "hash" not in stored.columns:
            return incoming
        return incoming.join(stored.select("id", "hash"),
                             ["id", "hash"], "left_anti")

    def record(self, rows: DataFrame,
               doc_table: ParquetUpsertTable) -> None:
        """Commit ``rows`` — documents with their ``hash`` — to
        ``doc_table`` in one merge (an empty frame commits nothing)."""
        doc_table.merge(rows)


def latest_per_key(df: DataFrame, key_cols: list[str],
                   seq_col: str | list[str]) -> DataFrame:
    """Deterministic last-writer-wins collapse: keep the max-``seq_col``
    row per key (used before MERGE when a micro-batch can contain
    multiple versions of one document). ``seq_col`` may be a list —
    later columns break ties so the survivor is deterministic even with
    duplicate sequence values."""
    seq_cols = [seq_col] if isinstance(seq_col, str) else list(seq_col)
    w = W.partitionBy(*key_cols).orderBy(*[F.desc(c) for c in seq_cols])
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))
