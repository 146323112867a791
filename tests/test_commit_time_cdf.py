"""Commit-time change-data-feed (round 11): every write op records
its key-level delta as `_changes/` parquet inside the staged version
dir, committed atomically with the data. The contract under test:

1. EQUIVALENCE — the recorded feed is row-identical to the full
   old-vs-new version diff, for every op (merge insert/update/no-op,
   delete_keys, delete_where, replace, optimize) on partitioned and
   flat tables, including schema evolution.
2. COST — a follower's poll after a single-partition merge reads ONLY
   the recorded change files, never the table (the r10 O(table)-per-
   version takedown-propagation wall).
3. RETENTION — a recorded version's changes are readable even after
   its predecessor was vacuumed (the diff fallback needed v-1; the
   recording doesn't).
4. BOOTSTRAP — a follower that fell past the retention window resyncs
   via a snapshot re-sync and resumes incremental.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from aether_firebase_consumer_spark.sinks.upsert import ParquetUpsertTable
from aether_firebase_consumer_spark.streaming.change_follower import (
    ChangeFeedFollower,
)


def _t(spark, root, **kw):
    kw.setdefault("retain_versions", 20)
    return ParquetUpsertTable(spark, str(root), ["k"], **kw)


def _set(df):
    return sorted((r.k, r.change_type) for r in df.collect())


def _diff_of(t, v):
    """The ground-truth full-version diff (what changes() computed
    pre-r11), bypassing the recording."""
    old = None if v == 0 else t.read_version(v - 1)
    return t._diff_frames(old, t.read_version(v))


def _recorded_dir(t, v):
    return os.path.join(t._data_dir(v), "_changes")


def _assert_recorded_equals_diff(t):
    for v in t.versions():
        if v - 1 in t.versions() or v == 0:
            assert _set(t.changes(v)) == _set(_diff_of(t, v)), \
                f"version {v} recorded feed diverges from the diff"


def _image_rows(df):
    """Change rows as sets of their non-null fields: a verbatim
    recording omits columns a derived image carries as nulls (a
    delete's post-image, an insert's pre-image)."""
    return sorted(tuple(sorted((c, r[c]) for c in df.columns
                               if r[c] is not None))
                  for r in df.collect())


@pytest.mark.parametrize("partitioned,images",
                         [(False, False), (True, False),
                          (False, True), (True, True)],
                         ids=["flat", "pc", "flat-images", "pc-images"])
def test_every_op_records_the_exact_diff(spark, tmp_path, partitioned,
                                         images):
    kw = {"partition_col": "p"} if partitioned else {}

    def df(rows, ddl="k bigint, v string, p string"):
        return spark.createDataFrame(rows, ddl)

    def run_ops(t):
        # v0 create, v1 update+insert+no-op-rewrite, v2 delete_keys,
        # v3 delete_where, v4 optimize (no changes), v5 replace
        t.merge(df([(1, "a", "x"), (2, "b", "x"), (3, "c", "y")]))
        t.merge(df([(2, "B", "x"),        # update
                    (3, "c", "y"),        # identical row → NOT a change
                    (4, "d", "z")]))      # insert
        t.delete_keys(df([(1, "a", "x")]).select("k", "p")
                      if partitioned else df([(1, "a", "x")]).select("k"))
        assert t.delete_where(("k", ">=", 4)) == 1
        t.optimize(num_files=2)
        t.replace(df([(2, "B", "x"), (9, "z", "y")]))

    t = ParquetUpsertTable(spark, str(tmp_path / "t"), ["k"],
                           retain_versions=30,
                           record_change_values=images,
                           record_change_preimages=images, **kw)
    run_ops(t)

    assert t.current_version() == 5
    # every version carries a recording (readable parquet)
    for v in t.versions():
        assert t._has_parquet(_recorded_dir(t, v)), f"v{v} unrecorded"
    _assert_recorded_equals_diff(t)
    # spot-check semantics
    assert _set(t.changes(1)) == [(2, "update"), (4, "insert")]
    assert _set(t.changes(2)) == [(1, "delete")]
    assert _set(t.changes(3)) == [(4, "delete")]
    assert _set(t.changes(4)) == []
    # replace: key 2's row is byte-identical → not a change
    assert _set(t.changes(5)) == [(3, "delete"), (9, "insert")]
    if images:
        # the images each op recorded from the frames it wrote equal
        # the images derived from the written versions
        ref = ParquetUpsertTable(spark, str(tmp_path / "ref"), ["k"],
                                 retain_versions=30, **kw)
        run_ops(ref)
        for v in t.versions():
            assert _image_rows(t.changes_with_images(v)) == \
                _image_rows(ref.changes_with_images(v)), f"v{v} images"


def test_schema_evolution_merge_records_the_diff(spark, tmp_path):
    t = _t(spark, tmp_path / "t")
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")],
                                  "k bigint, v string"))
    # batch ADDS a column (w) and DROPS one (v): diff semantics compare
    # only columns common to both VERSIONS (v — dropped-to-null shows
    # as update; w is new-version-only and ignored, same as the diff)
    t.merge(spark.createDataFrame([(2, 10), (5, 20)],
                                  "k bigint, w bigint"))
    _assert_recorded_equals_diff(t)
    assert _set(t.changes(1)) == [(2, "update"), (5, "insert")]


def test_moved_key_records_update_not_duplicate(spark, tmp_path):
    """A key moving partitions must record ONE update row, and its old
    copy's partition joins the diff scope (the moved-key extension)."""
    t = ParquetUpsertTable(spark, str(tmp_path / "t"), ["k"],
                           partition_col="p", retain_versions=10)
    df = lambda rows: spark.createDataFrame(rows, "k bigint, p string")
    t.merge(df([(1, "x"), (2, "y")]))
    t.merge(df([(1, "y")]))      # key 1 moves x → y
    _assert_recorded_equals_diff(t)
    assert _set(t.changes(1)) == [(1, "update")]


def test_numeric_partition_values_record_no_spurious_update(spark, tmp_path):
    """String partition values that look numeric read back as int (the
    directory names are type-inferred); the recording diffs in the type
    the op wrote, so a byte-identical row is still no change."""
    t = ParquetUpsertTable(spark, str(tmp_path / "t"), ["k"],
                           partition_col="p", retain_versions=10,
                           record_change_preimages=True)
    df = lambda rows: spark.createDataFrame(rows, "k bigint, p string")
    t.merge(df([(1, "10"), (2, "20")]))
    t.merge(df([(1, "10"), (3, "30")]))   # key 1 unchanged
    t.replace(df([(1, "10"), (3, "30")]))  # key 2 dropped, rest unchanged
    _assert_recorded_equals_diff(t)
    assert _set(t.changes(1)) == [(3, "insert")]
    assert _set(t.changes(2)) == [(2, "delete")]


def test_poll_reads_only_recorded_change_files(spark, tmp_path):
    """The 100 TB assertion: after a single-partition merge, the
    follower's poll plan touches only `_changes/` files of the new
    version — never the table's data files."""
    t = ParquetUpsertTable(spark, str(tmp_path / "t"), ["k"],
                           partition_col="p", retain_versions=10)
    df = lambda rows: spark.createDataFrame(rows, "k bigint, p string")
    t.merge(df([(i, f"p{i % 8}") for i in range(64)]))
    f = ChangeFeedFollower(t, str(tmp_path / "ckpt"))
    t.merge(df([(3, "p3")]))     # touches partition p3 only
    changes, up_to = f.poll()
    files = changes.inputFiles()
    assert files, "poll plan lists no files"
    want = os.path.join(t._data_dir(up_to), "_changes") + os.sep
    for fp in files:
        assert want in fp.replace("file:", "") + "", \
            f"poll read a non-recording file: {fp}"
    f.commit(up_to)


def test_recorded_feed_survives_vacuumed_predecessor(spark, tmp_path):
    t = _t(spark, tmp_path / "t", retain_versions=2)
    for i in range(6):
        t.merge(spark.createDataFrame([(i, "x")], "k bigint, v string"))
    t.vacuum(keep_last_n=2)
    vs = t.versions()
    assert len(vs) == 2
    oldest = vs[0]
    assert oldest - 1 not in vs
    # pre-r11 this raised ("cannot diff"); the recording stands alone
    assert _set(t.changes(oldest)) == [(oldest, "insert")]
    feed = t.change_feed(oldest)
    assert sorted((r.k, r.change_type, r.version)
                  for r in feed.collect()) == \
        [(oldest, "insert", oldest), (oldest + 1, "insert", oldest + 1)]


def test_import_snapshot_falls_back_to_diff(spark, tmp_path):
    """import_snapshot publishes a staged dir without a recording —
    changes() must fall back to the version diff, and the snapshot
    must not carry the SOURCE version's recording with it."""
    from aether_firebase_consumer_spark.sinks.manifest import (
        export_snapshot,
        import_snapshot,
    )
    t = _t(spark, tmp_path / "t")
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")],
                                  "k bigint, v string"))
    export_snapshot(t, str(tmp_path / "snap"))
    t.merge(spark.createDataFrame([(3, "c")], "k bigint, v string"))
    import_snapshot(str(tmp_path / "snap"), t)
    v = t.current_version()
    assert not os.path.isdir(_recorded_dir(t, v))
    # restore drops key 3 (replace semantics) — the diff fallback sees it
    assert _set(t.changes(v)) == [(3, "delete")]

    # backfill writes the recording in place; content unchanged,
    # idempotent, and the table_changes source now covers the version
    assert t.backfill_changes() == [v]
    assert t._has_parquet(_recorded_dir(t, v))
    assert _set(t.changes(v)) == [(3, "delete")]
    assert t.backfill_changes() == []
    from aether_firebase_consumer_spark.streaming.table_changes_source \
        import register_table_changes
    register_table_changes(spark)
    got = (spark.read.format("table_changes")
           .option("path", t.path).option("keyCols", "k")
           .option("startingVersion", v).load())
    assert sorted((r.k, r.change_type, r.version)
                  for r in got.collect()) == [(3, "delete", v)]


def test_moved_key_scan_pruned_by_manifest_key_stats(spark, tmp_path):
    """Round-11 punch item 2: with `stats_cols` covering the key, a
    merge's moved-key detection scans only the untouched-partition
    files whose key intervals intersect the batch's key range — not
    every untouched partition's keys (the one pre-r11 per-trigger cost
    ∝ table size)."""
    t = ParquetUpsertTable(spark, str(tmp_path / "t"), ["k"],
                           partition_col="p", retain_versions=10,
                           stats_cols=["k"])
    df = lambda rows: spark.createDataFrame(rows, "k bigint, p string")
    # keys clustered per partition: p0 ← 0..99, p1 ← 100..199, ...
    t.merge(df([(i, f"p{i // 100}") for i in range(800)]))

    # non-moving batch confined to p3's key range: every untouched
    # partition's files are provably outside [300, 310] → pruned
    t.merge(df([(i, "p3") for i in range(300, 311)]))
    scanned, total = t.last_moved_scan
    assert total >= 8
    assert scanned <= total // 4, (scanned, total)
    _assert_recorded_equals_diff(t)

    # a key that DOES move partitions is still detected (its old
    # file's interval intersects the batch range → kept → scanned)
    t.merge(df([(305, "p0"), (710, "p3")]))
    assert t.last_moved_scan[0] >= 1
    rows = {(r.k, r.p) for r in t.read().filter(
        F.col("k").isin([305, 710])).collect()}
    assert rows == {(305, "p0"), (710, "p3")}   # no stale copies
    _assert_recorded_equals_diff(t)
    assert _set(t.changes(t.current_version())) == \
        [(305, "update"), (710, "update")]


def test_change_feed_single_scan_plan(spark, tmp_path):
    """A fully-recorded range plans as ONE multi-path scan (version
    parsed from the recording directory name), not an N-way union —
    a consumer far behind gets a constant-size plan. Output is
    row-identical to the per-version loop, and a recording gap falls
    back to the loop (which still raises loudly where it should)."""
    t = _t(spark, tmp_path / "t", partition_col="p")
    for i in range(6):
        t.merge(spark.createDataFrame([(i, i % 2, f"v{i}")],
                                      "k bigint, p int, v string"))
    t.delete_keys(spark.createDataFrame([(2,)], "k bigint"))
    feed = t.change_feed(0)
    plan = feed._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    # all 7 versions present with the right types and rows
    rows = sorted((r.k, r.change_type, r.version)
                  for r in feed.collect())
    assert rows == [(0, "insert", 0), (1, "insert", 1),
                    (2, "delete", 6), (2, "insert", 2),
                    (3, "insert", 3), (4, "insert", 4),
                    (5, "insert", 5)]
    # loop fallback agrees where both paths are available
    legacy = None
    for v in range(0, t.current_version() + 1):
        part = t.changes(v).withColumn("version",
                                       F.lit(v).cast("long"))
        legacy = part if legacy is None else legacy.unionByName(part)
    assert rows == sorted((r.k, r.change_type, r.version)
                          for r in legacy.collect())
    # knock out one recording: the fallback unions + diffs instead
    import shutil
    shutil.rmtree(_recorded_dir(t, 3))
    feed2 = t.change_feed(0)
    plan2 = feed2._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan2
    assert rows == sorted((r.k, r.change_type, r.version)
                          for r in feed2.collect())


def test_change_feed_with_values_single_scan(spark, tmp_path):
    """The value feed also plans as ONE scan when every recording is
    verbatim-readable (value-carrying, empty, or provably all-delete
    by footer stats); a keys-only recording that may hold live rows
    forces the derivation loop. Rows agree between the two paths."""
    t = _t(spark, tmp_path / "t", record_change_values=True)
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")],
                                  "k bigint, v string"))
    t.merge(spark.createDataFrame([(2, "B"), (3, "c")],
                                  "k bigint, v string"))
    t.delete_keys(spark.createDataFrame([(1,)], "k bigint"))  # all-del
    feed = t.change_feed_with_values(0)
    assert feed.columns == ["k", "v", "change_type", "version"]
    plan = feed._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    rows = sorted(map(tuple, feed.collect()), key=repr)
    legacy = None
    for v in range(0, t.current_version() + 1):
        part = t.changes_with_values(v).withColumn(
            "version", F.lit(v).cast("long"))
        legacy = part if legacy is None else \
            legacy.unionByName(part, allowMissingColumns=True)
    assert rows == sorted(map(tuple, legacy.select(*feed.columns)
                              .collect()), key=repr)
    # delete rows carry nulls on the fast path too
    assert [r.v for r in feed.filter("change_type = 'delete'")
            .collect()] == [None]

    # keys-only table with LIVE rows: images must be derived — the
    # fast path must refuse and the loop must still be correct
    t2 = _t(spark, tmp_path / "t2")  # no record_change_values
    t2.merge(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    feed2 = t2.change_feed_with_values(0)
    plan2 = feed2._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan2  # image derivation happened
    assert sorted(map(tuple, feed2.select("k", "v", "change_type",
                                          "version").collect())) == \
        [(1, "a", "insert", 0)]


def test_follower_bootstrap_after_retention_gap(spark, tmp_path):
    from tests.test_ann_ingest import (
        _df, _mk_job, _recompute_topk, _snap, _vec,
    )
    upstream = ParquetUpsertTable(spark, str(tmp_path / "up"),
                                  ["vec_id"], retain_versions=2)
    state = [(i, _vec(i)) for i in range(1, 9)]
    upstream.merge(_df(spark, state))

    job = _mk_job(spark, tmp_path / "ann")
    job.process_batch(_df(spark, state), 0)
    f = ChangeFeedFollower(upstream, str(tmp_path / "ckpt"))

    # fall behind: deletes + merges past the retention window, vacuumed
    upstream.delete_keys(spark.createDataFrame([(1,), (2,)],
                                               "vec_id bigint"))
    for i in range(20, 24):
        upstream.merge(_df(spark, [(i, _vec(i))]))
    upstream.vacuum(keep_last_n=2)
    with pytest.raises(ValueError):
        f.poll()

    # snapshot re-sync: rebuild the index from the authoritative
    # insert set (deletes inside the gap are represented by absence)
    def rebuild(inserts_df, version):
        # authoritative re-sync: drop everything the index serves,
        # re-ingest exactly the snapshot's ids
        ids = [r.vec_id for r in inserts_df.select("vec_id").collect()]
        corpus = upstream.read().filter(F.col("vec_id").isin(ids))
        served = job.codes.read()
        if served is not None:
            job.delete(served.select("vec_id").distinct())
        job.process_batch(corpus, version)

    v = f.bootstrap(rebuild)
    assert v == upstream.current_version()
    assert f.poll() is None      # cursor resumed at the snapshot

    remaining = [(i, _vec(i)) for i in list(range(3, 9)) +
                 list(range(20, 24))]
    queries = _df(spark, [(0, _vec(5))])
    assert _snap(job.topk(queries, k=3, shortlist=10)) == \
        _snap(_recompute_topk(spark, remaining, queries, k=3,
                              shortlist=10))

    # and incremental resumes after bootstrap
    upstream.delete_where(("vec_id", ">=", 23))
    from aether_firebase_consumer_spark.streaming.change_follower import (
        propagate_deletes,
    )
    assert propagate_deletes(f, job) == 1


def test_change_values_and_mirror_replication(spark, tmp_path):
    """Value-carrying CDF + mirror_changes: a second table is
    maintained from the feed ALONE (no source re-read) and stays
    row-identical to the source through merges, updates, per-key
    update-then-delete across one poll, predicate deletes, and
    optimize. The log-shipped-replication arc."""
    from aether_firebase_consumer_spark.streaming.change_follower \
        import mirror_changes

    src = ParquetUpsertTable(spark, str(tmp_path / "src"), ["k"],
                             partition_col="p", retain_versions=20,
                             record_change_values=True)
    dst = ParquetUpsertTable(spark, str(tmp_path / "dst"), ["k"],
                             partition_col="p", retain_versions=5)
    f = ChangeFeedFollower(src, str(tmp_path / "ckpt"), from_version=0)

    def df(rows):
        return spark.createDataFrame(rows, "k bigint, v string, p string")

    def snap(t):
        d = t.read()
        return sorted((r.k, r.v, r.p) for r in d.collect()) \
            if d is not None else []

    src.merge(df([(1, "a", "x"), (2, "b", "x"), (3, "c", "y")]))
    assert mirror_changes(f, dst) == src.current_version()
    assert snap(dst) == snap(src)

    # post-image check: the update's recorded value is the NEW row
    src.merge(df([(2, "B2", "x"), (4, "d", "z")]))
    cv = src.changes_with_values(src.current_version())
    got = {(r.k, r.change_type, r.v, r.p) for r in cv.collect()}
    assert got == {(2, "update", "B2", "x"), (4, "insert", "d", "z")}

    # several versions in ONE poll, incl. update-then-delete of key 4
    # (must end absent) and a key moving partitions
    src.merge(df([(4, "d2", "z"), (1, "a2", "y")]))   # update + move
    src.delete_where(("k", "=", 4))
    src.delete_keys(spark.createDataFrame([(3,)], "k bigint"))
    src.optimize(num_files=2)
    assert mirror_changes(f, dst) == src.current_version()
    assert snap(dst) == snap(src)
    assert mirror_changes(f, dst) is None            # caught up

    # keys-only source still mirrors (image derivation fallback)
    src2 = ParquetUpsertTable(spark, str(tmp_path / "src2"), ["k"],
                              retain_versions=20)
    dst2 = ParquetUpsertTable(spark, str(tmp_path / "dst2"), ["k"],
                              retain_versions=5)
    f2 = ChangeFeedFollower(src2, str(tmp_path / "ckpt2"),
                            from_version=0)
    src2.merge(spark.createDataFrame([(1, "a"), (2, "b")],
                                     "k bigint, v string"))
    src2.delete_keys(spark.createDataFrame([(1,)], "k bigint"))
    assert mirror_changes(f2, dst2) == src2.current_version()
    d2 = dst2.read()
    assert sorted((r.k, r.v) for r in d2.collect()) == [(2, "b")]
