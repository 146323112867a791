"""The one materialization primitive: ``materialize`` pins a frame and
counts it in one job, and ``release_scope`` releases what was pinned
inside it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aether_firebase_consumer_spark.materialize import (
    materialize,
    release_scope,
)


def _pinned(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _frame(spark, n: int = 2000):
    """A key-deduplicated frame shaped like the sink merge's batch."""
    return (spark.range(n)
            .select((F.col("id") % 300).alias("k"), F.col("id").alias("v"))
            .dropDuplicates(["k"]))


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_rows_equal_count(spark):
    df = _frame(spark)
    with release_scope():
        pinned, rows = materialize(df)
        assert rows == df.count() == pinned.count() == 300


def test_scope_releases_its_pins(spark):
    base = _pinned(spark)
    with release_scope():
        materialize(_frame(spark))
        materialize(_frame(spark, 500))
        assert _pinned(spark) == base + 2
    assert _pinned(spark) == base


def test_scope_releases_on_error(spark):
    base = _pinned(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with release_scope():
            materialize(_frame(spark))
            assert _pinned(spark) == base + 1
            raise RuntimeError("boom")
    assert _pinned(spark) == base


def test_decorated_method_releases_per_call(spark):
    class Job:
        @release_scope()
        def run(self):
            return materialize(_frame(spark))[1]

    base = _pinned(spark)
    assert Job().run() == 300
    assert Job().run() == 300
    assert _pinned(spark) == base


def test_nested_scope_releases_only_its_own(spark):
    base = _pinned(spark)
    with release_scope():
        outer, _ = materialize(_frame(spark))
        with release_scope():
            materialize(_frame(spark, 500))
            assert _pinned(spark) == base + 2
        assert _pinned(spark) == base + 1
        assert outer.count() == 300  # the outer pin is still readable
    assert _pinned(spark) == base


def test_no_scope_releases_nothing(spark):
    base = _pinned(spark)
    pinned, rows = materialize(_frame(spark))
    try:
        with release_scope():
            pass  # an unrelated scope does not adopt earlier pins
        assert _pinned(spark) == base + 1
        assert pinned.count() == rows == 300
    finally:
        pinned._jdf.logicalPlan().rdd().unpersist(False)


def test_no_more_jobs_than_a_bare_checkpoint(spark):
    """The count rides the job that fills the checkpoint: pin + count
    costs no more Spark jobs than an eager ``localCheckpoint()`` alone
    (which counts the rows too, then drops the number)."""
    with release_scope():
        n_mat = _jobs(spark, "materialize-probe",
                      lambda: materialize(_frame(spark)))
    bare = []
    n_bare = _jobs(spark, "bare-checkpoint-probe",
                   lambda: bare.append(_frame(spark).localCheckpoint()))
    bare[0]._jdf.logicalPlan().rdd().unpersist(False)
    assert 0 < n_mat <= n_bare
