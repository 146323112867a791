from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.001"  # tests use the tiny SF for speed

# Heavy families auto-marked `slow` (round 9: the full suite crossed
# 16 min; the per-commit tax needed a tier). Measured file totals from
# the round-9 full run justify each entry — kafka e2e, codec goldens,
# streaming/ingest choreography, the oracle + physical-plan sweeps,
# and hypothesis property tests. Fast tier: `-m "not slow"` (~2 min);
# the FULL suite stays the pre-commit gate for changes touching any
# slow family (run that family's file directly while iterating).
SLOW_MODULES = frozenset({
    # streaming / ingest choreography
    "test_streaming", "test_dedup_ingest", "test_dedup_pruned_index",
    "test_embedding_ingest", "test_semantic_ingest", "test_ann_ingest",
    "test_rollup_stream_joins", "test_stateful_v2", "test_concurrency",
    "test_delete_propagation", "test_cdc_ingest", "test_stats_skipping",
    "test_change_follower", "test_commit_time_cdf",
    "test_table_changes_source", "test_manifest_shards",
    "test_pipeline_full_arc",
    # kafka e2e (wire broker round-trips, group membership, txns)
    "test_kafka_py", "test_kafka_group", "test_kafka_transactions",
    "test_kafka_security", "test_kafka_real_broker",
    "test_avro_pipeline_e2e",
    # codec goldens (spec bitstreams + CLI-golden round trips)
    "test_webp_codec", "test_jpeg_codec", "test_image_codecs",
    "test_mp4_codec", "test_mpeg_audio", "test_avro_codec",
    "test_sources_multimodal",
    # registry-wide sweeps + property tests
    "test_queries_oracle", "test_physical_plans", "test_property",
    "test_view_property",
    "test_clustering",
    # incremental-view maintenance choreography (rounds 11-13; added
    # r15, VERDICT r14 #8: these eight modules had grown to ~620 s of
    # the 830 s "fast" tier — multi-commit view folds, restarts and
    # recompute-parity sweeps are exactly the slow-tier definition.
    # The driver's verify window truncated the r14 suite at ~17%, so
    # the default tier must complete well inside it; the slow tier
    # remains the pre-commit gate for changes touching these files.)
    "test_aligned_streaming", "test_topk_buffer", "test_incremental_agg",
    "test_join_view", "test_topk_view", "test_topk_chain",
    "test_hll_view", "test_dd_view", "test_view_schema_evolution",
})


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.nodeid.split("::", 1)[0].rsplit("/", 1)[-1]
        if mod.removesuffix(".py") in SLOW_MODULES:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from aether_firebase_consumer_spark.session import get_spark
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb
    con = duckdb.connect()
    from aether_firebase_consumer_spark.tables import TABLES
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_ORACLE}/{t}.parquet')")
    yield con
