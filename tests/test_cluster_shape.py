"""Config-only local→cluster claim, pinned.

The engine moves from local[32] to a multi-executor cluster with ONLY
configuration changes (master, shuffle partitions, driver memory, AQE
coalescing policy, warehouse paths) — same builders, same oracles. The
testable core of that claim is repartition-insensitivity: re-running the
exact driver comparison under a cluster-shaped SQL conf (shuffle.partitions
8→96, ~2-3× a 32-core executor's tasks, plus small file-split sizing so
scans arrive in many input partitions) must produce bit-identical oracle
matches for every representative key. Spark's `newSession()` shares the
context but owns its SQLConf — exactly how a cluster submit
re-parameterizes the session — so the test also pins that the override is
session-isolated.

The representative set spans every shuffle-sensitive plan class in the
registry: hash aggregate, distinct, window (row + range frame), equi/anti
join, global sort+limit, banded LSH dedup joins, iterative fixpoint
(dup_clusters), two-level IVF (semdedup), distributed prefix sum
(pack_sequences), sketches (cms_topk), doc-frequency stats, graph
triangles, and the flagship E2E pipeline.
"""

from __future__ import annotations

import pytest

from banking_etl_pipeline_spark.registry import all_queries
from banking_etl_pipeline_spark.session import _SESSION_CACHE

from .oracle_compare import compare, duck_connection

CLUSTER_SHUFFLE_PARTITIONS = 96

REPRESENTATIVE_KEYS = [
    "groupby_stats",          # hash aggregate
    "count_distinct",         # distinct shuffle
    "conditional_sum",        # conditional agg
    "window_running_sum",     # row-frame window
    "window_range_30d",       # range-frame window
    "join_left_stats",        # broadcast equi-join
    "join_left_anti",         # anti-join
    "topk_orderby_limit",     # global sort + limit
    "dedup_minhash_lsh",      # banded minhash join
    "dedup_simhash",          # hamming-band join
    "dup_clusters",           # iterative fixpoint
    "dedup_embedding_cosine",  # corpus-derived LSH geometry
    "semdedup_prune",         # two-level IVF quantizer
    "bitext_margin_pairs",    # corpus-derived bitext bands
    "pack_sequences",         # distributed prefix sum
    "user_level_split",       # hash-bucket split
    "cms_topk",               # count-min sketch
    "tfidf_top_terms",        # doc-frequency stats
    "triangle_count",         # graph join-join
    "banking_txn_pipeline",   # flagship E2E (E→T→DQ)
    "heaps_law",              # cumulative vocab curve
    "quantile_sketch",        # mergeable quantiles
]

_QUERIES = all_queries()


def _clear_session_caches() -> None:
    # persisted intermediates (LSH bands, truth tiers, scalars) must be
    # REBUILT under the conf being tested, not reused from the 8-partition
    # fixture session that shares this applicationId
    for (_, kind, _), value in _SESSION_CACHE.items():
        if kind == "df":
            value.unpersist()
    _SESSION_CACHE.clear()


@pytest.fixture(scope="module")
def cluster_spark(spark):
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", str(CLUSTER_SHUFFLE_PARTITIONS))
    # small split target -> scans arrive in multiple input partitions even
    # at sf0.001, so map-side layout differs from the fixture session too
    s.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
    _clear_session_caches()
    yield s
    _clear_session_caches()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


def test_override_is_session_isolated(spark, cluster_spark):
    """newSession() owns its SQLConf: the cluster-shaped override must not
    leak into the fixture session (the mechanism a spark-submit re-config
    relies on)."""
    assert cluster_spark.conf.get("spark.sql.shuffle.partitions") == str(
        CLUSTER_SHUFFLE_PARTITIONS)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


@pytest.mark.parametrize("key", REPRESENTATIVE_KEYS)
def test_cluster_shape_parity(key, cluster_spark, sf_dir, con):
    spec = _QUERIES[key]
    df = spec.build(cluster_spark, sf_dir)
    res = compare(df, con, spec.oracle)
    assert res["row_count_match"], f"{key}: {res}"
    assert res["columns_match"], f"{key}: {res}"
    assert res["values_match"], f"{key}: {res}"
