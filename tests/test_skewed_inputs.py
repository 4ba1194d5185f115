"""Hot-key robustness: key-partitioned operators over a universe where ALL
rows share ONE key — the worst-case skew (a single user generating every
event, a single customer owning every order).

At toy scale this can't prove memory behavior, but it pins the semantics
and completion of every per-key sort/window/aggregate when the entire
input lands in one partition group — the degenerate layout AQE skew
splitting and `salted_join` exist for. This suite documents that
correctness never depended on key spread.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from banking_etl_pipeline_spark.registry import all_queries


# key-partitioned operators that must survive a single hot key
_KEYS = [
    "window_running_sum",
    "window_lag",
    "window_range_7d",
    "sessionization",
    "concurrent_sessions",
    "time_weighted_avg",
    "rolling_active_users",
    "top_paths",
    "latest_event_snapshot",
    "cdc_apply",
    "groupby_stats",
    "skew_salted_join",
    "streaming_anomaly",
    # one user owns EVERY event: the whole series lands in one array fold /
    # one state group — the worst case for the EWMA pair and the
    # interval-join attribution
    "ewma_smoothing",
    "streaming_ewma",
    "attribution_linear",
    # one language owns EVERY document: the per-language rank windows and
    # strata aggregates collapse to a single partition group
    "decile_trim_gate",
    "ccnet_buckets",
    "stratified_sample",
    "mixture_plan",
    "curation_funnel_v2",
]


@pytest.mark.parametrize("key", _KEYS)
def test_hot_key_completes(key, spark, skew_dir):
    df = all_queries()[key].build(spark, skew_dir)
    n = df.count()
    assert n >= 0


def test_hot_key_semantics_running_sum(spark, skew_dir):
    """With one user, the running sum over the final event equals the
    global signed total — the telescoping invariant under max skew."""
    out = all_queries()["window_running_sum"].build(spark, skew_dir)
    assert out.select(F.count_distinct("user_id")).collect()[0][0] == 1

def test_ewma_dual_path_bit_identical(spark, sf_dir, skew_dir):
    """The large-series applyInPandas EWMA must be bit-identical to the
    registered array fold (and hence to the DuckDB oracle) — on the normal
    table AND on the one-user-owns-everything skew fixture, where the whole
    corpus is a single series."""
    from banking_etl_pipeline_spark.operators.windows import (
        ewma_smoothing,
        ewma_smoothing_pandas,
    )

    for d in (sf_dir, skew_dir):
        arr = {r.user_id: (r.n_events, r.ewma)
               for r in ewma_smoothing(spark, d).collect()}
        pnd = {r.user_id: (r.n_events, r.ewma)
               for r in ewma_smoothing_pandas(spark, d).collect()}
        assert arr == pnd, f"dual-path mismatch at {d}"


def test_ewma_dispatch_threshold(spark, skew_dir, monkeypatch):
    """Past EWMA_MAX_ARRAY_LEN the registered operator must return the
    pandas plan (Python eval node present); below it, the pure-JVM array
    fold (no Python eval)."""
    from banking_etl_pipeline_spark.operators import windows as W
    from banking_etl_pipeline_spark.plans import plan_of

    p = plan_of(W.ewma_smoothing(spark, skew_dir))
    assert "FlatMapGroupsInPandas" not in p
    monkeypatch.setattr(W, "EWMA_MAX_ARRAY_LEN", 10)
    p = plan_of(W.ewma_smoothing(spark, skew_dir))
    assert "FlatMapGroupsInPandas" in p


def test_skewed_universe_oracle_parity(spark, skew_dir):
    """Value-level oracle parity on the one-hot-key universe — the exact
    driver comparison under pathological key distribution, where any
    missing tie-break or order-dependent float fold would flip the hash
    (companion to the empty-universe parity gate)."""
    from tests.oracle_compare import universe_mismatches

    specs = {k: spec for k, spec in all_queries().items()
             if not k.startswith("streaming_")
             and k != "banking_txn_pipeline"}
    bad = universe_mismatches(spark, skew_dir, specs)
    assert not bad, f"skewed-universe parity mismatches: {bad}"
