"""Hot-key robustness: every query over a universe where ALL rows share
ONE key — the worst-case skew (a single user generating every event, a
single customer owning every order, a single language owning every
document).

At toy scale this can't prove memory behavior, but it pins the semantics
and completion of every per-key sort/window/aggregate when the entire
input lands in one partition group — the degenerate layout AQE skew
splitting and `salted_join` exist for. Each batch key is built once and
compared with its DuckDB oracle; the streaming keys must complete. This
suite documents that correctness never depended on key spread.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from banking_etl_pipeline_spark.registry import all_queries

from .oracle_compare import assert_oracle_parity, universe_connection


# the streaming hot keys: one user owns every event, so the whole series
# lands in one state group (the batch keys are built on this universe by
# test_skewed_universe_oracle_parity)
_STREAMING_KEYS = ["streaming_anomaly", "streaming_ewma"]

_KEYS = [k for k in all_queries()
         if not k.startswith("streaming_") and k != "banking_txn_pipeline"]


@pytest.fixture(scope="module")
def con(skew_dir):
    with universe_connection(skew_dir) as c:
        yield c


@pytest.mark.parametrize("key", _STREAMING_KEYS)
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


@pytest.mark.parametrize("key", _KEYS)
def test_skewed_universe_oracle_parity(key, spark, skew_dir, con):
    """Value-level oracle parity on the one-hot-key universe — the exact
    driver comparison under pathological key distribution, where any
    missing tie-break or order-dependent float fold would flip the hash
    (companion to the empty-universe parity gate)."""
    spec = all_queries()[key]
    assert_oracle_parity(spec.build(spark, skew_dir), con, spec.oracle, key)
