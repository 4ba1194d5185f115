"""Local verification for the epoch/dataloader planning tier
(operators/epochs.py): per-epoch seeded shuffle heads, temperature-scaled
largest-remainder token apportionment, crash-resume point against the shard
manifest, each run through the exact driver comparison. The module is
registered in `registry.MODULES`.
"""

from __future__ import annotations

import pytest

from banking_etl_pipeline_spark.catalog import table
from banking_etl_pipeline_spark.operators.epochs import (
    EPOCHS,
    HEADS,
    T_BUDGET,
    queries as ep_queries,
)
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import compare, duck_connection


@pytest.fixture(scope="module")
def eq():
    return ep_queries()


@pytest.mark.parametrize(
    "key", ["epoch_shuffle_heads", "temperature_mixture", "resume_plan"]
)
def test_epochs_oracle_parity(key, spark, sf_dir, eq):
    spec = eq[key]
    res = compare(spec.build(spark, sf_dir), duck_connection(sf_dir),
                  spec.oracle)
    assert res["row_count_match"] and res["columns_match"] \
        and res["values_match"], f"{key}: {res['detail']}"


def test_epochs_plans_scale_sane(spark, sf_dir, eq):
    for key, spec in eq.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "CartesianProduct" not in p, f"{key}: cartesian"
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in p, f"{key}: python eval"
    # each epoch head is a bounded top-HEADS heap, not a global sort
    p = plan_of(eq["epoch_shuffle_heads"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_shuffle_heads_shape(spark, sf_dir, eq):
    """EPOCHS·HEADS rows, positions 1..HEADS per epoch, the heads really
    are that epoch's hash minima, and different epochs disagree (the
    reshuffle reshuffles)."""
    rows = eq["epoch_shuffle_heads"].build(spark, sf_dir).collect()
    assert len(rows) == EPOCHS * HEADS
    by_epoch: dict = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(r)
    assert set(by_epoch) == set(range(EPOCHS))
    orders = []
    for e, rs in by_epoch.items():
        rs.sort(key=lambda r: r["position"])
        assert [r["position"] for r in rs] == list(range(1, HEADS + 1))
        hs = [r["h"] for r in rs]
        assert hs == sorted(hs)
        orders.append(tuple(r["doc_id"] for r in rs))
    assert len(set(orders)) > 1, "epochs produced identical head orders"


def test_mixture_apportions_exactly(spark, sf_dir, eq):
    """Quotas are non-negative, sum EXACTLY to the budget, and differ from
    plain floor allocation by at most 1 (largest-remainder property);
    weights stay far inside the int64 product bound."""
    rows = eq["temperature_mixture"].build(spark, sf_dir).collect()
    assert sum(r["quota"] for r in rows) == T_BUDGET
    w_total = sum(r["w_fp"] for r in rows)
    for r in rows:
        assert r["quota"] >= 0
        assert r["w_fp"] * T_BUDGET < 2**63  # documented overflow bound
        base = (r["w_fp"] * T_BUDGET) // max(w_total, 1)
        assert base <= r["quota"] <= base + 1
    n_src = table(spark, sf_dir, "documents").select("source") \
        .distinct().count()
    assert len(rows) == n_src


def test_resume_plan_consistency(spark, sf_dir, eq):
    """The remaining token mass equals total − (largest prefix ≤ offset),
    and the shard range is the manifest's tail."""
    from banking_etl_pipeline_spark.operators.shards import _assignment

    plan = eq["resume_plan"].build(spark, sf_dir).collect()[0]
    a = sorted(
        _assignment(spark, sf_dir).collect(), key=lambda r: r["prefix"]
    )
    total = a[-1]["prefix"]
    assert plan["resume_offset"] == total // 2
    rem = [r for r in a if r["prefix"] > plan["resume_offset"]]
    assert plan["n_docs_remaining"] == len(rem)
    assert plan["tokens_remaining"] == sum(r["n_tokens"] for r in rem)
    assert plan["first_shard"] == min(r["shard_id"] for r in rem)
    assert plan["last_shard"] == max(r["shard_id"] for r in rem)
