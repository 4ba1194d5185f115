"""Local verification for the epoch/dataloader planning tier
(operators/epochs.py): per-epoch seeded shuffle heads, temperature-scaled
largest-remainder token apportionment, crash-resume point against the shard
manifest. The registry-wide suites check its oracle parity, its plans and its
empty and skewed inputs; this file keeps the checks specific to the tier.
"""

from __future__ import annotations

from banking_etl_pipeline_spark.catalog import table
from banking_etl_pipeline_spark.operators.epochs import (
    EPOCHS,
    HEADS,
    QUERIES,
    T_BUDGET,
)
from banking_etl_pipeline_spark.plans import plan_of


def test_epochs_plans_scale_sane(spark, sf_dir):
    # each epoch head is a bounded top-HEADS heap, not a global sort
    p = plan_of(QUERIES["epoch_shuffle_heads"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_shuffle_heads_shape(spark, sf_dir):
    """EPOCHS·HEADS rows, positions 1..HEADS per epoch, the heads really
    are that epoch's hash minima, and different epochs disagree (the
    reshuffle reshuffles)."""
    rows = QUERIES["epoch_shuffle_heads"].build(spark, sf_dir).collect()
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


def test_mixture_apportions_exactly(spark, sf_dir):
    """Quotas are non-negative, sum EXACTLY to the budget, and differ from
    plain floor allocation by at most 1 (largest-remainder property);
    weights stay far inside the int64 product bound."""
    rows = QUERIES["temperature_mixture"].build(spark, sf_dir).collect()
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


def test_resume_plan_consistency(spark, sf_dir):
    """The remaining token mass equals total − (largest prefix ≤ offset),
    and the shard range is the manifest's tail."""
    from banking_etl_pipeline_spark.operators.shards import _assignment

    plan = QUERIES["resume_plan"].build(spark, sf_dir).collect()[0]
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
