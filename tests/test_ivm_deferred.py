"""Local verification for the incremental-view-maintenance tier
(operators/ivm.py): join-view delta maintenance, scoped MAX repair under
deletes, insert-only top-k maintenance. The oracle is always the FULL
RECOMPUTE, so hash equality is the maintenance-correctness theorem. The
registry-wide suites check its oracle parity, its plans and its empty and
skewed inputs; this file keeps the checks specific to the tier.
"""

from __future__ import annotations

from banking_etl_pipeline_spark.catalog import table
from banking_etl_pipeline_spark.operators.ivm import (
    DELETE_MOD,
    GRP_MOD,
    QUERIES,
    TOP_K,
    TOPK_MOD,
)
from banking_etl_pipeline_spark.plans import plan_of


def test_ivm_plans_scale_sane(spark, sf_dir):
    # both top-k stages are bounded heaps, never a global sort
    p = plan_of(QUERIES["ivm_topk_maintain"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_minmax_repair_is_scoped(spark, sf_dir):
    """The repair recomputes ONLY groups whose deleted max hit the stored
    max — verified by re-deriving the affected set in Python and checking
    every untouched group kept its stored value."""
    from banking_etl_pipeline_spark.functions.numeric import cents
    from pyspark.sql import functions as F

    o = table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % GRP_MOD).alias("grp"),
        F.col("o_orderkey"),
        cents(F.col("o_totalprice")).alias("price_c"),
    ).collect()
    stored: dict = {}
    survivors: dict = {}
    for r in o:
        stored[r["grp"]] = max(stored.get(r["grp"], 0), r["price_c"])
        if r["o_orderkey"] % DELETE_MOD != 0:
            survivors.setdefault(r["grp"], []).append(r["price_c"])
    out = {
        r["grp"]: r["max_price_c"]
        for r in QUERIES["ivm_minmax_repair"].build(spark, sf_dir)
        .collect()
    }
    assert set(out) == set(survivors)
    for g, vals in survivors.items():
        assert out[g] == max(vals), g
        if max(vals) == stored[g]:
            # untouched or repaired-to-same — either way the stored value
            assert out[g] == stored[g]


def test_topk_identity_holds(spark, sf_dir):
    """topk(topk(base) ∪ Δ) really equals topk(all) with the total
    tie-break order, and the output is exactly TOP_K ranked rows."""
    rows = QUERIES["ivm_topk_maintain"].build(spark, sf_dir).collect()
    assert [r["rank"] for r in rows] == list(range(1, TOP_K + 1))
    keys = [(-r["price_c"], r["o_orderkey"]) for r in rows]
    assert keys == sorted(keys)
    # delta rows are eligible: at least one top-k member may come from the
    # delta partition; identity checked value-wise vs a full Python sort
    from banking_etl_pipeline_spark.functions.numeric import cents
    from pyspark.sql import functions as F

    allrows = table(spark, sf_dir, "orders").select(
        "o_orderkey", cents(F.col("o_totalprice")).alias("price_c")
    ).collect()
    expect = sorted(
        ((-r["price_c"], r["o_orderkey"]) for r in allrows)
    )[:TOP_K]
    assert keys == expect
    assert any(r["o_orderkey"] % TOPK_MOD == 0 for r in rows) or all(
        k[1] % TOPK_MOD != 0 for k in expect
    )
