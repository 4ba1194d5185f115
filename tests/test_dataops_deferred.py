"""Local verification for the dataset-diff tier (operators/dataops.py):
full-outer snapshot diff, column drift, changed-key triage sample, each run
through the exact driver comparison. The module is registered in
`registry.MODULES`.
"""

from __future__ import annotations

import hashlib

import pytest

from banking_etl_pipeline_spark.catalog import table
from banking_etl_pipeline_spark.operators.dataops import (
    DIFF_MOD,
    DIFF_SEED,
    NEW_MOD,
    PRICE_BUMP,
    QUERIES,
    TOP_CHANGED,
)
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import compare, duck_connection


def _gate(key: int) -> int:
    # python replica of functions/hashing.md5_long_seeded
    return int(hashlib.md5(f"{DIFF_SEED}:{key}".encode())
               .hexdigest()[:15], 16)


@pytest.mark.parametrize(
    "key", ["dataset_diff", "column_drift_report", "changed_keys_sample"]
)
def test_dataops_oracle_parity(key, spark, sf_dir):
    spec = QUERIES[key]
    res = compare(spec.build(spark, sf_dir), duck_connection(sf_dir),
                  spec.oracle)
    assert res["row_count_match"] and res["columns_match"] \
        and res["values_match"], f"{key}: {res['detail']}"


def test_dataops_plans_scale_sane(spark, sf_dir):
    for key, spec in QUERIES.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "CartesianProduct" not in p, f"{key}: cartesian"
        assert "BroadcastNestedLoopJoin" not in p, f"{key}: NLJ"
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in p, f"{key}: python eval"


def test_diff_counts_match_the_injected_mutations(spark, sf_dir):
    """The md5 gate defines exactly which keys were dropped / mutated /
    cloned — the diff must report those classes to the row."""
    keys = [r["o_orderkey"] for r in
            table(spark, sf_dir, "orders").select("o_orderkey").collect()]
    exp_removed = sum(1 for k in keys if _gate(k) % DIFF_MOD == 0)
    exp_changed = sum(1 for k in keys if _gate(k) % DIFF_MOD == 1)
    exp_added = sum(1 for k in keys if _gate(k) % NEW_MOD == 0)
    d = QUERIES["dataset_diff"].build(spark, sf_dir).collect()[0]
    assert d["removed"] == exp_removed
    assert d["changed"] == exp_changed
    assert d["added"] == exp_added
    assert d["unchanged"] == len(keys) - exp_removed - exp_changed
    # the mutation touches status and price, never custkey/priority
    assert d["chg_status"] == d["chg_price"] == exp_changed
    assert d["chg_custkey"] == d["chg_priority"] == 0


def test_drift_balances_the_diff(spark, sf_dir):
    """Row-count accounting across the two reports must agree:
    |v2| = |v1| − removed + added, and the v2 price mass moved by exactly
    changed·bump − removed-row mass + added-row mass (all exact cents)."""
    d = QUERIES["dataset_diff"].build(spark, sf_dir).collect()[0]
    drift = {r["snapshot"]: r for r in
             QUERIES["column_drift_report"].build(spark, sf_dir).collect()}
    assert drift["v2"]["n_rows"] == \
        drift["v1"]["n_rows"] - d["removed"] + d["added"]
    assert drift["v1"]["null_status"] == drift["v2"]["null_status"] == 0


def test_changed_sample_is_the_triage_list(spark, sf_dir):
    rows = QUERIES["changed_keys_sample"].build(spark, sf_dir).collect()
    d = QUERIES["dataset_diff"].build(spark, sf_dir).collect()[0]
    assert len(rows) == min(TOP_CHANGED, d["changed"])
    bump_c = int(PRICE_BUMP * 100)
    for r in rows:
        assert r["abs_delta_c"] == bump_c
        assert r["price_c_v2"] - r["price_c_v1"] == bump_c
        assert _gate(r["o_orderkey"]) % DIFF_MOD == 1


def test_dataops_empty_universe(spark, sf_dir):
    from tests.conftest import build_empty_universe

    empty = build_empty_universe(spark, sf_dir)
    for key, spec in QUERIES.items():
        df = spec.build(spark, empty)
        assert len(df.schema) > 0, key
        assert df.count() >= 0, key


def test_dataops_hot_key(spark, sf_dir):
    from tests.conftest import build_skewed_universe

    skew = build_skewed_universe(spark, sf_dir)
    for key, spec in QUERIES.items():
        assert spec.build(spark, skew).count() >= 0, key


def test_dataops_repeat_deterministic(spark, sf_dir):
    from collections import Counter

    from tests.oracle_compare import _norm

    for key, spec in QUERIES.items():
        sets = []
        for _ in range(2):
            rows = spec.build(spark, sf_dir).collect()
            sets.append(Counter(
                tuple(_norm(r[c]) for c in sorted(r.asDict())) for r in rows
            ))
        assert sets[0] == sets[1], f"{key}: nondeterministic across builds"
