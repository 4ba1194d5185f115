"""Local verification for the training-shard tier (operators/shards.py):
deterministic shard assignment off the exact distributed prefix sum,
per-shard manifest, balance gate, each run through the exact driver
comparison. The module is registered in `registry.MODULES`.
"""

from __future__ import annotations

import pytest

from banking_etl_pipeline_spark.catalog import table
from banking_etl_pipeline_spark.operators.shards import (
    QUERIES,
    SHARD_TOKENS,
)
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import compare, duck_connection


@pytest.mark.parametrize(
    "key", ["shard_assignment", "shard_manifest", "shard_balance_report"]
)
def test_shards_oracle_parity(key, spark, sf_dir):
    spec = QUERIES[key]
    res = compare(spec.build(spark, sf_dir), duck_connection(sf_dir),
                  spec.oracle)
    assert res["row_count_match"] and res["columns_match"] \
        and res["values_match"], f"{key}: {res['detail']}"


def test_shards_plans_scale_sane(spark, sf_dir):
    for key, spec in QUERIES.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "CartesianProduct" not in p, f"{key}: cartesian"
        assert "BroadcastNestedLoopJoin" not in p, f"{key}: NLJ"
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in p, f"{key}: python eval"


def test_assignment_is_a_packing(spark, sf_dir):
    """Every document lands in exactly one shard; prefixes telescope (the
    last prefix equals the corpus token total); shard ids are the
    contiguous range implied by that total; every shard holds > 0 and,
    before the final shard, close to the budget."""
    rows = QUERIES["shard_assignment"].build(spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    total = sum(r["n_tokens"] for r in rows)
    assert max(r["prefix"] for r in rows) == total
    assert {r["shard_id"] for r in rows} == \
        set(range((total + SHARD_TOKENS - 1) // SHARD_TOKENS))
    for r in rows:
        assert r["shard_id"] == (r["prefix"] - 1) // SHARD_TOKENS


def test_manifest_consistent_with_assignment(spark, sf_dir):
    a = QUERIES["shard_assignment"].build(spark, sf_dir).collect()
    m = {r["shard_id"]: r for r in
         QUERIES["shard_manifest"].build(spark, sf_dir).collect()}
    per_shard: dict[int, list] = {}
    for r in a:
        per_shard.setdefault(r["shard_id"], []).append(r)
    assert set(m) == set(per_shard)
    for sid, rs in per_shard.items():
        assert m[sid]["n_docs"] == len(rs)
        assert m[sid]["shard_tokens"] == sum(r["n_tokens"] for r in rs)
        assert m[sid]["first_prefix"] == min(r["prefix"] for r in rs)
        assert m[sid]["last_prefix"] == max(r["prefix"] for r in rs)


def test_balance_gate_bounds(spark, sf_dir):
    """Cumulative-end packing can overshoot the budget by at most one
    document minus one token, and only the LAST shard can be underfull."""
    bal = QUERIES["shard_balance_report"].build(spark, sf_dir).collect()[0]
    m = QUERIES["shard_manifest"].build(spark, sf_dir).collect()
    max_doc = max(
        r["n_tokens"] for r in
        QUERIES["shard_assignment"].build(spark, sf_dir).collect()
    )
    assert bal["n_shards"] == len(m)
    assert bal["worst_overrun"] < max_doc
    underfull = [r for r in m if r["shard_tokens"] < SHARD_TOKENS // 2]
    assert len(underfull) <= 1  # only the tail shard may run light


def test_shards_empty_universe(spark, sf_dir):
    from tests.conftest import build_empty_universe

    empty = build_empty_universe(spark, sf_dir)
    for key, spec in QUERIES.items():
        df = spec.build(spark, empty)
        assert len(df.schema) > 0, key
        assert df.count() >= 0, key


def test_shards_hot_key(spark, sf_dir):
    from tests.conftest import build_skewed_universe

    skew = build_skewed_universe(spark, sf_dir)
    for key, spec in QUERIES.items():
        assert spec.build(spark, skew).count() >= 0, key


def test_shards_repeat_deterministic(spark, sf_dir):
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
