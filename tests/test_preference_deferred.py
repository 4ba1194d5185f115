"""Local verification for the preference-pair tier (operators/preference.py):
rank-aligned chosen/rejected pairing, gap report, prompt-level split,
token-budget cap, each run through the exact driver comparison. The module
is registered in `registry.MODULES`.
"""

from __future__ import annotations

import pytest

from banking_etl_pipeline_spark.operators.preference import (
    GAP6_T,
    PREF_K,
    QUERIES,
    TOKEN_BUDGET,
)
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import compare, duck_connection


@pytest.mark.parametrize(
    "key",
    ["preference_pairs", "preference_gap_report", "preference_split",
     "preference_budget_cap"],
)
def test_preference_oracle_parity(key, spark, sf_dir):
    spec = QUERIES[key]
    res = compare(spec.build(spark, sf_dir), duck_connection(sf_dir),
                  spec.oracle)
    assert res["row_count_match"] and res["columns_match"] \
        and res["values_match"], f"{key}: {res['detail']}"


def test_preference_plans_scale_sane(spark, sf_dir):
    for key, spec in QUERIES.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "CartesianProduct" not in p, f"{key}: cartesian"
        assert "BroadcastNestedLoopJoin" not in p, f"{key}: NLJ"
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in p, f"{key}: python eval"


def test_pairs_semantics(spark, sf_dir):
    rows = QUERIES["preference_pairs"].build(spark, sf_dir).collect()
    assert rows
    per_group: dict[str, int] = {}
    for r in rows:
        assert r["chosen_id"] != r["rejected_id"]
        assert r["gap6"] == r["chosen_q6"] - r["rejected_q6"]
        assert r["gap6"] >= GAP6_T
        per_group[r["source"]] = per_group.get(r["source"], 0) + 1
    assert all(n <= PREF_K for n in per_group.values())
    # chosen docs must never also appear as rejected within a group
    for src in per_group:
        ch = {r["chosen_id"] for r in rows if r["source"] == src}
        rj = {r["rejected_id"] for r in rows if r["source"] == src}
        assert not (ch & rj), f"{src}: doc on both sides"


def test_split_is_group_atomic(spark, sf_dir):
    rows = QUERIES["preference_split"].build(spark, sf_dir).collect()
    assert rows
    sides: dict[str, set] = {}
    for r in rows:
        sides.setdefault(r["source"], set()).add(r["split"])
    assert all(len(s) == 1 for s in sides.values()), "group split leaked"
    assert {r["split"] for r in rows} == {"train", "val"}


def test_budget_cap_respected(spark, sf_dir):
    rows = QUERIES["preference_budget_cap"].build(spark, sf_dir).collect()
    assert rows
    per_group: dict[str, int] = {}
    for r in rows:
        assert r["cum_tokens"] <= TOKEN_BUDGET
        per_group[r["source"]] = per_group.get(r["source"], 0) \
            + r["pair_tokens"]
    for src, tot in per_group.items():
        assert tot <= TOKEN_BUDGET, f"{src}: budget exceeded"
    # the cap must actually bind somewhere (fewer rows than raw pairs)
    n_pairs = QUERIES["preference_pairs"].build(spark, sf_dir).count()
    assert len(rows) < n_pairs


def test_gap_report_bounds(spark, sf_dir):
    for r in QUERIES["preference_gap_report"].build(spark, sf_dir).collect():
        assert 1 <= r["n_pairs"] <= PREF_K
        assert GAP6_T <= r["min_gap6"] <= r["mean_gap6"] <= r["max_gap6"]


def test_preference_empty_universe(spark, sf_dir):
    from tests.conftest import build_empty_universe

    empty = build_empty_universe(spark, sf_dir)
    for key, spec in QUERIES.items():
        df = spec.build(spark, empty)
        assert len(df.schema) > 0, key
        assert df.count() >= 0, key


def test_preference_hot_key(spark, sf_dir):
    from tests.conftest import build_skewed_universe

    skew = build_skewed_universe(spark, sf_dir)
    for key, spec in QUERIES.items():
        assert spec.build(spark, skew).count() >= 0, key


def test_preference_repeat_deterministic(spark, sf_dir):
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
