"""Local verification for the bitext-mining tier (operators/bitext.py):
margin-based cross-lingual pair mining, reciprocal best-match alignment,
per-language mining report and coverage, each run through the exact driver
comparison. The module is registered in `registry.MODULES`.
"""

from __future__ import annotations

import pytest

from banking_etl_pipeline_spark.operators.bitext import (
    MARGIN_T,
    QUERIES,
    SRC_LANG,
)
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import compare, duck_connection


@pytest.mark.parametrize(
    "key",
    ["bitext_margin_pairs", "bitext_reciprocal_best",
     "bitext_mining_report", "bitext_lang_coverage"],
)
def test_bitext_oracle_parity(key, spark, sf_dir):
    spec = QUERIES[key]
    res = compare(spec.build(spark, sf_dir), duck_connection(sf_dir),
                  spec.oracle)
    assert res["row_count_match"] and res["columns_match"] \
        and res["values_match"], f"{key}: {res['detail']}"


def test_bitext_plans_scale_sane(spark, sf_dir):
    """Candidates must come from the banded equi-join — never a cross or
    nested-loop join of the two language sides."""
    for key, spec in QUERIES.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "CartesianProduct" not in p, f"{key}: cartesian"
        assert "BroadcastNestedLoopJoin" not in p, f"{key}: NLJ"
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in p, f"{key}: python eval"


def test_margin_pairs_semantics(spark, sf_dir):
    rows = QUERIES["bitext_margin_pairs"].build(spark, sf_dir).collect()
    assert rows, "threshold should accept a non-trivial pair set"
    for r in rows:
        assert r["margin"] >= MARGIN_T
        assert r["tgt_lang"] != SRC_LANG
    # mining never pairs a document with itself
    assert all(r["src_id"] != r["tgt_id"] for r in rows)


def test_reciprocal_best_is_bijective_per_side(spark, sf_dir):
    rows = QUERIES["bitext_reciprocal_best"].build(spark, sf_dir).collect()
    assert rows
    # at most one row per (src, tgt_lang) and per tgt
    src_keys = [(r["src_id"], r["tgt_lang"]) for r in rows]
    tgt_keys = [r["tgt_id"] for r in rows]
    assert len(src_keys) == len(set(src_keys))
    assert len(tgt_keys) == len(set(tgt_keys))


def test_mining_report_bounds(spark, sf_dir):
    for r in QUERIES["bitext_mining_report"].build(spark, sf_dir).collect():
        assert 0 <= r["n_pairs"] <= r["n_candidates"]
        if r["n_pairs"] > 0:
            assert r["mean_margin"] >= MARGIN_T - 1e-6
            assert r["max_margin6"] >= int(MARGIN_T * 1e6)


def test_lang_coverage_bounds(spark, sf_dir):
    rows = QUERIES["bitext_lang_coverage"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["tgt_lang"] != SRC_LANG
        assert 0 <= r["n_aligned"] <= r["n_docs"]
        assert 0.0 <= r["coverage"] <= 1.0


def test_bitext_empty_universe(spark, sf_dir):
    from tests.conftest import build_empty_universe

    empty = build_empty_universe(spark, sf_dir)
    for key, spec in QUERIES.items():
        df = spec.build(spark, empty)
        assert len(df.schema) > 0, key
        assert df.count() >= 0, key


def test_bitext_hot_key(spark, sf_dir):
    from tests.conftest import build_skewed_universe

    skew = build_skewed_universe(spark, sf_dir)
    for key, spec in QUERIES.items():
        assert spec.build(spark, skew).count() >= 0, key


def test_bitext_repeat_deterministic(spark, sf_dir):
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
