"""Local verification for the safety-filtering tier (operators/safety.py):
lexicon-ratio flags, injection-pattern scan, source blocklist audit,
cumulative safety funnel, each run through the exact driver comparison. The
module is registered in `registry.MODULES`.
"""

from __future__ import annotations

import pytest

from banking_etl_pipeline_spark.operators.safety import (
    INJECTION_PATTERNS,
    QUERIES,
    RATIO6_T,
)
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import compare, duck_connection


@pytest.mark.parametrize(
    "key",
    ["safety_lexicon_ratio", "injection_pattern_scan",
     "safety_blocklist_audit", "safety_funnel"],
)
def test_safety_oracle_parity(key, spark, sf_dir):
    spec = QUERIES[key]
    res = compare(spec.build(spark, sf_dir), duck_connection(sf_dir),
                  spec.oracle)
    assert res["row_count_match"] and res["columns_match"] \
        and res["values_match"], f"{key}: {res['detail']}"


def test_safety_plans_scale_sane(spark, sf_dir):
    """Single corpus scan → bounded aggregate: no joins, no windows, no
    Python eval, no cartesian anywhere in the tier."""
    for key, spec in QUERIES.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "CartesianProduct" not in p, f"{key}: cartesian"
        assert "Join" not in p, f"{key}: unexpected join"
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in p, f"{key}: python eval"


def test_injection_scan_reports_zero_hits(spark, sf_dir):
    """The realistic signatures hit zero documents in the synthetic corpus
    — the scan must report those zeros, one row per configured pattern."""
    rows = {r["pattern"]: r for r in
            QUERIES["injection_pattern_scan"].build(spark, sf_dir).collect()}
    assert set(rows) == set(INJECTION_PATTERNS)
    assert rows["ignore previous instructions"]["n_docs_hit"] == 0
    assert rows["key key"]["n_docs_hit"] > 0
    for r in rows.values():
        assert 0 <= r["hit_rate6"] <= 1_000_000


def test_funnel_is_monotone(spark, sf_dir):
    for r in QUERIES["safety_funnel"].build(spark, sf_dir).collect():
        assert (r["n_total"] >= r["n_after_blocklist"]
                >= r["n_after_lexicon"] >= r["n_clean"] >= 0)


def test_lexicon_ratio_bounds(spark, sf_dir):
    for r in QUERIES["safety_lexicon_ratio"].build(spark, sf_dir).collect():
        assert 0 <= r["n_flagged"] <= r["n_docs"]
        assert 0 <= r["mean_ratio6"] <= 1_000_000
    assert RATIO6_T > 0


def test_blocklist_audit_conserves_docs(spark, sf_dir):
    for r in QUERIES["safety_blocklist_audit"].build(spark, sf_dir).collect():
        assert r["n_blocked"] + r["n_surviving"] == r["n_docs"]
        assert r["chars_blocked"] >= 0


def test_safety_empty_universe(spark, empty_dir):
    for key, spec in QUERIES.items():
        df = spec.build(spark, empty_dir)
        assert len(df.schema) > 0, key
        assert df.count() >= 0, key


def test_safety_hot_key(spark, skew_dir):
    for key, spec in QUERIES.items():
        assert spec.build(spark, skew_dir).count() >= 0, key


def test_safety_repeat_deterministic(spark, sf_dir):
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
