"""Local verification for the safety-filtering tier (operators/safety.py):
lexicon-ratio flags, injection-pattern scan, source blocklist audit, cumulative
safety funnel. The registry-wide suites check its oracle parity, its plans and
its empty and skewed inputs; this file keeps the checks specific to the tier.
"""

from __future__ import annotations

from banking_etl_pipeline_spark.operators.safety import (
    INJECTION_PATTERNS,
    QUERIES,
    RATIO6_T,
)
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import assert_repeat_deterministic


def test_safety_plans_scale_sane(spark, sf_dir):
    """Single corpus scan → bounded aggregate: no joins anywhere in the
    tier."""
    for key, spec in QUERIES.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "Join" not in p, f"{key}: unexpected join"


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


def test_safety_repeat_deterministic(spark, sf_dir):
    assert_repeat_deterministic(spark, sf_dir, QUERIES)
