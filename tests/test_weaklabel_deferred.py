"""Local verification for the weak-supervision tier (operators/weaklabel.py):
LF vote matrix, weighted-majority label model, pairwise conflict report, per-LF
coverage analysis. The registry-wide suites check its oracle parity, its plans
and its empty and skewed inputs; this file keeps the checks specific to the
tier.
"""

from __future__ import annotations

from banking_etl_pipeline_spark.operators.weaklabel import (
    LF_NAMES,
    QUERIES,
)
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import assert_repeat_deterministic


def test_weaklabel_plans_scale_sane(spark, sf_dir):
    """One corpus scan into projections/aggregates: no joins anywhere."""
    for key, spec in QUERIES.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "Join" not in p, f"{key}: unexpected join"


def test_matrix_votes_are_ternary(spark, sf_dir):
    rows = QUERIES["weak_label_matrix"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        votes = [r[c] for c in LF_NAMES]
        assert all(v in (-1, 0, 1) for v in votes)
        assert r["n_active"] == sum(1 for v in votes if v >= 0)
    # every LF must actually vote both polarities somewhere
    for c in LF_NAMES:
        vals = {r[c] for r in rows}
        assert {0, 1} <= vals, f"{c} never splits: {vals}"


def test_label_model_resolves_and_abstains(spark, sf_dir):
    rows = QUERIES["label_model_vote"].build(spark, sf_dir).collect()
    labels = {r["label"] for r in rows}
    assert {0, 1} <= labels, "model must produce both classes"
    for r in rows:
        if r["den"] == 0:
            assert r["label"] == -1 and r["confidence6"] is None
        else:
            assert 0 <= r["confidence6"] <= 1_000_000


def test_conflict_report_consistent(spark, sf_dir):
    rows = QUERIES["lf_conflict_report"].build(spark, sf_dir).collect()
    assert len(rows) == 6  # all LF pairs
    for r in rows:
        assert r["n_agree"] + r["n_conflict"] == r["n_both"]


def test_coverage_report_bounds(spark, sf_dir):
    rows = QUERIES["lf_coverage_report"].build(spark, sf_dir).collect()
    assert {r["lf"] for r in rows} == set(LF_NAMES)
    for r in rows:
        assert r["n_filter"] + r["n_keep"] == r["n_voted"] <= r["n_docs"]
        assert r["n_conflict"] <= r["n_overlap"] <= r["n_voted"]


def test_weaklabel_repeat_deterministic(spark, sf_dir):
    assert_repeat_deterministic(spark, sf_dir, QUERIES)
