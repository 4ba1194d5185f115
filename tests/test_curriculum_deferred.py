"""Local verification for the curriculum/annealing tier
(operators/curriculum.py): quality-phase bucketing, anneal repeat plan,
phase-major training layout, bigram-vocabulary phase overlap. The registry-wide
suites check its oracle parity, its plans and its empty and skewed inputs; this
file keeps the checks specific to the tier.
"""

from __future__ import annotations

from banking_etl_pipeline_spark.operators.curriculum import (
    N_BATCHES,
    QUERIES,
)
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import assert_repeat_deterministic


def test_curriculum_plans_scale_sane(spark, sf_dir):
    for key, spec in QUERIES.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in p, f"{key}: NLJ"


def test_phases_partition_the_corpus(spark, sf_dir):
    rows = QUERIES["curriculum_phases"].build(spark, sf_dir).collect()
    assert [r["phase"] for r in rows] == sorted(r["phase"] for r in rows)
    assert all(r["n_docs"] > 0 for r in rows)
    # mean quality must increase with phase (that's the curriculum)
    means = [r["mean_q6"] for r in sorted(rows, key=lambda r: r["phase"])]
    assert means == sorted(means)


def test_anneal_repeats_spread_and_account(spark, sf_dir):
    rows = QUERIES["anneal_repeat_plan"].build(spark, sf_dir).collect()
    assert rows
    # thresholds must split sources, not rubber-stamp them (at larger SFs
    # per-source means concentrate, so demand ≥2 distinct multipliers,
    # not any specific pair)
    assert len({r["repeats"] for r in rows}) >= 2, \
        "thresholds should split sources, not rubber-stamp them"
    for r in rows:
        assert r["effective_tokens"] == r["n_tokens"] * r["repeats"]
        assert 1 <= r["repeats"] <= 3


def test_order_is_phase_major_and_complete(spark, sf_dir):
    rows = QUERIES["curriculum_order"].build(spark, sf_dir).collect()
    from banking_etl_pipeline_spark.catalog import table

    assert len(rows) == table(spark, sf_dir, "documents").count()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    for r in rows:
        assert 0 <= r["batch"] < N_BATCHES
        assert r["phase"] in (1, 2, 3)


def test_vocab_overlap_bounds(spark, sf_dir):
    rows = QUERIES["phase_vocab_overlap"].build(spark, sf_dir).collect()
    assert [(r["phase_a"], r["phase_b"]) for r in rows] == [(1, 2), (2, 3)]
    for r in rows:
        assert r["vocab_common"] <= min(r["vocab_a"], r["vocab_b"])
        assert 0.0 <= r["jaccard"] <= 1.0


def test_curriculum_repeat_deterministic(spark, sf_dir):
    assert_repeat_deterministic(spark, sf_dir, QUERIES)
