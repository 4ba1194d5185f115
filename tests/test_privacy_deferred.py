"""Local verification for the privacy tier (operators/privacy.py):
seeded-Laplace DP release, l-diversity audit, generalization-lattice release
decision, masked-extract digest. The registry-wide suites check its oracle
parity, its plans and its empty and skewed inputs; this file keeps the checks
specific to the tier.
"""

from __future__ import annotations

from banking_etl_pipeline_spark.operators.privacy import (
    DP_EPSILON,
    K_RELEASE,
    QUERIES,
)
from tests.oracle_compare import assert_repeat_deterministic


def test_dp_noise_is_laplace_shaped(spark, sf_dir):
    rows = QUERIES["dp_count_release"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # released = exact + noise (6-dp truncation applied to both)
        assert abs(r["released_n"] - (r["exact_n"] + r["noise"])) < 2e-6
    # the seeded draw must actually spread: not all noises equal, both
    # signs present at 25 nations (prob of one-sided ~2^-25)
    noises = [r["noise"] for r in rows]
    assert len(set(noises)) > 1
    if len(noises) >= 20:
        assert any(n < 0 for n in noises) and any(n > 0 for n in noises)


def test_dp_release_deterministic_replay(spark, sf_dir):
    a = QUERIES["dp_count_release"].build(spark, sf_dir).collect()
    b = QUERIES["dp_count_release"].build(spark, sf_dir).collect()
    assert a == b
    assert DP_EPSILON == 1.0


def test_generalization_ladder_decision(spark, sf_dir):
    rows = QUERIES["generalization_ladder"].build(spark, sf_dir).collect()
    assert [r["rank"] for r in rows] == [1, 2, 3]
    chosen = [r for r in rows if r["chosen"]]
    passing = [r for r in rows if r["min_group_size"] >= K_RELEASE]
    if passing:
        # chosen = the most specific passing level
        assert len(chosen) == 1
        assert chosen[0]["rank"] == min(r["rank"] for r in passing)
    else:
        assert chosen == []
    # generalizing can only shrink the group count
    assert rows[0]["n_groups"] >= rows[1]["n_groups"] >= rows[2]["n_groups"]


def test_l_diversity_bounds(spark, sf_dir):
    r = QUERIES["l_diversity_audit"].build(spark, sf_dir).collect()[0]
    assert 1 <= r["min_l"] <= r["max_l"]
    assert 0 <= r["n_under_diverse"] <= r["n_groups"]


def test_privacy_repeat_deterministic(spark, sf_dir):
    assert_repeat_deterministic(spark, sf_dir, QUERIES)
