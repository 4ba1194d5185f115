"""Local verification for the probability-calibration tier
(operators/calibration.py): reliability bins, exact ECE, int64-safe Brier
score over the weak-label model's confidences with Bernoulli(conf)
md5-gated ground truth. The module is registered in `registry.MODULES`.
"""

from __future__ import annotations

import pytest

from banking_etl_pipeline_spark.operators.calibration import (
    N_BINS,
    QUERIES,
    _graded,
)
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import compare, duck_connection


@pytest.mark.parametrize(
    "key", ["calibration_bins", "ece_report", "brier_score"]
)
def test_calibration_oracle_parity(key, spark, sf_dir):
    spec = QUERIES[key]
    res = compare(spec.build(spark, sf_dir), duck_connection(sf_dir),
                  spec.oracle)
    assert res["row_count_match"] and res["columns_match"] \
        and res["values_match"], f"{key}: {res['detail']}"


def test_calibration_plans_scale_sane(spark, sf_dir):
    for key, spec in QUERIES.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "CartesianProduct" not in p, f"{key}: cartesian"
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in p, f"{key}: python eval"


def test_bins_partition_the_graded_set(spark, sf_dir):
    g = _graded(spark, sf_dir).collect()
    bins = QUERIES["calibration_bins"].build(spark, sf_dir).collect()
    assert sum(b["n"] for b in bins) == len(g)
    for b in bins:
        assert 0 <= b["bin"] < N_BINS
        assert 0 <= b["n_pos"] <= b["n"]
        assert 0 <= b["acc_x1e6"] <= 1_000_000
        assert 0 <= b["mean_conf6"] <= 1_000_000
        # decile consistency: mean conf falls inside (or at the edge of)
        # the bin's range, modulo the top-bin fold-in of conf = 1e6
        lo = b["bin"] * (1_000_000 // N_BINS)
        hi = (b["bin"] + 1) * (1_000_000 // N_BINS)
        assert lo <= b["mean_conf6"] <= max(hi, 1_000_000 if
                                            b["bin"] == N_BINS - 1 else hi)


def test_scorer_is_calibrated_by_construction(spark, sf_dir):
    """y ~ Bernoulli(conf) via the md5 gate ⇒ expected ECE is 0; allow
    generous binomial slack at small n. Brier for a calibrated scorer is
    E[p(1−p)] ≤ 250000 in the 1e6 fixed-point domain."""
    ece = QUERIES["ece_report"].build(spark, sf_dir).collect()[0]
    assert ece["n_total"] > 0
    assert 0 <= ece["ece_x1e6"] <= 200_000, ece
    brier = QUERIES["brier_score"].build(spark, sf_dir).collect()[0]
    assert 0 <= brier["brier_x1e6"] <= 300_000, brier
    # exact integer identity: ece ratio re-derived from its own numerator
    assert ece["ece_x1e6"] == ece["abs_gap_sum"] // ece["n_total"]
