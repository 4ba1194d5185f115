"""Local verification for the reporting tier (operators/reports.py): per-source
datasheets, MinHash banding-parameter tuning, the dedup aggressiveness curve
and a char-level gibberish signal. The registry-wide suites check its oracle
parity, its plans and its empty and skewed inputs; this file keeps the checks
specific to the tier.
"""

from __future__ import annotations

from banking_etl_pipeline_spark.operators.reports import QUERIES
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import assert_repeat_deterministic


def test_report_plans_scale_sane(spark, sf_dir):
    # the entropy signal must stay a shuffle-free scan→project
    p = plan_of(QUERIES["char_entropy_quality"].build(spark, sf_dir))
    assert "Exchange" not in p


def test_report_repeat_deterministic(spark, sf_dir):
    assert_repeat_deterministic(spark, sf_dir, QUERIES)
