"""Local verification for the reporting tier (operators/reports.py):
per-source datasheets, MinHash banding-parameter tuning, the dedup
aggressiveness curve and a char-level gibberish signal, each run through
the exact driver comparison. The module is registered in
`registry.MODULES`.
"""

from __future__ import annotations

import pytest

from banking_etl_pipeline_spark.operators.reports import QUERIES
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import compare, duck_connection


@pytest.mark.parametrize("key", ["source_quality_report", "minhash_param_sweep",
                                 "dedup_threshold_curve", "char_entropy_quality"])
def test_report_oracle_parity(key, spark, sf_dir):
    spec = QUERIES[key]
    res = compare(spec.build(spark, sf_dir), duck_connection(sf_dir),
                  spec.oracle)
    assert res["row_count_match"] and res["columns_match"] \
        and res["values_match"], f"{key}: {res['detail']}"


def test_report_plans_scale_sane(spark, sf_dir):
    for key, spec in QUERIES.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "CartesianProduct" not in p, f"{key}: cartesian"
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in p, f"{key}: python eval"
    # the entropy signal must stay a shuffle-free scan→project
    p = plan_of(QUERIES["char_entropy_quality"].build(spark, sf_dir))
    assert "Exchange" not in p


def test_report_repeat_deterministic(spark, sf_dir):
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


def test_report_empty_universe(spark, empty_dir):
    for key, spec in QUERIES.items():
        df = spec.build(spark, empty_dir)
        assert len(df.schema) > 0, key
        assert df.count() >= 0, key


def test_report_hot_language(spark, skew_dir):
    for key, spec in QUERIES.items():
        assert spec.build(spark, skew_dir).count() >= 0, key
