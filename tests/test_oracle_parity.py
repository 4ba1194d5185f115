"""Every registered query must match its DuckDB oracle exactly at
sf0.001 — the local version of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from banking_etl_pipeline_spark.registry import all_queries

from .oracle_compare import compare, duck_connection

_QUERIES = all_queries()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("key", list(_QUERIES))
def test_oracle_parity(key, spark, sf_dir, con):
    spec = _QUERIES[key]
    df = spec.build(spark, sf_dir)
    res = compare(df, con, spec.oracle)
    assert res["row_count_match"], f"{key}: {res}"
    assert res["columns_match"], f"{key}: {res}"
    assert res["values_match"], f"{key}: {res}"


def test_compare_rejects_array_outputs(spark, sf_dir, con):
    """Driver-canonicalizer contract: a top-level array/map output column
    crashes the driver's pandas sort (unhashable 'list'), so compare() must
    reject it before the tuple-izing local comparison can mask the class
    (embedding_quantize and multimodal_features once returned arrays and
    passed local compares while failing the driver)."""
    df = spark.createDataFrame([(1, [1, 2])], "id int, xs array<int>")
    with pytest.raises(AssertionError, match="array/map"):
        compare(df, con, "SELECT 1 AS id, [1, 2] AS xs")

