"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash).

All real logic lives in the ``banking_etl_pipeline_spark`` package; this file
only adapts its registry to the driver contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from banking_etl_pipeline_spark.registry import all_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (pricing summary) on /root/testdata/sf0.001."""
    from banking_etl_pipeline_spark.operators.relational import pricing_summary

    return pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.build for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_queries().items()}
