"""Session fixtures shared by the whole suite, which is one configuration:
``pytest tests/`` runs every test. The Spark session, the oracle's data
directory, and the empty and skewed universes are built once per run."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from banking_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_ORACLE


@pytest.fixture(scope="session")
def empty_dir(spark, sf_dir, tmp_path_factory):
    """Empty tables with the production schemas, written once per run."""
    from banking_etl_pipeline_spark.catalog import TABLES, table

    path = tmp_path_factory.mktemp("empty_universe")
    for t in TABLES:
        table(spark, sf_dir, t).limit(0).write.parquet(
            str(path / f"{t}.parquet"))
    return str(path)


@pytest.fixture(scope="session")
def skew_dir(spark, sf_dir, tmp_path_factory):
    """The tables with one hot key each, written once per run."""
    from pyspark.sql import functions as F

    from banking_etl_pipeline_spark.catalog import TABLES, table

    path = tmp_path_factory.mktemp("skewed_universe")
    for t in TABLES:
        df = table(spark, sf_dir, t)
        if t == "events":
            df = df.withColumn("user_id", F.lit(1).cast("long"))
        elif t == "orders":
            df = df.withColumn("o_custkey", F.lit(1).cast("long"))
        elif t == "documents":
            df = df.withColumn("lang", F.lit("en"))
        df.write.parquet(str(path / f"{t}.parquet"))
    return str(path)
