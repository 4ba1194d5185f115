"""Source readers (reference SURVEY.md §2.1, `s3_connector.py:23-83`).

The reference's S3Connector reads CSV with header/inference options,
parquet, Delta and JDBC. Here CSV (its header and schema policy) and JDBC
(a config's ``rds`` source) have a function; parquet, text, JSON and ORC
scans call ``spark.read`` directly, and there is no Delta read. Unlike the
reference, schema inference is opt-in-and-discouraged (an eager sampling
job at scale); callers should pass an explicit schema or read
self-describing formats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    schema: StructType | str | None = None,
    infer_schema: bool = False,
) -> DataFrame:
    # ≅ s3_connector.py:23-45; explicit schema preferred over inference.
    # With a header, each file's column names are checked against the
    # schema's, so a renamed or reordered column raises instead of shifting.
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema).option("enforceSchema", "false")
    else:
        reader = reader.option("inferSchema", str(infer_schema).lower())
    return reader.csv(path)


def read_jdbc(spark: SparkSession, url: str, table: str) -> DataFrame:
    """≅ the implied RDSConnector.read_table (main.py:106,167,230); needs
    the database's JDBC jar on the session classpath."""
    return (spark.read.format("jdbc").option("url", url)
            .option("dbtable", table).load())
