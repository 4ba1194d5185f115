"""Source readers (reference SURVEY.md §2.1, `s3_connector.py:23-83`).

Same read surface as the reference's S3Connector — CSV (header/inference
options), Parquet, Delta, JDBC, text — as thin declarative wrappers that keep
Catalyst pushdown intact. Unlike the reference, schema inference is
opt-in-and-discouraged (an eager sampling job at scale); callers should pass
an explicit schema or read self-describing formats.

Delta and JDBC need jars not present in this environment; both are gated and
raise a clear error locally while remaining correct on a provisioned cluster.
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


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    # ≅ s3_connector.py:47-64
    return spark.read.parquet(path)


def read_parquet_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read: merge the footers of every generation
    (`mergeSchema`) so columns added over time surface as nullable on old
    files. Footer merge is driver-side metadata work; the scans stay
    columnar and pruned (a column absent from a file reads as null with
    zero IO for that file)."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    # ≅ monitor.py:30
    return spark.read.text(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    # JSON-lines source (engine extension; the reference reads only CSV).
    # Always pass a schema in production — schema inference is an extra
    # full scan, the same cost trap as the reference's inferSchema=True.
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    # ORC columnar source (engine extension): vectorized reader, predicate
    # pushdown and column pruning exactly like the parquet path.
    return spark.read.orc(path)


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    # ≅ s3_connector.py:66-83; requires delta-spark jars on the classpath
    try:
        return spark.read.format("delta").load(path)
    except Exception as exc:  # pragma: no cover - environment-dependent
        raise RuntimeError(
            "Delta format requires delta-spark jars (io.delta:delta-spark_2.13) "
            "on the session classpath; not available in this environment"
        ) from exc


def read_jdbc(
    spark: SparkSession,
    url: str,
    dbtable: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """≅ the implied RDSConnector.read_table (main.py:106,167,230) and the
    monitor's JDBC scan (monitor.py:45-64). Partitioned reads
    (partitionColumn/bounds/numPartitions) are first-class: a single-threaded
    JDBC scan is the classic 100 TB-pipeline bottleneck."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()
