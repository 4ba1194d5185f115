"""Table catalog over the driver-provided parquet test tables.

The engine's data model is row-logical / columnar-physical relational tables
(reference data model, SURVEY.md §1): every table is a parquet-backed
DataFrame; schema is the parquet footer (no inference jobs). Reading through
this catalog keeps column pruning + predicate pushdown intact — callers
`.select()`/`.filter()` and Catalyst pushes both into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table. Plain parquet scan → vectorized reader, pushdown.

    `events.ts` has shipped as parquet TIMESTAMP(NANOS) (read as long via
    session.py nanosAsLong) and as TIMESTAMP(MICROS, isAdjustedToUTC=false)
    (read as TIMESTAMP_NTZ). Normalize both to a plain µs TimestampType:
    the session timezone is pinned to UTC, so the NTZ→LTZ cast is an
    epoch-identity and matches DuckDB's naive-timestamp semantics, while the
    nanos path truncates ns→µs exactly as DuckDB does.
    """
    # The external driver may hand us a session it built itself; timestamp
    # semantics (NTZ→LTZ cast, epoch math, python collection) all assume a
    # UTC session — pin it here so every table load self-heals. Same for the
    # legacy nanos flag, in case the testdata ever ships TIMESTAMP(NANOS)
    # again (Spark rejects that physical type outright without it).
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf not recognized on some builds
        pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    from pyspark.sql import functions as F

    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so operators are reachable via
    `spark.sql` too (engine lifecycle, SURVEY.md §3)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
