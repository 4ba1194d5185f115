"""Oracle-checked scan queries (S1/S2/S5 of SURVEY.md §2.1).

CSV and text scans need CSV/text *inputs*; the testdata is parquet-only, so
each scan query first materializes a deterministic CSV/text copy of a small
table under /tmp (cached per sf_dir), reads it back through Spark's
reader, and the oracle reads the original parquet view — a true round-trip
equivalence check of the format reader, not a mock.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..catalog import table
from ..spec import QuerySpec
from .readers import read_csv

_CACHE_ROOT = "/tmp/banking_etl_pipeline_spark_cache"


def _cache_dir(sf_dir: str, kind: str) -> str:
    tag = sf_dir.strip("/").replace("/", "_")
    return os.path.join(_CACHE_ROOT, tag, kind)


def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip of `region` (int/string columns only — CSV-safe)."""
    path = _cache_dir(sf_dir, "region_csv")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        table(spark, sf_dir, "region").coalesce(1).write.mode("overwrite").option(
            "header", "true"
        ).csv(path)
    return read_csv(
        spark, path, header=True, schema="r_regionkey int, r_name string"
    )


SCAN_CSV_SQL = "SELECT r_regionkey, r_name FROM region"


def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))


SCAN_PARQUET_SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-line scan of the documents corpus (one line per doc)."""
    path = _cache_dir(sf_dir, "documents_txt")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        table(spark, sf_dir, "documents").select("text").coalesce(1).write.mode(
            "overwrite"
        ).text(path)
    return spark.read.text(path)


SCAN_TEXT_SQL = "SELECT text AS value FROM documents"


def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip of `nation` with an explicit schema (no
    inference scan)."""
    path = _cache_dir(sf_dir, "nation_json")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        table(spark, sf_dir, "nation").coalesce(1).write.mode("overwrite").json(path)
    return spark.read.schema(
        "n_nationkey long, n_name string, n_regionkey long"
    ).json(path).select("n_nationkey", "n_name", "n_regionkey")


SCAN_JSON_SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip of `region` — same columnar pushdown/pruning path as
    parquet, second columnar format for the source surface."""
    path = _cache_dir(sf_dir, "region_orc")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        table(spark, sf_dir, "region").coalesce(1).write.mode("overwrite").orc(path)
    return spark.read.orc(path)


SCAN_ORC_SQL = "SELECT r_regionkey, r_name FROM region"


def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution round-trip: generation 1 of the customer extract
    was written WITHOUT the balance column, generation 2 added it
    (integer cents). A `mergeSchema` read unions the generations with the
    added column nullable on gen-1 rows — the unmanaged-evolution
    behavior the reference's inferSchema ingest implies but never pins
    down (SURVEY.md §1 "schema evolution is unmanaged"). The oracle is
    the equivalent typed UNION over the original table."""
    path = _cache_dir(sf_dir, "customer_evo")
    c = table(spark, sf_dir, "customer")
    from pyspark.sql import functions as F

    from ..functions.numeric import cents

    if not os.path.exists(os.path.join(path, "gen2", "_SUCCESS")):
        c.filter("c_custkey % 2 = 0").select("c_custkey", "c_name").write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "gen1"))
        c.filter("c_custkey % 2 = 1").select(
            "c_custkey", "c_name", cents(F.col("c_acctbal")).alias("bal_c")
        ).write.mode("overwrite").parquet(os.path.join(path, "gen2"))
    # merging the generations' footers is metadata work at planning; the
    # scans stay columnar and pruned (a column absent from a file reads as
    # null with no IO for that file)
    return spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "gen1"), os.path.join(path, "gen2")
    ).select("c_custkey", "c_name", "bal_c")


SCAN_SCHEMA_EVOLUTION_SQL = """
SELECT c_custkey, c_name, CAST(NULL AS BIGINT) AS bal_c
FROM customer WHERE c_custkey % 2 = 0
UNION ALL
SELECT c_custkey, c_name, CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT)
FROM customer WHERE c_custkey % 2 = 1
"""


QUERIES: dict[str, QuerySpec] = {
    "scan_schema_evolution": QuerySpec(
        scan_schema_evolution,
        SCAN_SCHEMA_EVOLUTION_SQL,
        "mergeSchema read across column-added parquet generations",
    ),
    "scan_csv": QuerySpec(scan_csv, SCAN_CSV_SQL, "CSV scan round-trip (S1)"),
    "scan_parquet": QuerySpec(scan_parquet, SCAN_PARQUET_SQL, "parquet scan (S2)"),
    "scan_text": QuerySpec(scan_text, SCAN_TEXT_SQL, "text-line scan (S5)"),
    "scan_json": QuerySpec(scan_json, SCAN_JSON_SQL, "JSON-lines scan round-trip"),
    "scan_orc": QuerySpec(scan_orc, SCAN_ORC_SQL, "ORC scan round-trip"),
}
