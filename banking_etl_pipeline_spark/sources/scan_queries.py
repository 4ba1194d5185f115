"""Oracle-checked scan queries (S1/S2/S5 of SURVEY.md §2.1).

CSV and text scans need CSV/text *inputs*; the testdata is parquet-only, so
each scan query first materializes a deterministic CSV/text copy of a small
table, reads it back through Spark's reader, and the oracle reads the
original parquet view — a true round-trip equivalence check of the format
reader, not a mock.

Each copy is written once per (session, sf_dir) under the application's
driver directory (`SparkFiles.getRootDirectory()`), which Spark deletes on
`stop()`: a copy never outlives the code and settings that wrote it. Like
the rest of the local test surface, this assumes local mode, where the
executors share the driver's file system.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession

from ..catalog import table
from ..session import session_scalar
from ..spec import QuerySpec
from .readers import read_csv


def _session_copy(spark: SparkSession, sf_dir: str, kind: str,
                  write: Callable[[str], None]) -> str:
    """Path of the `kind` copy of `sf_dir`'s data, written by `write` on
    first use in this session."""
    def make() -> str:
        path = os.path.join(
            tempfile.mkdtemp(dir=SparkFiles.getRootDirectory()), kind)
        write(path)
        return path

    return session_scalar(spark, f"scan_copy:{kind}:{sf_dir}", make)


def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip of `region` (int/string columns only — CSV-safe)."""
    path = _session_copy(
        spark, sf_dir, "region_csv",
        lambda p: table(spark, sf_dir, "region").coalesce(1).write.option(
            "header", "true").csv(p))
    return read_csv(
        spark, path, header=True, schema="r_regionkey int, r_name string"
    )


SCAN_CSV_SQL = "SELECT r_regionkey, r_name FROM region"


def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))


SCAN_PARQUET_SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-line scan of the documents corpus (one line per doc)."""
    path = _session_copy(
        spark, sf_dir, "documents_txt",
        lambda p: table(spark, sf_dir, "documents").select(
            "text").coalesce(1).write.text(p))
    return spark.read.text(path)


SCAN_TEXT_SQL = "SELECT text AS value FROM documents"


def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip of `nation` with an explicit schema (no
    inference scan)."""
    path = _session_copy(
        spark, sf_dir, "nation_json",
        lambda p: table(spark, sf_dir, "nation").coalesce(1).write.json(p))
    return spark.read.schema(
        "n_nationkey long, n_name string, n_regionkey long"
    ).json(path).select("n_nationkey", "n_name", "n_regionkey")


SCAN_JSON_SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip of `region` — same columnar pushdown/pruning path as
    parquet, second columnar format for the source surface."""
    path = _session_copy(
        spark, sf_dir, "region_orc",
        lambda p: table(spark, sf_dir, "region").coalesce(1).write.orc(p))
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
    from pyspark.sql import functions as F

    from ..functions.numeric import cents

    def write(path: str) -> None:
        c = table(spark, sf_dir, "customer")
        c.filter("c_custkey % 2 = 0").select("c_custkey", "c_name").write.parquet(
            os.path.join(path, "gen1"))
        c.filter("c_custkey % 2 = 1").select(
            "c_custkey", "c_name", cents(F.col("c_acctbal")).alias("bal_c")
        ).write.parquet(os.path.join(path, "gen2"))

    path = _session_copy(spark, sf_dir, "customer_evo", write)
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
