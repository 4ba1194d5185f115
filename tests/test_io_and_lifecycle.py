"""IO round-trips, the SQL door (SURVEY.md §3 lifecycle), and gate modes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from banking_etl_pipeline_spark.catalog import register_views, table
from banking_etl_pipeline_spark.operators.quality import QualityConfig
from banking_etl_pipeline_spark.pipeline import (
    PipelineSpec,
    SourceSpec,
    TargetSpec,
    run_pipeline,
)
from banking_etl_pipeline_spark.sinks.writers import write_csv, write_jdbc, write_partitioned
from banking_etl_pipeline_spark.sources.readers import read_csv, read_parquet
from tests.conftest import SF_SMALL


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1), ("b", 2)], "name string, v int")
    path = str(tmp_path / "csv")
    write_csv(df, path)
    back = read_csv(spark, path, schema="name string, v int")
    assert sorted(map(tuple, back.collect())) == [("a", 1), ("b", 2)]


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2025", "x"), (2, "2026", "y")], "id int, yr string, v string")
    path = str(tmp_path / "part")
    write_partitioned(df, path, mode="overwrite", partition_cols=["yr"])
    back = read_parquet(spark, path).filter(F.col("yr") == "2025")
    # partition pruning: only the matching partition directory is scanned
    from banking_etl_pipeline_spark.plans import plan_of
    assert back.count() == 1
    assert "PartitionFilters: [isnotnull(yr" in plan_of(back)


def test_jdbc_writer_interface():
    df = None  # dry-run never touches the DataFrame
    opts = write_jdbc(df, "jdbc:postgresql://wh/db", "t", mode="append",
                      properties={"user": "u"}, dry_run=True)
    assert opts == {"url": "jdbc:postgresql://wh/db", "dbtable": "t", "user": "u"}
    with pytest.raises(ValueError):
        write_jdbc(df, "jdbc:postgresql://wh/db", "t", mode="upsert",
                   dry_run=True)


def test_sql_door(spark):
    """Every catalog table is reachable through spark.sql (the lifecycle's
    SQL entry point; SURVEY.md §3)."""
    register_views(spark, SF_SMALL)
    got = spark.sql(
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1"
    ).collect()
    want = (
        table(spark, SF_SMALL, "lineitem")
        .groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_quality_gate_fail_open(spark):
    """fail_on_quality_check=False: defects are reported but the pipeline
    proceeds (≅ reference transaction pipeline, config.json:71)."""
    bad = spark.createDataFrame(
        [("T1", "A1", None, "payment", -5.0)],
        "transaction_id string, account_id string, transaction_date timestamp,"
        " transaction_type string, amount double",
    ).withColumn("merchant_name", F.lit(None).cast("string")) \
     .withColumn("merchant_category", F.lit(None).cast("string")) \
     .withColumn("description", F.lit(None).cast("string")) \
     .withColumn("currency", F.lit("USD")) \
     .withColumn("location", F.lit("USA")) \
     .withColumn("is_international", F.lit(False))
    spec = PipelineSpec(
        entity="transaction",
        source=SourceSpec(kind="dataframe", dataframe=bad),
        target=TargetSpec(kind="none"),
        quality=QualityConfig(required_columns=["transaction_date"],
                              fail_on_quality_check=False),
    )
    result = run_pipeline(spark, spec)
    assert not result.quality["overall_passed"]  # reported…
    assert result.output is not None             # …but not fatal


def test_cli_demo_runs_all_pipelines(spark, capsys):
    """`python -m banking_etl_pipeline_spark --demo` ≅ the reference's
    seed + main.py smoke run: all three entity pipelines pass their gates
    and the CLI reports one JSON line per entity (main.py:305-311)."""
    import json as _json

    from banking_etl_pipeline_spark.__main__ import main

    rc = main(["--demo"])
    out = [
        _json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert rc == 0
    entities = {r["entity"] for r in out if "entity" in r}
    assert entities == {"customer", "account", "transaction"}
    assert out[-1] == {"overall_passed": True}
    assert all(r["overall_passed"] for r in out if "entity" in r)
    # the demo seeds unique non-null ids and positive amounts, so the
    # cleaners keep every seeded row
    rows = {r["entity"]: r["rows"] for r in out if "entity" in r}
    assert rows == {"customer": 200, "account": 300, "transaction": 3000}


def test_cli_list_and_query(spark, sf_dir, capsys):
    """--list enumerates the registry; --query runs one key and prints
    JSON rows (shares the test session — main() must not stop it)."""
    import json as _json

    from banking_etl_pipeline_spark.__main__ import main

    assert main(["--list"]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    keys = {_json.loads(l)["key"] for l in lines}
    assert "pricing_summary" in keys and len(keys) > 150

    assert main(["--query", "count_rows", "--sf-dir", sf_dir]) == 0
    out = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert out and ("n_rows" in out[0] or "count" in out[0].lower())

    assert main(["--query", "nope_not_a_key"]) == 2


# ---------------------------------------------------------------------------
# Delta Lake runtime path (reference parity: spark_session.py:19-20,
# main.py:201-206 configure Delta as the primary table format)
# ---------------------------------------------------------------------------


def test_delta_round_trip_or_pinned_skip(spark, tmp_path):
    """Exercise write_delta + MERGE end-to-end when delta-spark is on the
    classpath; otherwise pin the exact environment blocker as a skip.

    The usual blocker offline: no `delta` Python package, no
    delta-spark/delta-core jar on disk and no ivy cache, so the jars cannot
    be fetched via --packages either. The parquet stage→merge→atomic-swap
    path in sinks/writers.py is the documented fallback and carries all merge
    coverage (test_cli_list_and_query, merge_upsert oracle)."""
    from banking_etl_pipeline_spark.sinks.writers import HAVE_DELTA, write_delta

    if not HAVE_DELTA:
        with pytest.raises(NotImplementedError):
            write_delta(spark.range(3), str(tmp_path / "d"))
        pytest.skip(
            "delta-spark jars absent and uninstallable in this sandbox "
            "(no network / no pip); parquet atomic-swap fallback is the "
            "tested path"
        )

    df = spark.range(5).withColumnRenamed("id", "k")
    write_delta(df, str(tmp_path / "d"), mode="overwrite")
    got = spark.read.format("delta").load(str(tmp_path / "d"))
    assert got.count() == 5
