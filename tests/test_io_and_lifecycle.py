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
from banking_etl_pipeline_spark.sinks.writers import stage_partitioned, write_csv
from banking_etl_pipeline_spark.sources.readers import read_csv
from tests.conftest import SF_SMALL


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1), ("b", 2)], "name string, v int")
    path = str(tmp_path / "csv")
    write_csv(df, path)
    back = read_csv(spark, path, schema="name string, v int")
    assert sorted(map(tuple, back.collect())) == [("a", 1), ("b", 2)]


def test_scan_copies_live_in_the_session(spark, sf_dir):
    """The CSV, text, JSON, ORC and schema-evolution copies the scan queries
    read sit under the application's driver directory, which Spark deletes
    on stop(), so no copy outlives the session that wrote it."""
    import os
    from urllib.parse import urlparse

    from pyspark import SparkFiles

    from banking_etl_pipeline_spark.sources.scan_queries import QUERIES

    root = os.path.realpath(SparkFiles.getRootDirectory())
    for key, spec in QUERIES.items():
        if key == "scan_parquet":
            continue
        files = [os.path.realpath(urlparse(f).path)
                 for f in spec.build(spark, sf_dir).inputFiles()]
        assert files, key
        assert all(os.path.commonpath([f, root]) == root for f in files), (
            key, files)


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2025", "x"), (2, "2026", "y")], "id int, yr string, v string")
    path = str(tmp_path / "part")
    stage_partitioned(df, path, "overwrite", ["yr"]).publish()
    back = spark.read.parquet(path).filter(F.col("yr") == "2025")
    # partition pruning: only the matching published partition is scanned
    from banking_etl_pipeline_spark.plans import plan_of
    assert back.count() == 1
    assert "PartitionFilters: [isnotnull(yr" in plan_of(back)


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
    assert result.quality["total_rows"] == 1     # …but not fatal


def test_cli_demo_runs_all_pipelines(spark, capsys, monkeypatch, tmp_path):
    """`python -m banking_etl_pipeline_spark --demo` ≅ the reference's
    seed + main.py smoke run: all three entity pipelines pass their gates
    and the CLI reports one JSON line per entity (main.py:305-311). Its
    temp dir, raw zone and outputs included, is gone when it returns."""
    import json as _json
    import tempfile

    from banking_etl_pipeline_spark.__main__ import main

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rc = main(["--demo"])
    assert list(tmp_path.iterdir()) == []
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


def test_cli_warehouse_target_needs_warehouse_dir(tmp_path):
    """A redshift target publishes warehouse tables; without
    --warehouse-dir they would have no home, so the CLI refuses the run
    before it starts a session."""
    import json as _json

    from banking_etl_pipeline_spark.__main__ import main

    cfg = tmp_path / "config.json"
    cfg.write_text(_json.dumps({"pipelines": {"customer": {
        "source_path": str(tmp_path / "raw"), "target_type": "redshift",
        "target_table": "dim_customer"}}}))
    with pytest.raises(SystemExit) as exc:
        main(["--config", str(cfg)])
    assert exc.value.code == 2
