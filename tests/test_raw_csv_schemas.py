"""Pinned raw-zone CSV schemas (``domain.schemas.RAW_CSV_SCHEMAS``).

``run_pipeline`` reads a CSV source with its entity's pinned schema instead
of inferring one, which cost a Spark job per batch. The pinned types must be
the ones inference gives the seeded CSVs, so that no output type changes; a
header that does not match the schema must raise instead of shifting
columns.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from banking_etl_pipeline_spark.domain.customers import transform_customers
from banking_etl_pipeline_spark.domain.schemas import RAW_CSV_SCHEMAS
from banking_etl_pipeline_spark.domain.seed import seed_all
from banking_etl_pipeline_spark.pipeline import (
    PipelineSpec,
    SourceSpec,
    TargetSpec,
    run_pipeline,
)
from banking_etl_pipeline_spark.sinks.writers import write_csv

SEEDED = {"customer": "customers", "account": "accounts",
          "transaction": "transactions"}


@pytest.fixture(scope="module")
def raw_zone(spark, tmp_path_factory):
    """Entity → path of its seeded CSV as Spark writes it, plus
    ``transaction_reference``: the transactions with the reference's
    ``yyyy-MM-dd HH:mm:ss`` dates."""
    root = tmp_path_factory.mktemp("raw_zone")
    data = seed_all(spark, 40, 60, 300)
    paths = {}
    for entity, name in SEEDED.items():
        paths[entity] = str(root / entity)
        write_csv(data[name], paths[entity])
    paths["transaction_reference"] = str(root / "transaction_reference")
    write_csv(data["transactions"].withColumn(
        "transaction_date",
        F.date_format("transaction_date", "yyyy-MM-dd HH:mm:ss")),
        paths["transaction_reference"])
    return paths


def _inferred(spark, path):
    return SourceSpec("csv", path=path).read(spark)


def _pinned(spark, path, entity):
    return SourceSpec("csv", path=path,
                      schema=RAW_CSV_SCHEMAS[entity]).read(spark)


@pytest.mark.parametrize("entity", sorted(SEEDED))
def test_pinned_schema_equals_inferred(spark, raw_zone, entity):
    assert _inferred(spark, raw_zone[entity]).schema == RAW_CSV_SCHEMAS[entity]


@pytest.mark.parametrize("variant", ["transaction", "transaction_reference"])
def test_pinned_timestamps_equal_inferred(spark, raw_zone, variant):
    """Spark's ISO output (``…T…Z``) and the reference's
    ``yyyy-MM-dd HH:mm:ss`` both parse as inference parses them."""
    cols = ["transaction_id", "transaction_date"]
    want = _inferred(spark, raw_zone[variant]).select(cols)
    got = _pinned(spark, raw_zone[variant], "transaction").select(cols)
    assert dict(want.dtypes)["transaction_date"] == "timestamp"
    want_rows = sorted(want.collect())
    assert sorted(got.collect()) == want_rows
    assert all(r.transaction_date is not None for r in want_rows)


def test_swapped_header_raises(spark, raw_zone, tmp_path):
    """Two string columns swapped in the header: with the schema enforced
    positionally they would shift silently; the pinned read rejects them."""
    names = RAW_CSV_SCHEMAS["transaction"].fieldNames()
    i, j = names.index("description"), names.index("merchant_name")
    names[i], names[j] = names[j], names[i]
    rows = _pinned(spark, raw_zone["transaction"], "transaction").limit(3)
    path = str(tmp_path / "swapped")
    write_csv(rows.toDF(*names), path)
    with pytest.raises(Exception, match="CSV header does not conform"):
        _pinned(spark, path, "transaction").collect()


def test_pinned_read_starts_no_job(spark, raw_zone):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("raw-csv-pinned", "pinned read")
        _pinned(spark, raw_zone["transaction"], "transaction")
        assert tracker.getJobIdsForGroup("raw-csv-pinned") == []
        # the probe sees jobs: the inferring read starts one
        sc.setJobGroup("raw-csv-inferred", "inferred read")
        _inferred(spark, raw_zone["transaction"])
        assert tracker.getJobIdsForGroup("raw-csv-inferred")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)



def test_unknown_entity_raises_before_read(spark, raw_zone):
    """An entity with no transform and no pinned schema fails before its
    source is read, so no inference job runs for a batch that cannot load."""
    spec = PipelineSpec("merchant", SourceSpec("csv", path=raw_zone["account"]),
                        TargetSpec("none"))
    sc = spark.sparkContext
    try:
        sc.setJobGroup("unknown-entity", "unknown entity")
        with pytest.raises(ValueError, match="No transform"):
            run_pipeline(spark, spec)
        assert sc.statusTracker().getJobIdsForGroup("unknown-entity") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.xfail(strict=True, raises=AssertionError,
                   reason="known defect: the pinned schema keeps inference's "
                   "int zip_code, which drops leading zeros; a string zip "
                   "needs a warehouse schema migration")
def test_zip_code_keeps_leading_zeros(spark, raw_zone, tmp_path):
    row = _pinned(spark, raw_zone["customer"], "customer").limit(1)
    path = str(tmp_path / "zip")
    write_csv(row.withColumn("zip_code", F.lit("01234")), path)
    (out,) = transform_customers(_pinned(spark, path, "customer")).collect()
    assert str(out.zip_code) == "01234"
