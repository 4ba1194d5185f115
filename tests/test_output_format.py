"""The engine publishes zstd parquet with INT64 timestamps, one file per
partition per batch, and reads targets written the old way.

`get_spark` sets `spark.sql.parquet.compression.codec` to zstd and
`spark.sql.parquet.outputTimestampType` to `TIMESTAMP_MICROS`, so every
parquet file the engine writes compresses its column chunks with zstd and
stores timestamps as INT64 microseconds with min/max statistics: an
appended partitioned batch, a warehouse table's first generation, a
`merge_upsert` generation and a plain query result. Each file's footer
names its codec and timestamp encoding, so a target that still holds
snappy INT96 files from before reads and upserts unchanged. A partitioned
append rebalances the batch on its partition columns before the write, so
each partition it touches gets one file however many tasks the batch's
last stage ran.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import re
from collections import Counter

import pyarrow.parquet as pq
import pytest

from banking_etl_pipeline_spark.domain.seed import seed_all
from banking_etl_pipeline_spark.pipeline import (
    PipelineSpec,
    SourceSpec,
    TargetSpec,
    run_pipeline,
)
from banking_etl_pipeline_spark.sinks.writers import (
    ParquetWarehouse,
    stage_partitioned,
    write_csv,
)

CODEC = "spark.sql.parquet.compression.codec"
TS_TYPE = "spark.sql.parquet.outputTimestampType"
SCHEMA = "k int, v string, year int, ts timestamp"
TXN_TIMESTAMPS = ["transaction_date", "prev_transaction_date"]


def ts(day: int, micros: int) -> dt.datetime:
    return dt.datetime(2024, 1, day, 12, 34, 56, micros)


def footers(root) -> dict[str, pq.FileMetaData]:
    """Data file → its footer, for every parquet file under ``root``
    outside ``_``/``.`` paths (stages, checksums)."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            f = os.path.join(d, n)
            rel = os.path.relpath(f, root)
            if n.endswith(".parquet") and not any(
                    p.startswith(("_", ".")) for p in rel.split(os.sep)):
                out[rel] = pq.ParquetFile(f).metadata
    return out


def chunk_codecs(metas: dict[str, pq.FileMetaData]) -> dict[str, set[str]]:
    """Data file → the codecs of its column chunks."""
    return {f: {m.row_group(g).column(c).compression
                for g in range(m.num_row_groups)
                for c in range(m.num_columns)}
            for f, m in metas.items()}


def all_chunks(codecs: dict[str, set[str]]) -> set[str]:
    """The codecs over every column chunk (a file with no rows has none)."""
    return set().union(*codecs.values())


def assert_all_zstd(metas) -> None:
    codecs = chunk_codecs(metas)
    assert all_chunks(codecs) == {"ZSTD"}, codecs


def timestamp_types(metas, col: str) -> set[str]:
    """The physical types ``col`` has across the files."""
    return {m.schema.column(m.schema.names.index(col)).physical_type
            for m in metas.values()}


def assert_int64_micros(metas, cols) -> None:
    """Each of ``cols`` is INT64 `Timestamp(MICROS, isAdjustedToUTC=true)`
    in every file, and every chunk holding a non-null value carries its
    min/max (INT96 chunks carry no statistics)."""
    assert metas
    stats = 0
    for f, m in metas.items():
        for col in cols:
            i = m.schema.names.index(col)
            column = m.schema.column(i)
            assert column.physical_type == "INT64", (f, col, column)
            logical = json.loads(column.logical_type.to_json())
            assert (logical["Type"], logical["timeUnit"],
                    logical["isAdjustedToUTC"]) == (
                "Timestamp", "microseconds", True), (f, col, logical)
            for g in range(m.num_row_groups):
                chunk = m.row_group(g).column(i)
                assert chunk.is_stats_set, (f, col, g)
                if chunk.statistics.null_count < chunk.num_values:
                    assert chunk.statistics.has_min_max, (f, col, g)
                    stats += 1
    assert stats, "no chunk with a non-null timestamp"


@contextlib.contextmanager
def session_conf(spark, settings: dict[str, str]):
    """Run the block under ``settings``; restore the session's own after."""
    before = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def legacy_output(spark):
    """Write snappy chunks with INT96 timestamps, Spark's defaults."""
    return session_conf(spark, {CODEC: "snappy", TS_TYPE: "INT96"})


@pytest.fixture(scope="module")
def published_batch(spark, tmp_path_factory):
    """A raw CSV batch run through `run_pipeline` into a year/month
    partitioned append target: the footers of the published files."""
    tmp = tmp_path_factory.mktemp("published_batch")
    raw = tmp / "raw"
    write_csv(seed_all(spark, 10, 15, 200)["transactions"], str(raw))
    target = TargetSpec(kind="partitioned", path=str(tmp / "target"),
                        partition_cols=["transaction_year",
                                        "transaction_month"])
    result = run_pipeline(spark, PipelineSpec(
        "transaction", SourceSpec("csv", path=str(raw)), target,
        ["transaction_id"]))
    assert result.quality["total_rows"] == 200
    metas = footers(tmp / "target")
    assert all(os.path.dirname(f) for f in metas), metas  # partitioned
    return metas


@pytest.fixture(scope="module")
def warehouse_generations(spark, tmp_path_factory):
    """The first load renames the stage into a generation; an upsert writes
    `merge_upsert`'s output as a new one. The footers of each generation,
    read while it was current."""
    wh = ParquetWarehouse(spark, str(tmp_path_factory.mktemp("wh")))
    wh.load_with_staging(spark.createDataFrame(
        [(1, "a", 2024, ts(1, 1)), (2, "b", 2024, ts(2, 2))], SCHEMA),
        "dim", ["k"])
    first = open(os.path.join(wh.path("dim"), "CURRENT")).read()
    first_metas = footers(wh.path("dim"))
    wh.load_with_staging(spark.createDataFrame(
        [(2, "B", 2025, ts(3, 3)), (3, "c", 2025, None)], SCHEMA),
        "dim", ["k"])
    merged = open(os.path.join(wh.path("dim"), "CURRENT")).read()
    assert merged != first
    assert sorted(wh.read("dim").collect()) == [
        (1, "a", 2024, ts(1, 1)), (2, "B", 2025, ts(3, 3)),
        (3, "c", 2025, None)]
    return {"first": first_metas, "merged": footers(wh.path("dim"))}


@pytest.fixture(scope="module")
def query_result(spark, tmp_path_factory):
    """A plain `DataFrame.write.parquet`, as a registry result is written."""
    out = tmp_path_factory.mktemp("result") / "result"
    spark.range(100).selectExpr(
        "id", "cast(id as string) s",
        "timestamp_micros(1704067200000000 + id * 86400000001) ts") \
        .write.parquet(str(out))
    return footers(out)


def test_batch_publishes_one_file_per_partition(spark, tmp_path):
    """A batch over several months lands as one file in each month, with
    every row once. AQE would coalesce a test-sized batch's window stage
    into one task, which writes one file per month with or without the
    rebalance; with coalescing off, that stage runs one task per shuffle
    partition, each writing into every month it holds rows of."""
    txns = seed_all(spark, 20, 30, 2000)["transactions"]
    raw = tmp_path / "raw"
    write_csv(txns, str(raw))
    root = tmp_path / "target"
    target = TargetSpec(kind="partitioned", path=str(root),
                        partition_cols=["transaction_year",
                                        "transaction_month"])
    with session_conf(spark, {
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}):
        run_pipeline(spark, PipelineSpec(
            "transaction", SourceSpec("csv", path=str(raw)), target,
            ["transaction_id"]))
    files = list(footers(root))
    per_partition = Counter(os.path.dirname(f) for f in files)
    assert len(per_partition) >= 3, per_partition
    assert set(per_partition.values()) == {1}, sorted(files)
    batches = {re.fullmatch(r"part-([0-9a-f]+)-\d+\.parquet",
                            os.path.basename(f))[1] for f in files}
    assert len(batches) == 1, sorted(files)
    ids = spark.read.parquet(str(root)).select("transaction_id").collect()
    want = txns.select("transaction_id").collect()
    assert sorted(r[0] for r in ids) == sorted(r[0] for r in want)


def test_published_partitioned_batch_is_zstd(published_batch):
    """Every published file of the batch is zstd in every column."""
    assert_all_zstd(published_batch)


def test_published_batch_timestamps_are_int64_micros(published_batch):
    assert_int64_micros(published_batch, TXN_TIMESTAMPS)


def test_warehouse_generations_are_zstd(warehouse_generations):
    for metas in warehouse_generations.values():
        assert_all_zstd(metas)


def test_warehouse_generation_timestamps_are_int64_micros(
        warehouse_generations):
    for metas in warehouse_generations.values():
        assert_int64_micros(metas, ["ts"])


def test_query_result_write_is_zstd(query_result):
    assert_all_zstd(query_result)


def test_query_result_timestamps_are_int64_micros(query_result):
    assert_int64_micros(query_result, ["ts"])


@pytest.mark.parametrize("kind", ["partitioned", "warehouse"])
def test_snappy_target_takes_a_zstd_batch(spark, tmp_path, kind):
    """A target whose first batch was written as snappy with INT96
    timestamps takes a second batch under the session's settings: an
    append reads back the union, an upsert reads the legacy generation and
    writes the merged rows with INT64 timestamps, equal to the
    microsecond."""
    first = spark.createDataFrame(
        [(1, "a", 2024, ts(1, 1)), (2, "b", 2024, None),
         (3, "c", 2025, ts(3, 999999))], SCHEMA)
    second = spark.createDataFrame(
        [(3, "C", 2025, ts(4, 4)), (4, "d", 2025, ts(5, 123456))], SCHEMA)
    if kind == "partitioned":
        root = str(tmp_path / "target")
        with legacy_output(spark):
            stage_partitioned(first, root, partition_cols=["year"]).publish()
        legacy = footers(root)
        assert all_chunks(chunk_codecs(legacy)) == {"SNAPPY"}
        assert timestamp_types(legacy, "ts") == {"INT96"}
        stage_partitioned(second, root, partition_cols=["year"]).publish()
        metas = footers(root)
        assert chunk_codecs({f: metas[f] for f in legacy}) == \
            chunk_codecs(legacy)
        metas = {f: m for f, m in metas.items() if f not in legacy}
        rows = spark.read.schema(SCHEMA).parquet(root) \
            .select(*first.columns).collect()
        expected = first.collect() + second.collect()
    else:
        wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
        with legacy_output(spark):
            wh.load_with_staging(first, "dim", ["k"])
        legacy = footers(wh.path("dim"))
        assert all_chunks(chunk_codecs(legacy)) == {"SNAPPY"}
        assert timestamp_types(legacy, "ts") == {"INT96"}
        wh.load_with_staging(second, "dim", ["k"])
        metas = footers(wh.path("dim"))
        rows = wh.read("dim").collect()
        expected = [(1, "a", 2024, ts(1, 1)), (2, "b", 2024, None),
                    (3, "C", 2025, ts(4, 4)), (4, "d", 2025, ts(5, 123456))]
    assert (spark.conf.get(CODEC), spark.conf.get(TS_TYPE)) == (
        "zstd", "TIMESTAMP_MICROS")
    # the second batch's files; for a warehouse, the merged generation that
    # replaced the legacy one
    assert all_chunks(chunk_codecs(metas)) == {"ZSTD"}, chunk_codecs(metas)
    assert_int64_micros(metas, ["ts"])
    assert sorted(map(tuple, rows)) == sorted(map(tuple, expected))
