"""The engine publishes zstd parquet, and reads targets that mix codecs.

`get_spark` sets `spark.sql.parquet.compression.codec` to zstd, so every
parquet file the engine writes compresses its column chunks with zstd: an
appended partitioned batch, a warehouse table's first generation and a
`merge_upsert` generation. Each file's footer names its codec, so a target
that still holds snappy files from before reads and upserts unchanged.
"""

from __future__ import annotations

import contextlib
import os

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
SCHEMA = "k int, v string, year int"


def chunk_codecs(root) -> dict[str, set[str]]:
    """Data file → the codecs of its column chunks, for every parquet file
    under ``root`` outside ``_``/``.`` paths (stages, checksums)."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            f = os.path.join(d, n)
            rel = os.path.relpath(f, root)
            if not n.endswith(".parquet") or any(
                    p.startswith(("_", ".")) for p in rel.split(os.sep)):
                continue
            meta = pq.ParquetFile(f).metadata
            out[rel] = {meta.row_group(g).column(c).compression
                        for g in range(meta.num_row_groups)
                        for c in range(meta.num_columns)}
    return out


def all_chunks(codecs: dict[str, set[str]]) -> set[str]:
    """The codecs over every column chunk (a file with no rows has none)."""
    return set().union(*codecs.values())


def assert_all_zstd(root) -> None:
    codecs = chunk_codecs(root)
    assert all_chunks(codecs) == {"ZSTD"}, codecs


@contextlib.contextmanager
def session_codec(spark, codec):
    """Write with ``codec`` inside the block; restore the session's own."""
    before = spark.conf.get(CODEC)
    spark.conf.set(CODEC, codec)
    try:
        yield
    finally:
        spark.conf.set(CODEC, before)


def test_published_partitioned_batch_is_zstd(spark, tmp_path):
    """A raw CSV batch run through `run_pipeline` into a partitioned
    append target: every published file is zstd in every column."""
    raw = tmp_path / "raw"
    write_csv(seed_all(spark, 10, 15, 200)["transactions"], str(raw))
    target = TargetSpec(kind="partitioned", path=str(tmp_path / "target"),
                        partition_cols=["transaction_year",
                                        "transaction_month"])
    result = run_pipeline(spark, PipelineSpec(
        "transaction", SourceSpec("csv", path=str(raw)), target,
        ["transaction_id"]))
    assert result.quality["total_rows"] == 200
    codecs = chunk_codecs(tmp_path / "target")
    assert all(os.path.dirname(f) for f in codecs), codecs  # partitioned
    assert_all_zstd(tmp_path / "target")


def test_warehouse_generations_are_zstd(spark, tmp_path):
    """The first load renames the stage into a generation; an upsert writes
    `merge_upsert`'s output as a new one. Both are zstd."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.load_with_staging(
        spark.createDataFrame([(1, "a", 2024), (2, "b", 2024)], SCHEMA),
        "dim", ["k"])
    first = open(os.path.join(wh.path("dim"), "CURRENT")).read()
    assert_all_zstd(wh.path("dim"))
    wh.load_with_staging(
        spark.createDataFrame([(2, "B", 2025), (3, "c", 2025)], SCHEMA),
        "dim", ["k"])
    merged = open(os.path.join(wh.path("dim"), "CURRENT")).read()
    assert merged != first
    assert_all_zstd(wh.path("dim"))
    assert sorted(wh.read("dim").collect()) == [
        (1, "a", 2024), (2, "B", 2025), (3, "c", 2025)]


def test_query_result_write_is_zstd(spark, tmp_path):
    """A plain `DataFrame.write.parquet`, as a registry result is written."""
    spark.range(100).selectExpr("id", "cast(id as string) s") \
        .write.parquet(str(tmp_path / "result"))
    assert_all_zstd(tmp_path / "result")


@pytest.mark.parametrize("kind", ["partitioned", "warehouse"])
def test_snappy_target_takes_a_zstd_batch(spark, tmp_path, kind):
    """A target whose first batch was written as snappy takes a second
    batch under the zstd default: an append reads back the union, an
    upsert reads the snappy generation and writes the merged rows."""
    first = spark.createDataFrame(
        [(1, "a", 2024), (2, "b", 2024), (3, "c", 2025)], SCHEMA)
    second = spark.createDataFrame([(3, "C", 2025), (4, "d", 2025)], SCHEMA)
    if kind == "partitioned":
        root = str(tmp_path / "target")
        with session_codec(spark, "snappy"):
            stage_partitioned(first, root, partition_cols=["year"]).publish()
        snappy = chunk_codecs(root)
        assert all_chunks(snappy) == {"SNAPPY"}
        stage_partitioned(second, root, partition_cols=["year"]).publish()
        codecs = chunk_codecs(root)
        assert {f: codecs[f] for f in snappy} == snappy
        codecs = {f: c for f, c in codecs.items() if f not in snappy}
        rows = spark.read.schema(SCHEMA).parquet(root).collect()
        expected = first.collect() + second.collect()
    else:
        wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
        with session_codec(spark, "snappy"):
            wh.load_with_staging(first, "dim", ["k"])
        assert all_chunks(chunk_codecs(wh.path("dim"))) == {"SNAPPY"}
        wh.load_with_staging(second, "dim", ["k"])
        codecs = chunk_codecs(wh.path("dim"))
        rows = wh.read("dim").collect()
        expected = [(1, "a", 2024), (2, "b", 2024),
                    (3, "C", 2025), (4, "d", 2025)]
    assert spark.conf.get(CODEC) == "zstd"
    # the second batch's files; for a warehouse, the merged generation that
    # replaced the snappy one
    assert all_chunks(codecs) == {"ZSTD"}, codecs
    assert sorted(map(tuple, rows)) == sorted(map(tuple, expected))
