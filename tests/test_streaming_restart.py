"""Checkpoint-restart recovery: a streaming aggregation stopped mid-feed and
restarted from its checkpoint must (a) not double-count data it already
processed (file-source progress is in the checkpoint) and (b) pick up files
that arrived while it was down — the exactly-once operational contract an
incremental 100 TB/day pipeline depends on."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from banking_etl_pipeline_spark.catalog import table
from banking_etl_pipeline_spark.sinks.writers import ParquetWarehouse
from banking_etl_pipeline_spark.streaming.upsert import start_streaming_upsert
from tests.conftest import SF_SMALL

_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _stream_agg(spark, src_dir):
    raw = (
        spark.readStream.schema(_SCHEMA)
        .format("parquet")
        .option("path", src_dir)
        .load()
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    return raw.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
    )


def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path):
    events = table(spark, SF_SMALL, "events")
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)

    src = tmp_path / "src"
    stage1 = tmp_path / "stage1"
    stage2 = tmp_path / "stage2"
    half1.coalesce(1).write.parquet(str(stage1))
    half2.coalesce(1).write.parquet(str(stage2))
    src.mkdir()
    for f in stage1.glob("*.parquet"):
        shutil.copy(f, src / "a.parquet")

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    # run 1: only the first half visible
    q = start_streaming_upsert(
        _stream_agg(spark, str(src)), wh, "user_stats", ["user_id"], ckpt
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # the second half lands while the query is DOWN
    for f in stage2.glob("*.parquet"):
        shutil.copy(f, src / "b.parquet")

    # run 2: restart from the same checkpoint
    q = start_streaming_upsert(
        _stream_agg(spark, str(src)), wh, "user_stats", ["user_id"], ckpt
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
    )
    got = {r.user_id: (r.n, round(r.sum_value, 6))
           for r in wh.read("user_stats").collect()}
    want = {r.user_id: (r.n, round(r.sum_value, 6)) for r in batch.collect()}
    assert got == want  # no double-count of half 1, no loss of half 2


# ---------------------------------------------------------------------------
# Stateful restart: the two lambda-parity proofs must carry their GroupState
# (a FLOAT for ewma) across a checkpoint kill/restart and produce output
# identical to an uninterrupted run — in-session parity alone doesn't prove
# the state round-trips the checkpoint store losslessly.
# ---------------------------------------------------------------------------

def _staged_prefix_split(spark, tmp_path, cols, nonnull_value=False):
    """Split events at the global (ts, event_id) median into prefix/suffix
    parquet stages — a TIME-PREFIX split, so sequential replay preserves
    the per-user fold order the batch oracle uses."""
    from pyspark.sql import Window

    e = table(spark, SF_SMALL, "events")
    if nonnull_value:
        e = e.filter(F.col("value").isNotNull())
    e = e.select(*cols)
    n = e.count()
    ranked = e.withColumn(
        "rn", F.row_number().over(Window.orderBy("ts", "event_id"))
    )
    stage1, stage2 = tmp_path / "s1", tmp_path / "s2"
    ranked.filter(F.col("rn") <= n // 2).drop("rn") \
        .coalesce(1).write.parquet(str(stage1))
    ranked.filter(F.col("rn") > n // 2).drop("rn") \
        .coalesce(1).write.parquet(str(stage2))
    return stage1, stage2


def _run_stateful(spark, src, out, ckpt, update_fn, out_schema, state_schema,
                  schema_str):
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (
        spark.readStream.schema(schema_str).format("parquet")
        .option("path", str(src)).load()
        .groupBy("user_id")
        .applyInPandasWithState(
            update_fn, outputStructType=out_schema,
            stateStructType=state_schema, outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (stream.writeStream.outputMode("append").format("parquet")
         .option("path", str(out)).option("checkpointLocation", str(ckpt))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _feed(src, stage, name):
    src.mkdir(exist_ok=True)
    for f in stage.glob("*.parquet"):
        shutil.copy(f, src / name)


def test_streaming_ewma_restart_carries_float_state(spark, tmp_path):
    from banking_etl_pipeline_spark.operators.windows import ewma_smoothing
    from banking_etl_pipeline_spark.streaming.stateful import (
        _EWMA_OUT,
        _EWMA_STATE,
        _update_ewma,
    )
    from pyspark.sql import Window

    schema = "event_id long, user_id long, ts timestamp, value double"
    cols = ["event_id", "user_id", "ts", "value"]
    s1, s2 = _staged_prefix_split(spark, tmp_path, cols, nonnull_value=True)

    def run(src_name, out_name, ckpt_name):
        _run_stateful(spark, tmp_path / src_name, tmp_path / out_name,
                      tmp_path / ckpt_name, _update_ewma, _EWMA_OUT,
                      _EWMA_STATE, schema)

    # interrupted: prefix → stop → suffix lands while down → restart
    _feed(tmp_path / "src", s1, "a.parquet")
    run("src", "out", "ckpt")
    _feed(tmp_path / "src", s2, "b.parquet")
    run("src", "out", "ckpt")

    # uninterrupted: both halves visible from the start, fresh checkpoint
    _feed(tmp_path / "src_full", s1, "a.parquet")
    _feed(tmp_path / "src_full", s2, "b.parquet")
    run("src_full", "out_full", "ckpt_full")

    def final_per_user(path):  # last emission = the max-n_events row
        sink = spark.read.parquet(str(path))
        w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        return {
            r.user_id: (r.n_events, r.ewma)
            for r in sink.withColumn("r", F.row_number().over(w))
            .filter("r = 1").collect()
        }

    restarted = final_per_user(tmp_path / "out")
    straight = final_per_user(tmp_path / "out_full")
    assert restarted == straight  # float state survived the checkpoint
    # and both equal the batch fold (lambda parity end-to-end)
    batch = {r.user_id: (r.n_events, r.ewma)
             for r in ewma_smoothing(spark, SF_SMALL).collect()}
    assert restarted == batch


def test_streaming_rate_limit_restart_is_exactly_once(spark, tmp_path):
    from banking_etl_pipeline_spark.streaming.stateful import (
        _RATE_OUT,
        _RATE_STATE,
        _update_rate_limit,
    )

    schema = "event_id long, user_id long, ts timestamp"
    cols = ["event_id", "user_id", "ts"]
    s1, s2 = _staged_prefix_split(spark, tmp_path, cols)

    def run(src_name, out_name, ckpt_name):
        _run_stateful(spark, tmp_path / src_name, tmp_path / out_name,
                      tmp_path / ckpt_name, _update_rate_limit, _RATE_OUT,
                      _RATE_STATE, schema)

    _feed(tmp_path / "src", s1, "a.parquet")
    run("src", "out", "ckpt")
    _feed(tmp_path / "src", s2, "b.parquet")
    run("src", "out", "ckpt")

    _feed(tmp_path / "src_full", s1, "a.parquet")
    _feed(tmp_path / "src_full", s2, "b.parquet")
    run("src_full", "out_full", "ckpt_full")

    def rows(path):
        return {(r.event_id, r.user_id, r.day, r.rn)
                for r in spark.read.parquet(str(path)).collect()}

    restarted, straight = rows(tmp_path / "out"), rows(tmp_path / "out_full")
    # append-mode kept set: no admitted event lost, none admitted twice,
    # ranks identical — the day-counter state survived the restart
    assert restarted == straight
    n = spark.read.parquet(str(tmp_path / "out")).count()
    assert n == len(restarted)  # no duplicate emissions either
