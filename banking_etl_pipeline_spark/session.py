"""SparkSession factory.

Reconstructs the reference's session builder (`src/utils/spark_session.py`)
the Spark-first way: AQE and its partition coalescing are left at Spark's
defaults (on), shuffle parallelism follows the core count instead of being
hard-coded to 4, Hive support is dropped (nothing in the reference uses a
metastore), and the session timezone is pinned to UTC so results are
comparable across engines (DuckDB timestamps are UTC-naive).

Every parquet file the session writes (appended batches, warehouse
generations, query results) is zstd-compressed at level 6 (the Hadoop key
`parquet.compression.codec.zstd.level`; parquet-java's default is 3), over
a quarter smaller than Spark's snappy default, and stores timestamps as
INT64 `TIMESTAMP_MICROS` instead of Spark's 12-byte INT96: a 100 k-row
transaction batch's two timestamp columns fall from 1.57 to 1.11 MB of its
5.71 MB, and each of their column chunks carries min/max statistics, which
INT96 chunks lack. Spark reads the same `TimestampType` values back; the
column is marked `isAdjustedToUTC=true`, so pyarrow reads it as
`timestamp[us, tz=UTC]` and DuckDB as `TIMESTAMP WITH TIME ZONE`.
`extra_conf` or a writer option (`compression`,
`parquet.compression.codec.zstd.level`) overrides any of these settings,
and readers follow each file's footer, so a target may mix codecs, levels
and timestamp encodings.

Three environment settings remain: `SPARK_GRAFT_CPUS` (local cores, and the
default shuffle parallelism), `SPARK_GRAFT_DRIVER_MEM` and
`SPARK_GRAFT_WAREHOUSE`.

At cluster scale the same builder is used with `master=` passed explicitly
(the builder always sets a master, and a builder-set master overrides
spark-submit's) and `shuffle_partitions` sized to ~2-3× total executor cores.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


# Session-scoped cache, the one cache the operator modules share, keyed by
# (application, kind, tag):
# - `session_persist`: a builder's expensive reused intermediate persists
#   exactly ONCE per (session, tag) instead of once per invocation —
#   repeated invocations in one session (the bench runs each query several
#   times, the driver runs families back-to-back) would otherwise accumulate
#   persisted RDDs that are never unpersisted. At cluster scale this is the
#   write-the-stage-to-a-staging-table-once step of a real pipeline.
# - `session_scalar`: a few builders need one driver-side scalar (a table
#   count, a longest-series gate) to parameterize the plan. Computing it per
#   build() call launches a real Spark job every time bench/plan-dump
#   re-invokes the builder; per (session, tag) the input is immutable, so
#   compute once.
# The kind keeps a DataFrame tag and a scalar tag from colliding. Entries
# from dead sessions are evicted on sight.
_SESSION_CACHE: dict[tuple[str, str, str], object] = {}


def _session_cached(spark: SparkSession, kind: str, tag: str,
                    make: Callable[[], object]) -> object:
    app = spark.sparkContext.applicationId
    for stale in [k for k in _SESSION_CACHE if k[0] != app]:
        del _SESSION_CACHE[stale]
    key = (app, kind, tag)
    if key not in _SESSION_CACHE:
        _SESSION_CACHE[key] = make()
    return _SESSION_CACHE[key]


def session_persist(spark: SparkSession, tag: str,
                    build: Callable[[], DataFrame]) -> DataFrame:
    return _session_cached(spark, "df", tag, lambda: build().persist())


def session_scalar(spark: SparkSession, tag: str,
                   compute: Callable[[], object]) -> object:
    return _session_cached(spark, "scalar", tag, compute)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "banking_etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    Scale notes: every config here is local-mode-safe and cluster-correct.
    AQE (on by Spark's default) handles runtime partition coalescing and
    skew-join splitting, so the static `shuffle_partitions` only needs to be
    an upper bound at scale. The builder sets no AQE key, so a deployment's
    Spark conf (`spark-defaults.conf`, `--conf`, `extra_conf`) decides the
    policy: locally, Spark's parallelism-first coalescing measured 1.20-1.26×
    faster than size-derived partitions on local[32]; on a real cluster, set
    `spark.sql.adaptive.coalescePartitions.parallelismFirst=false` and a
    64-256 MB `spark.sql.adaptive.advisoryPartitionSizeInBytes`.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # events.parquet carries TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects outright; read as long and convert in the catalog
        # (catalog.table) — same ns→µs truncation DuckDB applies.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # saveAsTable targets (bucketed tables) land outside the repo tree
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # files.maxPartitionBytes default 128m is right for the 100 TB target;
        # local sf0.1 parquet is a single file, AQE re-splits post-shuffle.
        # openCostInBytes default 4m makes split size = max(4m, bytes/cores),
        # which leaves most cores idle scanning mid-size (10-100 MB) tables —
        # measured 10x slower on the text tier at sf3/sf10.
        # 256k restores bytes/cores sizing (full fan-out on splittable files)
        # and at cluster scale only packs small files a little tighter.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        # Spark sizes Tungsten pages as nextPowerOf2(execution pool / cores
        # / 16): 32 MiB on a 4 GiB, 4-core driver. Each sorter and keyed
        # hash aggregate of a task takes a zeroed page before its first row:
        # a transaction batch's task, about 8 MB of rows, runs two window
        # sorts and the write sort, and the gate's partial aggregate takes
        # one more. Pages in use when a young collection runs are tenured,
        # so the old generation fills with dead pages until a full GC.
        # 4 MiB keeps a task's footprint near its data; TaskMemoryManager
        # addresses at most 8192 pages per task, so this still allows 32 GiB
        # per task, and a record larger than a page gets a page of its own.
        .config("spark.buffer.pageSize", "4m")
        # Every parquet file the engine writes (appended batches, warehouse
        # generations, query results) pays for its bytes at the target.
        # zstd at parquet-mr's default level 3 writes about a quarter fewer
        # bytes than Spark's snappy default: on 4 vCPU, a 100 k-row
        # transaction batch's write_amp fell 0.5435 -> 0.4112 and registry
        # query results' 0.0667 -> 0.0520, for about 5% more CPU per batch.
        # lz4_raw saved only 4%; gzip matched zstd's size at more CPU. Each
        # file's footer names its codec, so snappy targets read unchanged.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # parquet-java reads its zstd level from the Hadoop conf, which
        # takes spark.hadoop.* keys when the session starts (a later
        # spark.conf.set of the key does not reach it; a writer option
        # does). Level 6 writes a 100 k-row transaction batch 3.2% smaller
        # than the default 3 (seed 1: 5.243 -> 5.075 MB; 4.860 MB with one
        # file per partition). Level 9 saved only 0.4% more (4.839 MB), and
        # 12 and 15 took 12.0-19.7 s of CPU per batch against 4.1-6.6 s at
        # 3 (one session each, 4 vCPU).
        .config("spark.hadoop.parquet.compression.codec.zstd.level", "6")
        # Spark's default INT96 timestamps take 12 bytes a value and their
        # chunks carry no statistics. INT64 TIMESTAMP_MICROS chunks carry
        # min/max, so a reader can skip row groups on a date filter and a
        # gate can read ranges from footers. On a 100 k-row transaction
        # batch (seed 1, zstd) the two timestamp columns fell from 1.574 to
        # 1.106 MB and the batch from 5.71 to 5.24 MB; on 4 vCPU, txn_batch
        # write_amp fell 0.4112 -> 0.3778 and registry query results'
        # 0.0520 -> 0.0423, with CPU per batch within noise. The column is
        # marked isAdjustedToUTC, so DuckDB reads it as TIMESTAMP WITH TIME
        # ZONE; each file's footer names its encoding, so INT96 files read
        # unchanged.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
