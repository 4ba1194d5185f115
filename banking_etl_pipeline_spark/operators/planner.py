"""Scale-planning advisors (REGISTERED in round 6 — all five keys are in
registry.py and driver-green).

The engine's 100 TB posture is configuration: shuffle-partition counts
sized so partitions fit executor memory, dim tables broadcast below
`spark.sql.autoBroadcastJoinThreshold`, and hot join keys salted
(SCALE.md). These operators turn that posture into DATA — a physical
plan advisor computed from table statistics with exact integer math, so
the recommendations themselves are oracle-checkable:

- shuffle_partition_plan: per table — rows, estimated bytes (fixed
  column widths from the schema + exact string/array byte sums), and
  recommended scan/shuffle partition counts at today's size and at a
  1000x projection, against the 128 MiB `maxPartitionBytes` default.
- broadcast_plan: per table — join-side strategy classification
  (broadcast vs shuffle) against the 10 MiB
  `autoBroadcastJoinThreshold` default, now and at 1000x.
- salting_plan: the top hot `events.user_id` join keys — per-key row
  count, per-mille share, and the recommended salt factor
  ceil(cnt · P / total): the number of partition-sized chunks the key
  alone spans at P=32 shuffle partitions.
- partition_skew_report: hash-partition `events` on user_id into 32
  md5-derived buckets (engine-native hashes differ; md5 is
  bit-identical in both — functions/hashing.py) and report the
  max/min bucket load and the max-vs-average skew per-mille, the
  statistic AQE's skew-join mitigation keys off.
- lsh_candidate_report: per LSH band over `embeddings` — bucket count,
  hottest bucket, and the exact candidate-pair budget Σ n·(n−1)/2 the
  banded self-join will generate. Candidates scale ~N²·N_BANDS/2^BAND_BITS
  (measured: 469 k at sf0.1 → 47 M at sf1, quadratic — the sf1 bench's
  one super-linear query traced to exactly this), so this report is the
  pre-flight check that tells an operator to raise BAND_BITS BEFORE
  paying the join. (r7 closed the loop: dedup_embedding_cosine now
  derives its band width from corpus size — dedup.dedup_band_bits — so
  the registered detector's budget stays linear; this report still
  audits the FIXED base geometry the ANN probe index uses.)

Widths are schema constants (TESTDATA.md schemas are fixed): 8 for
BIGINT/DOUBLE/TIMESTAMP, 4 for INTEGER/FLOAT elements, exact
`length()` sums for strings (ASCII corpus: chars == bytes in both
engines), 4·size() for float arrays. Estimates are in-memory row-data
bytes, not parquet-encoded bytes — the quantity partition sizing
actually cares about.

Scale: every query is one aggregate pass per table (map-side combined)
or one bounded group-by over a key domain; recommendations join only
1-row/bounded aggregates. Nothing here grows faster than the key
domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import md5_long_seeded, sql_md5_long_seeded
from ..session import session_persist
from ..spec import QuerySpec

MAX_PARTITION_BYTES = 128 * 1024 * 1024     # spark.sql.files.maxPartitionBytes
BROADCAST_THRESHOLD = 10 * 1024 * 1024      # spark.sql.autoBroadcastJoinThreshold
SHUFFLE_PARTITIONS = 32                     # local bench parity (session.py)
N_BUCKETS = 32
SALT_SEED = 271
PROJECTION = 1000                           # the "would this survive 1000x" column

# table → (fixed bytes per row, string columns, float-array columns);
# schema constants from TESTDATA.md (8: BIGINT/DOUBLE/TIMESTAMP,
# 4: INTEGER; arrays counted 4·size)
_WIDTHS: dict[str, tuple[int, tuple[str, ...], tuple[str, ...]]] = {
    "region": (4, ("r_name",), ()),
    "nation": (8, ("n_name",), ()),
    "customer": (20, ("c_name", "c_mktsegment"), ()),
    "supplier": (20, ("s_name",), ()),
    "part": (20, ("p_name", "p_brand", "p_type"), ()),
    "orders": (32, ("o_orderstatus", "o_orderpriority"), ()),
    "lineitem": (68, ("l_returnflag", "l_linestatus"), ()),
    "events": (32, ("event_type", "props"), ()),
    "documents": (16, ("text", "lang", "source"), ()),
    "embeddings": (12, (), ("embedding",)),
}


def _table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per table: (table_name, n_rows, est_bytes). Cached across
    the planner queries — the stats scan runs once per session/sf."""

    def build() -> DataFrame:
        parts = []
        for name, (fixed, strs, arrs) in _WIDTHS.items():
            t = table(spark, sf_dir, name)
            var = F.lit(0).cast("long")
            for c in strs:
                var = var + F.coalesce(F.length(c).cast("long"), F.lit(0))
            for c in arrs:
                var = var + 4 * F.coalesce(F.size(c).cast("long"), F.lit(0))
            parts.append(
                t.agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.coalesce(F.sum(var), F.lit(0)).cast("long")
                    .alias("var_bytes"),
                ).select(
                    F.lit(name).alias("table_name"),
                    "n_rows",
                    (F.col("n_rows") * fixed + F.col("var_bytes"))
                    .cast("long").alias("est_bytes"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    return session_persist(spark, f"planner_stats:{sf_dir}", build)


def _sql_stats() -> str:
    selects = []
    for name, (fixed, strs, arrs) in _WIDTHS.items():
        var_terms = [
            f"COALESCE(LENGTH({c}), 0)" for c in strs
        ] + [f"4 * COALESCE(LEN({c}), 0)" for c in arrs]
        var = " + ".join(var_terms) if var_terms else "0"
        selects.append(
            f"SELECT '{name}' AS table_name,"
            f" CAST(COUNT(*) AS BIGINT) AS n_rows,"
            f" CAST(COUNT(*) * {fixed}"
            f" + COALESCE(SUM(CAST({var} AS BIGINT)), 0) AS BIGINT)"
            f" AS est_bytes FROM {name}"
        )
    return "\nUNION ALL\n".join(selects)


def shuffle_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _table_stats(spark, sf_dir)
        .selectExpr(
            "table_name",
            "n_rows",
            "est_bytes",
            f"greatest(1L, (est_bytes + {MAX_PARTITION_BYTES - 1})"
            f" div {MAX_PARTITION_BYTES}) AS partitions_now",
            f"greatest(1L, (est_bytes * {PROJECTION}"
            f" + {MAX_PARTITION_BYTES - 1})"
            f" div {MAX_PARTITION_BYTES}) AS partitions_1000x",
        )
        .orderBy("table_name")
    )


SHUFFLE_PARTITION_PLAN_SQL = f"""
WITH stats AS (
{_sql_stats()}
)
SELECT table_name, n_rows, est_bytes,
       GREATEST(1, (est_bytes + {MAX_PARTITION_BYTES - 1})
                    // {MAX_PARTITION_BYTES}) AS partitions_now,
       GREATEST(1, (est_bytes * {PROJECTION} + {MAX_PARTITION_BYTES - 1})
                    // {MAX_PARTITION_BYTES}) AS partitions_1000x
FROM stats
ORDER BY table_name
"""


def broadcast_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _table_stats(spark, sf_dir)
        .selectExpr(
            "table_name",
            "est_bytes",
            f"CASE WHEN est_bytes <= {BROADCAST_THRESHOLD}"
            " THEN 'broadcast' ELSE 'shuffle' END AS strategy_now",
            f"CASE WHEN est_bytes * {PROJECTION} <= {BROADCAST_THRESHOLD}"
            " THEN 'broadcast' ELSE 'shuffle' END AS strategy_1000x",
        )
        .orderBy("table_name")
    )


BROADCAST_PLAN_SQL = f"""
WITH stats AS (
{_sql_stats()}
)
SELECT table_name, est_bytes,
       CASE WHEN est_bytes <= {BROADCAST_THRESHOLD}
            THEN 'broadcast' ELSE 'shuffle' END AS strategy_now,
       CASE WHEN est_bytes * {PROJECTION} <= {BROADCAST_THRESHOLD}
            THEN 'broadcast' ELSE 'shuffle' END AS strategy_1000x
FROM stats
ORDER BY table_name
"""


def salting_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    total = per_key.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("total")
    )
    ranked = (
        per_key.crossJoin(F.broadcast(total))
        .selectExpr(
            "user_id",
            "cnt",
            "cnt * 1000 div greatest(total, 1L) AS share_permille",
            f"greatest(1L, (cnt * {SHUFFLE_PARTITIONS} + total - 1)"
            " div greatest(total, 1L)) AS salt_factor",
        )
        .orderBy(F.desc("cnt"), "user_id")
        .limit(10)
    )
    return ranked


SALTING_PLAN_SQL = f"""
WITH per_key AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
),
tot AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS total FROM per_key)
SELECT user_id, cnt,
       cnt * 1000 // GREATEST(total, 1) AS share_permille,
       GREATEST(1, (cnt * {SHUFFLE_PARTITIONS} + total - 1)
                    // GREATEST(total, 1)) AS salt_factor
FROM per_key, tot
ORDER BY cnt DESC, user_id
LIMIT 10
"""


def partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    buckets = (
        e.select(
            (md5_long_seeded(SALT_SEED, F.col("user_id").cast("string"))
             % N_BUCKETS).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("rows"))
    )
    return buckets.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("rows").cast("long").alias("total_rows"),
        F.max("rows").alias("max_bucket_rows"),
        F.min("rows").alias("min_bucket_rows"),
    ).selectExpr(
        "n_buckets",
        "total_rows",
        "max_bucket_rows",
        "min_bucket_rows",
        f"max_bucket_rows * {N_BUCKETS} * 1000"
        " div greatest(total_rows, 1L) AS skew_permille",
    )


PARTITION_SKEW_REPORT_SQL = f"""
WITH buckets AS (
  SELECT {sql_md5_long_seeded(SALT_SEED, "CAST(user_id AS VARCHAR)")}
             % {N_BUCKETS} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS rows
  FROM events GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(rows) AS BIGINT) AS total_rows,
       MAX(rows) AS max_bucket_rows,
       MIN(rows) AS min_bucket_rows,
       CAST(MAX(rows) * {N_BUCKETS} * 1000
           // GREATEST(SUM(rows), 1) AS BIGINT) AS skew_permille
FROM buckets
"""


def lsh_candidate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import lsh_bands_cached

    bands = lsh_bands_cached(spark, sf_dir)
    buckets = bands.groupBy("band", "sig").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        buckets.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.max("n").alias("max_bucket_n"),
            F.sum(F.expr("n * (n - 1) div 2")).cast("long")
            .alias("candidate_pairs"),
        )
        .orderBy("band")
    )


def _lsh_candidate_report_sql() -> str:
    # the exact sigs pipeline the ANN/dedup oracles replay (similarity.py)
    from .similarity import BAND_BITS, N_BANDS, _SQL_PLANE

    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
planes AS (
  SELECT p, {_SQL_PLANE} AS pv FROM range({N_BANDS * BAND_BITS}) t(p)
),
bits AS (
  SELECT e.vec_id, CAST(p // {BAND_BITS} AS INTEGER) AS band,
         CASE WHEN list_dot_product(e.v, planes.pv) >= 0
              THEN 1 << CAST(p % {BAND_BITS} AS INTEGER) ELSE 0 END AS bit
  FROM e CROSS JOIN planes
),
sigs AS (
  SELECT vec_id, band, CAST(SUM(bit) AS INTEGER) AS sig
  FROM bits GROUP BY vec_id, band
),
buckets AS (
  SELECT band, sig, CAST(COUNT(*) AS BIGINT) AS n FROM sigs GROUP BY band, sig
)
SELECT band, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       MAX(n) AS max_bucket_n,
       CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs
FROM buckets GROUP BY band
ORDER BY band
"""


LSH_CANDIDATE_REPORT_SQL = _lsh_candidate_report_sql()


QUERIES: dict[str, QuerySpec] = {
    "shuffle_partition_plan": QuerySpec(
        shuffle_partition_plan,
        SHUFFLE_PARTITION_PLAN_SQL,
        "per-table scan/shuffle partition counts vs 128 MiB target,"
        " now and at 1000x",
    ),
    "broadcast_plan": QuerySpec(
        broadcast_plan,
        BROADCAST_PLAN_SQL,
        "per-table broadcast-vs-shuffle join-side classification,"
        " now and at 1000x",
    ),
    "salting_plan": QuerySpec(
        salting_plan,
        SALTING_PLAN_SQL,
        "top hot join keys with recommended salt factors"
        " (partition-chunks spanned)",
    ),
    "partition_skew_report": QuerySpec(
        partition_skew_report,
        PARTITION_SKEW_REPORT_SQL,
        "md5-bucket hash-partition load: max/min bucket rows and"
        " skew per-mille",
    ),
    "lsh_candidate_report": QuerySpec(
        lsh_candidate_report,
        LSH_CANDIDATE_REPORT_SQL,
        "per-band LSH bucket stats + exact candidate-pair budget"
        " (pre-flight for the banded self-join)",
    ),
}
