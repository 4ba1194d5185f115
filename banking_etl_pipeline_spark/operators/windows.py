"""Window metrics (reference SURVEY.md §2.6 — the analytic heart).

Re-expresses the reference's per-account running balance, lag/event-gap and
30-day range-frame rolling metrics (`transaction_transform.py:105-133`) over
the `events` stream table (partition by `user_id`, order by `ts`), plus the
sessionization and as-of-join surfaces a stream table implies.

Determinism: orderings carry `event_id` as a unique tie-break; the range
frame orders by epoch **seconds** cast to long (the reference range-orders a
raw timestamp, which Spark interprets numerically — we make the cast
explicit, semantics preserved; SURVEY.md §2.6-W3).

Scale: one shuffle per query (hash by user_id), then all window work is
within-partition sort + scan. 150 users at sf0.1 → millions of users at
100 TB: partition count rides shuffle.partitions/AQE, skewed users are
bounded by per-user event counts, and the as-of join avoids a range
cross-join entirely (union + last-carry-forward, one shuffle, no blowup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..session import session_scalar
from ..functions.numeric import cents, ftrunc, sql_ftrunc
from ..spec import QuerySpec

def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ≅ cumulative balance: sum(amount_signed) over (partition account order ts)
    # transaction_transform.py:108-115. Default frame = RANGE UNBOUNDED
    # PRECEDING..CURRENT ROW in both engines → peers included → deterministic.
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    signed = F.when(F.col("event_type") == "error", -F.col("value")).otherwise(
        F.col("value")
    )
    # decimal window-sum: exact and summation-order-independent, so the
    # double cast is bit-identical to the oracle (DuckDB's segment-tree
    # window accumulation would otherwise differ in last-ulp noise).
    return e.select(
        "event_id",
        "user_id",
        (F.sum(cents(signed)).over(w).cast("double") / F.lit(100.0)).alias("running_value"),
    )


WINDOW_RUNNING_SUM_SQL = """
SELECT event_id, user_id,
       CAST(SUM(CAST(FLOOR((CASE WHEN event_type = 'error' THEN -value ELSE value END)
                         * 100.0 + 0.5) AS BIGINT))
            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) / 100.0
           AS running_value
FROM events
"""


def window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ≅ lag(transaction_date) + datediff at transaction_transform.py:118-123
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts", 1).over(w)
    return e.select(
        "event_id",
        "user_id",
        F.lag("value", 1).over(w).alias("prev_value"),
        (F.col("ts").cast("long") - prev_ts.cast("long")).alias("gap_seconds"),
        F.datediff(F.col("ts").cast("date"), prev_ts.cast("date")).alias("gap_days"),
    )


WINDOW_LAG_SQL = """
SELECT event_id, user_id,
       LAG(value, 1) OVER w AS prev_value,
       CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(LAG(ts, 1) OVER w)) AS BIGINT) AS gap_seconds,
       CAST(date_diff('day', CAST(LAG(ts, 1) OVER w AS DATE), CAST(ts AS DATE))
            AS INTEGER) AS gap_days
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def _window_range(spark: SparkSession, sf_dir: str, days: int) -> DataFrame:
    """Sliding range-frame rolling count + conditional sum ≅
    transaction_transform.py:126-133 (the reference's frame is 30 days; both
    7- and 30-day variants are registered — the events table spans ~30 days,
    so 7d exercises a proper sliding frame and 30d the reference's width).
    Epoch-seconds ordering makes the range frame's numeric semantics explicit.
    """
    e = table(spark, sf_dir, "events")
    epoch = F.col("ts").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-days * 86400, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias(f"cnt_{days}d"),
        (
            F.sum(
                cents(
                    F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                        F.lit(0.0)
                    )
                )
            )
            .over(w)
            .cast("double")
            / F.lit(100.0)
        ).alias(f"purchase_value_{days}d"),
    )


def window_range_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _window_range(spark, sf_dir, 7)


def window_range_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _window_range(spark, sf_dir, 30)


def _window_range_sql(days: int) -> str:
    return f"""
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS cnt_{days}d,
       CAST(SUM(CAST(FLOOR((CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END)
                         * 100.0 + 0.5) AS BIGINT)) OVER w AS DOUBLE) / 100.0
           AS purchase_value_{days}d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN {days * 86400} PRECEDING AND CURRENT ROW)
"""


WINDOW_RANGE_7D_SQL = _window_range_sql(7)
WINDOW_RANGE_30D_SQL = _window_range_sql(30)


def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a >30-min silence starts a new session.
    lag + cumulative sum of boundary flags — one shuffle, no UDF."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long"), 1).over(w)
    sessioned = e.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessioned.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.sum(cents(F.col("value"))).cast("double") / F.lit(100.0)).alias("session_value"),
        )
    )


SESSIONIZATION_SQL = """
WITH gapped AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
                   OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_seq
  FROM gapped
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST(SUM(CAST(FLOOR((value) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
           AS session_value
FROM sessions GROUP BY user_id, session_seq
"""


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the latest order of the same customer at
    or before the event time (events.user_id ⋈ orders.o_custkey).

    Spark lacks a native ASOF JOIN; the scalable composition is the
    union + last-value-carry-forward trick: tag both sides, sort within key
    by (time, side), and carry the last order forward with
    last(..., ignorenulls) — ONE shuffle on the join key, no range
    cross-join, no per-key pandas. This is the plan you want at 100 TB:
    cost ≈ sort-merge of the two inputs.

    Orders are first deduped to one per (custkey, date) — ties broken by max
    orderkey — because "the" as-of row must be unique for determinism. The
    dedup is a rank-1 row_number window (the former
    groupBy-max + join-back scanned and shuffled orders twice; rn=1 under
    orderkey DESC is the same row, and WindowGroupLimit reduces it to a
    per-partition top-1 before the exchange).
    """
    e = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders")

    w1 = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey"))
    o1 = (
        o.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # NOTE: orders span 1995-2001, events 2024 → every event matches the
    # customer's last order; the frame logic is still exercised end-to-end.
    left = e.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    right = o1.select(
        F.col("o_custkey").cast("long").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        "o_totalprice",
    )
    unioned = left.unionByName(right)
    w = (
        Window.partitionBy("k")
        .orderBy("t", "side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "k",
        "t",
        "side",
        "event_id",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("asof_orderkey"),
        F.last("o_totalprice", ignorenulls=True).over(w).alias("asof_totalprice"),
    )
    return carried.filter(F.col("side") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        "asof_orderkey",
        "asof_totalprice",
    )


ASOF_JOIN_SQL = """
WITH o1 AS (
  SELECT o.* FROM orders o
  JOIN (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        FROM orders GROUP BY o_custkey, o_orderdate) m
  USING (o_custkey, o_orderdate, o_orderkey)
)
SELECT e.event_id, e.user_id,
       o1.o_orderkey AS asof_orderkey,
       o1.o_totalprice AS asof_totalprice
FROM events e
ASOF LEFT JOIN o1 ON e.user_id = o1.o_custkey AND e.ts >= o1.o_orderdate
"""


RANGE_JOIN_N_BANDS = 60
RANGE_JOIN_BASE = 900.0
RANGE_JOIN_STRIDE = 1800.0   # band start spacing
RANGE_JOIN_WIDTH = 2700.0    # band length (> stride → overlapping bands)


def bucketed_range_join(points: DataFrame, point_col: str,
                        intervals: DataFrame, lo_col: str, hi_col: str,
                        bucket_width: float) -> DataFrame:
    """Generic point-in-interval join ([lo, hi) containment) as a bucketed
    EQUI-join. Spark's native plan for a pure non-equi predicate is
    BroadcastNestedLoopJoin — O(points × intervals), a non-starter once the
    interval side outgrows a broadcast. Instead each interval is exploded to
    the ~(len/width + 1) buckets it overlaps, each point hashes to ONE
    bucket, and the join is a plain hash/sort-merge equi-join on bucket_id
    followed by the exact containment filter. Shuffle cost scales with
    data size, not with the pair cross-product; bucket_width tunes the
    explode factor vs candidate-pair false positives.
    """
    w = F.lit(bucket_width)
    b_intervals = intervals.withColumn(
        "bucket_id",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w), F.floor(F.col(hi_col) / w)
            )
        ),
    )
    b_points = points.withColumn("bucket_id", F.floor(F.col(point_col) / w))
    return (
        b_points.join(b_intervals, "bucket_id")
        .filter(
            (F.col(point_col) >= F.col(lo_col))
            & (F.col(point_col) < F.col(hi_col))
        )
        .drop("bucket_id")
    )


def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: lineitems priced within overlapping price bands
    ([900 + 1800·i, 900 + 1800·i + 2700) for i < 60 — width > stride, so a
    price can land in two bands), aggregated per band. Runs through
    `bucketed_range_join`, so the plan is scan → bucket-hash equi-join →
    filter → partial/final agg; no nested-loop node anywhere (the band
    table is also broadcast here, but the shape survives a billion-row
    interval side by letting the equi-join shuffle instead)."""
    bands = spark.range(RANGE_JOIN_N_BANDS).select(
        F.col("id").alias("band_id"),
        (F.lit(RANGE_JOIN_BASE) + F.col("id") * RANGE_JOIN_STRIDE).alias("lo"),
        (F.lit(RANGE_JOIN_BASE) + F.col("id") * RANGE_JOIN_STRIDE
         + RANGE_JOIN_WIDTH).alias("hi"),
    )
    pts = table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_quantity"
    )
    return (
        bucketed_range_join(pts, "l_extendedprice",
                            F.broadcast(bands), "lo", "hi",
                            RANGE_JOIN_STRIDE)
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


RANGE_JOIN_SQL = f"""
WITH bands AS (
  SELECT CAST(i AS BIGINT) AS band_id,
         {RANGE_JOIN_BASE} + i * {RANGE_JOIN_STRIDE} AS lo,
         {RANGE_JOIN_BASE} + i * {RANGE_JOIN_STRIDE} + {RANGE_JOIN_WIDTH} AS hi
  FROM range({RANGE_JOIN_N_BANDS}) t(i)
)
SELECT band_id,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       SUM(l_quantity) AS sum_qty
FROM lineitem
JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY band_id
"""


def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: collapse each user's event
    stream into state intervals (state = event_type), one row per state
    *change* with [valid_from, valid_to) and an is_current flag — the
    standard warehouse dimension-versioning shape the reference's
    dim_customer/dim_account tables imply.

    Plan: one shuffle on user_id, then two window passes within the same
    sort order (lag to detect change points, lead for interval close) —
    Catalyst reuses the single sort, so cost ≈ sessionization.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = e.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lag("event_type", 1).over(w).alias("prev_state"),
    ).filter(
        F.col("prev_state").isNull() | (F.col("prev_state") != F.col("state"))
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from", 1).over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


SCD2_INTERVALS_SQL = """
WITH changes AS (
  SELECT user_id, event_id, event_type AS state, ts AS valid_from,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_state
  FROM events
)
SELECT user_id, state, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id)
           AS valid_to,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id)
           IS NULL AS is_current
FROM changes
WHERE prev_state IS NULL OR prev_state <> state
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase per user: a click only counts
    after the user's first view, a purchase only after that qualified click.

    Three chained running-min windows over ONE (user_id) partitioning —
    Spark plans a single Exchange + Sort and evaluates the window trio in
    sequence, so funnel depth adds zero shuffles (the property that keeps
    a 10-stage funnel viable over 100 TB of events). Timestamps only —
    no float anywhere — so cross-engine equality is exact.
    """
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = e.select("user_id", "event_id", "ts", "event_type")
    s1 = base.withColumn(
        "first_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    s2 = s1.withColumn(
        "first_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("first_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "first_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("first_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max(F.col("first_view").isNotNull().cast("int")).alias("viewed"),
        F.max(F.col("first_click").isNotNull().cast("int")).alias("clicked"),
        F.max(F.col("first_purchase").isNotNull().cast("int")).alias(
            "purchased"
        ),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("viewed").alias("n_viewed"),
        F.sum("clicked").alias("n_clicked_after_view"),
        F.sum("purchased").alias("n_purchased_after_click"),
    )


FUNNEL_CONVERSION_SQL = """
WITH s1 AS (
  SELECT user_id, event_id, ts, event_type,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS first_view
  FROM events
),
s2 AS (
  SELECT *,
         MIN(CASE WHEN event_type = 'click' AND ts > first_view THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS first_click
  FROM s1
),
s3 AS (
  SELECT *,
         MIN(CASE WHEN event_type = 'purchase' AND ts > first_click THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS first_purchase
  FROM s2
),
per_user AS (
  SELECT user_id,
         MAX(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS viewed,
         MAX(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END) AS clicked,
         MAX(CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END) AS purchased
  FROM s3 GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(viewed) AS BIGINT) AS n_viewed,
       CAST(SUM(clicked) AS BIGINT) AS n_clicked_after_view,
       CAST(SUM(purchased) AS BIGINT) AS n_purchased_after_click
FROM per_user
"""


def ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: per (hour, event_type) OHLC of
    `value` — open/close via min_by/max_by on a unique epoch-µs+event_id
    key (deterministic under ties), high/low/volume as plain aggregates.
    ONE hash-aggregate pass, no window, no sort: the downsample that turns
    raw 100 TB ticks into a bounded rollup table; re-aggregating a coarser
    grain (hour → day) reuses the same plan over the rollup."""
    e = table(spark, sf_dir, "events")
    # unique sortable key: (epoch-µs, event_id) STRUCT — same total order
    # as the former zero-padded string key (the oracle keeps its printf
    # form; winners are identical) without a per-event string alloc;
    # min_by/max_by accept any orderable type
    key = F.struct(F.unix_micros(F.col("ts")).alias("us"), F.col("event_id"))
    return (
        e.select(
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "event_type",
            "value",
            key.alias("k"),
        )
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min_by("value", "k").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "k").alias("close"),
        )
    )


OHLC_DOWNSAMPLE_SQL = """
SELECT date_trunc('hour', ts) AS bucket, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       arg_min(value, printf('%020d:%010d', epoch_us(ts), event_id)) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, printf('%020d:%010d', epoch_us(ts), event_id)) AS close
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable `time_bucket_gapfill` + locf: per-user hourly value series
    with MISSING hours materialized and the last observed hourly average
    carried forward. Three narrow steps:

    1. downsample events → (user, hour) integer-cents average — one hash
       aggregate (the only full-data shuffle);
    2. one `lead(hr)` window over the hourly rollup, then each observed
       hour EXPLODES its own span `sequence(hr, next_hr − 1h, 1h)`
       carrying its value forward (the former
       spine-generate → left-join-back → locf-window plan paid a second
       per-user aggregate, a (user, hr) join exchange on both sides and a
       second window sort; the carry identity — between two observations
       the last non-null value IS the earlier observation's — makes the
       join and the locf window redundant).

    The average is carried as exact integer cents divided once at the end,
    so Spark and DuckDB agree bit-for-bit. At 100 TB the spine is
    |users|·|hours| ≪ |events| and the lead window sorts only the
    downsampled rollup — gap filling costs less than the downsample itself.
    """
    e = table(spark, sf_dir, "events")
    hourly = (
        e.select(
            "user_id",
            F.date_trunc("hour", F.col("ts")).alias("hr"),
            cents(F.col("value")).alias("vc"),
        )
        .groupBy("user_id", "hr")
        .agg(
            F.sum("vc").alias("sum_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("hr")
    avg_c = (F.col("sum_cents").cast("double")
             / (F.lit(100.0) * F.col("n_events")))
    spanned = (
        hourly.withColumn("nxt", F.lead("hr").over(w))
        .select(
            "user_id",
            F.col("hr").alias("obs_hr"),
            "n_events",
            avg_c.alias("value_locf"),
            F.explode(
                F.sequence(
                    "hr",
                    F.coalesce(
                        F.col("nxt") - F.expr("INTERVAL 1 HOUR"),
                        F.col("hr"),
                    ),
                    F.expr("INTERVAL 1 HOUR"),
                )
            ).alias("hr"),
        )
    )
    return spanned.select(
        "user_id",
        "hr",
        F.when(F.col("hr") == F.col("obs_hr"), F.col("n_events"))
        .otherwise(F.lit(0)).alias("n_events"),
        "value_locf",
    )


GAP_FILL_SQL = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hr,
         SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS sum_cents,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id, date_trunc('hour', ts)
),
spine AS (
  SELECT user_id, unnest(generate_series(MIN(hr), MAX(hr),
                                         INTERVAL 1 HOUR)) AS hr
  FROM hourly GROUP BY user_id
)
SELECT s.user_id, s.hr,
       COALESCE(h.n_events, 0) AS n_events,
       last_value(CAST(h.sum_cents AS DOUBLE) / (100.0 * h.n_events)
                  IGNORE NULLS)
           OVER (PARTITION BY s.user_id ORDER BY s.hr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS value_locf
FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hr = h.hr
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix over events — the product-analytics
    staple: users grouped by first-activity week, counted in each later
    week they return. Plan: per-user first week (one aggregate), distinct
    (user, week) activity (second aggregate over the same shuffle key),
    equi-join on user_id, then a small (cohort, offset) count-distinct.
    Week offset is exact integer date arithmetic (datediff/7 — both
    engines truncate identically on whole weeks). At 100 TB the user-level
    relations are |users| rows; only the two initial aggregates touch raw
    events, and AQE broadcasts the first-week side of the join.
    """
    e = table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    first = e.groupBy("user_id").agg(
        F.min(wk).alias("cohort_week")
    )
    active = e.select("user_id", wk.alias("week")).distinct()
    return (
        active.join(first, "user_id")
        .select(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


COHORT_RETENTION_SQL = """
WITH first AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
)
SELECT CAST(f.cohort_week AS DATE) AS cohort_week,
       CAST(date_diff('day', f.cohort_week, a.week) / 7 AS BIGINT)
           AS week_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM active a JOIN first f ON a.user_id = f.user_id
GROUP BY 1, 2
"""


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users per day (DAU/WAU) — the engagement
    metric every event pipeline serves. A sliding COUNT DISTINCT cannot run
    as a range-frame window (distinct isn't frame-decomposable); the
    scalable shape is the offset-explode: dedup to (user, day) first (the
    ONLY pass over raw events), then each active day contributes itself to
    7 report days via a 7-element `sequence`+`explode`, and a plain
    count-distinct per report day finishes. Data volume after dedup is
    |users|·|active days|·7 — independent of raw event count, so 100 TB of
    events costs one dedup aggregate; everything after is rollup-sized.
    DAU rides along as the offset-0 slice of the same explode.
    """
    e = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    active = e.select("user_id", day.alias("day")).distinct()
    exploded = active.select(
        "user_id",
        "day",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("report_day"),
    )
    return exploded.groupBy("report_day").agg(
        F.count_distinct("user_id").alias("wau"),
        F.count_distinct(
            F.when(F.col("report_day") == F.col("day"), F.col("user_id"))
        ).alias("dau"),
    )


ROLLING_ACTIVE_USERS_SQL = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
exploded AS (
  SELECT user_id, day,
         CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
                                     CAST(day AS TIMESTAMP)
                                       + INTERVAL 6 DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS report_day
  FROM active
)
SELECT report_day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau,
       CAST(COUNT(DISTINCT CASE WHEN report_day = day THEN user_id END)
            AS BIGINT) AS dau
FROM exploded
GROUP BY report_day
"""


def window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation-function surface completing §2.6: first/last/nth_value
    over the full partition frame plus percent_rank/cume_dist — per
    customer over their orders, price-ordered with the orderkey tie-break
    (unique ordering → deterministic cross-engine). One shuffle + one sort
    serves all five functions (same Window spec), the frame is
    unbounded-unbounded so Spark evaluates it with a single pass over each
    sorted partition. percent_rank/cume_dist are exact small-integer
    ratios — identical doubles in both engines."""
    o = table(spark, sf_dir, "orders")
    c = cents(F.col("o_totalprice"))
    order_cols = [F.col("price_c"), F.col("o_orderkey")]
    wfull = (
        Window.partitionBy("o_custkey")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wrank = Window.partitionBy("o_custkey").orderBy(*order_cols)
    return o.select(
        "o_custkey", "o_orderkey", c.alias("price_c")
    ).select(
        "o_custkey",
        "o_orderkey",
        "price_c",
        F.first("price_c").over(wfull).alias("cheapest_c"),
        F.last("price_c").over(wfull).alias("dearest_c"),
        F.nth_value("price_c", 2).over(wfull).alias("second_c"),
        F.percent_rank().over(wrank).alias("pr"),
        F.cume_dist().over(wrank).alias("cd"),
    )


WINDOW_NAVIGATION_SQL = """
SELECT o_custkey, o_orderkey, price_c,
       first_value(price_c) OVER wf AS cheapest_c,
       last_value(price_c)  OVER wf AS dearest_c,
       nth_value(price_c, 2) OVER wf AS second_c,
       percent_rank() OVER wr AS pr,
       cume_dist()    OVER wr AS cd
FROM (
  SELECT o_custkey, o_orderkey,
         CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_c
  FROM orders
)
WINDOW wf AS (PARTITION BY o_custkey ORDER BY price_c, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
       wr AS (PARTITION BY o_custkey ORDER BY price_c, o_orderkey)
"""


def ohlc_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rollup HIERARCHY law: daily OHLC computed FROM the hourly OHLC
    rollup must equal daily OHLC computed from raw ticks. The hourly stage
    carries its own first/last event keys (min(k)/max(k)) so the day stage
    can pick open = min_by(open, kmin) and close = max_by(close, kmax) —
    the re-aggregation a hypertable serves coarser grains from. Spark runs
    hour→day; the DuckDB oracle runs raw→day; hash equality is the proof.
    At 100 TB this is why the continuous aggregate never re-reads raw
    data: each grain reduces the one below it, and the reduction carries
    exactly the (value, boundary-key) pairs needed to stay exact."""
    e = table(spark, sf_dir, "events")
    key = F.format_string(
        "%020d:%010d", F.unix_micros(F.col("ts")), F.col("event_id")
    )
    hourly = (
        e.select(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
            "value",
            key.alias("k"),
        )
        .groupBy("hour", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min_by("value", "k").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "k").alias("close"),
            F.min("k").alias("kmin"),
            F.max("k").alias("kmax"),
        )
    )
    return (
        hourly.withColumn("day", F.date_trunc("day", F.col("hour")).cast("date"))
        .groupBy("day", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.min_by("open", "kmin").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "kmax").alias("close"),
        )
    )


OHLC_REAGGREGATE_SQL = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       arg_min(value, printf('%020d:%010d', epoch_us(ts), event_id)) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, printf('%020d:%010d', epoch_us(ts), event_id)) AS close
FROM events
GROUP BY CAST(date_trunc('day', ts) AS DATE), event_type
"""


DAY_US = 86_400 * 1_000_000


def concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency: peak number of simultaneously-open
    user sessions per day — the load metric behind capacity planning and
    connection-pool sizing. The naive form is a point-in-interval
    self-join (quadratic); the scalable shape is the SWEEP LINE: each
    session interval becomes two boundary rows (+1 at start, −1 just
    after end, integer microseconds), and a running sum over boundaries
    ordered by time IS the concurrency curve. Partitioning the sweep is
    the trick — a global ordered sweep would be a single-partition sort —
    so sessions are first split at day boundaries (explode over covered
    days, clip to the day), making each day's sweep independent:
    partitionBy(day), sort only within the day. Peak-per-day is invariant
    under tie permutations because +1 sorts before −1 at equal t, and the
    max prefix sum over equal-key groups is order-independent. At 100 TB
    the sweep input is |sessions|·(days covered) rows — rollup-sized —
    and every stage after sessionization shuffles by day.

    Extends the reference's window family (SURVEY.md §2.6) with the
    interval-overlap shape its `transaction_transform.py:126-133` rolling
    window cannot express (overlap counting is not frame-decomposable).
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long"), 1).over(w)
    sessions = (
        e.withColumn(
            "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        .withColumn(
            "session_seq",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.min(F.unix_micros(F.col("ts"))).alias("s_us"),
            F.max(F.unix_micros(F.col("ts"))).alias("e_us"),
        )
    )
    return peak_daily_concurrency(sessions).select(
        F.date_from_unix_date(F.col("dayn").cast("int")).alias("day"),
        "peak_concurrency",
        "n_sessions",
    )


def peak_daily_concurrency(intervals: DataFrame) -> DataFrame:
    """Sweep-line core, reusable over any interval relation with integer-µs
    `s_us`/`e_us` columns (inclusive ends): split at day boundaries, clip,
    emit ±1 boundary rows, running-sum per day. Returns
    (dayn, peak_concurrency, n_sessions) — property-tested against a
    brute-force overlap counter in tests/test_properties.py."""
    # exact integer `div` (not floor of a double quotient): epoch-µs values
    # exceed 2^52, where double division error reaches whole µs and can
    # misbucket a day-boundary event (the HLL register index has the same
    # hazard; the oracle uses `//`)
    per_day = intervals.select(
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                F.expr(f"s_us div {DAY_US}"), F.expr(f"e_us div {DAY_US}")
            )
        ).alias("dayn"),
    )
    bounds = per_day.select(
        "dayn",
        F.greatest(F.col("s_us"), F.col("dayn") * DAY_US).alias("cs"),
        F.least(F.col("e_us"), (F.col("dayn") + 1) * DAY_US - 1).alias("ce"),
    ).selectExpr("dayn", "stack(2, cs, 1, ce + 1, -1) AS (t_us, delta)")
    wsweep = (
        Window.partitionBy("dayn")
        .orderBy(F.col("t_us").asc(), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        bounds.withColumn("conc", F.sum("delta").over(wsweep))
        .groupBy("dayn")
        .agg(
            F.max("conc").alias("peak_concurrency"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias("n_sessions"),
        )
    )


CONCURRENT_SESSIONS_SQL = """
WITH gapped AS (
  SELECT user_id, ts, event_id,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
                   OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_seq,
         ts
  FROM gapped
),
iv AS (
  SELECT MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
  FROM sessions GROUP BY user_id, session_seq
),
per_day AS (
  SELECT s_us, e_us,
         unnest(generate_series(s_us // 86400000000,
                                e_us // 86400000000)) AS dayn
  FROM iv
),
clipped AS (
  SELECT dayn,
         GREATEST(s_us, dayn * 86400000000) AS cs,
         LEAST(e_us, (dayn + 1) * 86400000000 - 1) AS ce
  FROM per_day
),
bounds AS (
  SELECT dayn, cs AS t_us, 1 AS delta FROM clipped
  UNION ALL
  SELECT dayn, ce + 1 AS t_us, -1 AS delta FROM clipped
),
swept AS (
  SELECT dayn, delta,
         SUM(delta) OVER (PARTITION BY dayn ORDER BY t_us ASC, delta DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS conc
  FROM bounds
)
SELECT DATE '1970-01-01' + CAST(dayn AS INTEGER) AS day,
       CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
       CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
FROM swept
GROUP BY dayn
"""


def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP) — the financial/IoT
    aggregate where a value holds until the next observation, so each
    reading is weighted by how long it was current. A plain AVG is wrong
    whenever sampling is irregular (it over-weights bursts); the correct
    integral Σ(vᵢ·Δtᵢ)/Σ(Δtᵢ) is one lead() window per user and one
    aggregate — and in integer (cents × microseconds) arithmetic the sum
    is exact and order-independent, so the result is bit-identical across
    engines and any partitioning. Bounds: |value_c| ≤ 10⁵ here, per-user
    span ≤ 2.6·10¹² µs → Σ ≤ 10¹⁷ < 2⁶³; at wider spans promote the
    accumulator to DECIMAL(38,0) (same plan). The last observation per
    user carries no interval and drops out, exactly as in TimescaleDB's
    `time_weight('LOCF')`. One shuffle on user_id shared by the window
    and the aggregate."""
    e = table(spark, sf_dir, "events")
    return twap_per_key(
        e.select(
            "user_id",
            "event_id",
            cents(F.col("value")).alias("value_c"),
            F.unix_micros(F.col("ts")).alias("t_us"),
        )
    )


def twap_per_key(obs: DataFrame) -> DataFrame:
    """TWAP core over any observation relation with (user_id, event_id,
    value_c, t_us) columns — lead() intervals + one exact integer
    aggregate; property-tested against a brute-force integral in
    tests/test_properties.py."""
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    stepped = obs.withColumn("next_us", F.lead("t_us", 1).over(w))
    held = stepped.filter(F.col("next_us").isNotNull()).select(
        "user_id",
        "value_c",
        (F.col("next_us") - F.col("t_us")).alias("dt_us"),
    )
    return held.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dt_us").alias("span_us"),
        F.sum(F.col("value_c") * F.col("dt_us")).alias("twap_num"),
        ftrunc(
            F.sum(F.col("value_c") * F.col("dt_us")).cast("double")
            / F.sum("dt_us")
            / F.lit(100.0),
            4,
        ).alias("twap"),
    )


TIME_WEIGHTED_AVG_SQL = """
WITH stepped AS (
  SELECT user_id,
         CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS value_c,
         epoch_us(ts) AS t_us,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_us
  FROM events
),
held AS (
  SELECT user_id, value_c, next_us - t_us AS dt_us
  FROM stepped WHERE next_us IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dt_us) AS BIGINT) AS span_us,
       CAST(SUM(value_c * dt_us) AS BIGINT) AS twap_num,
       FLOOR(CAST(SUM(value_c * dt_us) AS DOUBLE) / SUM(dt_us) / 100.0
             * 10000.0) / 10000.0 AS twap
FROM held
GROUP BY user_id
"""


PATHS_TOP_K = 10
PATH_LEN = 3


def top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: the most common opening event SEQUENCES (first
    3 event types per session, in time order) — the navigation-flow
    report behind every product-analytics 'user paths' view. Sessions
    come from the shared gap-based build; the ordered prefix uses
    `array_sort(collect_list(struct(sortkey, type)))` — collect_list is
    partition-order-nondeterministic on its own, so the zero-padded
    (epoch-µs, event_id) sort key INSIDE the struct is what makes the
    path deterministic under any shuffle layout (same discipline as
    `inverted_index`). Per-session state is bounded BEFORE the
    aggregate: a row_number ≤ PATH_LEN filter keeps only prefix
    candidates, so the collect_list never holds more than 3 rows even
    for a bot session with millions of events (it shares the user
    exchange — hashpartitioning(user_id) satisfies the
    (user_id, session_seq) clustering, so no extra shuffle); counts
    then TakeOrdered top-10. One user shuffle + one path-count
    shuffle."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long"), 1).over(w)
    sessioned = e.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    k = F.format_string(
        "%020d:%010d", F.unix_micros(F.col("ts")), F.col("event_id")
    )
    ws = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    paths = (
        sessioned.withColumn("rk", F.row_number().over(ws))
        .filter(F.col("rk") <= PATH_LEN)
        .select("user_id", "session_seq", k.alias("k"), "event_type")
        .groupBy("user_id", "session_seq")
        .agg(
            F.array_join(
                F.transform(
                    F.slice(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("k"), F.col("event_type")))
                        ),
                        1,
                        PATH_LEN,
                    ),
                    lambda s: s.event_type,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(PATHS_TOP_K)
    )


TOP_PATHS_SQL = f"""
WITH gapped AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
                   OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, event_type, ts, event_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_seq
  FROM gapped
),
paths AS (
  SELECT user_id, session_seq,
         array_to_string(
           list_slice(list(event_type ORDER BY printf('%020d:%010d',
                                                      epoch_us(ts), event_id)),
                      1, {PATH_LEN}),
           '>') AS path
  FROM sessions GROUP BY user_id, session_seq
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT {PATHS_TOP_K}
"""


def fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO inventory allocation — match issued units against received
    units in strict first-in-first-out order, the cost-basis/lot-matching
    computation warehouses and trading books both need. The classic
    formulation is a sequential loop; the set-based shape is CUMULATIVE
    INTERVALS: per part, receipts and issues each get [cum−qty, cum)
    unit ranges from one running sum (both streams share a single
    partition sort), and a receipt funds an issue exactly where their
    unit ranges overlap — matched = min(hi)−max(lo) on overlapping
    pairs. The pair join is equi on part with the overlap as a residual
    predicate; per-part pair count is O(lines²) worst case but overlap
    prunes to O(lines) true matches — at 100 TB band the cumulative
    ranges (the `range_join` bucketing) to keep candidate generation
    linear. All unit math is exact integers. Receipts = odd line
    numbers, issues = even (a deterministic split of lineitem into the
    two flows)."""
    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.floor("l_quantity").cast("long").alias("qty"),
        (F.col("l_linenumber") % 2 == 1).alias("is_receipt"),
    )
    w = (
        Window.partitionBy("l_partkey", "is_receipt")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    iv = base.withColumn("hi", F.sum("qty").over(w)).withColumn(
        "lo", F.col("hi") - F.col("qty")
    )
    r = iv.filter("is_receipt").select(
        F.col("l_partkey").alias("pk"),
        F.col("lo").alias("rlo"),
        F.col("hi").alias("rhi"),
    )
    i = iv.filter("NOT is_receipt").select(
        F.col("l_partkey").alias("pk2"),
        F.col("lo").alias("ilo"),
        F.col("hi").alias("ihi"),
    )
    pairs = r.join(
        i,
        (F.col("pk") == F.col("pk2"))
        & (F.col("rlo") < F.col("ihi"))
        & (F.col("ilo") < F.col("rhi")),
    )
    matched = F.least("rhi", "ihi") - F.greatest("rlo", "ilo")
    return pairs.groupBy(F.col("pk").alias("l_partkey")).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.sum(matched).alias("matched_units"),
    )


FIFO_ALLOCATION_SQL = """
WITH base AS (
  SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
         CAST(FLOOR(l_quantity) AS BIGINT) AS qty,
         l_linenumber % 2 = 1 AS is_receipt
  FROM lineitem
),
iv AS (
  SELECT l_partkey, is_receipt, qty,
         SUM(qty) OVER (PARTITION BY l_partkey, is_receipt
                        ORDER BY l_shipdate, l_orderkey, l_linenumber
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS hi
  FROM base
),
iv2 AS (SELECT *, hi - qty AS lo FROM iv),
r AS (SELECT l_partkey AS pk, lo AS rlo, hi AS rhi FROM iv2 WHERE is_receipt),
i AS (SELECT l_partkey AS pk2, lo AS ilo, hi AS ihi FROM iv2
      WHERE NOT is_receipt)
SELECT pk AS l_partkey,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(SUM(LEAST(rhi, ihi) - GREATEST(rlo, ilo)) AS BIGINT)
           AS matched_units
FROM r JOIN i ON pk = pk2 AND rlo < ihi AND ilo < rhi
GROUP BY pk
"""


def scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against the SCD2 dimension — "which version was
    valid when this fact happened", the temporal-join staple every
    warehouse consumer of `scd2_intervals` runs. Each event looks up its
    user's state version valid at the event's timestamp (version starts
    are inclusive; two versions opening at the same instant resolve to
    the later event_id, matching the interval build's empty-interval
    semantics).

    Scale shape: NOT a range join — version starts (kind 0) and probes
    (kind 1) union into one stream, partition by user, order by
    (ts, kind, event_id), and one last_value(..., ignorenulls) carries
    the open version forward. Two same-key exchanges total (the
    change-detection lag window, then the union carry window — the
    second because the probe branch arrives unpartitioned), zero
    interval explosion; a per-key range join would pay candidate blowup
    on top. With the dimension maintained incrementally (versions
    pre-materialized), the lookup itself is the single-shuffle
    `asof_join` plan."""
    e = table(spark, sf_dir, "events")
    wchg = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = (
        e.select(
            "user_id", "event_id", F.col("event_type").alias("state"),
            "ts",
            F.lag("event_type", 1).over(wchg).alias("prev_state"),
        )
        .filter(
            F.col("prev_state").isNull()
            | (F.col("prev_state") != F.col("state"))
        )
        .select(
            "user_id", "ts", F.lit(0).alias("k"),
            F.col("event_id").alias("seq"), "state",
        )
    )
    probes = e.select(
        "user_id", "ts", F.lit(1).alias("k"),
        F.col("event_id").alias("seq"), F.lit(None).cast("string")
        .alias("state"),
    )
    u = versions.unionByName(probes)
    wcarry = (
        Window.partitionBy("user_id")
        .orderBy("ts", "k", "seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    vfrom = F.when(F.col("k") == 0, F.col("ts"))
    carried = u.select(
        "user_id", "ts", "k", "seq",
        F.last("state", ignorenulls=True).over(wcarry).alias("pit_state"),
        F.last(vfrom, ignorenulls=True).over(wcarry).alias("pit_since"),
    )
    return carried.filter(F.col("k") == 1).select(
        F.col("seq").alias("event_id"), "user_id", "ts",
        "pit_state", "pit_since",
    )


SCD2_PIT_JOIN_SQL = """
WITH versions AS (
  SELECT user_id, ts, 0 AS k, event_id AS seq, event_type AS state
  FROM (
    SELECT user_id, event_id, event_type, ts,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_state
    FROM events
  ) WHERE prev_state IS NULL OR prev_state <> event_type
),
probes AS (
  SELECT user_id, ts, 1 AS k, event_id AS seq, CAST(NULL AS VARCHAR) AS state
  FROM events
),
u AS (SELECT * FROM versions UNION ALL SELECT * FROM probes),
carried AS (
  SELECT user_id, ts, k, seq,
         LAST_VALUE(state IGNORE NULLS) OVER w AS pit_state,
         LAST_VALUE(CASE WHEN k = 0 THEN ts END IGNORE NULLS) OVER w
             AS pit_since
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, k, seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT seq AS event_id, user_id, ts, pit_state, pit_since
FROM carried WHERE k = 1
"""


def leakage_free_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set assembly with NO TEMPORAL LEAKAGE — the feature-store
    primitive: for every label event (purchase), the user's feature
    vector computed from STRICTLY EARLIER events only. The classic bug
    this shape prevents is same-row/future leakage from a plain
    user-level aggregate join; here the exclusive window frame
    (rowsBetween unbounded..-1 over the (ts, event_id) total order)
    makes "as of just before the label" true by construction — the
    point-in-time-correct join feature stores advertise.

    Features: prior event count, prior exact cents total, prior
    purchase count, seconds since the user's previous event. One
    user_id exchange serves every feature window AND the label filter;
    integer/cents outputs keep the oracle exact."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wlag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    feats = e.select(
        "event_id",
        "user_id",
        "ts",
        F.col("event_type").alias("label_type"),
        cents(F.col("value")).alias("label_value_c"),
        F.count(F.lit(1)).over(w).alias("prior_n"),
        F.coalesce(F.sum(cents(F.col("value"))).over(w), F.lit(0))
        .alias("prior_value_c"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w),
            F.lit(0),
        ).alias("prior_purchases"),
        (F.col("ts").cast("long")
         - F.lag(F.col("ts").cast("long"), 1).over(wlag))
        .alias("secs_since_prev"),
    )
    return feats.filter(F.col("label_type") == "purchase").select(
        "event_id", "user_id", "label_value_c", "prior_n",
        "prior_value_c", "prior_purchases", "secs_since_prev",
    )


LEAKAGE_FREE_FEATURES_SQL = """
WITH feats AS (
  SELECT event_id, user_id, event_type,
         CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS label_value_c,
         COUNT(*) OVER wex AS prior_n,
         COALESCE(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) OVER wex,
                  0) AS prior_value_c,
         COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  OVER wex, 0) AS prior_purchases,
         CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(LAG(ts) OVER wo)) AS BIGINT)
             AS secs_since_prev
  FROM events
  WINDOW wex AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         wo AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, label_value_c,
       CAST(prior_n AS BIGINT) AS prior_n,
       CAST(prior_value_c AS BIGINT) AS prior_value_c,
       CAST(prior_purchases AS BIGINT) AS prior_purchases,
       secs_since_prev
FROM feats WHERE event_type = 'purchase'
"""


EWMA_ALPHA = 0.25  # exactly representable in binary → 1-α = 0.75 exact too


def ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event values —
    the recursive smoother (s_t = (1-α)·s_{t-1} + α·x_t, s_0 = x_0) that
    no built-in window frame can express because every output depends on
    the unbounded prefix THROUGH a non-associative recurrence.

    Composition instead of Python: collect each user's series as
    struct-sorted arrays (order recovered by array_sort over a zero-padded
    (epoch-µs, event_id) key — never a bare collect_list) and fold with
    `F.aggregate`. The fold order is total and identical to the oracle's
    `list_reduce`, and α = 0.25 / 1-α = 0.75 are exact binary fractions,
    so the IEEE double result is bit-identical cross-engine — a custom
    operator with a real oracle, not a tolerance check.

    Scale dispatch: the array fold holds each user's full series in one
    row, so it is gated on the LONGEST series (one cheap two-stage count
    aggregate). Past EWMA_MAX_ARRAY_LEN the operator switches to
    `ewma_smoothing_pandas` — the same recurrence streamed through
    Arrow-batched applyInPandas, constant memory per group, bit-identical
    result (both paths run the identical IEEE op sequence
    s←0.75·s+0.25·x and the identical floor-truncation; proven by the
    dual-path oracle test in tests/test_skewed_inputs.py)."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    longest = session_scalar(
        spark, f"ewma_longest:{sf_dir}",
        lambda: e.groupBy("user_id").count().agg(F.max("count"))
        .first()[0] or 0,
    )
    if longest > EWMA_MAX_ARRAY_LEN:  # pragma: no cover (test SFs are small;
        # the pandas path itself is oracle-tested directly in the skew suite)
        return ewma_smoothing_pandas(spark, sf_dir)
    key = F.format_string(
        "%020d:%010d", F.unix_micros(F.col("ts")), F.col("event_id")
    )
    series = (
        e.select("user_id", key.alias("k"), F.col("value").alias("x"))
        .groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("k"), F.col("x")))),
                lambda s: s.getField("x"),
            ).alias("xs")
        )
    )
    folded = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.element_at(F.col("xs"), 1),
        lambda acc, x: acc * F.lit(1.0 - EWMA_ALPHA) + x * F.lit(EWMA_ALPHA),
    )
    return series.select(
        "user_id",
        F.size("xs").alias("n_events"),
        ftrunc(folded, 6).alias("ewma"),
    )


# Above this series length the one-row-per-user array fold risks oversized
# rows / executor OOM; the streamed pandas fold takes over. 2^16 doubles
# ≈ 0.5 MB per array row — comfortably inside any sane row-size budget.
EWMA_MAX_ARRAY_LEN = 65536

_EWMA_PANDAS_SCHEMA = "user_id bigint, n_events int, ewma double"


def ewma_smoothing_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-series EWMA path: identical recurrence and truncation as
    the array fold, but streamed per group through applyInPandas so no
    user's series ever materializes as a single array row. The scalar
    Python loop is ON PURPOSE (same rationale as
    streaming/stateful._update_ewma): the closed-form vectorization
    reassociates float ops and breaks bit-parity with the batch fold and
    the DuckDB list_reduce oracle."""
    import math

    import pandas as pd

    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # (ts, event_id) numeric sort ≡ the array path's zero-padded
        # string key: same µs timestamps, same int ids
        pdf = pdf.sort_values(["ts", "event_id"])
        s, n = 0.0, 0
        for x in pdf["value"].to_numpy():
            x = float(x)
            s = x if n == 0 else s * (1.0 - EWMA_ALPHA) + x * EWMA_ALPHA
            n += 1
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [n],
                "ewma": [math.floor(s * 1e6) / 1e6],
            }
        )

    return e.groupBy("user_id").applyInPandas(fold, _EWMA_PANDAS_SCHEMA)


EWMA_SMOOTHING_SQL = f"""
WITH series AS (
  SELECT user_id,
         list(value ORDER BY printf('%020d:%010d', epoch_us(ts), event_id))
             AS xs
  FROM events WHERE value IS NOT NULL GROUP BY user_id
)
SELECT user_id,
       CAST(len(xs) AS INTEGER) AS n_events,
       {sql_ftrunc(
           f"list_reduce(xs, (acc, x) -> acc * {1.0 - EWMA_ALPHA!r}"
           f" + x * {EWMA_ALPHA!r})", 6)} AS ewma
FROM series
"""


QUERIES: dict[str, QuerySpec] = {
    "fifo_allocation": QuerySpec(
        fifo_allocation,
        FIFO_ALLOCATION_SQL,
        "FIFO lot matching via cumulative-interval overlap join",
    ),
    "top_paths": QuerySpec(
        top_paths,
        TOP_PATHS_SQL,
        "ordered session-prefix path mining, deterministic under shuffle",
    ),
    "time_weighted_avg": QuerySpec(
        time_weighted_avg,
        TIME_WEIGHTED_AVG_SQL,
        "exact integer TWAP per user: lead() intervals + one aggregate",
    ),
    "concurrent_sessions": QuerySpec(
        concurrent_sessions,
        CONCURRENT_SESSIONS_SQL,
        "peak simultaneous sessions/day via day-partitioned sweep line",
    ),
    "ohlc_reaggregate": QuerySpec(
        ohlc_reaggregate,
        OHLC_REAGGREGATE_SQL,
        "rollup hierarchy law: day-from-hour ≡ day-from-raw OHLC",
    ),
    "window_navigation": QuerySpec(
        window_navigation,
        WINDOW_NAVIGATION_SQL,
        "first/last/nth_value + percent_rank/cume_dist, one sort",
    ),
    "rolling_active_users": QuerySpec(
        rolling_active_users,
        ROLLING_ACTIVE_USERS_SQL,
        "trailing-7d distinct actives via offset-explode (DAU/WAU)",
    ),
    "gap_fill": QuerySpec(
        gap_fill,
        GAP_FILL_SQL,
        "hourly gap filling + last-observation-carried-forward",
    ),
    "cohort_retention": QuerySpec(
        cohort_retention,
        COHORT_RETENTION_SQL,
        "weekly cohort retention matrix (first-week × offset counts)",
    ),
    "ohlc_downsample": QuerySpec(
        ohlc_downsample,
        OHLC_DOWNSAMPLE_SQL,
        "hypertable OHLC rollup: one hash-aggregate pass, min_by/max_by",
    ),
    "funnel_conversion": QuerySpec(
        funnel_conversion,
        FUNNEL_CONVERSION_SQL,
        "ordered view→click→purchase funnel, one shuffle for 3 stages",
    ),
    "window_running_sum": QuerySpec(window_running_sum, WINDOW_RUNNING_SUM_SQL, "running sum per key (W1)"),
    "ewma_smoothing": QuerySpec(
        ewma_smoothing, EWMA_SMOOTHING_SQL,
        "per-user EWMA via order-fixed array fold (non-frame recurrence)",
    ),
    "scd2_pit_join": QuerySpec(
        scd2_pit_join, SCD2_PIT_JOIN_SQL,
        "point-in-time SCD2 version lookup via one-shuffle carry-forward",
    ),
    "leakage_free_features": QuerySpec(
        leakage_free_features, LEAKAGE_FREE_FEATURES_SQL,
        "label events + strictly-prior features via exclusive window frame",
    ),
    "window_lag": QuerySpec(window_lag, WINDOW_LAG_SQL, "lag + event gap (W2+P11)"),
    "window_range_7d": QuerySpec(window_range_7d, WINDOW_RANGE_7D_SQL, "range-frame rolling aggs (W3+A5)"),
    "window_range_30d": QuerySpec(window_range_30d, WINDOW_RANGE_30D_SQL, "reference-width 30-day range frame (W3)"),
    "sessionization": QuerySpec(sessionization, SESSIONIZATION_SQL, "gap-based sessionization"),
    "asof_join": QuerySpec(asof_join, ASOF_JOIN_SQL, "as-of join via union+carry-forward"),
    "scd2_intervals": QuerySpec(scd2_intervals, SCD2_INTERVALS_SQL, "SCD type-2 interval build"),
    "range_join": QuerySpec(range_join, RANGE_JOIN_SQL, "bucketed point-in-interval range join"),
}
