"""Core relational operators (reference SURVEY.md §2.3-§2.5, §2.9 gaps).

Each query re-expresses a reference operator over the TPC-H-ish test tables:
projection/filtering/CASE-WHEN standardization mirror
`transaction_transform.py:22-91`, grouped statistics + the left stats-join +
3σ anomaly flags mirror `transaction_transform.py:137-179`, and the set/cube/
ranking/json surfaces fill the reference's explicit gaps (SURVEY.md §2.9)
which Spark provides natively.

Everything is declarative DataFrame API — filters and projections reach the
parquet scan (PushedFilters/ReadSchema), aggregations are partial+final hash
aggregates, the small stats side of joins is broadcast — so the same plans
hold at 100 TB with no code change.

Cross-engine numeric policy (see functions/numeric.py): money aggregates are
accumulated as long-integer cents — exact, summation-order-independent, hence
bit-identical across engines after the cast to double, and faster than double
sums in codegen (this keeps the reference's DecimalType(18,2) money semantics,
data_seed.py:40,49, without decimal's 10× runtime cost). Averages are
cents-sum ÷ count in double. Only stddev stays in floating point, with a
half-up floor discretization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.numeric import cents
from ..spec import QuerySpec


def _dsum(col: Column) -> Column:
    """Order-independent exact money sum: long-cents accumulate, double out
    (exact up to 2^53 cents; see functions/numeric.py)."""
    return F.sum(cents(col)).cast("double") / F.lit(100.0)


def _davg(col: Column) -> Column:
    """Exact cents-sum ÷ count, in double → bit-identical across engines."""
    return (F.sum(cents(col)).cast("double") / F.lit(100.0)) / F.count(F.lit(1))


def _r2(col: Column) -> Column:
    """Half-up 2-decimal discretization for genuinely-floating stats."""
    return F.floor(col * 100.0 + 0.5) / 100.0


_CENTS = "CAST(FLOOR(({x}) * 100.0 + 0.5) AS BIGINT)"
_DSUM = "CAST(SUM(CAST(FLOOR(({x}) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0"
_DAVG = "(CAST(SUM(CAST(FLOOR(({x}) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) / COUNT(*)"
_R2 = "FLOOR(({x}) * 100.0 + 0.5) / 100.0"

# ---------------------------------------------------------------------------
# Flagship: pricing summary (filter + CASE arithmetic + groupBy multi-agg +
# sort). The analytic shape of `transaction_transform.py:150-154` widened to
# a TPC-H-Q1-style report.
# ---------------------------------------------------------------------------


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # fixed-point: price in cents (10^2), discount/tax factors in hundredths
    # (10^2) → products are exact longs at scale 10^4 / 10^6.
    pc = cents(F.col("l_extendedprice"))
    disc_factor = F.lit(100) - cents(F.col("l_discount"))
    tax_factor = F.lit(100) + cents(F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            (F.sum(pc * disc_factor).cast("double") / F.lit(1.0e4)).alias(
                "sum_disc_price"
            ),
            (F.sum(pc * disc_factor * tax_factor).cast("double") / F.lit(1.0e6)).alias(
                "sum_charge"
            ),
            _davg(F.col("l_quantity")).alias("avg_qty"),
            _davg(F.col("l_extendedprice")).alias("avg_price"),
            _davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {_DSUM.format(x='l_quantity')}      AS sum_qty,
       {_DSUM.format(x='l_extendedprice')} AS sum_base_price,
       CAST(SUM(CAST(FLOOR((l_extendedprice) * 100.0 + 0.5) AS BIGINT) * (100 - CAST(FLOOR((l_discount) * 100.0 + 0.5) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
       CAST(SUM(CAST(FLOOR((l_extendedprice) * 100.0 + 0.5) AS BIGINT) * (100 - CAST(FLOOR((l_discount) * 100.0 + 0.5) AS BIGINT)) * (100 + CAST(FLOOR((l_tax) * 100.0 + 0.5) AS BIGINT))) AS DOUBLE) / 1000000.0 AS sum_charge,
       {_DAVG.format(x='l_quantity')}      AS avg_qty,
       {_DAVG.format(x='l_extendedprice')} AS avg_price,
       {_DAVG.format(x='l_discount')}      AS avg_disc,
       CAST(COUNT(*) AS BIGINT)            AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

# ---------------------------------------------------------------------------
# Projection / filters (P1, P3-P5) ≅ transaction_transform.py:42, data_quality.py
# ---------------------------------------------------------------------------


def project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


PROJECT_SQL = "SELECT c_custkey, c_name, c_mktsegment FROM customer"


def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ≅ `~((type == 'deposit') & (amount < 0))` at transaction_transform.py:42
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        ~((F.col("l_returnflag") == "A") & (F.col("l_quantity") < 25))
        & (F.col("l_discount") > 0.02)
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_discount")


FILTER_COMPOUND_SQL = """
SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_discount
FROM lineitem
WHERE NOT (l_returnflag = 'A' AND l_quantity < 25) AND l_discount > 0.02
"""


def filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    # isNull predicate (data_quality.py:39); testdata has no organic nulls so
    # they are synthesized with NULLIF — identically in the oracle.
    o = table(spark, sf_dir, "orders")
    return (
        o.withColumn("status_nulled", F.nullif(F.col("o_orderstatus"), F.lit("O")))
        .filter(F.col("status_nulled").isNull())
        .select("o_orderkey", "status_nulled")
    )


FILTER_NULL_SQL = """
SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS status_nulled
FROM orders WHERE NULLIF(o_orderstatus, 'O') IS NULL
"""


def filter_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ≅ filter(col.contains("ERROR")) at monitor.py:33
    d = table(spark, sf_dir, "documents")
    return d.filter(F.col("text").contains("spark")).select("doc_id", "source", "n_chars")


FILTER_CONTAINS_SQL = """
SELECT doc_id, source, n_chars FROM documents WHERE contains(text, 'spark')
"""


def filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ≅ (col < min) | (col > max) at data_quality.py:101-103
    o = table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_totalprice") < 5000) | (F.col("o_totalprice") > 400000)
    ).select("o_orderkey", "o_totalprice")


FILTER_RANGE_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_totalprice < 5000 OR o_totalprice > 400000
"""

# ---------------------------------------------------------------------------
# CASE WHEN standardization / bucketing (P6-P7) ≅ transaction_transform.py:45-91
# ---------------------------------------------------------------------------


def case_when_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    bucketed = o.withColumn(
        "price_tier",
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large"),
    ).withColumn(
        "priority_class",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "expedite").otherwise(
            "normal"
        ),
    )
    return (
        bucketed.groupBy("price_tier", "priority_class")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("total_value"),
        )
        .orderBy("price_tier", "priority_class")
    )


CASE_WHEN_BUCKET_SQL = f"""
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            ELSE 'large' END AS price_tier,
       CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'expedite'
            ELSE 'normal' END AS priority_class,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {_DSUM.format(x='o_totalprice')} AS total_value
FROM orders
GROUP BY 1, 2 ORDER BY 1, 2
"""


def null_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ≅ df.na.fill("Unknown", [cols]) at transaction_transform.py:39
    # (nulls synthesized via NULLIF since testdata is null-free).
    li = table(spark, sf_dir, "lineitem")
    filled = li.withColumn(
        "linestatus_nulled", F.nullif(F.col("l_linestatus"), F.lit("O"))
    ).na.fill({"linestatus_nulled": "Unknown"})
    return (
        filled.groupBy("linestatus_nulled")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("linestatus_nulled")
    )


NULL_FILL_SQL = """
SELECT COALESCE(NULLIF(l_linestatus, 'O'), 'Unknown') AS linestatus_nulled,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY 1 ORDER BY 1
"""

# ---------------------------------------------------------------------------
# Timestamp parse + date parts (P9-P10) ≅ transaction_transform.py:35-36,67-71
# ---------------------------------------------------------------------------


def parse_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # string → timestamp with explicit format; round-trips events.ts through
    # the raw-zone string form used by the reference CSV zone.
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.to_timestamp(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss"), "yyyy-MM-dd HH:mm:ss"
        ).alias("parsed_ts"),
    )


PARSE_TIMESTAMP_SQL = """
SELECT event_id,
       strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS parsed_ts
FROM events
"""


def date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.dayofweek("ts").alias("dow"),  # 1 = Sunday (Spark convention)
        (F.dayofweek("ts").isin(1, 7)).alias("is_weekend"),
    )


DATE_PARTS_SQL = """
SELECT event_id,
       CAST(year(ts) AS INTEGER)          AS y,
       CAST(month(ts) AS INTEGER)         AS m,
       CAST(dayofmonth(ts) AS INTEGER)    AS d,
       CAST(hour(ts) AS INTEGER)          AS h,
       CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
       (dayofweek(ts) + 1) IN (1, 7)      AS is_weekend
FROM events
"""

# ---------------------------------------------------------------------------
# Sort + limit (P14) ≅ monitor.py:15 — deterministic via unique tie-break
# ---------------------------------------------------------------------------


def topk_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""

# ---------------------------------------------------------------------------
# Aggregations (A1-A5) ≅ transaction_transform.py:150-154, data_quality.py:69-75
# ---------------------------------------------------------------------------


def groupby_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            _r2(F.stddev("l_extendedprice")).alias("stddev_price"),
            _davg(F.col("l_extendedprice")).alias("avg_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


GROUPBY_STATS_SQL = f"""
SELECT l_returnflag,
       {_R2.format(x='STDDEV_SAMP(l_extendedprice)')} AS stddev_price,
       {_DAVG.format(x='l_extendedprice')}            AS avg_price,
       MAX(l_extendedprice)                           AS max_price,
       CAST(COUNT(*) AS BIGINT)                       AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def count_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.agg(F.count(F.lit(1)).alias("n_rows"))


COUNT_ROWS_SQL = "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem"


def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-pass total vs distinct (vs the reference's two jobs at
    # data_quality.py:69-75)
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("l_orderkey").alias("distinct_orders"),
        (F.count(F.lit(1)) - F.countDistinct("l_orderkey")).alias("dup_count"),
    )


COUNT_DISTINCT_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS total,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS distinct_orders,
       CAST(COUNT(*) - COUNT(DISTINCT l_orderkey) AS BIGINT) AS dup_count
FROM lineitem
"""


def conditional_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sum(when(cond, col).otherwise(0)) ≅ transaction_transform.py:131-133
    li = table(spark, sf_dir, "lineitem")
    returned = F.when(
        F.col("l_returnflag") == "A", F.col("l_extendedprice")
    ).otherwise(F.lit(0.0))
    return (
        li.groupBy("l_linestatus")
        .agg(
            _dsum(returned).alias("returned_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_linestatus")
    )


CONDITIONAL_SUM_SQL = f"""
SELECT l_linestatus,
       {_DSUM.format(x="CASE WHEN l_returnflag = 'A' THEN l_extendedprice ELSE 0.0 END")}
           AS returned_value,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
"""

# ---------------------------------------------------------------------------
# Joins (J1-J2) ≅ transaction_transform.py:157, data_quality.py:143-147
# ---------------------------------------------------------------------------


def join_left_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key stats self-join + outlier flag (the reference's anomaly core).
    The stats side is orders-of-magnitude smaller than the fact → broadcast;
    AQE picks it automatically, the plan is shuffle(groupBy) + broadcast join.
    """
    li = table(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_orderkey").agg(
        _davg(F.col("l_extendedprice")).alias("avg_price"),
        F.stddev("l_extendedprice").alias("stddev_price"),
    )
    joined = li.join(stats, on="l_orderkey", how="left")
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.col("avg_price").alias("order_avg_price"),
        F.coalesce(
            F.col("l_extendedprice")
            > F.col("avg_price") + 2 * F.col("stddev_price"),
            F.lit(False),
        ).alias("is_outlier"),
    )


JOIN_LEFT_STATS_SQL = f"""
WITH stats AS (
  SELECT l_orderkey,
         {_DAVG.format(x='l_extendedprice')} AS avg_price,
         STDDEV_SAMP(l_extendedprice)        AS stddev_price
  FROM lineitem GROUP BY l_orderkey
)
SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice,
       s.avg_price AS order_avg_price,
       COALESCE(l.l_extendedprice > s.avg_price + 2 * s.stddev_price, FALSE)
           AS is_outlier
FROM lineitem l LEFT JOIN stats s ON l.l_orderkey = s.l_orderkey
"""


def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    # left-anti orphan/absence detection ≅ data_quality.py:143-147.
    # "customers with no high-value orders" so the result is non-trivial.
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


JOIN_LEFT_ANTI_SQL = """
SELECT c_custkey, c_mktsegment FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
"""

# ---------------------------------------------------------------------------
# Composed anomaly flags (P13) ≅ transaction_transform.py:137-179
# ---------------------------------------------------------------------------


def anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based anomaly detection re-expressed on orders: per-customer 3σ
    large-order flag, weekend flag, absolute threshold flag — the same three
    rule shapes as transaction_transform.py:160-177."""
    o = table(spark, sf_dir, "orders")
    stats = o.groupBy("o_custkey").agg(
        F.avg("o_totalprice").alias("cust_avg"),
        F.stddev("o_totalprice").alias("cust_std"),
    )
    flagged = o.join(F.broadcast(stats), on="o_custkey", how="left")
    return flagged.select(
        "o_orderkey",
        "o_custkey",
        F.coalesce(
            F.col("o_totalprice") > F.col("cust_avg") + 3 * F.col("cust_std"),
            F.lit(False),
        ).alias("is_large_order"),
        F.dayofweek("o_orderdate").isin(1, 7).alias("is_weekend"),
        (F.col("o_totalprice") > 350000).alias("is_high_value"),
    )


ANOMALY_FLAGS_SQL = """
WITH stats AS (
  SELECT o_custkey, AVG(o_totalprice) AS cust_avg, STDDEV_SAMP(o_totalprice) AS cust_std
  FROM orders GROUP BY o_custkey
)
SELECT o.o_orderkey, o.o_custkey,
       COALESCE(o.o_totalprice > s.cust_avg + 3 * s.cust_std, FALSE) AS is_large_order,
       (dayofweek(o.o_orderdate) + 1) IN (1, 7) AS is_weekend,
       o.o_totalprice > 350000 AS is_high_value
FROM orders o LEFT JOIN stats s ON o.o_custkey = s.o_custkey
"""

# ---------------------------------------------------------------------------
# Surfaces the reference lacks but Spark gives for free (SURVEY.md §2.9):
# ranking windows, rollup, set ops, JSON extraction.
# ---------------------------------------------------------------------------


def ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.select(
            "c_custkey",
            "c_mktsegment",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("rn") <= 5)
    )


RANKING_SQL = """
SELECT * FROM (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
         CAST(RANK() OVER w AS INTEGER)       AS rnk,
         CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
         CAST(NTILE(4) OVER w AS INTEGER)     AS quartile
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
) WHERE rn <= 5
"""


def cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


CUBE_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {_DSUM.format(x='l_quantity')} AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


_GROUPING_SETS_BODY = f"""
SELECT l_returnflag, l_linestatus,
       {_DSUM.format(x='l_quantity')} AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n
FROM {{table}}
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (disjoint marginals + grand total — a shape
    ROLLUP can't express). The DataFrame API only exposes cube/rollup, so
    this goes through the engine's SQL door (§3: every stage output is
    registered as a view and reachable via spark.sql); Spark plans it as
    one Expand + single hash aggregate — one scan for all three sets, not
    three scans. The Spark and DuckDB texts are the same modulo view name."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(_GROUPING_SETS_BODY.format(table="lineitem_gs"))


GROUPING_SETS_SQL = _GROUPING_SETS_BODY.format(table="lineitem")


def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (distinct set semantics in both engines)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    rich = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("custkey"))
    big_order_cust = o.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("custkey")
    )
    return (
        building.union(rich)
        .distinct()
        .intersect(c.select(F.col("c_custkey").alias("custkey")))
        .subtract(big_order_cust)
    )


SET_OPS_SQL = """
(SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
 UNION
 SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
INTERSECT
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey FROM orders WHERE o_totalprice > 300000
"""


def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations (`intersectAll` / `exceptAll`) —
    INTERSECT keeps min(m_left, m_right) copies, EXCEPT subtracts
    multiplicities — over customer keys that legitimately repeat (one per
    order). The distinct-semantics cousins (`set_ops`) collapse to hash
    aggregates; the ALL forms need per-row multiplicity bookkeeping,
    which Spark plans as a count-aggregate + generate replay rather than
    a raw join — still one shuffle on the key. The reconciliation
    algebra for multisets (e.g. 'orders in feed A not yet in feed B,
    counting duplicates')."""
    o = table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    big = o.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("custkey")
    )
    return urgent.intersectAll(big).withColumn(
        "op", F.lit("intersect_all")
    ).unionByName(
        urgent.exceptAll(big).withColumn("op", F.lit("except_all"))
    )


SET_OPS_ALL_SQL = """
SELECT custkey, 'intersect_all' AS op FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE o_totalprice > 150000
)
UNION ALL
SELECT custkey, 'except_all' AS op FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE o_totalprice > 150000
)
"""


def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSON props surface for the `events` stream table (SURVEY.md §2.9 / §7.8)
    e = table(spark, sf_dir, "events")
    parsed = e.withColumn(
        "k", F.get_json_object(F.col("props"), "$.k").cast("int")
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
        )
        .orderBy("event_type")
    )


JSON_EXTRACT_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE) / COUNT(*)
           AS avg_k
FROM events GROUP BY event_type ORDER BY event_type
"""


PIVOT_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                  "MACHINERY")


def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide reshaping: order counts per (priority × market segment),
    one column per segment. The pivot values are DECLARED (not discovered),
    so the plan is a single groupBy with one conditional aggregate per
    segment — no extra distinct-values job, no second shuffle. Undeclared
    `pivot(col)` would first collect the distinct segments to the driver;
    at 100 TB you always pass the value list."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                              "o_orderpriority")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderpriority")
        .pivot("c_mktsegment", list(PIVOT_SEGMENTS))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(PIVOT_SEGMENTS))
        .orderBy("o_orderpriority")
    )


PIVOT_WIDE_SQL = f"""
SELECT o.o_orderpriority,
       {", ".join(
           f"CAST(COALESCE(SUM(CASE WHEN c.c_mktsegment = '{s}' THEN 1 END), 0) "
           f"AS BIGINT) AS {s}" for s in PIVOT_SEGMENTS)}
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping (melt): one row per (part, metric). Narrow
    per-row expansion — `unpivot` compiles to an Expand node (k output rows
    per input row, no shuffle, no driver round-trip), the exact inverse of
    the declared-values pivot above."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["retailprice", "size"],
        variableColumnName="metric",
        valueColumnName="val",
    )


UNPIVOT_LONG_SQL = """
SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS val FROM part
UNION ALL
SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
"""


def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface (SURVEY.md §2.9 — absent in the reference,
    free in Spark): case mapping, trim, concat, substring, length, replace,
    regexp extraction. All codegen'd scalar expressions; narrow."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper(F.col("c_name")).alias("name_upper"),
        F.lower(F.col("c_mktsegment")).alias("segment_lower"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit(" "))).alias(
            "name_trimmed"
        ),
        F.substring(F.col("c_name"), 1, 8).alias("name_prefix"),
        F.length(F.col("c_name")).alias("name_len"),
        F.regexp_replace(F.col("c_name"), "[0-9]+", "#").alias("name_masked"),
        F.regexp_extract(F.col("c_name"), "([0-9]+)", 1).alias("name_digits"),
    )


STRING_FUNCS_SQL = """
SELECT c_custkey,
       upper(c_name) AS name_upper,
       lower(c_mktsegment) AS segment_lower,
       trim('  ' || c_name || ' ') AS name_trimmed,
       substr(c_name, 1, 8) AS name_prefix,
       CAST(length(c_name) AS INTEGER) AS name_len,
       regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
       COALESCE(regexp_extract(c_name, '([0-9]+)', 1), '') AS name_digits
FROM customer
"""


def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic surface: date_add, add_months, date_trunc,
    last_day, next-quarter boundary math — the calendar toolkit every
    incremental pipeline's partition logic leans on."""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("order_date"),
        F.date_add(d, 30).alias("due_date"),
        F.add_months(d, 3).alias("plus_quarter"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.datediff(F.last_day(d), d).alias("days_to_month_end"),
    )


DATE_ARITHMETIC_SQL = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_quarter,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(date_diff('day', CAST(o_orderdate AS DATE),
                      last_day(CAST(o_orderdate AS DATE))) AS INTEGER)
           AS days_to_month_end
FROM orders
"""


def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function surface over the ArrayType embedding
    column: size, slice, element access, filter-count, transform-sum — all
    JVM-side lambda expressions, no UDF. Sums fold in double sequentially
    (same as functions/vectors.py), so the oracle matches bit-for-bit."""
    e = table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        v.getItem(0).alias("first_component"),
        F.aggregate(
            F.slice(v, 1, 8), F.lit(0.0), lambda acc, x: acc + x
        ).alias("head8_sum"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        ).alias("sq_norm"),
    )


ARRAY_FUNCS_SQL = """
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       CAST(embedding[1] AS DOUBLE) AS first_component,
       list_reduce(list_prepend(0.0, embedding[1:8]::DOUBLE[]),
                   (acc, x) -> acc + x) AS head8_sum,
       CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS INTEGER)
           AS n_positive,
       list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS sq_norm
FROM embeddings
"""


# width_bucket-style fixed-width histogram: integer bucket ids from cents
# arithmetic (no doubles in the bucketing), under/overflow clamped to the
# edge buckets — the data-profiling primitive behind every DQ dashboard.
HIST_LO = 0.0
HIST_HI = 500_000.0
HIST_BUCKETS = 20


def histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of o_totalprice: single aggregate pass, bucket
    id computed as integer cents // width-cents then clamped — a narrow map
    + one groupBy, the profile scan you run before choosing partition
    bounds at 100 TB."""
    o = table(spark, sf_dir, "orders")
    width_c = int((HIST_HI - HIST_LO) * 100) // HIST_BUCKETS
    raw = F.floor((cents(F.col("o_totalprice")) - int(HIST_LO * 100)) / width_c)
    bucket = F.least(
        F.greatest(raw, F.lit(0)), F.lit(HIST_BUCKETS - 1)
    ).cast("int")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents(F.col("o_totalprice"))).cast("double") / 100.0).alias(
                "total_price"
            ),
        )
        .withColumn(
            "bucket_lo",
            (F.col("bucket") * width_c).cast("double") / 100.0 + HIST_LO,
        )
        .select("bucket", "bucket_lo", "n", "total_price")
    )


_HIST_WIDTH_C = int((HIST_HI - HIST_LO) * 100) // HIST_BUCKETS

HISTOGRAM_PRICES_SQL = f"""
WITH b AS (
  SELECT LEAST(GREATEST(
           (CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
              - {int(HIST_LO * 100)}) // {_HIST_WIDTH_C}, 0),
           {HIST_BUCKETS - 1}) AS bucket,
         CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_c
  FROM orders
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       CAST(bucket * {_HIST_WIDTH_C} AS DOUBLE) / 100.0 + {HIST_LO}
           AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(price_c) AS DOUBLE) / 100.0 AS total_price
FROM b GROUP BY bucket
"""


def corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from EXACT integer sufficient statistics — the
    statistics-layer answer to why `F.corr` can't be oracle-checked:
    Spark's streaming co-moment update is float-accumulation-order
    dependent (partition layout observable in the last ulp). Instead the
    five sufficient statistics (Σx, Σy, Σxy, Σx², Σy², n) are exact
    int64 sums (floor-dollar units keep Σx² ≈ 10¹⁶ safely under 2⁶³ at
    sf0.1 — promote to DECIMAL(38,0) beyond ~10⁹ rows, same plan), and
    the correlation is ONE fixed-shape double expression over them —
    bit-identical on any engine and any partitioning. Per-group (3
    return flags) in a single partial+final hash aggregate; the
    sufficient statistics are also MERGEABLE, so shards/days combine by
    addition exactly like `incremental_agg`."""
    li = table(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_extendedprice")).cast("long")
    y = F.floor(F.col("l_quantity")).cast("long")
    stats = (
        li.select(F.col("l_returnflag").alias("flag"), x.alias("x"), y.alias("y"))
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    from ..functions.numeric import ftrunc

    return stats.select(
        "flag", "n", "sx", "sy", "sxy", "sxx", "syy",
        ftrunc(num / den, 6).alias("corr"),
    )


CORR_EXACT_SQL = """
WITH stats AS (
  SELECT l_returnflag AS flag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sy,
         CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)
                  * CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sxy,
         CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)
                  * CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxx,
         CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)
                  * CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT flag, n, sx, sy, sxy, sxx, syy,
       FLOOR((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             * 1000000.0) / 1000000.0 AS corr
FROM stats
"""


def ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: users split into variants by a deterministic
    hash of their id (here parity — in production the md5-bucket of
    `sample_hash`), the experiment unit is the active user-DAY (daily
    activation; per-user "ever purchased" saturates at 1 on a dense
    stream), and the readout is conversion-rate lift plus the pooled
    two-proportion z-score. One dedup aggregate to (user, day,
    converted) — the only pass over raw events — then a 2-row aggregate and a fixed-shape
    double expression over exact integer counts (rates, lift, z are all
    derived from 4 ints, so the result is bit-stable cross-engine). The
    analytics shape every growth team runs daily; at 100 TB the per-user
    dedup is the same shuffle as any user-level rollup, and everything
    after is constant-size."""
    e = table(spark, sf_dir, "events")
    # experiment unit = active user-day (daily activation), variant = the
    # deterministic user split; per-user conversion would saturate at 1
    per_unit = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    ).select((F.col("user_id") % 2).alias("variant"), "conv")
    counts = per_unit.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv").alias("n_conv"),
    )
    a = counts.filter(F.col("variant") == 0).select(
        F.col("n_users").alias("n0"), F.col("n_conv").alias("c0")
    )
    b = counts.filter(F.col("variant") == 1).select(
        F.col("n_users").alias("n1"), F.col("n_conv").alias("c1")
    )
    row = a.crossJoin(b)
    from ..functions.numeric import ftrunc

    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = (p1 - p0) / F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    return row.select(
        "n0", "c0", "n1", "c1",
        ftrunc(p0, 6).alias("rate0"),
        ftrunc(p1, 6).alias("rate1"),
        ftrunc(p1 - p0, 6).alias("lift"),
        ftrunc(z, 4).alias("z_score"),
    )


AB_TEST_LIFT_SQL = """
WITH per_unit AS (
  SELECT user_id % 2 AS variant,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
counts AS (
  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(conv) AS BIGINT) AS n_conv
  FROM per_unit GROUP BY variant
),
row_ AS (
  SELECT a.n_users AS n0, a.n_conv AS c0, b.n_users AS n1, b.n_conv AS c1
  FROM (SELECT * FROM counts WHERE variant = 0) a
  CROSS JOIN (SELECT * FROM counts WHERE variant = 1) b
)
SELECT n0, c0, n1, c1,
       FLOOR(CAST(c0 AS DOUBLE) / n0 * 1000000.0) / 1000000.0 AS rate0,
       FLOOR(CAST(c1 AS DOUBLE) / n1 * 1000000.0) / 1000000.0 AS rate1,
       FLOOR((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             * 1000000.0) / 1000000.0 AS lift,
       FLOOR((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1))
             * 10000.0) / 10000.0 AS z_score
FROM row_
"""


def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — the join
    semantics master-data reconciliation needs when the key itself can be
    missing on both sides (a plain `=` silently drops every NULL row —
    the classic lost-rows bug). Nullable keys are derived
    deterministically (every 7th nation key on one side, every 5th on
    the other), the join uses `eqNullSafe`, and the NULL×NULL block
    matches. Still a hash-partitionable equi-join at scale — Spark
    hashes the null bucket like any value — but note the null group is a
    SKEW KEY by construction (all nulls co-locate); a high-null-rate key
    wants the salting lever before this join."""
    n = table(spark, sf_dir, "nation")
    left = n.select(
        F.when(F.col("n_nationkey") % 7 == 0, None)
        .otherwise(F.col("n_nationkey"))
        .alias("lk"),
        F.col("n_name").alias("lname"),
    )
    right = n.select(
        F.when(F.col("n_nationkey") % 5 == 0, None)
        .otherwise(F.col("n_nationkey"))
        .alias("rk"),
        F.col("n_name").alias("rname"),
    )
    return (
        left.join(right, F.col("lk").eqNullSafe(F.col("rk")))
        .groupBy(F.col("lk").isNull().alias("null_key"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct("lname").alias("n_left"),
            F.count_distinct("rname").alias("n_right"),
        )
    )


NULL_SAFE_JOIN_SQL = """
WITH l AS (
  SELECT CASE WHEN n_nationkey % 7 = 0 THEN NULL ELSE n_nationkey END AS lk,
         n_name AS lname
  FROM nation
),
r AS (
  SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_nationkey END AS rk,
         n_name AS rname
  FROM nation
)
SELECT lk IS NULL AS null_key,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT lname) AS BIGINT) AS n_left,
       CAST(COUNT(DISTINCT rname) AS BIGINT) AS n_right
FROM l JOIN r ON lk IS NOT DISTINCT FROM rk
GROUP BY lk IS NULL
"""


def not_in_vs_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap, pinned as a query: against a subquery that
    contains a NULL, `NOT IN` is three-valued-logic poison (no row ever
    qualifies — the predicate is UNKNOWN for every candidate), while
    `NOT EXISTS` keeps its anti-join meaning. Both counts are computed
    through the SQL door over the same null-polluted supplier-key list;
    the correct form plans as a left-anti join (null-aware), and the
    pair (0, true-count) is the regression pin that the engine
    implements standard semantics — the corner every migration off a
    warehouse gets burned by once."""
    for t in ("customer", "orders"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(NOT_IN_VS_NOT_EXISTS_SQL)


NOT_IN_VS_NOT_EXISTS_SQL = """
WITH keys AS (
  SELECT CASE WHEN o_custkey % 11 = 0 THEN NULL ELSE o_custkey END AS k
  FROM orders
)
SELECT
  CAST((SELECT COUNT(*) FROM customer
        WHERE c_custkey NOT IN (SELECT k FROM keys)) AS BIGINT)
      AS not_in_count,
  CAST((SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM keys WHERE keys.k = c.c_custkey))
        AS BIGINT)
      AS not_exists_count
"""


def variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type — the
    open-format answer to schema-on-read JSON: `parse_json` once into a
    binary-encoded variant, then `try_variant_get` path extraction that
    is typed, null-safe on missing paths, and ~an order cheaper than
    repeated string JSON parsing because the variant is decoded once per
    row, not once per path. The shape `json_extract` serves with string
    functions, restated on the engine's typed path: per event type,
    stats over the extracted `$.k` integer. At 100 TB the win compounds:
    a variant column in parquet pushes field access down to the reader
    (shredding), where get_json_object re-parses text per expression."""
    e = table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k").isNull().cast("long")).alias("n_missing"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# Null-aware oracle: Spark's try_variant_get returns SQL NULL
# for a missing path, a present-but-JSON-null value, AND a non-castable
# value; DuckDB's json_extract returns a JSON 'null' (not SQL NULL) for the
# middle case and CAST would error on the last. TRY_CAST(json_extract_string)
# collapses all three to SQL NULL, matching Spark row-for-row even if the
# seeded invariant ("k" absent or int) ever changes.
VARIANT_EXTRACT_SQL = """
WITH ext AS (
  SELECT event_type,
         TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_missing,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MIN(k) AS INTEGER) AS min_k,
       CAST(MAX(k) AS INTEGER) AS max_k
FROM ext
GROUP BY event_type
"""


# One SQL text, two engines: Spark 4.1's WITH RECURSIVE and DuckDB's parse
# the identical statement — the strongest form of the oracle contract.
RECURSIVE_HIERARCHY_SQL = """
WITH RECURSIVE chain (start_k, k, depth) AS (
  SELECT c_custkey AS start_k, c_custkey AS k, 0 AS depth
  FROM customer WHERE c_custkey <= 500
  UNION ALL
  SELECT start_k, CAST(FLOOR(k / 2) AS BIGINT), depth + 1
  FROM chain WHERE k > 1
),
ancestry AS (
  SELECT start_k, CAST(MAX(depth) AS BIGINT) AS chain_depth,
         CAST(COUNT(*) AS BIGINT) AS n_ancestors
  FROM chain GROUP BY start_k
)
SELECT chain_depth, CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(n_ancestors) AS BIGINT) AS total_chain_rows
FROM ancestry GROUP BY chain_depth
"""


def recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.x `WITH RECURSIVE`) — the iterate-to-
    fixpoint surface the DataFrame API lacks natively (`dup_clusters`
    hand-rolls it as fixed join rounds; the SQL door now expresses it
    declaratively): every customer key walks its halving ancestor chain
    (k → ⌊k/2⌋, the implicit binary-heap hierarchy) to the root, and
    the report groups customers by chain depth. The SAME SQL text runs
    on both engines — the recursion is bounded (≤ ⌈log₂ 500⌉ = 9
    rounds), and each round is one self-union step over the frontier;
    at scale the frontier shrinks monotonically, so cost is Σ|frontier|,
    not rounds × |input| — the loop-until-fixpoint shape graph closures
    and BOM explosions need."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(RECURSIVE_HIERARCHY_SQL)


QUERIES: dict[str, QuerySpec] = {
    "variant_extract": QuerySpec(
        variant_extract,
        VARIANT_EXTRACT_SQL,
        "typed semi-structured access via Spark 4 VARIANT (parse once)",
    ),
    "recursive_hierarchy": QuerySpec(
        recursive_hierarchy,
        RECURSIVE_HIERARCHY_SQL,
        "WITH RECURSIVE ancestor-chain walk, one SQL text on both engines",
    ),
    "null_safe_join": QuerySpec(
        null_safe_join,
        NULL_SAFE_JOIN_SQL,
        "IS NOT DISTINCT FROM join semantics with a null block",
    ),
    "not_in_vs_not_exists": QuerySpec(
        not_in_vs_not_exists,
        NOT_IN_VS_NOT_EXISTS_SQL,
        "three-valued-logic NOT IN trap vs null-aware anti join",
    ),
    "corr_exact": QuerySpec(
        corr_exact,
        CORR_EXACT_SQL,
        "Pearson corr from exact int64 sufficient statistics, mergeable",
    ),
    "ab_test_lift": QuerySpec(
        ab_test_lift,
        AB_TEST_LIFT_SQL,
        "A/B conversion lift + pooled z from 4 exact counts",
    ),
    "histogram_prices": QuerySpec(
        histogram_prices,
        HISTOGRAM_PRICES_SQL,
        "fixed-width histogram, integer-cents bucketing",
    ),
    "pricing_summary": QuerySpec(pricing_summary, PRICING_SUMMARY_SQL, "flagship Q1-style report"),
    "pivot_wide": QuerySpec(pivot_wide, PIVOT_WIDE_SQL, "declared-values pivot to wide counts"),
    "unpivot_long": QuerySpec(unpivot_long, UNPIVOT_LONG_SQL, "wide→long melt via Expand"),
    "project": QuerySpec(project, PROJECT_SQL, "column projection (P1)"),
    "filter_compound": QuerySpec(filter_compound, FILTER_COMPOUND_SQL, "compound boolean filter (P3)"),
    "filter_null": QuerySpec(filter_null, FILTER_NULL_SQL, "null predicate (P4)"),
    "filter_contains": QuerySpec(filter_contains, FILTER_CONTAINS_SQL, "substring filter (P4)"),
    "filter_range": QuerySpec(filter_range, FILTER_RANGE_SQL, "range predicate (P5)"),
    "case_when_bucket": QuerySpec(case_when_bucket, CASE_WHEN_BUCKET_SQL, "CASE WHEN standardize/bucket (P6-P7)"),
    "null_fill": QuerySpec(null_fill, NULL_FILL_SQL, "na.fill (P8)"),
    "parse_timestamp": QuerySpec(parse_timestamp, PARSE_TIMESTAMP_SQL, "string→timestamp (P9)"),
    "date_parts": QuerySpec(date_parts, DATE_PARTS_SQL, "date-part extraction (P10)"),
    "topk_orderby_limit": QuerySpec(topk_orderby_limit, TOPK_SQL, "sort desc + limit (P14)"),
    "groupby_stats": QuerySpec(groupby_stats, GROUPBY_STATS_SQL, "groupBy multi-agg (A1)"),
    "count_rows": QuerySpec(count_rows, COUNT_ROWS_SQL, "global count (A2)"),
    "count_distinct": QuerySpec(count_distinct, COUNT_DISTINCT_SQL, "distinct counting (A3-A4)"),
    "conditional_sum": QuerySpec(conditional_sum, CONDITIONAL_SUM_SQL, "sum(when(...)) (A5)"),
    "join_left_stats": QuerySpec(join_left_stats, JOIN_LEFT_STATS_SQL, "left join to per-key stats (J1)"),
    "join_left_anti": QuerySpec(join_left_anti, JOIN_LEFT_ANTI_SQL, "left-anti join (J2)"),
    "anomaly_flags": QuerySpec(anomaly_flags, ANOMALY_FLAGS_SQL, "3σ + rule flags (P13)"),
    "ranking": QuerySpec(ranking, RANKING_SQL, "ranking window functions"),
    "cube_rollup": QuerySpec(cube_rollup, CUBE_ROLLUP_SQL, "rollup aggregate"),
    "grouping_sets": QuerySpec(grouping_sets, GROUPING_SETS_SQL, "explicit GROUPING SETS via the SQL door"),
    "set_ops": QuerySpec(set_ops, SET_OPS_SQL, "union/intersect/except"),
    "set_ops_all": QuerySpec(
        set_ops_all, SET_OPS_ALL_SQL, "bag-semantics INTERSECT ALL / EXCEPT ALL"
    ),
    "json_extract": QuerySpec(json_extract, JSON_EXTRACT_SQL, "JSON field extraction"),
    "string_funcs": QuerySpec(string_funcs, STRING_FUNCS_SQL, "string-function surface (§2.9 gap)"),
    "date_arithmetic": QuerySpec(date_arithmetic, DATE_ARITHMETIC_SQL, "date/interval arithmetic surface"),
    "array_funcs": QuerySpec(array_funcs, ARRAY_FUNCS_SQL, "higher-order array-function surface"),
}
