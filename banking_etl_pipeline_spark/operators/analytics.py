"""Composite analytic queries: multi-join star-schema reports.

The reference's join surface is a single left equi-join
(`transaction_transform.py:157`); its config maps entities onto a
dim/fact star (`config/config.json:28,45,73`). These queries exercise the
full star shape on the test tables — the dim⋈fact⋈dim chains, semi-joins,
and top-k reports any warehouse consumer of that star runs — with the plans
a 100 TB deployment needs:

- dimension tables (region/nation/customer/supplier) are BROADCAST — the
  fact side (lineitem/orders) never shuffles for a dim join;
- fact⋈fact (orders⋈lineitem) shuffles on the join key once, and AQE picks
  sort-merge vs shuffled-hash at runtime;
- aggregates follow the fixed-point cents policy (functions/numeric.py) so
  the DuckDB oracle matches bit-for-bit;
- top-k reports sort AFTER aggregation (tiny input) with deterministic
  tie-break keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.numeric import cents, ftrunc, sql_ftrunc
from ..session import session_persist
from ..spec import QuerySpec

# revenue = sum(extendedprice * (1 - discount)) in exact fixed point:
# cents(price) * (100 - cents(discount)) is a long at scale 10^4
_REV_SQL = (
    "CAST(SUM(CAST(FLOOR((l_extendedprice) * 100.0 + 0.5) AS BIGINT) * "
    "(100 - CAST(FLOOR((l_discount) * 100.0 + 0.5) AS BIGINT))) AS DOUBLE) "
    "/ 10000.0"
)


def _revenue() -> Column:
    pc = cents(F.col("l_extendedprice"))
    dc = F.lit(100) - cents(F.col("l_discount"))
    return (F.sum(pc * dc).cast("double") / F.lit(1.0e4))


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: unshipped-revenue per order for one market segment.

    customer is broadcast into orders (dim⋈fact), the surviving orders
    broadcast into lineitem — the fact table never shuffles before the
    aggregate. Filters sit on base tables so parquet gets them pushed down.
    """
    cutoff = F.lit("1998-06-15").cast("timestamp")
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(F.broadcast(orders.join(F.broadcast(cust),
                                        orders.o_custkey == cust.c_custkey)),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_revenue().alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


SHIPPING_PRIORITY_SQL = f"""
SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority, {_REV_SQL} AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped: revenue per nation where customer and supplier share
    the nation, one region, one year. The region→nation→(customer, supplier)
    dim chain collapses to broadcasts; lineitem⋈orders is the only
    fact-side shuffle."""
    region = (table(spark, sf_dir, "region")
              .filter(F.col("r_name") == "ASIA").select("r_regionkey"))
    nation = table(spark, sf_dir, "nation").join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp),
              (li.l_suppkey == supp.s_suppkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(_revenue().alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


LOCAL_SUPPLIER_VOLUME_SQL = f"""
SELECT n.n_name, {_REV_SQL} AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
"""


def order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped: orders (one quarter) having at least one line shipped
    60+ days after order date, counted per priority. The existence test is a
    LEFT SEMI join — the probe side keeps at most one match per order, no
    row explosion (SURVEY.md §2.4: semi comes free from the join surface)."""
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.date_add(orders.o_orderdate, 60)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORDER_PRIORITY_SEMI_SQL = """
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


def returned_revenue_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped: top 20 customers by revenue lost to returns in one
    quarter; customer + nation broadcast onto the fact aggregate."""
    orders = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_revenue().alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


RETURNED_REVENUE_TOPN_SQL = f"""
SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name, {_REV_SQL} AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-04-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90) per order priority —
    the distribution-shape report a warehouse runs next to its means. Exact
    `percentile` (sort-based within the aggregate) rather than
    `approx_percentile`, discretized to cents so both engines' linear
    interpolation hashes identically."""
    o = table(spark, sf_dir, "orders")
    p50 = F.percentile("o_totalprice", F.lit(0.5))
    p90 = F.percentile("o_totalprice", F.lit(0.9))
    r2 = lambda c: F.floor(c * 100.0 + 0.5) / 100.0  # noqa: E731
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r2(p50).alias("median_price"),
            r2(p90).alias("p90_price"),
        )
        .orderBy("o_orderpriority")
    )


PERCENTILES_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       FLOOR(quantile_cont(o_totalprice, 0.5) * 100.0 + 0.5) / 100.0
           AS median_price,
       FLOOR(quantile_cont(o_totalprice, 0.9) * 100.0 + 0.5) / 100.0
           AS p90_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped: revenue delta from dropping a discount band for one
    year. The cheapest plan in the engine — a single scan with BOTH filters
    and the 4-column projection pushed into the parquet reader
    (`.explain` shows PushedFilters on l_shipdate/l_quantity), then a
    partial+final agg with no shuffle of row data at all. At 100 TB this is
    IO-bound by design: no join, no wide shuffle, min/max row-group pruning
    on a date-sorted layout skips most of the year's files."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_quantity") < 24)
        & cents(F.col("l_discount")).between(5, 7)
    )
    disc_rev = F.sum(
        cents(F.col("l_extendedprice")) * cents(F.col("l_discount"))
    )
    return li.agg(
        (disc_rev.cast("double") / F.lit(1.0e4)).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


FORECAST_REVENUE_SQL = """
SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) *
                CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 10000.0 AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_quantity < 24
  AND CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT) BETWEEN 5 AND 7
"""


def promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped: percentage of one month's revenue coming from
    ECONOMY-type parts. part is the only dimension — broadcast, so the
    month of lineitem never shuffles; the conditional-share pattern is a
    single agg with two fixed-point sums (numerator/denominator both exact
    longs, one double division at the end → bit-stable vs the oracle)."""
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = cents(F.col("l_extendedprice")) * (
        F.lit(100) - cents(F.col("l_discount"))
    )
    promo = F.sum(
        F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0) * promo.cast("double") / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


PROMO_EFFECT_SQL = """
SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type = 'ECONOMY'
                 THEN CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) *
                      (100 - CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT))
                 ELSE 0 END) AS DOUBLE)
     / CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) *
                (100 - CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT)))
            AS DOUBLE) AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
"""


def parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped: distinct suppliers able to ship selected part
    shapes, excluding under-capitalized suppliers (acctbal < 1000 — the
    snapshot has no supplier comments, so the balance stands in for Q16's
    complaints filter). Two broadcasts: the filtered part dim into the scan,
    and the exclusion list as a LEFT ANTI join (SURVEY.md §2.4-J2 — NOT IN
    on a non-null key is exactly an anti-join, no null trap). The only
    shuffle is the final distinct-count by (brand, type, size)."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#13")
            & F.col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    excluded = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1000.0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(excluded), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


PARTS_SUPPLIER_RELATIONSHIP_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#13'
  AND p.p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
  AND NOT EXISTS (
    SELECT 1 FROM supplier s
    WHERE s.s_suppkey = l.l_suppkey AND s.s_acctbal < 1000.0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


def large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped: customers whose orders exceed 250 total units.
    The HAVING subquery and the report reuse ONE aggregate — lineitem is
    scanned and shuffled once (groupBy l_orderkey), the >250 filter runs on
    the aggregate (tiny), and orders/customer attach by broadcast of the
    survivors' keys. Q18's classic trap — aggregating lineitem twice — is
    structurally avoided."""
    big = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250.0)
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


LARGE_VOLUME_CUSTOMER_SQL = """
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       b.total_qty
FROM (
  SELECT l_orderkey, SUM(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250.0
) b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped: yearly revenue forgone on small-quantity orders of
    one brand — lineitems below 20% of their part's average quantity.

    The correlated per-part AVG subquery decorrelates into: filter part by
    brand (broadcast into lineitem), aggregate the joined subset per part,
    broadcast the tiny per-part averages back onto the same subset. The
    big table is scanned once; both joins build on broadcast sides; the
    correlated comparison is a plain column predicate after the second
    join."""
    parts = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    j = li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
    avgs = j.groupBy("l_partkey").agg(
        (F.sum("l_quantity").cast("double") / F.count(F.lit(1))).alias(
            "avg_qty"
        )
    )
    return (
        j.join(F.broadcast(avgs), "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (
                F.sum(cents(F.col("l_extendedprice"))).cast("double")
                / F.lit(100.0)
                / F.lit(7.0)
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SMALL_QUANTITY_REVENUE_SQL = """
WITH j AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23'
),
a AS (
  SELECT l_partkey,
         CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM j GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0 / 7.0 AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM j JOIN a USING (l_partkey)
WHERE l_quantity < 0.2 * avg_qty
"""


def idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped: untapped customers — above-average balance but no
    order since 2000 — counted per market segment. The global-average
    scalar subquery becomes a 1-row broadcast cross join (no collect to the
    driver); the NOT EXISTS becomes a LEFT ANTI join whose date filter is
    pushed into the orders scan. The threshold compares in exact cents
    (long sum / count) so the boundary is bit-identical to the oracle."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        cents(F.col("c_acctbal")).alias("bal_c"),
    )
    avg_pos = cust.filter(F.col("bal_c") > 0).agg(
        (F.sum("bal_c").cast("double") / F.count(F.lit(1))).alias("avg_bal_c")
    )
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("bal_c").cast("double") > F.col("avg_bal_c"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            (F.sum("bal_c").cast("double") / F.lit(100.0)).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


IDLE_CUSTOMER_BALANCE_SQL = """
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_c
  FROM customer
),
a AS (
  SELECT CAST(SUM(bal_c) AS DOUBLE) / COUNT(*) AS avg_bal_c
  FROM c WHERE bal_c > 0
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(SUM(bal_c) AS DOUBLE) / 100.0 AS total_bal
FROM c, a
WHERE CAST(bal_c AS DOUBLE) > avg_bal_c
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped: bilateral trade volume between two nations per ship
    year. nation is broadcast twice (once via supplier, once via customer);
    the disjunctive nation-pair predicate is applied AFTER both dim joins,
    on two already-resolved name columns — the only shuffle is
    lineitem⋈orders on the order key."""
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation),
              F.col("s_nationkey") == nation.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(nation),
              F.col("c_nationkey") == nation.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate",
                "l_extendedprice", "l_discount")
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        ((F.col("supp_nation") == "NATION_1")
         & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2")
           & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(_revenue().alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


VOLUME_SHIPPING_SQL = f"""
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(YEAR(l.l_shipdate) AS INTEGER) AS l_year,
       {_REV_SQL} AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY sn.n_name, cn.n_name, YEAR(l.l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
"""


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped: NATION_3's share of PROMO-part revenue sold into
    ASIA, per order year. Both the numerator (conditional sum) and the
    denominator run in one aggregate over one scan; the share divides two
    exact fixed-point longs so the double result is bit-stable against the
    oracle."""
    region = (table(spark, sf_dir, "region")
              .filter(F.col("r_name") == "ASIA").select("r_regionkey"))
    nation = table(spark, sf_dir, "nation")
    cust = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(
            nation.join(F.broadcast(region),
                        nation.n_regionkey == region.r_regionkey)
            .select("n_nationkey")),
            F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part = (table(spark, sf_dir, "part")
            .filter(F.col("p_type") == "PROMO").select("p_partkey"))
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount",
    )
    rev_fp = (cents(F.col("l_extendedprice"))
              * (F.lit(100) - cents(F.col("l_discount"))))
    nat_fp = F.when(F.col("supp_nation") == "NATION_3", rev_fp).otherwise(
        F.lit(0).cast("long")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(nat_fp).cast("double")
             / F.sum(rev_fp).cast("double")).alias("mkt_share"),
            (F.sum(rev_fp).cast("double") / F.lit(1.0e4)).alias("total_rev"),
        )
        .orderBy("o_year")
    )


_REV_FP_SQL = (
    "CAST(FLOOR((l_extendedprice) * 100.0 + 0.5) AS BIGINT) * "
    "(100 - CAST(FLOOR((l_discount) * 100.0 + 0.5) AS BIGINT))"
)

MARKET_SHARE_SQL = f"""
SELECT CAST(YEAR(o.o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CASE WHEN sn.n_name = 'NATION_3' THEN {_REV_FP_SQL}
                     ELSE 0 END) AS DOUBLE)
         / CAST(SUM({_REV_FP_SQL}) AS DOUBLE) AS mkt_share,
       CAST(SUM({_REV_FP_SQL}) AS DOUBLE) / 10000.0 AS total_rev
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN region r ON cn.n_regionkey = r.r_regionkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE p.p_type = 'PROMO' AND r.r_name = 'ASIA'
GROUP BY YEAR(o.o_orderdate)
ORDER BY o_year
"""


def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped: profit per supplier nation per year for parts whose
    name contains 'widget'. No partsupp table exists in the testdata, so
    unit cost is modeled as 10% of p_retailprice; profit stays in exact
    fixed point (both terms scaled to 1e-4 dollars as longs) until the
    final division. The `contains` filter prunes part BEFORE broadcast."""
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey", cents(F.col("p_retailprice")).alias("retail_c"))
    )
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation),
              F.col("s_nationkey") == nation.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    rev_fp = (cents(F.col("l_extendedprice"))
              * (F.lit(100) - cents(F.col("l_discount"))))
    cost_fp = (F.col("retail_c") * F.col("l_quantity").cast("long")
               * F.lit(10))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("supp_nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(rev_fp - cost_fp).cast("double") / F.lit(1.0e4))
            .alias("sum_profit")
        )
        .orderBy("supp_nation", F.desc("o_year"))
    )


PRODUCT_PROFIT_SQL = f"""
SELECT n.n_name AS supp_nation,
       CAST(YEAR(o.o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM({_REV_FP_SQL}
                - CAST(FLOOR(p.p_retailprice * 100.0 + 0.5) AS BIGINT)
                  * CAST(l.l_quantity AS BIGINT) * 10) AS DOUBLE)
         / 10000.0 AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, YEAR(o.o_orderdate)
ORDER BY supp_nation, o_year DESC
"""


def priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped: per return-flag counts of high- vs low-priority
    order lines shipped in 1997 (testdata has no l_shipmode, so the
    return flag plays the grouping role). One fact⋈fact join on the order
    key, conditional counts in a single aggregate — the canonical
    'shipping-quality report' plan."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_returnflag")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


PRIORITY_LINE_COUNTS_SQL = """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped: histogram of customers by how many non-LOW-priority
    orders they placed, including zero-order customers. The LEFT OUTER join
    keeps every customer; COUNT(o_orderkey) (not COUNT(*)) makes the
    no-match rows count 0. Two cascaded aggregations — the second one runs
    over at most |distinct counts| rows, so it's effectively free."""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


CUSTOMER_ORDER_DISTRIBUTION_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey
) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped: the supplier(s) with maximum revenue in one
    quarter. The per-supplier aggregate is tiny (|supplier| rows), so the
    scalar MAX over it and the final equality join are broadcast —
    lineitem is scanned exactly once."""
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    rev_fp = (cents(F.col("l_extendedprice"))
              * (F.lit(100) - cents(F.col("l_discount"))))
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(rev_fp).alias("rev_fp")
    )
    mx = per_supp.agg(F.max("rev_fp").alias("max_fp"))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.join(F.broadcast(mx),
                      per_supp.rev_fp == F.col("max_fp"))
        .join(F.broadcast(supp), per_supp.l_suppkey == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_fp").cast("double") / F.lit(1.0e4))
            .alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


TOP_SUPPLIER_REVENUE_SQL = f"""
WITH r AS (
  SELECT l_suppkey, SUM({_REV_FP_SQL}) AS rev_fp
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(r.rev_fp AS DOUBLE) / 10000.0 AS total_revenue
FROM r
JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.rev_fp = (SELECT MAX(rev_fp) FROM r)
ORDER BY s.s_suppkey
"""


def disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped: revenue over three OR'd brand/size/quantity
    blocks. The disjunction references both sides of the part⋈lineitem
    join, so it must evaluate post-join — but the per-side implications
    (size >= 1, quantity bounds, brand membership) are pushed into the
    scans as residual filters by Catalyst, shrinking the join inputs."""
    part = table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    blocks = (
        ((F.col("p_brand") == "Brand#12")
         & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23")
           & F.col("p_size").between(1, 20)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34")
           & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(blocks)
        .agg(
            _revenue().alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


DISJUNCTIVE_PART_REVENUE_SQL = f"""
SELECT {_REV_SQL} AS revenue, CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 20
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 20 AND 30)
"""


def exclusive_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped: suppliers in one nation who were the SOLE supplier
    with a returned line on a finished multi-supplier order. The
    EXISTS(other supplier on the order) becomes a LEFT SEMI self-join and
    the NOT EXISTS(other supplier also returned) a LEFT ANTI self-join —
    both on the order key with a supplier-inequality residual, so the
    self-joined fact shuffles once on l_orderkey and both passes reuse
    that exchange."""
    nation = (table(spark, sf_dir, "nation")
              .filter(F.col("n_name") == "NATION_5")
              .select("n_nationkey"))
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation),
              F.col("s_nationkey") == nation.n_nationkey)
        .select("s_suppkey", "s_name")
    )
    orders = (table(spark, sf_dir, "orders")
              .filter(F.col("o_orderstatus") == "F")
              .select("o_orderkey"))
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == orders.o_orderkey, "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("l_orderkey", "l_suppkey", "s_name")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
    )
    return (
        l1.join(
            l2,
            (l1.l_orderkey == l2.o2_orderkey)
            & (l1.l_suppkey != l2.o2_suppkey),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == l3.o3_orderkey)
            & (F.col("l_suppkey") != l3.o3_suppkey),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


EXCLUSIVE_RETURN_SUPPLIER_SQL = """
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lineitem l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_5'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM orders o WHERE o.o_orderkey = l1.l_orderkey
      AND o.o_orderstatus = 'F'
  )
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Derived part-supplier relation (testdata has no partsupp table): one row
# per (partkey, suppkey) seen in lineitem, with total quantity as available
# stock and the minimum observed unit price as supply cost — the relation
# TPC-H Q2/Q11/Q20 run over, reconstructed from the fact table. The unit
# price is rounded to exact cents so every downstream product/sum stays in
# integer arithmetic (hash-stable across engines).
# ---------------------------------------------------------------------------


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    unit_cents = F.min(
        cents(F.col("l_extendedprice") / F.col("l_quantity"))
    ).alias("cost_cents")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.sum("l_quantity").cast("long").alias("ps_availqty"),
        unit_cents,
    )


_PARTSUPP_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         CAST(SUM(l_quantity) AS BIGINT) AS ps_availqty,
         MIN(CAST(FLOOR((l_extendedprice / l_quantity) * 100.0 + 0.5) AS BIGINT))
             AS cost_cents
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
"""


def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-shaped min-cost supplier per part within a region.

    The correlated MIN subquery decorrelates to ONE min() window over the
    partkey partition + an equality filter (the former
    per-part groupBy-min joined back on equality evaluated the
    region-filtered relation twice and its two partkey exchanges were not
    canonically identical, so AQE could not reuse them; the window form is
    one exchange, one evaluation, and keeps ALL tying min-cost suppliers
    exactly like the join-back did). Dims broadcast; cost equality
    compares exact integer cents, so the argmin is deterministic.
    """
    ps = _partsupp(spark, sf_dir)
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = table(spark, sf_dir, "part").filter(F.col("p_size") < 10)

    regional = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
    )
    return (
        regional.withColumn(
            "best_cents",
            F.min("cost_cents").over(Window.partitionBy("ps_partkey")),
        )
        .filter(F.col("cost_cents") == F.col("best_cents"))
        .join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("n_name").alias("nation"),
            (F.col("cost_cents").cast("double") / F.lit(100.0)).alias(
                "supply_cost"
            ),
        )
        .orderBy("p_partkey", "s_name")
        .limit(100)
    )


MIN_COST_SUPPLIER_SQL = f"""
WITH ps AS ({_PARTSUPP_SQL}),
regional AS (
  SELECT ps.*, s.s_name, n.n_name
  FROM ps
  JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA'
),
best AS (
  SELECT ps_partkey, MIN(cost_cents) AS best_cents
  FROM regional GROUP BY ps_partkey
)
SELECT p.p_partkey, p.p_name, regional.s_name,
       regional.n_name AS nation,
       CAST(cost_cents AS DOUBLE) / 100.0 AS supply_cost
FROM regional
JOIN best ON regional.ps_partkey = best.ps_partkey
         AND regional.cost_cents = best.best_cents
JOIN part p ON regional.ps_partkey = p.p_partkey
WHERE p.p_size < 10
ORDER BY p.p_partkey, regional.s_name
LIMIT 100
"""


IMPORTANT_STOCK_FRACTION = 0.0005


def important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11-shaped important-stock report: parts whose stock value (availqty
    × supply cost, exact integer cents) exceeds a fraction of the GLOBAL
    stock value. The global scalar subquery is a 1-row aggregate broadcast
    into a cross join — no driver collect, no second scan of the grouped
    data (the per-part aggregate is computed once and reused for both
    sides via the cross join)."""
    ps = _partsupp(spark, sf_dir)
    per_part = ps.groupBy("ps_partkey").agg(
        F.sum(F.col("ps_availqty") * F.col("cost_cents")).alias("value_cents")
    )
    total = per_part.agg(
        F.sum("value_cents").alias("total_cents")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_cents").cast("double")
            > F.col("total_cents").cast("double") * IMPORTANT_STOCK_FRACTION
        )
        .select(
            "ps_partkey",
            (F.col("value_cents").cast("double") / F.lit(100.0)).alias(
                "stock_value"
            ),
        )
        .orderBy(F.desc("stock_value"), "ps_partkey")
    )


IMPORTANT_STOCK_SQL = f"""
WITH ps AS ({_PARTSUPP_SQL}),
per_part AS (
  SELECT ps_partkey,
         CAST(SUM(ps_availqty * cost_cents) AS BIGINT) AS value_cents
  FROM ps GROUP BY ps_partkey
)
SELECT ps_partkey,
       CAST(value_cents AS DOUBLE) / 100.0 AS stock_value
FROM per_part
WHERE CAST(value_cents AS DOUBLE)
      > (SELECT CAST(SUM(value_cents) AS DOUBLE) FROM per_part)
        * {IMPORTANT_STOCK_FRACTION}
ORDER BY stock_value DESC, ps_partkey
"""


def excess_stock_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20-shaped excess-stock suppliers: suppliers in a nation whose
    available stock of some small part exceeds 2× what they shipped of it
    in 1995 — a semi-join chain (parts → part-supplier threshold → supplier
    list), never a fact-side aggregate per supplier row. The shipped-qty
    correlated subquery decorrelates to a groupBy on the same
    (partkey, suppkey) shuffle key as the stock relation."""
    ps = _partsupp(spark, sf_dir)
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_size") < 15)
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")

    shipped = (
        li.filter(F.year("l_shipdate") == 1995)
        .groupBy(
            F.col("l_partkey").alias("sh_partkey"),
            F.col("l_suppkey").alias("sh_suppkey"),
        )
        .agg(F.sum("l_quantity").cast("long").alias("shipped_qty"))
    )
    excess = (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(
            shipped,
            (ps.ps_partkey == shipped.sh_partkey)
            & (ps.ps_suppkey == shipped.sh_suppkey),
        )
        .filter(F.col("ps_availqty") > F.lit(2) * F.col("shipped_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        s.join(excess, s.s_suppkey == excess.ps_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


EXCESS_STOCK_SUPPLIER_SQL = f"""
WITH ps AS ({_PARTSUPP_SQL})
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT ps.ps_suppkey
  FROM ps
  JOIN part p ON ps.ps_partkey = p.p_partkey AND p.p_size < 15
  JOIN (
    SELECT l_partkey AS sh_partkey, l_suppkey AS sh_suppkey,
           CAST(SUM(l_quantity) AS BIGINT) AS shipped_qty
    FROM lineitem WHERE year(l_shipdate) = 1995
    GROUP BY l_partkey, l_suppkey
  ) sh ON ps.ps_partkey = sh.sh_partkey AND ps.ps_suppkey = sh.sh_suppkey
  WHERE ps.ps_availqty > 2 * sh.shipped_qty
)
AND s.s_nationkey IN (
  SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3'
)
ORDER BY s.s_suppkey
"""


RANK_SCALE = 1_000_000  # initial integer mass per customer
RANK_TOP_K = 25


def bipartite_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two power-iteration steps of a PageRank-style random walk over the
    customer↔supplier bipartite graph (edge: customer ordered from
    supplier) — the graph-centrality shape behind influence ranking and
    importance propagation, next to `dup_clusters`' label propagation as
    the second iterative-graph representative. Each step is ONE equi-join
    (mass → incident edges) + ONE group-sum (mass arriving per node):
    mass flows customer→supplier then supplier→customer, divided equally
    over a node's edges by integer FLOOR division (remainders are
    dropped, documented — this keeps every score an exact int64, so the
    fixpoint loop is deterministic under any partitioning and the oracle
    is exact; float PageRank would make group-sum order observable).
    Degrees are one aggregate over the edge list; at 100 TB each
    iteration is two shuffles on node id over an edge list that never
    grows — loop to convergence by re-running the same two-shuffle step.
    Output: top-25 customers by received 2-hop mass.

    Customer degree rides a count() window on the edge list (so the edge
    subtree with its degree column appears ONCE and its exchange is
    runtime-reused by both consumers) instead of a separate cdeg aggregate
    joined back three times; supplier degree needs
    no join at all — it IS the group count of the step-1 aggregate, and
    the step-2 per-edge share `s_mass div sd` is constant per supplier, so
    it is computed once per supplier and attached with one equi-join
    rather than per edge after two joins. 5 evaluations of the edge
    subtree → 2 (exchange-reused at runtime); 12 static exchanges → 7."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    edges = (
        o.select("o_orderkey", "o_custkey")
        .join(li.select("l_orderkey", "l_suppkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    e1 = edges.withColumn(
        "cd", F.count(F.lit(1)).over(Window.partitionBy("c"))
    )
    # step 1: every customer splits RANK_SCALE across its suppliers.
    # Exact integer `div`, matching the oracle's `//` bit-for-bit: the
    # double form floor(x / y) drifts once the numerator outgrows ~2^45
    # (div error > 1/denominator), the same hazard as the HLL
    # register index.
    # sd (supplier degree) is the group count of this same aggregate.
    supplier_mass = (
        e1.groupBy("s")
        .agg(F.expr(f"sum({RANK_SCALE} div cd)").alias("s_mass"),
             F.count(F.lit(1)).alias("sd"))
    )
    # step 2: each supplier splits its received mass back across its
    # customers — the per-edge share depends only on s, so derive it per
    # supplier and sum it per customer after one equi-join
    share2 = supplier_mass.select("s", F.expr("s_mass div sd").alias("share"))
    return (
        e1.join(share2, "s")
        .groupBy("c")
        .agg(F.sum("share").alias("rank_mass"), F.first("cd").alias("cd"))
        .orderBy(F.col("rank_mass").desc(), F.col("c").asc())
        .limit(RANK_TOP_K)
        .select(F.col("c").alias("custkey"), "rank_mass", F.col("cd").alias("degree"))
    )


BIPARTITE_RANK_SQL = f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
cdeg AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cd FROM edges GROUP BY c),
sdeg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS sd FROM edges GROUP BY s),
supplier_mass AS (
  SELECT e.s, CAST(SUM({RANK_SCALE} // cd) AS BIGINT) AS s_mass
  FROM edges e JOIN cdeg ON e.c = cdeg.c
  GROUP BY e.s
),
customer_mass AS (
  SELECT e.c, CAST(SUM(s_mass // sd) AS BIGINT) AS rank_mass
  FROM edges e JOIN sdeg ON e.s = sdeg.s
  JOIN supplier_mass m ON e.s = m.s
  GROUP BY e.c
)
SELECT cm.c AS custkey, cm.rank_mass, cdeg.cd AS degree
FROM customer_mass cm JOIN cdeg ON cm.c = cdeg.c
ORDER BY cm.rank_mass DESC, cm.c ASC
LIMIT {RANK_TOP_K}
"""


BASKET_MAX_LINES = 10
BASKET_TOP_K = 20


def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part PAIRS ordered together —
    the support-counting inner loop of association-rule mining. The pair
    generation is a self equi-join of lineitem on the order key with
    p1 < p2 (each unordered pair once); the quadratic-in-basket-size
    blowup is capped by filtering to baskets of ≤ 10 lines FIRST (one
    aggregate + semi join — the standard guard: a single 10k-line basket
    would otherwise emit 50M pairs), so pair volume is ≤ C(10,2)/basket.
    Count + TakeOrdered top-20 finishes. At 100 TB: the self-join
    shuffles on orderkey (baskets co-locate), the cap bounds memory per
    key, and the count is map-side combined — the same plan FP-growth
    preprocessing uses.

    The basket-size cap is a count() window on the orderkey partition
    instead of a separate size aggregate + semi join-back — the window's
    orderkey exchange is exactly the partitioning the self-join needs, so
    the cap costs no extra shuffle and the deduped
    line list is evaluated once instead of three times."""
    li = table(spark, sf_dir, "lineitem")
    lines = li.select("l_orderkey", "l_partkey").distinct()
    b = (
        lines.withColumn(
            "nb", F.count(F.lit(1)).over(Window.partitionBy("l_orderkey"))
        )
        .filter(F.col("nb") <= BASKET_MAX_LINES)
        .select("l_orderkey", "l_partkey")
    )
    left = b.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p1"))
    right = b.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p2"))
    pairs = left.join(right, "k").filter(F.col("p1") < F.col("p2"))
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.col("support").desc(), F.col("p1").asc(), F.col("p2").asc())
        .limit(BASKET_TOP_K)
    )


BASKET_PAIRS_SQL = f"""
WITH lines AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
small AS (
  SELECT l_orderkey FROM lines GROUP BY l_orderkey
  HAVING COUNT(*) <= {BASKET_MAX_LINES}
),
b AS (
  SELECT l.l_orderkey, l.l_partkey FROM lines l
  WHERE l.l_orderkey IN (SELECT l_orderkey FROM small)
)
SELECT a.l_partkey AS p1, c.l_partkey AS p2,
       CAST(COUNT(*) AS BIGINT) AS support
FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
GROUP BY a.l_partkey, c.l_partkey
ORDER BY support DESC, p1 ASC, p2 ASC
LIMIT {BASKET_TOP_K}
"""


def monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The finance reporting staple: monthly revenue with month-over-month
    delta, same-month-last-year comparison (lag 12 on the month sequence),
    and trailing-3-month total — all three windows over the MONTHLY ROLLUP
    (≤ months rows forever), so the only raw pass is the one aggregate.
    The calendar trap is handled by keying the lag on a dense month
    NUMBER (year·12+month) rather than row position: a month with zero
    orders would silently shift a positional lag; here missing months
    surface as null comparisons instead of wrong ones (the rollup is
    dense for this data, but the key choice is the defensive pattern).
    Deltas are exact integer cents; the single tiny window sort is the
    serving epilogue."""
    o = table(spark, sf_dir, "orders")
    mn = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("mn")
    monthly = (
        o.select(mn, cents(F.col("o_totalprice")).alias("price_c"))
        .groupBy("mn")
        .agg(
            F.sum("price_c").alias("revenue_c"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = Window.orderBy("mn")
    prev = F.lag("revenue_c", 1).over(w)
    # value only when the previous calendar month is truly adjacent
    prev_mn = F.lag("mn", 1).over(w)
    yoy_src = F.lag("revenue_c", 12).over(w)
    yoy_mn = F.lag("mn", 12).over(w)
    t3 = F.sum("revenue_c").over(w.rowsBetween(-2, 0))
    return monthly.select(
        F.floor(F.col("mn") / 12).cast("int").alias("year"),
        (F.col("mn") % 12 + 1).alias("month"),
        "revenue_c",
        "n_orders",
        F.when(prev_mn == F.col("mn") - 1, F.col("revenue_c") - prev).alias(
            "mom_delta_c"
        ),
        F.when(yoy_mn == F.col("mn") - 12, F.col("revenue_c") - yoy_src).alias(
            "yoy_delta_c"
        ),
        t3.alias("trailing_3m_c"),
    )


MONTHLY_TREND_SQL = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS mn,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_c,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
)
SELECT CAST(FLOOR(mn / 12) AS INTEGER) AS year,
       CAST(mn % 12 + 1 AS BIGINT) AS month,
       revenue_c, n_orders,
       CASE WHEN LAG(mn) OVER w = mn - 1
            THEN revenue_c - LAG(revenue_c) OVER w END AS mom_delta_c,
       CASE WHEN LAG(mn, 12) OVER w = mn - 12
            THEN revenue_c - LAG(revenue_c, 12) OVER w END AS yoy_delta_c,
       CAST(SUM(revenue_c) OVER (ORDER BY mn
                                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS trailing_3m_c
FROM monthly
WINDOW w AS (ORDER BY mn)
"""


RFM_AS_OF = "2024-02-01"  # fixed analysis date (events end 2024-01-30)
# above this user count the quintile windows switch to the distributed
# exact ntile (functions/ranks.py); below it a single-task window over the
# per-user rollup is cheaper than three extra shuffle rounds
RFM_DISTRIBUTED_MIN = 1_000_000


def rfm_features(spark: SparkSession, sf_dir: str,
                 force_distributed: bool | None = None) -> DataFrame:
    """RFM scoring — the feature-engineering staple of customer analytics
    (recency/frequency/monetary quintiles feeding churn models and
    campaign segmentation). One pass over events builds the three
    per-user metrics (purchase events only: days-since-last vs a FIXED
    as-of date, distinct active purchase days, cents sum); three ntile(5)
    windows assign quintile scores — each ordered with the user_id
    tie-break, because ntile's bucket boundaries are only deterministic
    under a TOTAL order (the canonical nondeterminism bug in every
    hand-rolled RFM job). Segment = concatenated digits. The quintiles
    run over the PER-USER rollup, size-dispatched (the ewma_smoothing
    discipline, dual-path-tested): below RFM_DISTRIBUTED_MIN users a
    single-task global window is cheapest; above it — 10⁸-10⁹ users at
    100 TB, where one task would choke — each score comes from the
    DISTRIBUTED exact ntile (functions/ranks.py: two-phase rank +
    integer bucket formula, bit-identical to SQL NTILE, property-tested
    against Spark's own ntile), computed independently off one persisted
    rollup and equi-joined back on user_id."""
    e = table(spark, sf_dir, "events")
    per_user = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.lit(RFM_AS_OF).cast("date"), F.max(F.col("ts").cast("date"))
            ).alias("recency_days"),
            F.count_distinct(F.col("ts").cast("date")).alias("frequency"),
            F.sum(cents(F.col("value"))).alias("monetary_c"),
        )
    )
    orders = (
        ("r_score", [F.col("recency_days").desc(), F.col("user_id")]),
        ("f_score", [F.col("frequency").asc(), F.col("user_id")]),
        ("m_score", [F.col("monetary_c").asc(), F.col("user_id")]),
    )
    from ..session import session_persist, session_scalar

    distributed = force_distributed
    if distributed is None:
        n_users = session_scalar(
            spark, f"rfm_n_users:{sf_dir}",
            lambda: per_user.count(),
        )
        distributed = n_users >= RFM_DISTRIBUTED_MIN
    if distributed:
        from ..functions.ranks import distributed_ntile

        base = session_persist(
            spark, f"rfm_per_user:{sf_dir}", lambda: per_user
        )
        scored = base
        for out, order in orders:
            scored = scored.join(
                distributed_ntile(base, order, 5, out)
                .select("user_id", out),
                "user_id",
            )
    else:
        scored = per_user.select(
            "user_id", "recency_days", "frequency", "monetary_c",
            *[
                F.ntile(5).over(Window.orderBy(*order)).alias(out)
                for out, order in orders
            ],
        )
    return scored.withColumn(
        "segment",
        F.concat_ws("", F.col("r_score"), F.col("f_score"), F.col("m_score")),
    )


RFM_FEATURES_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(DATE '{RFM_AS_OF}' - MAX(CAST(ts AS DATE)) AS INTEGER)
             AS recency_days,
         CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS frequency,
         CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS monetary_c
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
)
SELECT user_id, recency_days, frequency, monetary_c,
       CAST(NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS INTEGER)
           AS r_score,
       CAST(NTILE(5) OVER (ORDER BY frequency ASC, user_id) AS INTEGER)
           AS f_score,
       CAST(NTILE(5) OVER (ORDER BY monetary_c ASC, user_id) AS INTEGER)
           AS m_score,
       CAST(NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS VARCHAR)
         || CAST(NTILE(5) OVER (ORDER BY frequency ASC, user_id) AS VARCHAR)
         || CAST(NTILE(5) OVER (ORDER BY monetary_c ASC, user_id) AS VARCHAR)
           AS segment
FROM per_user
"""


TRI_MIN_SUPPORT = 2  # co-purchase edge threshold (sparsifies the graph)


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the part co-purchase graph —
    the clustering-structure probe (community detection / graph feature
    engineering) whose naive 3-way self-join explodes on high-degree
    hubs. The classic fix: orient every edge from its LOWER (degree, id)
    endpoint to the higher one; then each triangle {x<y<z} is counted
    exactly once as wedge (x→y, x→z) closed by y→z, and a vertex's
    out-degree — hence the wedge count — is bounded by O(√E) regardless
    of its raw degree. Two equi-joins total: wedge build on the center,
    wedge close on the (b, c) pair. Edges are the basket-capped
    co-purchase pairs at support ≥ TRI_MIN_SUPPORT (reusing
    `basket_pairs`' blowup guard). Output: one summary row — edges,
    closed wedges (= triangles), open-wedge count from the degree
    distribution, and the global clustering coefficient
    3·triangles / wedges (exact integer inputs, truncated double out)."""
    li = table(spark, sf_dir, "lineitem")
    lines = li.select("l_orderkey", "l_partkey").distinct()
    # same window-based basket cap as basket_pairs
    b = (
        lines.withColumn(
            "nb", F.count(F.lit(1)).over(Window.partitionBy("l_orderkey"))
        )
        .filter(F.col("nb") <= BASKET_MAX_LINES)
        .select("l_orderkey", "l_partkey")
    )
    left = b.select(F.col("l_orderkey").alias("k"),
                    F.col("l_partkey").alias("p1"))
    right = b.select(F.col("l_orderkey").alias("k"),
                     F.col("l_partkey").alias("p2"))

    def _edges() -> DataFrame:
        return (
            left.join(right, "k")
            .filter(F.col("p1") < F.col("p2"))
            .groupBy(F.col("p1").alias("u"), F.col("p2").alias("v"))
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= TRI_MIN_SUPPORT)
            .select("u", "v")
        )

    # consumed by degrees + orientation + closing join; session_persist so
    # repeated invocations reuse ONE materialization instead of leaking one
    edges = session_persist(spark, f"tri_edges:{sf_dir}", _edges)
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionByName(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    rank = deg.select(
        "x", F.format_string("%010d:%010d", F.col("d"), F.col("x")).alias("r")
    )
    ru = rank.select(F.col("x").alias("u"), F.col("r").alias("ru"))
    rv = rank.select(F.col("x").alias("v"), F.col("r").alias("rv"))
    keyed = edges.join(ru, "u").join(rv, "v")
    out = session_persist(spark, f"tri_oriented:{sf_dir}", lambda: keyed.select(
        F.when(F.col("ru") < F.col("rv"), F.col("u")).otherwise(F.col("v"))
        .alias("a"),
        F.when(F.col("ru") < F.col("rv"), F.col("v")).otherwise(F.col("u"))
        .alias("b"),
        F.least("ru", "rv").alias("ra"),
        F.greatest("ru", "rv").alias("rb"),
    ))
    e1 = out.select("a", F.col("b").alias("w1"), F.col("rb").alias("k1"))
    e2 = out.select("a", F.col("b").alias("w2"), F.col("rb").alias("k2"))
    wedges = e1.join(e2, "a").filter(F.col("k1") < F.col("k2"))
    closing = out.select(F.col("a").alias("w1"), F.col("b").alias("w2"))
    tri = wedges.join(closing, ["w1", "w2"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = (
        deg.agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.expr("sum(d * (d - 1)) div 2").alias("n_wedges"),
        )
        .crossJoin(F.broadcast(edges.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(tri))
    )
    cc = F.when(
        F.col("n_wedges") > 0,
        F.col("n_triangles") * 3.0 / F.col("n_wedges"),
    ).otherwise(F.lit(0.0))
    return stats.select(
        "n_vertices", "n_edges", "n_wedges", "n_triangles",
        ftrunc(cc, 6).alias("clustering_coeff"),
    )


# MATERIALIZED hints: DuckDB inlines CTEs per reference, so the pair-join
# behind `edges` (30M rows at sf1) re-executed for each of its three
# consumers and spilled >80 GB; materialized once it runs in 3.8 s under
# an 8 GB cap (measured at sf1). Pure plan hint — semantics and
# results unchanged.
TRIANGLE_COUNT_SQL = f"""
WITH lines AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
small AS (
  SELECT l_orderkey FROM lines GROUP BY l_orderkey
  HAVING COUNT(*) <= {BASKET_MAX_LINES}
),
b AS MATERIALIZED (
  SELECT l.l_orderkey, l.l_partkey FROM lines l
  WHERE l.l_orderkey IN (SELECT l_orderkey FROM small)
),
edges AS MATERIALIZED (
  SELECT a.l_partkey AS u, c.l_partkey AS v
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
   AND a.l_partkey < c.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
),
deg AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges)
  GROUP BY x
),
rank_t AS (SELECT x, printf('%010d:%010d', d, x) AS r FROM deg),
keyed AS (
  SELECT e.u, e.v, ru.r AS ru, rv.r AS rv
  FROM edges e JOIN rank_t ru ON ru.x = e.u JOIN rank_t rv ON rv.x = e.v
),
out_e AS MATERIALIZED (
  SELECT CASE WHEN ru < rv THEN u ELSE v END AS a,
         CASE WHEN ru < rv THEN v ELSE u END AS b,
         GREATEST(ru, rv) AS rb
  FROM keyed
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM out_e e1
  JOIN out_e e2 ON e1.a = e2.a AND e1.rb < e2.rb
  JOIN out_e e3 ON e3.a = e1.b AND e3.b = e2.b
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
         CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS n_wedges
  FROM deg
)
SELECT s.n_vertices, CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
       s.n_wedges, t.n_triangles,
       {sql_ftrunc("CASE WHEN s.n_wedges > 0"
                   " THEN t.n_triangles * 3.0 / s.n_wedges"
                   " ELSE 0.0 END", 6)} AS clustering_coeff
FROM stats s CROSS JOIN tri t
"""


ATTRIBUTION_WINDOW_DAYS = 7
ATTRIBUTION_BP = 10_000  # total credit per conversion, basis points


def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution: every purchase splits ATTRIBUTION_BP basis
    points of credit EQUALLY across the same user's view/click touches in
    the preceding 7 days — with the integer remainder going to the
    EARLIEST touch (zero-padded (epoch-µs, event_id) min key), so per-
    conversion credit sums to exactly 10000 and the whole report is int64
    arithmetic (no float credit drift, bit-identical cross-engine).
    The batch generalization of `streaming_click_attribution`'s last-touch
    pair join: same bounded user-equi-join with a time-range residual —
    at scale the range bound is what keeps pair counts (and streaming
    state) proportional to touches-per-window, and a hot user is an
    ordinary skewed join key. Report: per touch type, pair count, total
    credited basis points, distinct converted purchases."""
    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("p_ts"),
    )
    touches = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("user_id"),
        F.col("event_type").alias("t_type"),
        F.col("ts").alias("t_ts"),
    )
    pairs = purchases.join(touches, "user_id").filter(
        (F.col("t_ts") >= F.col("p_ts")
         - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_DAYS} DAYS"))
        & (F.col("t_ts") < F.col("p_ts"))
    )
    tkey = F.format_string(
        "%020d:%010d", F.unix_micros(F.col("t_ts")), F.col("t_id")
    )
    per_p = pairs.groupBy("p_id").agg(
        F.count(F.lit(1)).alias("n"), F.min(tkey).alias("fkey")
    )
    base = F.expr(f"{ATTRIBUTION_BP} div n")
    bp = base + F.when(
        tkey == F.col("fkey"), F.lit(ATTRIBUTION_BP) - F.col("n") * base
    ).otherwise(F.lit(0))
    return (
        pairs.join(per_p, "p_id")
        .select("t_type", "p_id", bp.alias("bp"))
        .groupBy("t_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("bp").alias("credit_bp"),
            F.countDistinct("p_id").alias("n_purchases"),
        )
    )


ATTRIBUTION_LINEAR_SQL = f"""
WITH purchases AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT event_id AS t_id, user_id, event_type AS t_type, ts AS t_ts
  FROM events WHERE event_type IN ('view', 'click')
),
pairs AS (
  SELECT p.p_id, t.t_id, t.t_type, t.t_ts
  FROM purchases p JOIN touches t ON p.user_id = t.user_id
   AND t.t_ts >= p.p_ts - INTERVAL {ATTRIBUTION_WINDOW_DAYS} DAY
   AND t.t_ts < p.p_ts
),
per_p AS (
  SELECT p_id, COUNT(*) AS n,
         MIN(printf('%020d:%010d', epoch_us(t_ts), t_id)) AS fkey
  FROM pairs GROUP BY p_id
),
credited AS (
  SELECT pr.t_type, pr.p_id,
         ({ATTRIBUTION_BP} // n)
         + CASE WHEN printf('%020d:%010d', epoch_us(pr.t_ts), pr.t_id) = fkey
                THEN {ATTRIBUTION_BP} - n * ({ATTRIBUTION_BP} // n)
                ELSE 0 END AS bp
  FROM pairs pr JOIN per_p USING (p_id)
)
SELECT t_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(bp) AS BIGINT) AS credit_bp,
       CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_purchases
FROM credited GROUP BY t_type
"""


# Monday anchor strictly before every date in the test tables, so the
# day-count n below is always positive and integer div/mod agree between
# Spark's `div` and DuckDB's `//` (BOTH truncate toward zero; they would
# agree even on negatives, but the anchor keeps operands positive anyway).
BDAY_ANCHOR = "1990-01-01"


def business_day_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency in BUSINESS days per order priority — the
    SLA metric calendar-day datediff overstates by ~40% on weekend spans.

    Closed form, no calendar spine and no per-day explode (a spine join
    multiplies rows ~120× at this span; the formula is O(1) per row):
    with a fixed Monday anchor, g(d) = 5·(n div 7) + least(n mod 7, 5)
    counts weekdays in [anchor, d), so latency = g(ship) − g(order).
    Everything is integer datediff/div/mod/least — exact and identical in
    both engines. Aggregation keeps exact int sums; only the displayed
    mean is a truncated double."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )

    def g(col: str) -> Column:
        n = F.datediff(F.col(col), F.lit(BDAY_ANCHOR).cast("date"))
        return F.expr(f"5 * (datediff({col}, DATE'{BDAY_ANCHOR}') div 7)") \
            + F.least(n % 7, F.lit(5))

    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    lat = (g("l_shipdate") - g("o_orderdate")).alias("bdays")
    return (
        j.select("o_orderpriority", lat)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("bdays").alias("sum_bdays"),
            ftrunc(
                F.sum("bdays").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_bdays"),
        )
    )


BUSINESS_DAY_LATENCY_SQL = f"""
WITH g AS (
  SELECT o.o_orderpriority,
         (5 * (date_diff('day', DATE '{BDAY_ANCHOR}',
                         CAST(l.l_shipdate AS DATE)) // 7)
          + least(date_diff('day', DATE '{BDAY_ANCHOR}',
                            CAST(l.l_shipdate AS DATE)) % 7, 5))
         - (5 * (date_diff('day', DATE '{BDAY_ANCHOR}',
                           CAST(o.o_orderdate AS DATE)) // 7)
            + least(date_diff('day', DATE '{BDAY_ANCHOR}',
                              CAST(o.o_orderdate AS DATE)) % 7, 5))
             AS bdays
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(bdays) AS BIGINT) AS sum_bdays,
       {sql_ftrunc("CAST(SUM(bdays) AS DOUBLE) / COUNT(*)", 4)} AS avg_bdays
FROM g GROUP BY o_orderpriority
"""


QUERIES: dict[str, QuerySpec] = {
    "attribution_linear": QuerySpec(
        attribution_linear, ATTRIBUTION_LINEAR_SQL,
        "integer multi-touch attribution over a bounded interval join",
    ),
    "triangle_count": QuerySpec(
        triangle_count, TRIANGLE_COUNT_SQL,
        "degree-oriented triangle count + clustering coefficient",
    ),
    "business_day_latency": QuerySpec(
        business_day_latency, BUSINESS_DAY_LATENCY_SQL,
        "closed-form business-day SLA latency per order priority",
    ),
    "rfm_features": QuerySpec(
        rfm_features,
        RFM_FEATURES_SQL,
        "RFM quintile scoring with total-order ntile determinism",
    ),
    "monthly_trend": QuerySpec(
        monthly_trend,
        MONTHLY_TREND_SQL,
        "MoM/YoY/trailing-3m report over the monthly rollup, dense-key lags",
    ),
    "basket_pairs": QuerySpec(
        basket_pairs,
        BASKET_PAIRS_SQL,
        "capped-basket co-occurrence pair support, top-k",
    ),
    "bipartite_rank": QuerySpec(
        bipartite_rank,
        BIPARTITE_RANK_SQL,
        "integer 2-step PageRank over the customer↔supplier graph",
    ),
    "forecast_revenue": QuerySpec(
        forecast_revenue, FORECAST_REVENUE_SQL,
        "Q6-shaped single-scan filtered revenue agg",
    ),
    "promo_effect": QuerySpec(
        promo_effect, PROMO_EFFECT_SQL,
        "Q14-shaped conditional revenue share",
    ),
    "parts_supplier_relationship": QuerySpec(
        parts_supplier_relationship, PARTS_SUPPLIER_RELATIONSHIP_SQL,
        "Q16-shaped distinct-supplier count with anti-join exclusion",
    ),
    "large_volume_customer": QuerySpec(
        large_volume_customer, LARGE_VOLUME_CUSTOMER_SQL,
        "Q18-shaped big-order report, single lineitem aggregate",
    ),
    "small_quantity_revenue": QuerySpec(
        small_quantity_revenue, SMALL_QUANTITY_REVENUE_SQL,
        "Q17-shaped decorrelated per-part average comparison",
    ),
    "idle_customer_balance": QuerySpec(
        idle_customer_balance, IDLE_CUSTOMER_BALANCE_SQL,
        "Q22-shaped scalar-subquery threshold + anti-join",
    ),
    "volume_shipping": QuerySpec(
        volume_shipping, VOLUME_SHIPPING_SQL,
        "Q7-shaped bilateral nation-pair trade volume per year",
    ),
    "market_share": QuerySpec(
        market_share, MARKET_SHARE_SQL,
        "Q8-shaped conditional revenue share, 8-table star",
    ),
    "product_profit": QuerySpec(
        product_profit, PRODUCT_PROFIT_SQL,
        "Q9-shaped profit per nation-year with fixed-point cost model",
    ),
    "priority_line_counts": QuerySpec(
        priority_line_counts, PRIORITY_LINE_COUNTS_SQL,
        "Q12-shaped fact-fact join with conditional counts",
    ),
    "customer_order_distribution": QuerySpec(
        customer_order_distribution, CUSTOMER_ORDER_DISTRIBUTION_SQL,
        "Q13-shaped outer-join histogram, cascaded aggregation",
    ),
    "top_supplier_revenue": QuerySpec(
        top_supplier_revenue, TOP_SUPPLIER_REVENUE_SQL,
        "Q15-shaped argmax via broadcast scalar max",
    ),
    "disjunctive_part_revenue": QuerySpec(
        disjunctive_part_revenue, DISJUNCTIVE_PART_REVENUE_SQL,
        "Q19-shaped OR-block predicate over a broadcast join",
    ),
    "exclusive_return_supplier": QuerySpec(
        exclusive_return_supplier, EXCLUSIVE_RETURN_SUPPLIER_SQL,
        "Q21-shaped semi+anti self-join on the fact table",
    ),
    "min_cost_supplier": QuerySpec(
        min_cost_supplier, MIN_COST_SUPPLIER_SQL,
        "Q2-shaped per-part argmin over derived part-supplier relation",
    ),
    "important_stock": QuerySpec(
        important_stock, IMPORTANT_STOCK_SQL,
        "Q11-shaped group-vs-global-total threshold report",
    ),
    "excess_stock_supplier": QuerySpec(
        excess_stock_supplier, EXCESS_STOCK_SUPPLIER_SQL,
        "Q20-shaped nested semi-join supplier selection",
    ),
    "percentiles": QuerySpec(
        percentiles, PERCENTILES_SQL,
        "exact interpolated median/p90 per group",
    ),
    "shipping_priority": QuerySpec(
        shipping_priority, SHIPPING_PRIORITY_SQL,
        "Q3-shaped top-10 unshipped revenue per order",
    ),
    "local_supplier_volume": QuerySpec(
        local_supplier_volume, LOCAL_SUPPLIER_VOLUME_SQL,
        "Q5-shaped per-nation revenue, 6-table star join",
    ),
    "order_priority_semi": QuerySpec(
        order_priority_semi, ORDER_PRIORITY_SEMI_SQL,
        "Q4-shaped existence check via LEFT SEMI join",
    ),
    "returned_revenue_topn": QuerySpec(
        returned_revenue_topn, RETURNED_REVENUE_TOPN_SQL,
        "Q10-shaped top-20 customers by returned revenue",
    ),
}
