"""Feature-engineering tier over `orders`
(registered in `registry.MODULES`).

The tabular-ML preprocessing ops a feature platform runs next to the
corpus ops: leakage-free target encoding, weight-of-evidence /
information-value screening, and mutual-information dependence audits.
No counterpart in the reference repo; the recipes are the public
definitions, computed with the repo's exactness discipline — integer
counts/sums all the way, any transcendental (ln) evaluated ONCE per
bounded output row with an identical expression shape in both engines,
then fixed-pointed before any further arithmetic.

- target_encoding_oof: out-of-fold mean-target encoding per
  (category, fold) — enc for fold f uses ONLY the other folds'
  sums/counts ((sum_c − sum_cf) div (n_c − n_cf)), the standard
  leakage-free construction. Per-category totals are the SUMS OF THE
  PER-FOLD PARTIALS (one aggregate, reused), so the whole query is one
  groupBy + a bounded self-aggregate + a broadcast join back.
- woe_iv_report: per-category Weight of Evidence
  ln((bad/B)/(good/G)) and its IV term (bad/B − good/G)·WoE for the
  binary target o_orderstatus = 'F', fixed-pointed at 1e6. Ratios are
  formed as double divisions of exact counts (never count products —
  bad·G overflows int64 at 100 TB).
- mutual_information: per-cell MI terms p(x,y)·ln(p(x,y)/(p(x)·p(y)))
  for (priority × status), fixed-pointed at 1e9; cells are bounded by
  the category domains (≤15), margins broadcast.

Scale: every query is scan → one hash aggregate keyed by a bounded
category domain → integer/one-shot-double algebra over ≤ |domain| rows.
Nothing downstream of the first aggregate grows with the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import md5_long_seeded, sql_md5_long_seeded
from ..functions.numeric import cents, sql_cents
from ..spec import QuerySpec

FOLD_SEED = 167
N_FOLDS = 5


def target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("category"),
        (md5_long_seeded(FOLD_SEED, F.col("o_orderkey").cast("string"))
         % N_FOLDS).alias("fold"),
        cents(F.col("o_totalprice")).alias("price_c"),
    )
    cf = o.groupBy("category", "fold").agg(
        F.count(F.lit(1)).alias("n_in"),
        F.sum("price_c").alias("sum_in"),
    )
    c = cf.groupBy("category").agg(
        F.sum("n_in").alias("n_c"),
        F.sum("sum_in").alias("sum_c"),
    )
    return (
        cf.join(F.broadcast(c), "category")
        .selectExpr(
            "category",
            "fold",
            "CAST(n_in AS BIGINT) AS n_in",
            "CAST(n_c - n_in AS BIGINT) AS n_out",
            "CAST((sum_c - sum_in) div greatest(n_c - n_in, 1) AS BIGINT)"
            " AS enc_c",
        )
    )


TARGET_ENCODING_OOF_SQL = f"""
WITH base AS (
  SELECT o_orderpriority AS category,
         {sql_md5_long_seeded(FOLD_SEED, "CAST(o_orderkey AS VARCHAR)")}
             % {N_FOLDS} AS fold,
         {sql_cents('o_totalprice')} AS price_c
  FROM orders
),
cf AS (
  SELECT category, fold, CAST(COUNT(*) AS BIGINT) AS n_in,
         CAST(SUM(price_c) AS BIGINT) AS sum_in
  FROM base GROUP BY category, fold
),
c AS (
  SELECT category, CAST(SUM(n_in) AS BIGINT) AS n_c,
         CAST(SUM(sum_in) AS BIGINT) AS sum_c
  FROM cf GROUP BY category
)
SELECT cf.category, cf.fold, cf.n_in,
       CAST(c.n_c - cf.n_in AS BIGINT) AS n_out,
       CAST((c.sum_c - cf.sum_in) // GREATEST(c.n_c - cf.n_in, 1) AS BIGINT)
           AS enc_c
FROM cf JOIN c ON cf.category = c.category
"""


def woe_iv_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("category"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    per_cat = o.groupBy("category").agg(
        F.sum(F.expr("1 - y")).cast("long").alias("good_cnt"),
        F.sum("y").cast("long").alias("bad_cnt"),
    )
    tot = per_cat.agg(
        F.sum("good_cnt").alias("g_tot"), F.sum("bad_cnt").alias("b_tot")
    )
    j = per_cat.crossJoin(F.broadcast(tot))
    # ratios as double divisions of exact counts — identical expression
    # shape both engines; never count products (bad·G overflows int64)
    dr = (
        (F.col("bad_cnt").cast("double") / F.col("b_tot"))
        / (F.col("good_cnt").cast("double") / F.col("g_tot"))
    )
    defined = (F.col("good_cnt") > 0) & (F.col("bad_cnt") > 0)
    woe = F.log(dr)
    iv_term = (
        F.col("bad_cnt").cast("double") / F.col("b_tot")
        - F.col("good_cnt").cast("double") / F.col("g_tot")
    ) * F.log(dr)
    return j.select(
        "category",
        "good_cnt",
        "bad_cnt",
        F.when(defined, F.floor(woe * 1e6)).alias("woe_fp"),
        F.when(defined, F.floor(iv_term * 1e6)).alias("iv_term_fp"),
    )


WOE_IV_REPORT_SQL = """
WITH per_cat AS (
  SELECT o_orderpriority AS category,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
              AS BIGINT) AS good_cnt,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS bad_cnt
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(good_cnt) AS BIGINT) AS g_tot,
         CAST(SUM(bad_cnt) AS BIGINT) AS b_tot
  FROM per_cat
)
SELECT category, good_cnt, bad_cnt,
       CASE WHEN good_cnt > 0 AND bad_cnt > 0 THEN
         CAST(FLOOR(ln((CAST(bad_cnt AS DOUBLE) / b_tot)
                       / (CAST(good_cnt AS DOUBLE) / g_tot)) * 1e6)
              AS BIGINT)
       END AS woe_fp,
       CASE WHEN good_cnt > 0 AND bad_cnt > 0 THEN
         CAST(FLOOR((CAST(bad_cnt AS DOUBLE) / b_tot
                     - CAST(good_cnt AS DOUBLE) / g_tot)
                    * ln((CAST(bad_cnt AS DOUBLE) / b_tot)
                         / (CAST(good_cnt AS DOUBLE) / g_tot)) * 1e6)
              AS BIGINT)
       END AS iv_term_fp
FROM per_cat, tot
"""


def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    )
    joint = o.groupBy("priority", "status").agg(
        F.count(F.lit(1)).alias("n_xy")
    )
    px = o.groupBy("priority").agg(F.count(F.lit(1)).alias("n_x"))
    py = o.groupBy("status").agg(F.count(F.lit(1)).alias("n_y"))
    n = o.agg(F.count(F.lit(1)).alias("n_tot"))
    j = (
        joint.join(F.broadcast(px), "priority")
        .join(F.broadcast(py), "status")
        .crossJoin(F.broadcast(n))
    )
    pxy = F.col("n_xy").cast("double") / F.col("n_tot")
    pxpy = (
        (F.col("n_x").cast("double") / F.col("n_tot"))
        * (F.col("n_y").cast("double") / F.col("n_tot"))
    )
    return j.select(
        "priority",
        "status",
        "n_xy",
        F.floor(pxy * F.log(pxy / pxpy) * 1e9).alias("mi_term_fp"),
    )


MUTUAL_INFORMATION_SQL = """
WITH joint AS (
  SELECT o_orderpriority AS priority, o_orderstatus AS status,
         CAST(COUNT(*) AS BIGINT) AS n_xy
  FROM orders GROUP BY 1, 2
),
px AS (
  SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_x
  FROM orders GROUP BY 1
),
py AS (
  SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n_y
  FROM orders GROUP BY 1
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM orders)
SELECT j.priority, j.status, j.n_xy,
       CAST(FLOOR((CAST(j.n_xy AS DOUBLE) / n_tot)
                  * ln((CAST(j.n_xy AS DOUBLE) / n_tot)
                       / ((CAST(px.n_x AS DOUBLE) / n_tot)
                          * (CAST(py.n_y AS DOUBLE) / n_tot))) * 1e9)
            AS BIGINT) AS mi_term_fp
FROM joint j
JOIN px ON j.priority = px.priority
JOIN py ON j.status = py.status
CROSS JOIN n
"""


QUERIES: dict[str, QuerySpec] = {
    "target_encoding_oof": QuerySpec(
        target_encoding_oof,
        TARGET_ENCODING_OOF_SQL,
        "leakage-free out-of-fold mean-target encoding per category",
    ),
    "woe_iv_report": QuerySpec(
        woe_iv_report,
        WOE_IV_REPORT_SQL,
        "weight-of-evidence + IV terms for the binary status target",
    ),
    "mutual_information": QuerySpec(
        mutual_information,
        MUTUAL_INFORMATION_SQL,
        "per-cell mutual-information terms for priority × status",
    ),
}
