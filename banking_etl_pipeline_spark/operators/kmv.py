"""KMV (bottom-k / theta-style) set-operation sketches over `events`
(registered in `registry.MODULES`).

The sketch family the existing quartet (HLL=cardinality, CMS=frequency,
Bloom=membership, histogram=distribution) lacks: SET ALGEBRA. A KMV
sketch keeps the K smallest hash values of a set; the K-th smallest
(theta) estimates cardinality as (K−1)·H/theta, k-min of a UNION is the
k-min of the merged sketches (mergeable by construction), and the
fraction of the union sketch present in BOTH input sketches estimates
Jaccard — which prices "distinct users in A∩B" WITHOUT ever joining the
raw sets. Public recipe (Bar-Yossef et al. / the theta-sketch lineage).

Determinism: hashes are 48-bit md5 prefixes (H = 2^48, so the estimator
numerator (K−1)·H ≈ 1.8e16 stays in int64 with NO split form), both
engines derive identical hash values, and every estimate is exact
integer division — "exact" counts are defined over the same 48-bit hash
domain (collisions are identical cross-engine by construction).

- kmv_type_sketch: per event_type — exact distinct users, sketch
  estimate, fill level. Sets smaller than K take the exact branch (the
  sketch holds the whole set).
- kmv_union_report: per type pair — exact vs KMV-estimated distinct
  users of the union, from merged sketches only.
- kmv_jaccard_report: per type pair — estimated vs exact Jaccard (1e6
  fixed-point) and the implied intersection estimate.

Scale: the per-type k-set is one distinct + one per-type window (K rows
kept per type — the sketch IS the state, constant size per set); every
pair report is algebra over ≤|types|²·K sketch rows. The raw sets are
never pairwise joined — that is the point.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..session import session_persist
from ..spec import QuerySpec

KMV_SEED = 241
KMV_K = 64
H_BITS = 48          # hash domain [0, 2^48): (K-1)·2^48 fits int64
H_DOMAIN = 1 << H_BITS


def _h48(col: Column) -> Column:
    """48-bit md5 prefix hash (12 hex digits) of a seeded string."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{KMV_SEED}:"), col)), 1, 12),
        16, 10,
    ).cast("long")


def _sql_h48(expr: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{KMV_SEED}:' || ({expr})), 1, 12)) "
        "AS BIGINT)"
    )


def _user_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (event_type, h) — the hashed membership table."""

    def build() -> DataFrame:
        e = table(spark, sf_dir, "events")
        return e.select(
            "event_type", _h48(F.col("user_id").cast("string")).alias("h")
        ).distinct()

    return session_persist(spark, f"kmv_hashes:{sf_dir}", build)


def _ksets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The K smallest hashes per type — the sketches themselves."""

    def build() -> DataFrame:
        uh = _user_hashes(spark, sf_dir)
        w = Window.partitionBy("event_type").orderBy("h")
        return (
            uh.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= KMV_K)
            .select("event_type", "h", "rn")
        )

    return session_persist(spark, f"kmv_ksets:{sf_dir}", build)


_SQL_BASE = f"""
uh AS (
  SELECT DISTINCT event_type, {_sql_h48("CAST(user_id AS VARCHAR)")} AS h
  FROM events
),
ks AS (
  SELECT event_type, h, rn FROM (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM uh
  ) WHERE rn <= {KMV_K}
)"""

def kmv_type_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    uh = _user_hashes(spark, sf_dir)
    ks = _ksets(spark, sf_dir)
    exact = uh.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    sk = ks.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k_filled"),
        F.max("h").alias("theta"),
    )
    return (
        exact.join(sk, "event_type")
        .selectExpr(
            "event_type",
            "n_exact",
            "k_filled",
            f"CASE WHEN n_exact < {KMV_K} THEN n_exact"
            f" ELSE ({KMV_K - 1} * {H_DOMAIN}) div theta END AS n_est",
        )
        .orderBy("event_type")
    )


KMV_TYPE_SKETCH_SQL = f"""
WITH {_SQL_BASE},
exact AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact FROM uh
  GROUP BY event_type
),
sk AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k_filled,
         MAX(h) AS theta
  FROM ks GROUP BY event_type
)
SELECT e.event_type, e.n_exact, s.k_filled,
       CASE WHEN e.n_exact < {KMV_K} THEN e.n_exact
            ELSE ({KMV_K - 1} * {H_DOMAIN}) // s.theta END AS n_est
FROM exact e JOIN sk s ON e.event_type = s.event_type
ORDER BY e.event_type
"""


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _user_hashes(spark, sf_dir).select("event_type").distinct()
    a = t.select(F.col("event_type").alias("t1"))
    b = t.select(F.col("event_type").alias("t2"))
    return a.join(b, F.col("t1") < F.col("t2"))


def _union_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per pair: the union sketch stats (k' rows kept, theta, overlap =
    members of the union sketch present in BOTH input sketches)."""
    ks = _ksets(spark, sf_dir)
    p = _pairs(spark, sf_dir)
    side = p.select("t1", "t2", F.col("t1").alias("event_type")).unionByName(
        p.select("t1", "t2", F.col("t2").alias("event_type"))
    )
    merged = (
        side.join(ks.select("event_type", "h"), "event_type")
        .select("t1", "t2", "h")
        .groupBy("t1", "t2", "h")
        .agg(F.count(F.lit(1)).alias("n_sides"))
    )
    w = Window.partitionBy("t1", "t2").orderBy("h")
    kept = merged.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= KMV_K
    )
    return kept.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max("h").alias("theta"),
        F.sum(F.when(F.col("n_sides") == 2, 1).otherwise(0)).cast("long")
        .alias("overlap"),
    )


_SQL_UNION = f"""
pairs AS (
  SELECT a.event_type AS t1, b.event_type AS t2
  FROM (SELECT DISTINCT event_type FROM uh) a
  JOIN (SELECT DISTINCT event_type FROM uh) b ON a.event_type < b.event_type
),
merged AS (
  SELECT p.t1, p.t2, k.h, CAST(COUNT(*) AS BIGINT) AS n_sides
  FROM pairs p
  JOIN ks k ON k.event_type IN (p.t1, p.t2)
  GROUP BY p.t1, p.t2, k.h
),
kept AS (
  SELECT t1, t2, h, n_sides FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY t1, t2 ORDER BY h) AS rn
    FROM merged
  ) WHERE rn <= {KMV_K}
),
usk AS (
  SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS cnt, MAX(h) AS theta,
         CAST(SUM(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS overlap
  FROM kept GROUP BY t1, t2
),
uexact AS (
  SELECT p.t1, p.t2, CAST(COUNT(DISTINCT u.h) AS BIGINT) AS n_union_exact
  FROM pairs p JOIN uh u ON u.event_type IN (p.t1, p.t2)
  GROUP BY p.t1, p.t2
)"""


def kmv_union_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    usk = _union_sketch(spark, sf_dir)
    uh = _user_hashes(spark, sf_dir)
    p = _pairs(spark, sf_dir)
    side = p.select("t1", "t2", F.col("t1").alias("event_type")).unionByName(
        p.select("t1", "t2", F.col("t2").alias("event_type"))
    )
    uexact = (
        side.join(uh, "event_type")
        .select("t1", "t2", "h")
        .distinct()
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("n_union_exact"))
    )
    return (
        uexact.join(usk, ["t1", "t2"])
        .selectExpr(
            "t1", "t2", "n_union_exact",
            f"CASE WHEN cnt < {KMV_K} THEN cnt"
            f" ELSE ({KMV_K - 1} * {H_DOMAIN}) div theta END"
            " AS n_union_est",
        )
        .orderBy("t1", "t2")
    )


KMV_UNION_REPORT_SQL = f"""
WITH {_SQL_BASE},
{_SQL_UNION}
SELECT e.t1, e.t2, e.n_union_exact,
       CASE WHEN s.cnt < {KMV_K} THEN s.cnt
            ELSE ({KMV_K - 1} * {H_DOMAIN}) // s.theta END AS n_union_est
FROM uexact e JOIN usk s ON e.t1 = s.t1 AND e.t2 = s.t2
ORDER BY e.t1, e.t2
"""


def kmv_jaccard_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    usk = _union_sketch(spark, sf_dir)
    uh = _user_hashes(spark, sf_dir)
    p = _pairs(spark, sf_dir)
    a = uh.select(F.col("event_type").alias("t1"), "h")
    b = uh.select(F.col("event_type").alias("_tb"), F.col("h").alias("h2"))
    inter = (
        p.join(a, "t1")
        .join(b, (F.col("t2") == F.col("_tb")) & (F.col("h") == F.col("h2")))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("n_inter_exact"))
    )
    # exact Jaccard needs union too; reuse the exact union aggregate
    side = p.select("t1", "t2", F.col("t1").alias("event_type")).unionByName(
        p.select("t1", "t2", F.col("t2").alias("event_type"))
    )
    uexact = (
        side.join(uh, "event_type")
        .select("t1", "t2", "h")
        .distinct()
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("n_union_exact"))
    )
    est = usk.selectExpr(
        "t1", "t2", "cnt", "overlap",
        f"CASE WHEN cnt < {KMV_K} THEN cnt"
        f" ELSE ({KMV_K - 1} * {H_DOMAIN}) div theta END AS n_union_est",
    )
    return (
        est.join(uexact, ["t1", "t2"])
        .join(inter, ["t1", "t2"], "left")
        .selectExpr(
            "t1", "t2", "overlap",
            "cnt AS k_union",
            "overlap * 1000000 div greatest(cnt, 1) AS jaccard_est_fp",
            "coalesce(n_inter_exact, 0L) * 1000000"
            " div greatest(n_union_exact, 1) AS jaccard_exact_fp",
            "(overlap * n_union_est) div greatest(cnt, 1) AS n_inter_est",
            "coalesce(n_inter_exact, 0L) AS n_inter_exact",
        )
        .orderBy("t1", "t2")
    )


KMV_JACCARD_REPORT_SQL = f"""
WITH {_SQL_BASE},
{_SQL_UNION},
inter AS (
  SELECT p.t1, p.t2, CAST(COUNT(*) AS BIGINT) AS n_inter_exact
  FROM pairs p
  JOIN uh a ON a.event_type = p.t1
  JOIN uh b ON b.event_type = p.t2 AND b.h = a.h
  GROUP BY p.t1, p.t2
)
SELECT s.t1, s.t2, s.overlap,
       s.cnt AS k_union,
       s.overlap * 1000000 // GREATEST(s.cnt, 1) AS jaccard_est_fp,
       COALESCE(i.n_inter_exact, 0) * 1000000
           // GREATEST(e.n_union_exact, 1) AS jaccard_exact_fp,
       (s.overlap * (CASE WHEN s.cnt < {KMV_K} THEN s.cnt
                          ELSE ({KMV_K - 1} * {H_DOMAIN}) // s.theta END))
           // GREATEST(s.cnt, 1) AS n_inter_est,
       CAST(COALESCE(i.n_inter_exact, 0) AS BIGINT) AS n_inter_exact
FROM usk s
JOIN uexact e ON e.t1 = s.t1 AND e.t2 = s.t2
LEFT JOIN inter i ON i.t1 = s.t1 AND i.t2 = s.t2
ORDER BY s.t1, s.t2
"""


def queries() -> dict[str, QuerySpec]:
    return {
        "kmv_type_sketch": QuerySpec(
            kmv_type_sketch,
            KMV_TYPE_SKETCH_SQL,
            "bottom-K sketch per event type: exact vs (K-1)·H/theta",
        ),
        "kmv_union_report": QuerySpec(
            kmv_union_report,
            KMV_UNION_REPORT_SQL,
            "union cardinality per type pair from merged sketches only",
        ),
        "kmv_jaccard_report": QuerySpec(
            kmv_jaccard_report,
            KMV_JACCARD_REPORT_SQL,
            "Jaccard / intersection estimates from sketch overlap",
        ),
    }
