"""Dataset-snapshot diff / drift audit tier over `orders`
(registered in `registry.MODULES`).

The data-ops audit a daily-snapshot pipeline runs before promoting v2
over v1: which rows appeared, vanished, or changed (and in which
columns), how the column distributions drifted, and which changed keys
moved the most. The v2 snapshot is derived deterministically from v1 with
md5-gated mutations (the injected-known-signal discipline of dedup_exact
and the substrings tier): ~1/32 of keys dropped, a disjoint ~1/32
repriced (+1.00) and status-flipped, plus a negated-key block of new
rows — so every detector has exact expected positives at any sf.

- dataset_diff: one full-outer join on the PK → per-class row counts
  (added / removed / changed / unchanged) and per-column change counts.
  `table_checksum` (quality.py) says "something differs"; this says what.
- column_drift_report: per-snapshot null rate and fixed-point mean of
  the money column plus the exact delta — the distribution-drift gate.
- changed_keys_sample: top-20 changed keys by absolute money delta
  (TakeOrdered) — the triage list a data-ops oncall opens first.

Scale: the diff is ONE co-partitioned full-outer equi-join on the PK
(both snapshots shuffle once on o_orderkey) feeding a single bounded
aggregate; drift is two scan-side aggregates; the sample is a bounded
heap. Column comparisons are null-safe (`eqNullSafe` ↔ DuckDB
`IS NOT DISTINCT FROM`); money compares in exact cents. No collect, no
cartesian, nothing driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import md5_long_seeded, sql_md5_long_seeded
from ..functions.numeric import cents, sql_cents
from ..spec import QuerySpec

DIFF_SEED = 131
DIFF_MOD = 32          # 1/32 of keys dropped; a disjoint 1/32 mutated
# added rows live at -o_orderkey - 1: sf-proof (real keys are positive at
# every sf, so the negated block can never collide, unlike a fixed +shift
# which dense keys overtake around sf0.7)
NEW_MOD = 64           # 1/64 of keys also spawn a brand-new row
PRICE_BUMP = 1.0       # mutation: +1.00 on o_totalprice
TOP_CHANGED = 20

# columns compared cell-by-cell in the diff (money via exact cents)
_DIFF_COLS = ("o_custkey", "o_orderstatus", "price_c", "o_orderpriority")


def _v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        cents(F.col("o_totalprice")).alias("price_c"),
        "o_orderpriority",
    )


def _v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v1 with md5-gated deterministic mutations: bucket 0 of DIFF_MOD
    dropped, bucket 1 repriced (+PRICE_BUMP) and status-flipped, and
    NEW_MOD-bucket-0 keys cloned to -o_orderkey - 1."""
    v1 = _v1(spark, sf_dir)
    gate = md5_long_seeded(DIFF_SEED, F.col("o_orderkey").cast("string"))
    kept = v1.filter(gate % DIFF_MOD != 0)
    mutated = kept.select(
        "o_orderkey", "o_custkey",
        F.when(gate % DIFF_MOD == 1, F.lit("X"))
        .otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        F.when(gate % DIFF_MOD == 1,
               F.col("price_c") + int(PRICE_BUMP * 100))
        .otherwise(F.col("price_c")).alias("price_c"),
        "o_orderpriority",
    )
    added = v1.filter(gate % NEW_MOD == 0).select(
        (-F.col("o_orderkey") - 1).alias("o_orderkey"),
        "o_custkey", "o_orderstatus", "price_c", "o_orderpriority",
    )
    return mutated.unionByName(added)


_SQL_V1 = f"""
SELECT o_orderkey, o_custkey, o_orderstatus,
       {sql_cents('o_totalprice')} AS price_c, o_orderpriority
FROM orders
"""

_SQL_GATE = sql_md5_long_seeded(DIFF_SEED, "CAST(o_orderkey AS VARCHAR)")

_SQL_SNAPSHOT_CTES = f"""
v1 AS ({_SQL_V1}),
v2 AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN {_SQL_GATE} % {DIFF_MOD} = 1 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN {_SQL_GATE} % {DIFF_MOD} = 1
              THEN price_c + {int(PRICE_BUMP * 100)}
              ELSE price_c END AS price_c,
         o_orderpriority
  FROM v1 WHERE {_SQL_GATE} % {DIFF_MOD} != 0
  UNION ALL
  SELECT -o_orderkey - 1, o_custkey, o_orderstatus,
         price_c, o_orderpriority
  FROM v1 WHERE {_SQL_GATE} % {NEW_MOD} = 0
),
joined AS (
  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
         a.o_orderkey IS NOT NULL AS in_v1,
         b.o_orderkey IS NOT NULL AS in_v2,
         a.o_custkey IS NOT DISTINCT FROM b.o_custkey AS same_custkey,
         a.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
             AS same_status,
         a.price_c IS NOT DISTINCT FROM b.price_c AS same_price,
         a.o_orderpriority IS NOT DISTINCT FROM b.o_orderpriority
             AS same_priority,
         a.price_c AS p1, b.price_c AS p2
  FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
)"""


def snapshot_join(a: DataFrame, b: DataFrame, key: str,
                  cols: dict[str, str]) -> DataFrame:
    """Generic snapshot comparison relation: full-outer join on `key`,
    null-safe per-column equality flags (one `same_<name>` per entry of
    cols: name → column), presence flags, and both sides' values of each
    compared column (`<name>_a` / `<name>_b`). The reusable core of the
    diff queries — property-tested against a pure-Python model."""
    aa, bb = a.alias("a"), b.alias("b")
    j = aa.join(bb, F.col(f"a.{key}") == F.col(f"b.{key}"), "full")
    sel = [
        F.coalesce(F.col(f"a.{key}"), F.col(f"b.{key}")).alias("k"),
        F.col(f"a.{key}").isNotNull().alias("in_v1"),
        F.col(f"b.{key}").isNotNull().alias("in_v2"),
    ]
    for name, col in cols.items():
        sel.append(
            F.col(f"a.{col}").eqNullSafe(F.col(f"b.{col}"))
            .alias(f"same_{name}")
        )
        sel.append(F.col(f"a.{col}").alias(f"{name}_a"))
        sel.append(F.col(f"b.{col}").alias(f"{name}_b"))
    return j.select(*sel)


def snapshot_diff_counts(a: DataFrame, b: DataFrame, key: str,
                         cols: dict[str, str]) -> DataFrame:
    """One-row diff summary over snapshot_join: added / removed /
    changed / unchanged plus a per-column change count. ONE
    co-partitioned full-outer join + ONE bounded aggregate."""
    j = snapshot_join(a, b, key, cols)
    both = F.col("in_v1") & F.col("in_v2")
    all_same = F.lit(True)
    for name in cols:
        all_same = all_same & F.col(f"same_{name}")
    changed = both & ~all_same
    def n(cond, alias):
        # coalesce: SUM over an empty relation is NULL in both engines;
        # a diff of two empty snapshots should read 0 (hypothesis-found)
        return F.coalesce(
            F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias(alias)

    agg = [
        n(F.col("in_v2") & ~F.col("in_v1"), "added"),
        n(F.col("in_v1") & ~F.col("in_v2"), "removed"),
        n(changed, "changed"),
        n(both & ~changed, "unchanged"),
    ]
    for name in cols:
        agg.append(n(both & ~F.col(f"same_{name}"), f"chg_{name}"))
    return j.agg(*agg)


_DIFF_COL_MAP = {
    "custkey": "o_custkey", "status": "o_orderstatus",
    "price": "price_c", "priority": "o_orderpriority",
}


def _joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = snapshot_join(_v1(spark, sf_dir), _v2(spark, sf_dir),
                      "o_orderkey", _DIFF_COL_MAP)
    return j.withColumnRenamed("price_a", "p1").withColumnRenamed(
        "price_b", "p2"
    )


def dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return snapshot_diff_counts(
        _v1(spark, sf_dir), _v2(spark, sf_dir), "o_orderkey", _DIFF_COL_MAP
    )


DATASET_DIFF_SQL = f"""
WITH {_SQL_SNAPSHOT_CTES}
SELECT
  CAST(COALESCE(SUM(CASE WHEN in_v2 AND NOT in_v1 THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS added,
  CAST(COALESCE(SUM(CASE WHEN in_v1 AND NOT in_v2 THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS removed,
  CAST(COALESCE(SUM(CASE WHEN in_v1 AND in_v2 AND NOT (same_custkey AND same_status
           AND same_price AND same_priority) THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS changed,
  CAST(COALESCE(SUM(CASE WHEN in_v1 AND in_v2 AND same_custkey AND same_status
           AND same_price AND same_priority THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS unchanged,
  CAST(COALESCE(SUM(CASE WHEN in_v1 AND in_v2 AND NOT same_custkey
           THEN 1 ELSE 0 END), 0) AS BIGINT) AS chg_custkey,
  CAST(COALESCE(SUM(CASE WHEN in_v1 AND in_v2 AND NOT same_status
           THEN 1 ELSE 0 END), 0) AS BIGINT) AS chg_status,
  CAST(COALESCE(SUM(CASE WHEN in_v1 AND in_v2 AND NOT same_price
           THEN 1 ELSE 0 END), 0) AS BIGINT) AS chg_price,
  CAST(COALESCE(SUM(CASE WHEN in_v1 AND in_v2 AND NOT same_priority
           THEN 1 ELSE 0 END), 0) AS BIGINT) AS chg_priority
FROM joined
"""


def column_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stats(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0))
            .cast("long").alias("null_status"),
            F.sum("price_c").alias("sum_price_c"),
            F.expr("sum(price_c) div greatest(count(*), 1)")
            .alias("mean_price_c"),
        ).withColumn("snapshot", F.lit(tag))
    return stats(_v1(spark, sf_dir), "v1").unionByName(
        stats(_v2(spark, sf_dir), "v2")
    )


COLUMN_DRIFT_REPORT_SQL = f"""
WITH {_SQL_SNAPSHOT_CTES}
SELECT 'v1' AS snapshot, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS null_status,
       CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
       CAST(SUM(price_c) AS BIGINT) // GREATEST(COUNT(*), 1)
           AS mean_price_c
FROM v1
UNION ALL
SELECT 'v2', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(SUM(price_c) AS BIGINT),
       CAST(SUM(price_c) AS BIGINT) // GREATEST(COUNT(*), 1)
FROM v2
"""


def changed_keys_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = _joined(spark, sf_dir)
    ch = j.filter(
        F.col("in_v1") & F.col("in_v2") & ~(
            F.col("same_custkey") & F.col("same_status")
            & F.col("same_price") & F.col("same_priority")
        )
    )
    return (
        ch.select(
            F.col("k").alias("o_orderkey"),
            F.col("p1").alias("price_c_v1"),
            F.col("p2").alias("price_c_v2"),
            F.abs(F.col("p2") - F.col("p1")).alias("abs_delta_c"),
        )
        .orderBy(F.col("abs_delta_c").desc(), F.col("o_orderkey").asc())
        .limit(TOP_CHANGED)
    )


CHANGED_KEYS_SAMPLE_SQL = f"""
WITH {_SQL_SNAPSHOT_CTES}
SELECT k AS o_orderkey, p1 AS price_c_v1, p2 AS price_c_v2,
       ABS(p2 - p1) AS abs_delta_c
FROM joined
WHERE in_v1 AND in_v2 AND NOT (same_custkey AND same_status
      AND same_price AND same_priority)
ORDER BY abs_delta_c DESC, o_orderkey ASC
LIMIT {TOP_CHANGED}
"""


def queries() -> dict[str, QuerySpec]:
    return {
        "dataset_diff": QuerySpec(
            dataset_diff, DATASET_DIFF_SQL,
            "v1/v2 snapshot diff: class counts + per-column changes",
        ),
        "column_drift_report": QuerySpec(
            column_drift_report, COLUMN_DRIFT_REPORT_SQL,
            "per-snapshot null rate and exact mean-cents drift",
        ),
        "changed_keys_sample": QuerySpec(
            changed_keys_sample, CHANGED_KEYS_SAMPLE_SQL,
            "top-20 changed keys by absolute money delta",
        ),
    }
