"""Data-quality library (reference SURVEY.md §2.7, `data_quality.py:22-204`).

The reference runs one Spark job per check (`filter().count()` per column —
`data_quality.py:37-43,69-72,101-103`). At 100 TB that is N full scans. This
engine computes **all checks of a table in a single aggregate pass**: one
scan, one partial+final hash agg, one row out. Referential-integrity checks
(necessarily a join) use distinct-projection + left-anti join, with the PK
side reduced before the join.

Two surfaces:
  * `QualityChecker` — the reusable library with the reference's
    config-driven runner semantics (`run_all_checks`, fail-open/closed);
  * oracle-checked queries exposing each check shape on the test tables.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import sql_md5_long
from ..functions.numeric import cents
from ..spec import QuerySpec

# ---------------------------------------------------------------------------
# Library
# ---------------------------------------------------------------------------


@dataclass
class RangeRule:
    column: str
    min_value: float
    max_value: float


@dataclass
class QualityConfig:
    """≅ the per-entity `quality_checks` block of config/config.json:31-61."""

    required_columns: list[str] = field(default_factory=list)  # null checks
    key_columns: list[str] = field(default_factory=list)  # duplicate checks
    range_rules: list[RangeRule] = field(default_factory=list)
    fail_on_quality_check: bool = True


class QualityChecker:
    """Single-pass implementation of null/duplicate/range checks.

    `run_all_checks` ≅ data_quality.py:158-204 but computes every null,
    range and duplicate rule in ONE aggregate collected by one action,
    instead of the reference's O(checks) jobs. AQE still runs that plan's
    shuffle stages as separate jobs (3 on a `txn_batch` batch).
    """

    def null_check_exprs(self, cols: list[str]) -> list:
        return [
            F.sum(F.col(c).isNull().cast("long")).alias(f"null_count_{c}")
            for c in cols
        ]

    def range_check_exprs(self, rules: list[RangeRule]) -> list:
        return [
            F.sum(
                ((F.col(r.column) < r.min_value) | (F.col(r.column) > r.max_value))
                .cast("long")
            ).alias(f"range_violations_{r.column}")
            for r in rules
        ]

    def duplicate_count_expr(self, key_columns: list[str]):
        # total − distinct(keys) ≅ data_quality.py:69-75. countDistinct over
        # the columns themselves skips every row with a null key component;
        # the reference's select(keys).distinct() keeps null as a value, as
        # distinct over a (never null) struct of the keys does.
        return F.count(F.lit(1)) - F.countDistinct(F.struct(*key_columns))

    def duplicate_count(self, df: DataFrame, key_columns: list[str]) -> int:
        # one job
        return df.agg(self.duplicate_count_expr(key_columns)).collect()[0][0]

    def run_all_checks(self, df: DataFrame, config: QualityConfig) -> dict[str, Any]:
        exprs = [F.count(F.lit(1)).alias("total_rows")]
        exprs += self.null_check_exprs(config.required_columns)
        exprs += self.range_check_exprs(config.range_rules)
        if config.key_columns:
            exprs.append(
                self.duplicate_count_expr(config.key_columns).alias("duplicate_count")
            )
        row = df.agg(*exprs).collect()[0].asDict()

        # a SUM over zero rows is NULL: an empty batch has no violations
        null_counts = {
            c: row[f"null_count_{c}"] or 0 for c in config.required_columns
        }
        range_violations = {
            r.column: row[f"range_violations_{r.column}"] or 0
            for r in config.range_rules
        }
        dup = row.get("duplicate_count", 0) or 0
        passed = (
            all(v == 0 for v in null_counts.values())
            and all(v == 0 for v in range_violations.values())
            and dup == 0
        )
        return {
            "total_rows": row["total_rows"],
            "null_counts": null_counts,
            "range_violations": range_violations,
            "duplicate_count": dup,
            "overall_passed": passed,
        }


class QualityGateError(RuntimeError):
    """Raised when a pipeline's quality gate fails closed (≅ main.py:122-126)."""


def apply_quality_gate(result: dict[str, Any], fail_on_quality_check: bool) -> None:
    if not result["overall_passed"] and fail_on_quality_check:
        raise QualityGateError(f"quality checks failed: {result}")


# ---------------------------------------------------------------------------
# Oracle-checked query surfaces (each check = one 1-row aggregate)
# ---------------------------------------------------------------------------


def dq_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q1, single-pass over several columns; nulls synthesized via NULLIF so
    # the non-zero path is exercised (testdata is null-free).
    e = table(spark, sf_dir, "events")
    probe = e.select(
        F.nullif(F.col("event_type"), F.lit("error")).alias("et"),
        F.nullif(F.col("user_id"), F.lit(7)).alias("uid"),
        "value",
    )
    return probe.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.col("et").isNull().cast("long")).alias("null_count_et"),
        F.sum(F.col("uid").isNull().cast("long")).alias("null_count_uid"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_count_value"),
    )


DQ_NULL_COUNTS_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
       CAST(SUM(CASE WHEN NULLIF(event_type, 'error') IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_count_et,
       CAST(SUM(CASE WHEN NULLIF(user_id, 7) IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_count_uid,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_count_value
FROM events
"""


def dq_dup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q2 on a synthetic-duplicate input: orders keyed by a truncated key so
    # duplicates exist (o_orderkey/10), single pass total − distinct.
    o = table(spark, sf_dir, "orders")
    keyed = o.select((F.col("o_orderkey") / F.lit(10)).cast("long").alias("key10"))
    return keyed.agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("key10").alias("distinct_keys"),
        (F.count(F.lit(1)) - F.countDistinct("key10")).alias("duplicate_count"),
    )


DQ_DUP_COUNT_SQL = """
WITH keyed AS (SELECT CAST(o_orderkey // 10 AS BIGINT) AS key10 FROM orders)
SELECT CAST(COUNT(*) AS BIGINT) AS total,
       CAST(COUNT(DISTINCT key10) AS BIGINT) AS distinct_keys,
       CAST(COUNT(*) - COUNT(DISTINCT key10) AS BIGINT) AS duplicate_count
FROM keyed
"""


def dq_range_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q3: per-column out-of-range counts, single aggregate pass.
    li = table(spark, sf_dir, "lineitem")
    checker = QualityChecker()
    rules = [
        RangeRule("l_quantity", 1, 40),
        RangeRule("l_discount", 0.0, 0.08),
        RangeRule("l_extendedprice", 0.0, 80000.0),
    ]
    return li.agg(
        F.count(F.lit(1)).alias("total_rows"), *checker.range_check_exprs(rules)
    )


DQ_RANGE_VIOLATIONS_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
       CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 40 THEN 1 ELSE 0 END) AS BIGINT)
           AS range_violations_l_quantity,
       CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT)
           AS range_violations_l_discount,
       CAST(SUM(CASE WHEN l_extendedprice < 0.0 OR l_extendedprice > 80000.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS range_violations_l_extendedprice
FROM lineitem
"""


def dq_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4: referential integrity. The real FKs are clean (0 orphans — the
    zero path), plus a synthetic broken FK (user_id+2000 vs customer) for the
    non-zero path. distinct → anti-join → count, both sides reduced."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    e = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")

    clean = (
        li.select(F.col("l_partkey").alias("fk"))
        .distinct()
        .join(p.select(F.col("p_partkey").alias("fk")).distinct(), "fk", "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("n").alias("orphan_partkeys"))
    )
    broken = (
        e.select((F.col("user_id") + 2000).alias("fk"))
        .distinct()
        .join(
            c.select(F.col("c_custkey").alias("fk")).distinct(), "fk", "left_anti"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("n").alias("orphan_userkeys"))
    )
    return clean.crossJoin(broken)


DQ_ORPHANS_SQL = """
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM
     (SELECT DISTINCT l_partkey FROM lineitem) f
     WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = f.l_partkey))
    AS orphan_partkeys,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM
     (SELECT DISTINCT user_id + 2000 AS fk FROM events) f
     WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = f.fk))
    AS orphan_userkeys
"""


def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-based DQ: Tukey-fence outlier count on o_totalprice.

    Two passes by necessity (fences depend on quartiles): a 1-row exact
    quartile aggregate, broadcast back over the scan, then one conditional
    count. All fence math happens in integer half-cents (2·q1−3·iqr) so the
    comparison is exact in both engines — interpolated quartiles land on
    .xx5/.xx25 binary-exact fractions, never on a rounding boundary. At
    100 TB, swap the exact percentile for approx_percentile(·, ·, 1e-5):
    the cents discretization makes the swap drop-in; exact percentile
    buffers every value of the column in one aggregate buffer, which is a
    single-node concentration this operator otherwise avoids."""
    o = table(spark, sf_dir, "orders")
    q = o.agg(
        F.count(F.lit(1)).alias("total_rows"),
        cents(F.percentile("o_totalprice", F.lit(0.25))).alias("q1_c"),
        cents(F.percentile("o_totalprice", F.lit(0.75))).alias("q3_c"),
    )
    iqr = F.col("q3_c") - F.col("q1_c")
    lo2 = 2 * F.col("q1_c") - 3 * iqr  # half-cents
    hi2 = 2 * F.col("q3_c") + 3 * iqr
    p2 = 2 * cents(F.col("o_totalprice"))
    return (
        o.select(p2.alias("p2"))
        .crossJoin(F.broadcast(q))
        .groupBy("total_rows", "q1_c", "q3_c")
        .agg(
            F.sum(
                ((F.col("p2") < lo2) | (F.col("p2") > hi2)).cast("long")
            ).alias("n_outliers")
        )
        .select(
            "total_rows",
            (F.col("q1_c").cast("double") / 100.0).alias("q1_price"),
            (F.col("q3_c").cast("double") / 100.0).alias("q3_price"),
            "n_outliers",
        )
    )


DQ_OUTLIER_IQR_SQL = """
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
         CAST(FLOOR(quantile_cont(o_totalprice, 0.25) * 100.0 + 0.5) AS BIGINT) AS q1_c,
         CAST(FLOOR(quantile_cont(o_totalprice, 0.75) * 100.0 + 0.5) AS BIGINT) AS q3_c
  FROM orders
)
SELECT s.total_rows,
       CAST(s.q1_c AS DOUBLE) / 100.0 AS q1_price,
       CAST(s.q3_c AS DOUBLE) / 100.0 AS q3_price,
       CAST(SUM(CASE WHEN 2 * CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT)
                          < 2 * s.q1_c - 3 * (s.q3_c - s.q1_c)
                     OR 2 * CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT)
                          > 2 * s.q3_c + 3 * (s.q3_c - s.q1_c)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM orders o CROSS JOIN s
GROUP BY s.total_rows, s.q1_c, s.q3_c
"""


_PROFILE_COLS: list[tuple[str, str]] = [
    # (column, kind): num → min/max as double; str → min/max lexicographic;
    # ts → min/max as exact epoch-µs double (|µs| < 2^53, no precision loss)
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style one-pass column profile of `orders` — the statistics
    collection that feeds a cost-based optimizer and every DQ baseline:
    per column null count, exact distinct count, numeric min/max, string
    min/max. The reference profiles nothing (its DQ checks re-scan per
    check, `data_quality.py:37-43`); here ALL columns profile in a single
    scan via the TWO-PHASE distinct shape: stack-unpivot each row to
    (column, value, numeric-view) triples, hash-aggregate per (column,
    value) — the only full shuffle, map-side combined to one row per
    distinct value — then roll up per column (distinct count = row count
    of the value relation, nulls = the null group's multiplicity, min/max
    fold over values). 3× faster than Catalyst's multi-`count_distinct`
    Expand plan at sf0.1 and the gap widens with row count: the Expand
    shuffles duplicated input rows, this shuffles distinct values.
    Production at 100 TB can still swap phase 1 for
    `approx_count_distinct` when exactness isn't required. No joins.
    """
    o = table(spark, sf_dir, "orders")
    pairs = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            num = f"CAST({c} AS DOUBLE)"
        elif kind == "ts":
            num = f"CAST(unix_micros({c}) AS DOUBLE)"
        else:
            num = "CAST(NULL AS DOUBLE)"
        pairs.append(f"'{c}', CAST({c} AS STRING), {num}")
    stacked = o.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {', '.join(pairs)}) "
        "AS (col_name, v, v_num)"
    )
    # phase 1: per (column, value) multiplicities — ONE shuffle; phase 2:
    # per-column rollup over the distinct-value relation (distinct count =
    # row count, null count = null group's multiplicity). 3× faster than
    # the multi-count_distinct Expand at sf0.1: the expensive shuffle
    # carries (col, value) partial counts, never per-distinct duplicates.
    per_val = stacked.groupBy("col_name", "v").agg(
        F.count(F.lit(1)).alias("c"), F.min("v_num").alias("v_num")
    )
    str_cols = [c for c, k in _PROFILE_COLS if k == "str"]
    sv = F.when(
        F.col("col_name").isin(*str_cols) & F.col("v").isNotNull(), F.col("v")
    )
    return per_val.groupBy(F.col("col_name").alias("column")).agg(
        F.sum(F.when(F.col("v").isNull(), F.col("c")).otherwise(0)).alias(
            "n_nulls"
        ),
        F.sum(F.when(F.col("v").isNotNull(), 1).otherwise(0)).alias(
            "n_distinct"
        ),
        F.min("v_num").alias("min_num"),
        F.max("v_num").alias("max_num"),
        F.min(sv).alias("min_str"),
        F.max(sv).alias("max_str"),
        F.sum("c").alias("n_rows"),
    )


def _profile_sql_one(c: str, kind: str) -> str:
    if kind == "num":
        mn, mx = f"MIN(CAST({c} AS DOUBLE))", f"MAX(CAST({c} AS DOUBLE))"
    elif kind == "ts":
        mn = f"MIN(CAST(epoch_us({c}) AS DOUBLE))"
        mx = f"MAX(CAST(epoch_us({c}) AS DOUBLE))"
    else:
        mn = mx = "CAST(NULL AS DOUBLE)"
    ms, xs = (
        (f"MIN({c})", f"MAX({c})") if kind == "str"
        else ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
    )
    return f"""
SELECT '{c}' AS "column",
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       {mn} AS min_num, {mx} AS max_num,
       {ms} AS min_str, {xs} AS max_str,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders"""


TABLE_PROFILE_SQL = "\nUNION ALL\n".join(
    _profile_sql_one(c, kind) for c, kind in _PROFILE_COLS
)


def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint — the anti-entropy primitive for
    comparing replicas/migrations without moving data: per table, XOR of a
    60-bit md5 row digest (key columns + integer-cents money) plus the row
    count. XOR is commutative/associative and its partial aggregates
    merge, so 1000 executors each fold their partitions and the shuffle
    carries ONE value per partition; two 100 TB replicas compare by
    exchanging 16 bytes per table. Row digests come from the same
    cross-engine md5 convention as every sketch here (functions/hashing).
    orders and lineitem fingerprint in one query via unionByName of two
    single-row aggregates."""
    from ..functions.hashing import md5_long

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    o_digest = md5_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            cents(F.col("o_totalprice")).cast("string"),
        )
    )
    li_digest = md5_long(
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            cents(F.col("l_extendedprice")).cast("string"),
        )
    )
    # bit_xor has no pyspark.sql.functions wrapper in this version; F.expr
    # keeps it a JVM SQL aggregate
    o_sum = o.select(o_digest.alias("d")).agg(
        F.lit("orders").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(d)").alias("checksum"),
    )
    li_sum = li.select(li_digest.alias("d")).agg(
        F.lit("lineitem").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(d)").alias("checksum"),
    )
    return o_sum.unionByName(li_sum)


TABLE_CHECKSUM_SQL = f"""
SELECT 'orders' AS table_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       bit_xor({sql_md5_long(
           "CAST(o_orderkey AS VARCHAR) || '|' || "
           "CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) "
           "AS VARCHAR)")}) AS checksum
FROM orders
UNION ALL
SELECT 'lineitem' AS table_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       bit_xor({sql_md5_long(
           "CAST(l_orderkey AS VARCHAR) || '|' || "
           "CAST(l_linenumber AS VARCHAR) || '|' || "
           "CAST(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) "
           "AS VARCHAR)")}) AS checksum
FROM lineitem
"""


DQ_AS_OF = "2025-01-01"  # fixed audit date — never wall-clock (determinism)
DQ_MAX_STALE_DAYS = {"events": 365, "orders": 9000, "lineitem": 9000}


def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness/staleness check — the SLA gate every scheduled pipeline
    needs and the reference's DQ library lacks (`data_quality.py` checks
    values, never arrival lag): per monitored table, the newest event
    time, its lag against a FIXED as-of date (wall-clock in a check is a
    determinism bug — the audit date is an explicit parameter), and a
    pass verdict against the per-table SLA. One max-aggregate per table
    (metadata-cheap: at 100 TB this reads parquet footer stats, or the
    last partition under date partitioning — never a full scan), unioned
    into one report, same shape as `table_checksum`."""
    parts = []
    for t, col in (("events", "ts"), ("orders", "o_orderdate"),
                   ("lineitem", "l_shipdate")):
        newest = F.max(F.col(col).cast("date"))
        parts.append(
            table(spark, sf_dir, t).agg(
                F.lit(t).alias("table_name"),
                newest.alias("newest"),
                F.datediff(F.lit(DQ_AS_OF).cast("date"), newest).alias(
                    "stale_days"
                ),
                (
                    F.datediff(F.lit(DQ_AS_OF).cast("date"), newest)
                    <= DQ_MAX_STALE_DAYS[t]
                ).alias("fresh"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


DQ_FRESHNESS_SQL = f"""
SELECT 'events' AS table_name,
       MAX(CAST(ts AS DATE)) AS newest,
       CAST(DATE '{DQ_AS_OF}' - MAX(CAST(ts AS DATE)) AS INTEGER)
           AS stale_days,
       DATE '{DQ_AS_OF}' - MAX(CAST(ts AS DATE))
           <= {DQ_MAX_STALE_DAYS["events"]} AS fresh
FROM events
UNION ALL
SELECT 'orders', MAX(CAST(o_orderdate AS DATE)),
       CAST(DATE '{DQ_AS_OF}' - MAX(CAST(o_orderdate AS DATE)) AS INTEGER),
       DATE '{DQ_AS_OF}' - MAX(CAST(o_orderdate AS DATE))
           <= {DQ_MAX_STALE_DAYS["orders"]}
FROM orders
UNION ALL
SELECT 'lineitem', MAX(CAST(l_shipdate AS DATE)),
       CAST(DATE '{DQ_AS_OF}' - MAX(CAST(l_shipdate AS DATE)) AS INTEGER),
       DATE '{DQ_AS_OF}' - MAX(CAST(l_shipdate AS DATE))
           <= {DQ_MAX_STALE_DAYS["lineitem"]}
FROM lineitem
"""


PII_PATTERN = "[0-9]{2,}"  # digit-run detector (account/phone-number shape)


K_ANON = 5  # minimum group size for the k-anonymity bar


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk audit — the privacy check that complements
    `pii_mask`/`pii_scan`: how many customers sit in quasi-identifier
    groups smaller than k (each such row is linkable by joining public
    attributes). Two generalization levels report side by side, which IS
    the k-anonymity workflow: the fine level (nation, segment, exact-
    thousand balance band — integer-cents div, no float bucketing) fails
    broadly, the generalized level (nation, segment) passes — the
    evidence for choosing a release granularity. One hash aggregate per
    level over the customer dim; counts are exact integers, so the
    report is oracle bit-checked."""

    def level(df: DataFrame, name: str, cols: list) -> DataFrame:
        g = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
        return g.agg(
            F.lit(name).alias("level"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum((F.col("n") < K_ANON).cast("long")).alias("n_violating"),
            F.sum(F.when(F.col("n") < K_ANON, F.col("n")).otherwise(0))
            .alias("n_exposed_rows"),
            F.min("n").alias("min_group_size"),
        )

    c = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            "CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) div 100000"
        ).alias("bal_band"),
    )
    fine = level(c, "nation+segment+balance_band",
                 ["c_nationkey", "c_mktsegment", "bal_band"])
    general = level(c, "nation+segment", ["c_nationkey", "c_mktsegment"])
    return fine.unionByName(general)


K_ANONYMITY_AUDIT_SQL = f"""
WITH c AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) // 100000 AS bal_band
  FROM customer
),
fine AS (
  SELECT c_nationkey, c_mktsegment, bal_band, COUNT(*) AS n
  FROM c GROUP BY 1, 2, 3
),
gen AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n FROM c GROUP BY 1, 2
)
SELECT 'nation+segment+balance_band' AS level,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
       CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT)
           AS n_exposed_rows,
       CAST(MIN(n) AS BIGINT) AS min_group_size
FROM fine
UNION ALL
SELECT 'nation+segment' AS level,
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN n < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT),
       CAST(MIN(n) AS BIGINT)
FROM gen
"""


def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitive-data detector over a semi-structured column — the scan
    half of the compliance pair (`etl.py::pii_mask` is the remediation
    half): regex-match digit runs inside the raw `events.props` JSON
    payload and report exposure per event type (events scanned, events
    with hits, total hits). Pattern matching runs as a codegen'd
    `regexp_extract_all` + `size` — narrow map, no UDF, no shuffle until
    the final small aggregate — so the audit costs one scan at any
    volume and parallelizes per-file. The pattern set is a parameter;
    production stacks more patterns (SSN/IBAN/email shapes) as
    additional counter columns in the SAME single pass."""
    e = table(spark, sf_dir, "events")
    hits = F.size(F.regexp_extract_all(F.col("props"), F.lit(PII_PATTERN), F.lit(0)))
    return (
        e.select("event_type", hits.alias("h"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("h") > 0).cast("long")).alias("events_with_hits"),
            F.sum("h").alias("total_hits"),
            F.max("h").alias("max_hits_per_event"),
        )
    )


PII_SCAN_SQL = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN len(regexp_extract_all(props, '{PII_PATTERN}')) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS events_with_hits,
       CAST(SUM(len(regexp_extract_all(props, '{PII_PATTERN}'))) AS BIGINT)
           AS total_hits,
       CAST(MAX(len(regexp_extract_all(props, '{PII_PATTERN}'))) AS INTEGER)
           AS max_hits_per_event
FROM events
GROUP BY event_type
"""


DQ_VOLUME_DROP_PCT = 50  # alert when a day arrives with < half of yesterday


def dq_volume_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly monitoring — the arrival-rate half of pipeline
    health (dq_freshness is the latency half): daily event counts with
    day-over-day change, flagging days that arrive with less than half
    the previous day's volume (the silent-upstream-failure signature:
    the pipeline 'succeeds' while ingesting a fraction of the data).
    Counts are one date-truncated aggregate (rollup-sized forever); the
    day-over-day comparison is a lag() over the daily rollup, and the
    drop test is exact integer cross-multiplication (n·100 < prev·50) —
    no float thresholds. The check every orchestrator should run before
    marking a partition done."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.orderBy("day")
    return (
        daily.withColumn("prev_events", F.lag("n_events", 1).over(w))
        .select(
            "day",
            "n_events",
            "prev_events",
            (
                F.col("prev_events").isNotNull()
                & (F.col("n_events") * 100 < F.col("prev_events") * DQ_VOLUME_DROP_PCT)
            ).alias("volume_alert"),
        )
    )


DQ_VOLUME_TREND_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY CAST(ts AS DATE)
)
SELECT day, n_events,
       LAG(n_events) OVER (ORDER BY day) AS prev_events,
       LAG(n_events) OVER (ORDER BY day) IS NOT NULL
         AND n_events * 100 < LAG(n_events) OVER (ORDER BY day)
                              * {DQ_VOLUME_DROP_PCT}
           AS volume_alert
FROM daily
"""


QUERIES: dict[str, QuerySpec] = {
    "dq_volume_trend": QuerySpec(
        dq_volume_trend,
        DQ_VOLUME_TREND_SQL,
        "day-over-day volume drop alerting over the daily rollup",
    ),
    "k_anonymity_audit": QuerySpec(
        k_anonymity_audit, K_ANONYMITY_AUDIT_SQL,
        "k=5 re-identification audit at two generalization levels",
    ),
    "pii_scan": QuerySpec(
        pii_scan,
        PII_SCAN_SQL,
        "regex sensitive-data exposure audit over raw JSON payloads",
    ),
    "dq_freshness": QuerySpec(
        dq_freshness,
        DQ_FRESHNESS_SQL,
        "per-table staleness vs fixed as-of date, one max-agg per table",
    ),
    "table_checksum": QuerySpec(
        table_checksum,
        TABLE_CHECKSUM_SQL,
        "order-independent XOR row-digest fingerprint per table",
    ),
    "table_profile": QuerySpec(
        table_profile,
        TABLE_PROFILE_SQL,
        "one-pass ANALYZE: nulls/distincts/min/max for every column",
    ),
    "dq_outlier_iqr": QuerySpec(
        dq_outlier_iqr,
        DQ_OUTLIER_IQR_SQL,
        "Tukey-fence outlier count (integer half-cent fences)",
    ),
    "dq_null_counts": QuerySpec(dq_null_counts, DQ_NULL_COUNTS_SQL, "single-pass null counts (Q1)"),
    "dq_dup_count": QuerySpec(dq_dup_count, DQ_DUP_COUNT_SQL, "duplicate-key count (Q2)"),
    "dq_range_violations": QuerySpec(dq_range_violations, DQ_RANGE_VIOLATIONS_SQL, "range-violation counts (Q3)"),
    "dq_orphans": QuerySpec(dq_orphans, DQ_ORPHANS_SQL, "referential integrity (Q4)"),
}
