"""Driver-visible queries for the ETL surface: the staged-upsert merge
(K3, `readshift_loader.py:68-149`) expressed as a pure oracled query, and the
banking transaction transform chain (clean→enrich→metrics,
`transaction_transform.py:22-135`) over the deterministic distributed seed,
reduced to a cents-exact per-type bit_xor digest whose DuckDB oracle replays
the seed AND the whole chain (the anomaly stage's double-stddev flags stay
under tests/test_banking_pipeline.py's hand-computed expectations instead —
sample stddev of doubles is reassociation-sensitive across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..domain.seed import seed_all
from ..functions.numeric import cents, sql_cents
from ..sinks.writers import merge_upsert as _merge
from ..spec import QuerySpec


def merge_upsert_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert an 'updates' slice of customer into a 'target' slice: matched
    keys take the update row, unmatched target rows survive."""
    c = table(spark, sf_dir, "customer")
    target = c.filter(F.col("c_custkey") <= 1000).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    updates = c.filter(F.col("c_custkey").between(500, 1500)).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
    )
    return _merge(target, updates, ["c_custkey"])


MERGE_UPSERT_SQL = """
WITH target AS (
  SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey <= 1000
),
updates AS (
  SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal
  FROM customer WHERE c_custkey BETWEEN 500 AND 1500
)
SELECT * FROM updates
UNION ALL
SELECT t.*
FROM target t LEFT JOIN updates u ON t.c_custkey = u.c_custkey
WHERE u.c_custkey IS NULL
"""


def pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PII masking over the customer dimension — the
    compliance transform a banking pipeline (the reference's domain,
    `docs/customer_data.txt`) runs before data leaves the trusted zone:

    - pseudonymization: stable surrogate `substr(md5(name), 1, 12)` so joins
      still work across masked extracts without exposing the identifier;
    - suppression: digit runs in the name masked to '#' (regexp, global);
    - generalization: exact balance → 1000-wide band.

    All three are JVM-side built-ins (md5/regexp_replace/floor) — no UDF,
    fully codegen'd, and embarrassingly parallel: no shuffle at all, the
    plan is scan→project, so it scales linearly to any table size.
    """
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.substring(F.md5(F.col("c_name")), 1, 12).alias("pseudonym"),
        F.regexp_replace(F.col("c_name"), "[0-9]", "#").alias("masked_name"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias(
            "acctbal_band"
        ),
        "c_mktsegment",
    )


PII_MASK_SQL = """
SELECT c_custkey,
       substr(md5(c_name), 1, 12) AS pseudonym,
       regexp_replace(c_name, '[0-9]', '#', 'g') AS masked_name,
       CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band,
       c_mktsegment
FROM customer
"""


def latest_event_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot compaction: the latest event per user, plus how
    many changes it compacted away — the `row_number()=1` dedup every
    change-log consumer runs, done instead as ONE hash-aggregate pass with
    max_by on a zero-padded (epoch-µs, event_id) sortable key (deterministic
    under same-µs ties). No window, no per-key sort: at 100 TB the window
    formulation sorts every partition; this shape shuffles only the partial
    per-user maxima (map-side combine), the same plan that keeps a
    1000-executor MERGE snapshot build cheap.
    """
    e = table(spark, sf_dir, "events")
    # struct (micros, event_id) sort key: same total order as the
    # oracle's zero-padded printf key, no per-event string alloc
    key = F.struct(F.unix_micros(F.col("ts")).alias("us"), F.col("event_id"))
    return (
        e.select("user_id", "ts", "event_type", "value", key.alias("k"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.max("ts").alias("last_ts"),
            F.max_by("event_type", "k").alias("last_type"),
            F.max_by("value", "k").alias("last_value"),
        )
    )


LATEST_EVENT_SNAPSHOT_SQL = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_versions,
       MAX(ts) AS last_ts,
       arg_max(event_type, printf('%020d:%010d', epoch_us(ts), event_id))
           AS last_type,
       arg_max(value, printf('%020d:%010d', epoch_us(ts), event_id))
           AS last_value
FROM events
GROUP BY user_id
"""


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation — the audit the reference's staged upsert
    (`readshift_loader.py:68-149`) implies but never verifies: diff
    yesterday's vs today's customer snapshot into inserted / deleted /
    updated / unchanged, with the net balance movement per class.

    Snapshots are simulated deterministically from the one customer table
    (mod-key membership + a +50 balance bump on every 7th key). The diff is
    ONE full outer join on the PK with integer-cents value comparison —
    at 100 TB both snapshots live bucketed by PK (skew.write_bucketed), so
    the join is co-located and shuffle-free; the class counts are a 4-row
    aggregate. Exactly-once CDC without a change feed.
    """
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", cents(F.col("c_acctbal")).alias("bal_c")
    )
    old = c.filter(F.col("c_custkey") % 89 != 3)
    new = (
        c.filter(F.col("c_custkey") % 97 != 5)
        .withColumn(
            "bal_c",
            F.when(
                F.col("c_custkey") % 7 == 0, F.col("bal_c") + 5000
            ).otherwise(F.col("bal_c")),
        )
    )
    j = old.alias("o").join(
        new.alias("n"), F.col("o.c_custkey") == F.col("n.c_custkey"), "full"
    )
    status = (
        F.when(F.col("o.c_custkey").isNull(), F.lit("inserted"))
        .when(F.col("n.c_custkey").isNull(), F.lit("deleted"))
        .when(F.col("o.bal_c") != F.col("n.bal_c"), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    delta = F.coalesce(F.col("n.bal_c"), F.lit(0)) - F.coalesce(
        F.col("o.bal_c"), F.lit(0)
    )
    return (
        j.select(status.alias("status"), delta.alias("delta_c"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("delta_c").alias("net_delta_cents"),
        )
    )


SNAPSHOT_DIFF_SQL = """
WITH c AS (
  SELECT c_custkey, c_name,
         CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_c
  FROM customer
),
old AS (SELECT * FROM c WHERE c_custkey % 89 <> 3),
new AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_custkey % 7 = 0 THEN bal_c + 5000 ELSE bal_c END AS bal_c
  FROM c WHERE c_custkey % 97 <> 5
)
SELECT CASE WHEN o.c_custkey IS NULL THEN 'inserted'
            WHEN n.c_custkey IS NULL THEN 'deleted'
            WHEN o.bal_c <> n.bal_c THEN 'updated'
            ELSE 'unchanged' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(COALESCE(n.bal_c, 0) - COALESCE(o.bal_c, 0)) AS BIGINT)
           AS net_delta_cents
FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
GROUP BY 1
"""


def banking_txn_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed → clean → enrich → metrics, reduced to a cents-exact digest,
    so the whole pipeline is checked against an oracle, not by row count.

    The seed is md5-deterministic column algebra (domain/seed.py), so the
    DuckDB oracle replays the ENTIRE pipeline — account seeding, active-FK
    assignment, transaction seeding, type canonicalization, FX conversion,
    category bucketing, date parts, and the per-account window metrics —
    and must reproduce the per-type row counts, exact cents sums, AND a
    bit_xor row digest over every metric column. Money flows through the
    fixed-point cents policy (functions/numeric.py): the running balance
    and 30-day spend are integer window sums, exact and order-independent
    across engines and partitionings, where double window sums would drift
    (DuckDB's segment-tree accumulation order ≠ Spark's running
    accumulation). The anomaly stage (3σ flags over double stddev) stays
    out of the digest by design — sample-stddev of doubles is
    reassociation-sensitive; it is covered by
    tests/test_banking_pipeline.py's hand-computed expectations instead."""
    from pyspark.sql import Window

    from ..domain.transactions import clean_transactions, enrich_transactions
    from ..functions.hashing import md5_long

    data = seed_all(spark, num_customers=200, num_accounts=300,
                    num_transactions=3000)
    enriched = enrich_transactions(clean_transactions(data["transactions"]))
    usd_c = cents(F.col("amount_usd"))
    signed_c = F.when(
        F.col("transaction_type").isin("deposit", "transfer_in"), usd_c
    ).otherwise(-usd_c)
    spend_c = F.when(
        F.col("transaction_type").isin("withdrawal", "payment"), usd_c
    ).otherwise(F.lit(0).cast("long"))
    w = Window.partitionBy("account_id").orderBy(
        "transaction_date", "transaction_id"
    )
    w30 = (
        Window.partitionBy("account_id")
        .orderBy(F.col("transaction_date").cast("long"))
        .rangeBetween(-30 * 86_400, 0)
    )
    m = (
        enriched.select(
            "transaction_id",
            "account_id",
            "transaction_type",
            "transaction_category",
            "transaction_date",
            "transaction_year",
            "transaction_month",
            "transaction_day",
            "transaction_hour",
            F.col("is_weekend").cast("int").alias("wknd"),
            usd_c.alias("usd_c"),
            signed_c.alias("signed_c"),
            spend_c.alias("spend_c"),
        )
        .select(
            "*",
            F.sum("signed_c").over(w).alias("running_balance_c"),
            F.lag("transaction_date").over(w).alias("prev_ts"),
            F.count(F.lit(1)).over(w30).alias("count_30d"),
            F.sum("spend_c").over(w30).alias("spend_30d_c"),
        )
        .withColumn(
            "days_since_last",
            F.when(F.col("prev_ts").isNull(), F.lit(0)).otherwise(
                F.datediff(F.col("transaction_date"), F.col("prev_ts"))
            ),
        )
    )
    digest = md5_long(
        F.concat_ws(
            "|",
            *[
                F.col(c).cast("string")
                for c in (
                    "transaction_id", "transaction_type",
                    "transaction_category", "transaction_year",
                    "transaction_month", "transaction_day",
                    "transaction_hour", "wknd", "usd_c",
                    "running_balance_c", "count_30d", "spend_30d_c",
                    "days_since_last",
                )
            ],
        )
    )
    return (
        m.select("transaction_type", "usd_c", digest.alias("d"))
        .groupBy("transaction_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("usd_c").alias("sum_usd_c"),
            F.expr("bit_xor(d)").alias("checksum"),
        )
    )


def _banking_txn_pipeline_sql() -> str:
    """DuckDB replay of seed_accounts/seed_transactions (domain/seed.py) +
    clean→enrich→cents-metrics, mirroring banking_txn_pipeline exactly."""
    import datetime as dt

    from ..domain.seed import (
        ACCOUNT_STATUSES,
        AS_OF,
        CURRENCIES,
        MERCHANT_CATEGORIES,
        SEED,
        TRANSACTION_TYPES,
    )
    from ..domain.transactions import CATEGORY_BUCKETS, FX_USD
    from ..functions.hashing import sql_md5_long

    def u(entity: str, field: str, n) -> str:
        h = sql_md5_long(f"printf('{SEED}:{entity}:{field}:%d', id)")
        return f"({h} % {n})"

    def pick(entity: str, field: str, values: list[str]) -> str:
        arr = "[" + ", ".join(f"'{v}'" for v in values) + "]"
        return f"({arr})[CAST({u(entity, field, len(values))} AS INT) + 1]"

    epoch_as_of = int(
        dt.datetime.combine(AS_OF, dt.time(12, 0), dt.timezone.utc).timestamp()
    )
    secs_ago = (
        f"{u('txn', 'days', 91)} * 86400 + {u('txn', 'hours', 25)} * 3600"
        f" + {u('txn', 'mins', 60)} * 60 + {u('txn', 'secs', 60)}"
    )
    fx = " ".join(
        f"WHEN currency = '{ccy}' THEN CAST(amount AS DOUBLE) * {rate!r}"
        if ccy != "USD"
        else "WHEN currency = 'USD' THEN CAST(amount AS DOUBLE)"
        for ccy, rate in FX_USD.items()
    )
    bucket = " ".join(
        "WHEN merchant_category IN ("
        + ", ".join(f"'{c}'" for c in cats)
        + f") THEN '{name}'"
        for name, cats in CATEGORY_BUCKETS.items()
    )
    digest_cols = (
        "transaction_id", "transaction_type", "transaction_category",
        "transaction_year", "transaction_month", "transaction_day",
        "transaction_hour", "wknd", "usd_c", "running_balance_c",
        "count_30d", "spend_30d_c", "days_since_last",
    )
    digest = sql_md5_long(
        " || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in digest_cols)
    )
    return f"""
WITH acct AS (
  SELECT printf('ACC%08d', id) AS account_id,
         {pick('acct', 'status', ACCOUNT_STATUSES)} AS account_status
  FROM range(300) t(id)
),
active AS (
  SELECT account_id,
         row_number() OVER (ORDER BY account_id) - 1 AS _idx
  FROM acct WHERE account_status = 'active'
),
nact AS (SELECT COUNT(*) AS n FROM active),
txn AS (
  SELECT 'TXN-' || md5(printf('{SEED}:txn:%d', id)) AS transaction_id,
         {u('txn', 'acct_fk', '(SELECT n FROM nact)')} AS _idx,
         {epoch_as_of} - ({secs_ago}) AS epoch,
         {pick('txn', 'type', TRANSACTION_TYPES)} AS transaction_type,
         CAST(10.0 + {u('txn', 'amount', 499_000)} / 100.0
              AS DECIMAL(18, 2)) AS amount,
         {pick('txn', 'ccy', CURRENCIES)} AS currency,
         {pick('txn', 'mcat', MERCHANT_CATEGORIES)} AS merchant_category
  FROM range(3000) t(id)
),
joined AS (
  SELECT txn.*, active.account_id, make_timestamp(epoch * 1000000) AS ts
  FROM txn JOIN active USING (_idx)
),
cleaned AS (
  SELECT *,
         CASE WHEN lower(transaction_type)
                   IN ('deposit', 'withdrawal', 'transfer', 'payment')
              THEN lower(transaction_type)
              ELSE transaction_type END AS canon_type
  FROM joined
  WHERE NOT (lower(transaction_type) = 'deposit' AND amount < 0)
),
enriched AS (
  SELECT transaction_id, account_id, ts, epoch,
         canon_type AS transaction_type,
         CAST(year(ts) AS INTEGER) AS transaction_year,
         CAST(month(ts) AS INTEGER) AS transaction_month,
         CAST(day(ts) AS INTEGER) AS transaction_day,
         CAST(hour(ts) AS INTEGER) AS transaction_hour,
         CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS wknd,
         {sql_cents(f"CASE {fx} ELSE CAST(amount AS DOUBLE) END")} AS usd_c,
         CASE {bucket} ELSE 'Other' END AS transaction_category
  FROM cleaned
),
signed AS (
  SELECT *,
         CASE WHEN transaction_type IN ('deposit', 'transfer_in')
              THEN usd_c ELSE -usd_c END AS signed_c,
         CASE WHEN transaction_type IN ('withdrawal', 'payment')
              THEN usd_c ELSE 0 END AS spend_c
  FROM enriched
),
m AS (
  SELECT *,
         SUM(signed_c) OVER
             (PARTITION BY account_id ORDER BY ts, transaction_id)
             AS running_balance_c,
         LAG(ts) OVER
             (PARTITION BY account_id ORDER BY ts, transaction_id)
             AS prev_ts,
         COUNT(*) OVER w30 AS count_30d,
         SUM(spend_c) OVER w30 AS spend_30d_c
  FROM signed
  WINDOW w30 AS (PARTITION BY account_id ORDER BY epoch
                 RANGE BETWEEN {30 * 86_400} PRECEDING AND CURRENT ROW)
),
final AS (
  SELECT *,
         CAST(CASE WHEN prev_ts IS NULL THEN 0
                   ELSE date_diff('day', CAST(prev_ts AS DATE),
                                  CAST(ts AS DATE)) END AS INTEGER)
             AS days_since_last
  FROM m
)
SELECT transaction_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(usd_c) AS BIGINT) AS sum_usd_c,
       bit_xor({digest}) AS checksum
FROM final
GROUP BY transaction_type
"""


BANKING_TXN_PIPELINE_SQL = _banking_txn_pipeline_sql()


def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply an insert/update/delete CHANGELOG to produce the live
    snapshot — the semantic layer `latest_event_snapshot` (keep-latest)
    lacks: a Debezium/Delta-CDF-style feed where the LAST operation per
    key decides existence. The changelog is derived deterministically
    from events (signup→I, view/click/purchase→U, error→D, applied in
    (ts, event_id) order per user); the apply is ONE hash aggregate —
    max_by over the zero-padded sortable key picks the final op and
    value, and tombstoned keys (last op = D) are filtered AFTER
    aggregation, so deletes cost nothing extra. Never a window sort, no
    join: the shuffle carries one partial candidate per (partition,
    user), which is the plan that applies a day's CDC feed to a
    billion-row dimension. Delete history stays visible as n_deletes.

    Reference tie-in: the staged upsert (`readshift_loader.py:68-149`)
    only knows matched/unmatched; CDC apply is its generalization to
    op-coded feeds (MERGE ... WHEN MATCHED AND op='D' THEN DELETE).
    """
    e = table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
    )
    # struct (micros, event_id) key: same order as the printf form
    key = F.struct(F.unix_micros(F.col("ts")).alias("us"), F.col("event_id"))
    applied = (
        e.select(
            "user_id",
            op.alias("op"),
            cents(F.col("value")).alias("value_c"),
            key.alias("k"),
        )
        .groupBy("user_id")
        .agg(
            F.max_by("op", "k").alias("last_op"),
            F.max_by("value_c", "k").alias("last_value_c"),
            F.count(F.lit(1)).alias("n_ops"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_deletes"),
        )
    )
    return applied.filter(F.col("last_op") != "D").select(
        "user_id", "last_op", "last_value_c", "n_ops", "n_deletes"
    )


CDC_APPLY_SQL = """
WITH log AS (
  SELECT user_id,
         CASE WHEN event_type = 'signup' THEN 'I'
              WHEN event_type = 'error' THEN 'D'
              ELSE 'U' END AS op,
         CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS value_c,
         printf('%020d:%010d', epoch_us(ts), event_id) AS k
  FROM events
),
applied AS (
  SELECT user_id,
         arg_max(op, k) AS last_op,
         arg_max(value_c, k) AS last_value_c,
         CAST(COUNT(*) AS BIGINT) AS n_ops,
         CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
  FROM log GROUP BY user_id
)
SELECT user_id, last_op, last_value_c, n_ops, n_deletes
FROM applied WHERE last_op <> 'D'
"""


def late_dim_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving-dimension handling — the ETL decision the reference's
    orchestrator never makes (a fact row whose dimension hasn't landed
    yet either crashes the join or silently drops): facts LEFT-join the
    broadcast dim (here: every 17th customer 'hasn't arrived'), matched
    rows flow on, unmatched rows are QUARANTINED per month with counts
    and held revenue — the requeue manifest a scheduler retries after
    the next dim load. One broadcast left join + one aggregate; the
    quarantine branch costs nothing extra because the match flag is a
    column, not a second scan. At 100 TB the quarantine write is a
    by-month partitioned append, so the retry reads only pending
    partitions — same pruning story as `restatement_plan`."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    dim = c.filter(F.col("c_custkey") % 17 != 0).select(
        "c_custkey", "c_mktsegment"
    )
    month = F.date_trunc("month", F.col("o_orderdate")).cast("date")
    joined = o.select(
        month.alias("month"),
        "o_custkey",
        cents(F.col("o_totalprice")).alias("price_c"),
    ).join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"), "left")
    return joined.groupBy(
        "month", F.col("c_custkey").isNull().alias("quarantined")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price_c").alias("revenue_c"),
        F.count_distinct("o_custkey").alias("n_customers"),
    )


LATE_DIM_QUARANTINE_SQL = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       d.c_custkey IS NULL AS quarantined,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS revenue_c,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders o
LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer
           WHERE c_custkey % 17 <> 0) d
  ON o.o_custkey = d.c_custkey
GROUP BY 1, 2
"""


QUERIES: dict[str, QuerySpec] = {
    "late_dim_quarantine": QuerySpec(
        late_dim_quarantine,
        LATE_DIM_QUARANTINE_SQL,
        "left-join quarantine manifest for late-arriving dimensions",
    ),
    "cdc_apply": QuerySpec(
        cdc_apply,
        CDC_APPLY_SQL,
        "I/U/D changelog apply with tombstone filtering, one aggregate",
    ),
    "merge_upsert": QuerySpec(
        merge_upsert_query, MERGE_UPSERT_SQL,
        "staged-upsert MERGE semantics as a pure anti-join + union",
    ),
    "pii_mask": QuerySpec(
        pii_mask, PII_MASK_SQL,
        "deterministic pseudonymize/suppress/generalize masking, shuffle-free",
    ),
    "latest_event_snapshot": QuerySpec(
        latest_event_snapshot, LATEST_EVENT_SNAPSHOT_SQL,
        "keep-latest-per-key CDC compaction as one max_by hash aggregate",
    ),
    "snapshot_diff": QuerySpec(
        snapshot_diff, SNAPSHOT_DIFF_SQL,
        "full-outer snapshot reconciliation: insert/delete/update classes",
    ),
    "banking_txn_pipeline": QuerySpec(
        banking_txn_pipeline, BANKING_TXN_PIPELINE_SQL,
        "seed→clean→enrich→metrics chain, cents-exact bit_xor digest",
    ),
}
