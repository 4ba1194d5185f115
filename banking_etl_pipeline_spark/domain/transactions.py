"""Transaction transforms: clean → enrich → metrics → anomaly flags.

Semantic parity with the reference's analytic core
(`/root/reference/src/transformation/transaction_transform.py:22-179`),
re-expressed Spark-first:

- each stage is a pure ``DataFrame -> DataFrame`` function (no class/session
  state — the reference's ``TransactionTransformer`` only carries an unused
  ``spark`` handle);
- derived columns of a stage land in one ``select`` (one projection node
  instead of 18 chained ``withColumn`` — fewer analyzer passes, same plan);
- the per-account stats of anomaly detection are window aggregates, not
  the reference's aggregate joined back: no second scan of the input, no
  broadcast;
- the 30-day sliding frame orders by epoch seconds (``cast("long")``) so the
  range frame has well-defined numeric semantics (the reference range-orders
  a raw timestamp, which Spark interprets the same way but only implicitly).

All window work shuffles once on ``account_id`` — running balance, lag, the
30-day frame and the per-account stats reuse the same partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DATE_FORMAT = "yyyy-MM-dd HH:mm:ss"

# currency → USD factor (transaction_transform.py:79-83)
FX_USD = {"USD": 1.0, "EUR": 1.1, "GBP": 1.3}

# merchant_category → bucket (transaction_transform.py:86-91)
CATEGORY_BUCKETS = {
    "Groceries": ["grocery", "supermarket"],
    "Dining": ["restaurant", "fast food"],
    "Transportation": ["gas", "fuel"],
    "Utilities": ["utility", "electricity", "water"],
}

CANONICAL_TYPES = ["deposit", "withdrawal", "transfer", "payment"]


def clean_transactions(df: DataFrame) -> DataFrame:
    """≅ clean_transaction_data (transaction_transform.py:22-52).

    Parses string transaction dates, fills missing merchant/description
    fields, drops negative-amount deposits, canonicalizes mixed-case types.
    Type canonicalization is lower() + membership instead of the reference's
    enumerated three-case ``isin`` chains — accepts the same values plus any
    other casing, still one scalar expression.
    """
    ts = F.col("transaction_date")
    if dict(df.dtypes).get("transaction_date") == "string":
        ts = F.to_timestamp(ts, DATE_FORMAT)
    canon = F.lower(F.col("transaction_type"))
    return (
        df.withColumn("transaction_date", ts)
        .na.fill("Unknown", ["merchant_name", "merchant_category", "description"])
        .filter(~((F.lower(F.col("transaction_type")) == "deposit")
                  & (F.col("amount") < 0)))
        .withColumn(
            "transaction_type",
            F.when(canon.isin(CANONICAL_TYPES), canon)
            .otherwise(F.col("transaction_type")),
        )
    )


def enrich_transactions(df: DataFrame) -> DataFrame:
    """≅ enrich_transaction_data (transaction_transform.py:55-94): date parts,
    weekend flag, USD conversion, merchant-category bucketing."""
    ts = F.col("transaction_date")
    dow = F.dayofweek(ts)
    fx = F.when(F.col("currency") == "USD", F.col("amount"))
    for ccy, rate in FX_USD.items():
        if ccy != "USD":
            fx = fx.when(F.col("currency") == ccy, F.col("amount") * rate)
    bucket = None
    for name, cats in CATEGORY_BUCKETS.items():
        cond = F.col("merchant_category").isin(*cats)
        bucket = F.when(cond, name) if bucket is None else bucket.when(cond, name)
    return df.select(
        "*",
        F.year(ts).alias("transaction_year"),
        F.month(ts).alias("transaction_month"),
        F.dayofmonth(ts).alias("transaction_day"),
        F.hour(ts).alias("transaction_hour"),
        dow.alias("transaction_dayofweek"),
        dow.isin(1, 7).alias("is_weekend"),
        fx.otherwise(F.col("amount")).alias("amount_usd"),
        bucket.otherwise("Other").alias("transaction_category"),
    )


def transaction_metrics(df: DataFrame) -> DataFrame:
    """≅ calculate_transaction_metrics (transaction_transform.py:97-135):
    running balance, days-since-last, 30-day rolling count and spend.

    One shuffle on account_id serves all three windows. The tie-break on
    transaction_id makes running_balance deterministic when two transactions
    share a timestamp (the reference's plain timestamp ordering is
    tie-ambiguous there).
    """
    w = Window.partitionBy("account_id").orderBy(
        "transaction_date", "transaction_id"
    )
    w30 = (
        Window.partitionBy("account_id")
        .orderBy(F.col("transaction_date").cast("long"))
        .rangeBetween(-30 * 86_400, 0)
    )
    signed = F.when(
        F.col("transaction_type").isin("deposit", "transfer_in"),
        F.col("amount_usd"),
    ).otherwise(-F.col("amount_usd"))
    prev_ts = F.lag("transaction_date", 1).over(w)
    spend = F.when(
        F.col("transaction_type").isin("withdrawal", "payment"),
        F.col("amount_usd"),
    ).otherwise(F.lit(0))
    return (
        df.withColumn("amount_signed", signed)
        .select(
            "*",
            F.sum("amount_signed").over(w).alias("running_balance"),
            prev_ts.alias("prev_transaction_date"),
            F.count("transaction_id").over(w30).alias("transaction_count_30d"),
            F.sum(spend).over(w30).alias("total_spend_30d"),
        )
        .withColumn(
            "days_since_last_transaction",
            F.when(F.col("prev_transaction_date").isNull(), 0).otherwise(
                F.datediff(F.col("transaction_date"),
                           F.col("prev_transaction_date"))
            ),
        )
    )


def detect_anomalies(df: DataFrame) -> DataFrame:
    """≅ detect_anomalies (transaction_transform.py:137-179): 3σ large-amount
    flag, unusual-location flag, high-frequency flag, combined fraud flag.

    The per-account stats are aggregates over a window partitioned by
    account_id, so they ride the metric windows' exchange and sort instead
    of a side aggregate joined back, which scanned the input a second time.
    Columns keep the join's order (account_id first), and a null account_id
    gets null stats, as the join's unmatched key did.
    """
    acct = Window.partitionBy("account_id")
    keyed = F.col("account_id").isNotNull()
    out = df.select(
        "account_id",
        *[c for c in df.columns if c != "account_id"],
        F.when(keyed, F.stddev("amount_usd").over(acct))
        .alias("amount_stddev"),
        F.when(keyed, F.avg("amount_usd").over(acct)).alias("amount_avg"),
        F.when(keyed, F.max("amount_usd").over(acct)).alias("amount_max"),
    )
    large = (
        F.col("amount_usd") > F.col("amount_avg") + 3 * F.col("amount_stddev")
    ) & (F.col("amount_usd") > 1000)
    unusual = F.col("is_international") & ~F.col("location").isin(
        "Canada", "Mexico", "United Kingdom", "France", "Germany"
    )
    return out.select(
        "*",
        large.alias("is_large_transaction"),
        unusual.alias("is_unusual_location"),
        (F.col("transaction_count_30d") > 100).alias("is_high_frequency"),
    ).withColumn(
        "potential_fraud",
        F.col("is_large_transaction")
        | F.col("is_unusual_location")
        | (F.col("days_since_last_transaction") < 0.01),
    )


def transform_transactions(df: DataFrame) -> DataFrame:
    """Full chain, as composed by the orchestrator (main.py:174-177)."""
    return detect_anomalies(transaction_metrics(enrich_transactions(clean_transactions(df))))
