"""Per-account anomaly stats as window aggregates.

``detect_anomalies`` used to compute ``amount_stddev``/``amount_avg``/
``amount_max`` with a ``groupBy`` broadcast back onto the fact rows, which
scanned the input a second time. The stats are now aggregates over the
``account_id`` window the metrics already shuffle for. These tests pin both
halves of that: the output equals the join form's, and the plan holds one
scan and one ``account_id`` exchange.
"""

from __future__ import annotations

import datetime as dt
import math
import random

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from banking_etl_pipeline_spark.domain import seed as vocab
from banking_etl_pipeline_spark.domain.schemas import RAW_CSV_SCHEMAS
from banking_etl_pipeline_spark.domain.transactions import (
    clean_transactions,
    enrich_transactions,
    transaction_metrics,
    transform_transactions,
)
from banking_etl_pipeline_spark.pipeline import SourceSpec
from banking_etl_pipeline_spark.plans import plan_of
from banking_etl_pipeline_spark.sinks.writers import write_csv

FLAGS = ["is_large_transaction", "is_unusual_location", "is_high_frequency",
         "potential_fraud"]
FLOAT_STATS = ["amount_stddev", "amount_avg"]


def _batch(spark, seed: int, n: int = 3_000, accounts: int = 90) -> DataFrame:
    """Raw transaction rows in the shape of the ``txn_batch`` benchmark
    (value lists of ``domain.seed``, amounts 10.00-4999.99 over 91 days,
    about 33 per account), with every 50th amount 50× larger so the 3σ flag
    fires, and a few rows with no account."""
    rng = random.Random(seed)
    end = dt.datetime.combine(vocab.AS_OF, dt.time(12))
    rows = []
    for j in range(n):
        cents = rng.randrange(1_000, 500_000) * (50 if j % 50 == 0 else 1)
        place = rng.choice(vocab.LOCATIONS)
        rows.append((
            f"TXN-{seed}-{j:09d}",
            None if j % 997 == 1 else f"ACC{rng.randrange(accounts):08d}",
            end - dt.timedelta(seconds=rng.randrange(91 * 86_400)),
            rng.choice(vocab.TRANSACTION_TYPES), cents / 100,
            rng.choice(vocab.CURRENCIES),
            None if rng.random() < 0.05 else f"purchase {j}",
            None if rng.random() < 0.05
            else f"Merchant {rng.randrange(500):03d}",
            rng.choice(vocab.MERCHANT_CATEGORIES),
            rng.choice(vocab.TRANSACTION_STATUSES), rng.choice(vocab.CHANNELS),
            place, place != "USA"))
    return spark.createDataFrame(rows, RAW_CSV_SCHEMAS["transaction"])


def _join_form(df: DataFrame) -> DataFrame:
    """The earlier ``detect_anomalies``: a per-account aggregate broadcast
    back onto the fact rows."""
    stats = df.groupBy("account_id").agg(
        F.stddev("amount_usd").alias("amount_stddev"),
        F.avg("amount_usd").alias("amount_avg"),
        F.max("amount_usd").alias("amount_max"),
    )
    out = df.join(F.broadcast(stats), on="account_id", how="left")
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


@pytest.mark.parametrize("seed", [1, 2])
def test_window_stats_match_join_form(spark, seed):
    raw = _batch(spark, seed)
    got = transform_transactions(raw)
    want = _join_form(transaction_metrics(enrich_transactions(
        clean_transactions(raw))))
    assert got.columns == want.columns
    got_rows = got.orderBy("transaction_id").collect()
    want_rows = want.orderBy("transaction_id").collect()
    assert len(got_rows) == len(want_rows) > 0
    assert sum(r.is_large_transaction is True for r in want_rows) > 0
    assert sum(r.account_id is None for r in want_rows) > 0
    exact = [c for c in want.columns if c not in FLOAT_STATS]
    for g, w in zip(got_rows, want_rows):
        assert [g[c] for c in FLAGS] == [w[c] for c in FLAGS], w.transaction_id
        assert [g[c] for c in exact] == [w[c] for c in exact], w.transaction_id
        for c in FLOAT_STATS:
            if w[c] is None or math.isnan(w[c]):
                assert g[c] is None or math.isnan(g[c]), (w.transaction_id, c)
            else:
                assert g[c] == pytest.approx(w[c], rel=1e-9, abs=0.0), (
                    w.transaction_id, c)


def test_transform_plan_scans_csv_once(spark, tmp_path):
    path = str(tmp_path / "raw")
    write_csv(_batch(spark, 1, n=200), path)
    raw = SourceSpec("csv", path=path,
                     schema=RAW_CSV_SCHEMAS["transaction"]).read(spark)
    p = plan_of(transform_transactions(raw), "simple")
    assert p.count("Exchange hashpartitioning(account_id") == 1, p
    assert "BroadcastExchange" not in p, p
    assert p.count("FileScan csv") == 1, p
