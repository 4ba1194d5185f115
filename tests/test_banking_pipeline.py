"""Banking domain tests: planted-defect DQ cases (FIXTURES.md §C), transform
semantics vs hand-computed expectations, merge-upsert round-trip, and the
config-driven pipeline end-to-end."""

from __future__ import annotations

import datetime as dt
import decimal

import pytest
from pyspark.sql import functions as F

from banking_etl_pipeline_spark.domain.accounts import transform_accounts
from banking_etl_pipeline_spark.domain.customers import transform_customers
from banking_etl_pipeline_spark.domain.schemas import (
    ACCOUNT_SCHEMA,
    CUSTOMER_SCHEMA,
    TRANSACTION_SCHEMA,
)
from banking_etl_pipeline_spark.domain.seed import seed_all
from banking_etl_pipeline_spark.domain.transactions import (
    clean_transactions,
    enrich_transactions,
    transaction_metrics,
    transform_transactions,
)
from banking_etl_pipeline_spark.operators.quality import (
    QualityChecker,
    QualityConfig,
    QualityGateError,
    RangeRule,
)
from banking_etl_pipeline_spark.pipeline import (
    PipelineSpec,
    SourceSpec,
    TargetSpec,
    load_config,
    run_all,
)
from banking_etl_pipeline_spark.sinks.writers import (
    ParquetWarehouse,
    merge_upsert,
)

D = decimal.Decimal
TS = dt.datetime


def _nullable(schema):
    """Raw-zone variant of an entity schema: nullability not yet enforced."""
    from pyspark.sql.types import StructField, StructType

    return StructType([StructField(f.name, f.dataType, True) for f in schema])


def _txn(i, account="ACC1", ts="2025-06-01 10:00:00", ttype="payment",
         amount="100.00", currency="USD", merchant="Shop", mcat="retail",
         desc="d", location="USA"):
    return (
        f"T{i}", account, TS.fromisoformat(ts), ttype, D(amount), currency,
        desc, merchant, mcat, "completed", "online", location,
        location != "USA",
    )


# ---------------------------------------------------------------------------
# seed determinism + FK integrity
# ---------------------------------------------------------------------------


def test_seed_deterministic_and_consistent(spark):
    t1 = seed_all(spark, 200, 300, 1000)
    t2 = seed_all(spark, 200, 300, 1000)
    assert t1["customers"].collect() == t2["customers"].collect()
    assert t1["transactions"].orderBy("transaction_id").limit(50).collect() == \
        t2["transactions"].orderBy("transaction_id").limit(50).collect()
    # FK integrity: every account→customer and txn→active account resolves
    orphans = t1["accounts"].join(
        t1["customers"], "customer_id", "left_anti").count()
    assert orphans == 0
    txn_accounts = t1["transactions"].select("account_id").distinct()
    inactive = txn_accounts.join(
        t1["accounts"].filter(F.col("account_status") == "active"),
        "account_id", "left_anti").count()
    assert inactive == 0
    assert t1["transactions"].count() == 1000
    # schema parity with the declared entity schemas
    assert t1["customers"].schema.fieldNames() == CUSTOMER_SCHEMA.fieldNames()
    assert t1["accounts"].schema.fieldNames() == ACCOUNT_SCHEMA.fieldNames()
    assert t1["transactions"].schema.fieldNames() == TRANSACTION_SCHEMA.fieldNames()


# ---------------------------------------------------------------------------
# clean (FIXTURES §C.7)
# ---------------------------------------------------------------------------


def test_clean_transactions(spark):
    rows = [
        _txn(1, ttype="DEPOSIT"),
        _txn(2, ttype="Withdrawal"),
        _txn(3, ttype="deposit", amount="-50.00"),  # invalid → dropped
        _txn(4, ttype="chargeback"),  # unknown type → passthrough
        _txn(5, merchant=None, desc=None),
    ]
    df = spark.createDataFrame(rows, TRANSACTION_SCHEMA)
    out = clean_transactions(df)
    got = {r.transaction_id: r for r in out.collect()}
    assert set(got) == {"T1", "T2", "T4", "T5"}
    assert got["T1"].transaction_type == "deposit"
    assert got["T2"].transaction_type == "withdrawal"
    assert got["T4"].transaction_type == "chargeback"
    assert got["T5"].merchant_name == "Unknown"
    assert got["T5"].description == "Unknown"


def test_clean_parses_string_dates(spark):
    df = spark.createDataFrame(
        [("T1", "A1", "2025-06-01 10:30:00", "payment", 10.0)],
        "transaction_id string, account_id string, transaction_date string, "
        "transaction_type string, amount double",
    ).withColumn("merchant_name", F.lit(None).cast("string")) \
     .withColumn("merchant_category", F.lit(None).cast("string")) \
     .withColumn("description", F.lit(None).cast("string"))
    out = clean_transactions(df).collect()[0]
    assert out.transaction_date == TS(2025, 6, 1, 10, 30)


# ---------------------------------------------------------------------------
# enrich
# ---------------------------------------------------------------------------


def test_enrich_transactions(spark):
    rows = [
        _txn(1, ts="2025-06-07 23:00:00", currency="EUR", amount="100.00",
             mcat="grocery"),       # Saturday → weekend; EUR → ×1.1
        _txn(2, ts="2025-06-09 08:00:00", currency="GBP", amount="100.00",
             mcat="fast food"),     # Monday; GBP → ×1.3
        _txn(3, currency="USD", mcat="water"),
        _txn(4, currency="JPY", mcat="unknown-cat"),  # passthrough fx, Other
    ]
    out = {r.transaction_id: r for r in
           enrich_transactions(clean_transactions(
               spark.createDataFrame(rows, TRANSACTION_SCHEMA))).collect()}
    assert out["T1"].is_weekend is True and out["T2"].is_weekend is False
    assert float(out["T1"].amount_usd) == pytest.approx(110.0)
    assert float(out["T2"].amount_usd) == pytest.approx(130.0)
    assert float(out["T4"].amount_usd) == pytest.approx(100.0)
    assert out["T1"].transaction_category == "Groceries"
    assert out["T2"].transaction_category == "Dining"
    assert out["T3"].transaction_category == "Utilities"
    assert out["T4"].transaction_category == "Other"
    assert (out["T1"].transaction_year, out["T1"].transaction_month,
            out["T1"].transaction_day, out["T1"].transaction_hour) == (2025, 6, 7, 23)


# ---------------------------------------------------------------------------
# metrics (FIXTURES §C.6: 30-day window at days 0/10/29/31)
# ---------------------------------------------------------------------------


def test_metrics_running_balance_and_30d_window(spark):
    days = [0, 10, 29, 31]
    rows = [
        _txn(i, ts=(TS(2025, 1, 1, 12) + dt.timedelta(days=d)).isoformat(sep=" "),
             ttype="deposit" if i == 0 else "payment", amount="100.00")
        for i, d in enumerate(days)
    ]
    out = transaction_metrics(enrich_transactions(clean_transactions(
        spark.createDataFrame(rows, TRANSACTION_SCHEMA)))) \
        .orderBy("transaction_date").collect()
    assert [r.transaction_count_30d for r in out] == [1, 2, 3, 3]
    # day-31 row: 30-day frame spans day 1..31 → txns at d10, d29, d31 spend
    assert [float(r.total_spend_30d) for r in out] == [0.0, 100.0, 200.0, 300.0]
    assert [float(r.running_balance) for r in out] == [100.0, 0.0, -100.0, -200.0]
    assert [r.days_since_last_transaction for r in out] == [0, 10, 19, 2]


# ---------------------------------------------------------------------------
# anomalies (FIXTURES §C.5)
# ---------------------------------------------------------------------------


def test_detect_anomalies(spark):
    base_ts = TS(2025, 5, 1, 9)
    rows = [
        _txn(i, ts=(base_ts + dt.timedelta(days=i)).isoformat(sep=" "),
             amount="20.00")
        for i in range(20)
    ]
    rows.append(_txn(90, ts="2025-05-25 09:00:00", amount="1500.00"))  # outlier
    rows.append(_txn(91, ts="2025-05-26 09:00:00", location="Japan"))
    rows.append(_txn(92, ts="2025-05-26 09:00:00.5", location="Japan"))  # <1s gap
    df = spark.createDataFrame(rows, TRANSACTION_SCHEMA)
    out = {r.transaction_id: r for r in transform_transactions(df).collect()}
    large = [t for t, r in out.items() if r.is_large_transaction]
    assert large == ["T90"]
    assert out["T91"].is_unusual_location and out["T92"].is_unusual_location
    assert out["T92"].potential_fraud  # same-second consecutive transactions
    assert not out["T5"].potential_fraud
    assert not out["T5"].is_high_frequency


# ---------------------------------------------------------------------------
# customers / accounts (reconstructed transforms)
# ---------------------------------------------------------------------------


def test_transform_customers(spark):
    rows = [
        ("C1", "Ann", "Lee", dt.date(1990, 6, 29), " Ann.Lee@X.COM ", None,
         None, None, "ca", "90210", "USA", dt.date(2020, 6, 29), 805, "low"),
        ("C1", "Ann", "Lee", dt.date(1990, 6, 29), "dup@x.com", None,
         None, None, "CA", "90210", "USA", dt.date(2020, 6, 29), 805, "Low"),
        (None, "No", "Id", dt.date(1990, 1, 1), "n@x.com", None,
         None, None, "NY", "10001", "USA", dt.date(2020, 1, 1), 500, "High"),
        ("C2", "Bob", "Kim", dt.date(1955, 1, 1), "b@x.com", None,
         None, None, "TX", "77001", "USA", dt.date(2015, 1, 1), 579, "medium"),
    ]
    df = spark.createDataFrame(rows, _nullable(CUSTOMER_SCHEMA))
    out = {r.customer_id: r for r in transform_customers(df).collect()}
    assert set(out) == {"C1", "C2"}
    assert out["C1"].email == "ann.lee@x.com"
    assert out["C1"].state == "CA"
    assert out["C1"].risk_segment == "Low"
    assert out["C1"].age == 35 and out["C1"].tenure_years == 5
    assert out["C1"].credit_score_band == "Excellent"
    assert out["C2"].credit_score_band == "Poor"  # 579 < 580


def test_transform_accounts(spark):
    as_of = dt.date(2025, 6, 29)
    rows = [
        ("A1", "C1", "Checking", "ACTIVE", dt.date(2024, 6, 29), None, "usd",
         "BR1", 1.5, D("10.00"), dt.date(2025, 6, 20)),
        ("A2", "C1", "savings", "active", dt.date(2020, 1, 1),
         dt.date(2025, 1, 1), "EUR", "BR2", 2.0, D("0.00"),
         dt.date(2025, 1, 1)),  # active w/ stale activity + bogus close_date
        ("A3", "C2", "investment", "closed", dt.date(2020, 1, 1),
         dt.date(2025, 1, 1), "GBP", "BR3", 0.5, D("5.00"),
         dt.date(2025, 1, 1)),
        ("A4", None, "checking", "active", dt.date(2024, 1, 1), None, "USD",
         "BR4", 1.0, D("1.00"), dt.date(2025, 6, 1)),  # null FK → dropped
    ]
    df = spark.createDataFrame(rows, _nullable(ACCOUNT_SCHEMA))
    out = {r.account_id: r for r in transform_accounts(df, as_of).collect()}
    assert set(out) == {"A1", "A2", "A3"}
    assert out["A1"].account_type == "checking" and out["A1"].currency == "USD"
    assert out["A1"].account_age_days == 365
    assert out["A1"].lifecycle_stage == "active" and out["A1"].is_active
    assert out["A2"].close_date is None  # contradictory close_date nulled
    assert out["A2"].lifecycle_stage == "dormant"  # 179 days inactive
    assert out["A3"].lifecycle_stage == "closed" and not out["A3"].is_active


# ---------------------------------------------------------------------------
# merge upsert (K3)
# ---------------------------------------------------------------------------


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [("K1", 1, "old"), ("K2", 2, "old")], "k string, v int, tag string")
    updates = spark.createDataFrame(
        [("K2", 20, "new"), ("K3", 30, "new")], "k string, v int, tag string")
    got = {r.k: r for r in merge_upsert(target, updates, ["k"]).collect()}
    assert got["K1"].v == 1 and got["K1"].tag == "old"   # untouched survives
    assert got["K2"].v == 20 and got["K2"].tag == "new"  # matched → updated
    assert got["K3"].v == 30                             # unmatched → inserted


def test_warehouse_staged_upsert_roundtrip(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    t0 = spark.createDataFrame([("K1", 1), ("K2", 2)], "k string, v int")
    wh.load_with_staging(t0, "dim", ["k"])
    t1 = spark.createDataFrame([("K2", 20), ("K3", 30)], "k string, v int")
    wh.load_with_staging(t1, "dim", ["k"])
    got = {r.k: r.v for r in wh.read("dim").collect()}
    assert got == {"K1": 1, "K2": 20, "K3": 30}
    wh.stage(t1, "dim").publish()  # no key columns: replaces the table
    assert {r.k for r in wh.read("dim").collect()} == {"K2", "K3"}


# ---------------------------------------------------------------------------
# quality gate + full pipeline e2e
# ---------------------------------------------------------------------------


def test_quality_gate_planted_defects(spark):
    # §C.1-C.3: nulls, dup keys, range violations in one single-pass check
    rows = [("T1", None, 250), ("T2", "m", 500), ("T2", None, 900),
            ("T3", "m", 850)]
    df = spark.createDataFrame(rows, "id string, merchant string, score int")
    cfg = QualityConfig(required_columns=["merchant"], key_columns=["id"],
                        range_rules=[RangeRule("score", 300, 850)])
    res = QualityChecker().run_all_checks(df, cfg)
    assert res["null_counts"] == {"merchant": 2}
    assert res["duplicate_count"] == 1
    assert res["range_violations"] == {"score": 2}
    assert not res["overall_passed"]
    with pytest.raises(QualityGateError):
        from banking_etl_pipeline_spark.operators.quality import apply_quality_gate
        apply_quality_gate(res, True)


def test_pipeline_e2e_from_reference_config_shape(spark, tmp_path):
    """Seed → all three entity pipelines driven by a config.json-shaped dict,
    warehouse upsert for dims, partitioned append for the fact."""
    data = seed_all(spark, 150, 250, 1500)
    fact_path = str(tmp_path / "processed" / "transactions")
    cfg = {
        "pipelines": {
            "customer": {
                "source_type": "dataframe",
                "target_type": "redshift", "target_table": "dim_customer",
                "key_columns": ["customer_id"],
                "fail_on_quality_check": True,
                "data_quality": {
                    "required_columns": ["customer_id", "first_name",
                                         "last_name", "email"],
                    "key_columns": ["customer_id"],
                    "range_checks": {"credit_score": [300, 850]},
                },
            },
            "account": {
                "source_type": "dataframe",
                "target_type": "redshift", "target_table": "dim_account",
                "key_columns": ["account_id"],
                "fail_on_quality_check": True,
                "data_quality": {
                    "required_columns": ["account_id", "customer_id",
                                         "account_type", "open_date"],
                    "key_columns": ["account_id"],
                    "range_checks": {"balance": [0, 10000000],
                                     "interest_rate": [0, 30]},
                },
            },
            "transaction": {
                "source_type": "dataframe",
                "target_type": "s3", "target_path": fact_path,
                "write_mode": "append",
                "partition_cols": ["transaction_year", "transaction_month"],
                "fail_on_quality_check": False,
                "data_quality": {
                    "required_columns": ["transaction_id", "account_id",
                                         "transaction_date", "amount"],
                    "key_columns": ["transaction_id"],
                    "range_checks": {"amount": [0, 1000000]},
                },
            },
        }
    }
    specs = load_config(cfg)
    src = {"customer": data["customers"], "account": data["accounts"],
           "transaction": data["transactions"]}
    for s in specs:
        s.source = SourceSpec(kind="dataframe", dataframe=src[s.entity])
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    results = run_all(spark, specs, wh)

    assert all(r.quality["overall_passed"] for r in results.values())
    assert wh.read("dim_customer").count() == 150
    assert "credit_score_band" in wh.read("dim_customer").columns
    assert "lifecycle_stage" in wh.read("dim_account").columns
    # fact written partitioned; partition dirs exist and read-back matches
    fact = spark.read.parquet(fact_path)
    assert fact.count() == results["transaction"].quality["total_rows"]
    import os
    years = [d for d in os.listdir(fact_path) if d.startswith("transaction_year=")]
    assert years, "expected transaction_year=* partition directories"
    # idempotent upsert: re-running dims leaves counts unchanged
    run_all(spark, specs, wh, pipelines_to_run=["customer"])
    assert wh.read("dim_customer").count() == 150


def test_pipeline_from_raw_csv_zone(spark, tmp_path):
    """The reference's actual extract path: raw CSV with string dates →
    clean parses them (transaction_transform.py:35-36). Seed → CSV write →
    CSV read with explicit schema (string transaction_date) → transform."""
    from banking_etl_pipeline_spark.sinks.writers import write_csv
    from banking_etl_pipeline_spark.sources.readers import read_csv

    txns = seed_all(spark, 50, 80, 400)["transactions"]
    raw_path = str(tmp_path / "raw" / "transactions")
    write_csv(
        txns.withColumn(
            "transaction_date",
            F.date_format("transaction_date", "yyyy-MM-dd HH:mm:ss"),
        ),
        raw_path,
    )
    schema = ", ".join(
        f"{f.name} {'string' if f.name == 'transaction_date' else f.dataType.simpleString()}"
        for f in TRANSACTION_SCHEMA
    )
    raw = read_csv(spark, raw_path, schema=schema)
    out = transform_transactions(raw)
    assert out.count() == txns.count()
    assert dict(out.dtypes)["transaction_date"] == "timestamp"
    assert out.filter(F.col("transaction_date").isNull()).count() == 0


def test_pipeline_gate_fails_closed(spark):
    bad = spark.createDataFrame(
        [("C1", None, "L", dt.date(1990, 1, 1), None, None, None, None, "CA",
          "1", "USA", dt.date(2020, 1, 1), 9999, "Low")], CUSTOMER_SCHEMA)
    spec = PipelineSpec(
        entity="customer",
        source=SourceSpec(kind="dataframe", dataframe=bad),
        target=TargetSpec(kind="none"),
        quality=QualityConfig(required_columns=["email"],
                              range_rules=[RangeRule("credit_score", 300, 850)],
                              fail_on_quality_check=True),
    )
    with pytest.raises(QualityGateError):
        run_all(spark, [spec])


def test_unknown_pipeline_names_are_refused(spark, tmp_path):
    """A `pipelines_to_run` name that matches no spec (the config says
    `transaction`, not `transactions`) is an error naming it, raised before
    any pipeline runs, and the CLI reports it as a usage error instead of
    running nothing and passing."""
    import json

    from banking_etl_pipeline_spark.__main__ import main

    cfg = {"pipelines": {"transaction": {
        "source_path": str(tmp_path / "raw"),
        "target_type": "parquet", "target_path": str(tmp_path / "out")}}}
    with pytest.raises(ValueError, match="'transactions'"):
        run_all(spark, load_config(cfg), pipelines_to_run=["transactions"])
    assert not (tmp_path / "out").exists()
    path = tmp_path / "config.json"
    path.write_text(json.dumps(cfg))
    with pytest.raises(SystemExit) as exc:
        main(["--config", str(path), "--pipelines", "transactions"])
    assert exc.value.code == 2


# ---------------------------------------------------------------------------
# credit cards (documented-only entity, reconstructed)
# ---------------------------------------------------------------------------


def test_transform_credit_cards(spark):
    from banking_etl_pipeline_spark.domain.credit_cards import (
        transform_credit_cards,
    )
    from banking_etl_pipeline_spark.domain.schemas import CREDIT_CARD_SCHEMA

    as_of = dt.date(2025, 6, 29)
    rows = [
        # clean active card, 50% utilization, stale available_credit fixed
        ("K1", "C1", "A1", "Visa", "ACTIVE", dt.date(2024, 6, 29),
         dt.date(2027, 6, 29), D("10000.00"), D("5000.00"), D("9999.00"),
         dt.date(2025, 6, 1), D("100.00"), 19.99, 80_000),
        # stored 'active' but past expiry → effective expired; 90% util
        ("K2", "C2", "A2", "mastercard", "active", dt.date(2020, 1, 1),
         dt.date(2025, 1, 1), D("1000.00"), D("900.00"), None,
         dt.date(2025, 5, 30), D("50.00"), 24.99, 30_000),
        # null FK → dropped
        ("K3", None, "A3", "amex", "blocked", dt.date(2023, 1, 1),
         dt.date(2026, 1, 1), D("5000.00"), D("0.00"), D("5000.00"),
         dt.date(2025, 6, 1), D("10.00"), 15.0, 10),
        # duplicate PK → deduped
        ("K1", "C1", "A1", "visa", "active", dt.date(2024, 6, 29),
         dt.date(2027, 6, 29), D("10000.00"), D("5000.00"), D("5000.00"),
         dt.date(2025, 6, 1), D("100.00"), 19.99, 80_000),
    ]
    df = spark.createDataFrame(rows, _nullable(CREDIT_CARD_SCHEMA))
    out = {r.card_id: r for r in transform_credit_cards(df, as_of).collect()}
    assert set(out) == {"K1", "K2"}
    k1, k2 = out["K1"], out["K2"]
    assert k1.card_type == "visa" and k1.card_status == "active"
    assert k1.available_credit == D("5000.00")  # recomputed from identity
    assert k1.utilization == 0.5 and not k1.is_high_utilization
    assert k1.status_effective == "active" and not k1.is_expired
    assert k1.card_age_days == 365 and k1.reward_tier == "platinum"
    assert k2.is_expired and k2.status_effective == "expired"
    assert k2.available_credit == D("100.00")  # null filled from identity
    assert k2.is_high_utilization and k2.reward_tier == "gold"


def test_seed_credit_cards_fk_and_identity(spark):
    from banking_etl_pipeline_spark.domain.credit_cards import (
        transform_credit_cards,
    )
    from banking_etl_pipeline_spark.domain.seed import (
        seed_accounts,
        seed_credit_cards,
        seed_customers,
    )

    cards = seed_credit_cards(spark, 200, num_customers=50, num_accounts=80)
    custs = seed_customers(spark, 50).select("customer_id")
    accts = seed_accounts(spark, 80, 50).select("account_id")
    assert cards.count() == 200
    # FK closure against the generated dimension domains
    assert cards.join(custs, "customer_id", "left_anti").count() == 0
    assert cards.join(accts, "account_id", "left_anti").count() == 0
    out = transform_credit_cards(cards)
    # the identity holds everywhere after cleaning, incl. the planted nulls
    bad = out.filter(
        F.col("available_credit")
        != (F.col("credit_limit") - F.col("current_balance"))
    ).count()
    assert bad == 0
    assert out.filter(F.col("utilization").isNull()).count() == 0
