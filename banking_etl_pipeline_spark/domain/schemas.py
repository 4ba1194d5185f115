"""Explicit StructType schemas for the banking entities.

Source of truth mirrors the reference's seed schemas
(`/root/reference/src/seed/data_seed.py:13-58`) and data dictionaries
(`/root/reference/docs/{customer,account,transaction,credit_card}_data.txt`).
Money stays DecimalType(18,2); the only deviation is FloatType→DoubleType for
`interest_rate` (doubles are Spark's native float width; parquet stores the
reference's FloatType losslessly inside a double).

`credit_cards` exists only as a data dictionary in the reference
(`docs/credit_card_data.txt:1-14`, no code); reconstructed here so the
documented surface is complete.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

MONEY = DecimalType(18, 2)

CUSTOMER_SCHEMA = StructType(
    [
        StructField("customer_id", StringType(), False),
        StructField("first_name", StringType(), True),
        StructField("last_name", StringType(), True),
        StructField("date_of_birth", DateType(), True),
        StructField("email", StringType(), True),
        StructField("phone_number", StringType(), True),
        StructField("address", StringType(), True),
        StructField("city", StringType(), True),
        StructField("state", StringType(), True),
        StructField("zip_code", StringType(), True),
        StructField("country", StringType(), True),
        StructField("customer_since", DateType(), True),
        StructField("credit_score", IntegerType(), True),
        StructField("risk_segment", StringType(), True),
    ]
)

ACCOUNT_SCHEMA = StructType(
    [
        StructField("account_id", StringType(), False),
        StructField("customer_id", StringType(), False),
        StructField("account_type", StringType(), True),
        StructField("account_status", StringType(), True),
        StructField("open_date", DateType(), True),
        StructField("close_date", DateType(), True),
        StructField("currency", StringType(), True),
        StructField("branch_id", StringType(), True),
        StructField("interest_rate", DoubleType(), True),
        StructField("balance", MONEY, True),
        StructField("last_activity_date", DateType(), True),
    ]
)

TRANSACTION_SCHEMA = StructType(
    [
        StructField("transaction_id", StringType(), False),
        StructField("account_id", StringType(), False),
        StructField("transaction_date", TimestampType(), False),
        StructField("transaction_type", StringType(), True),
        StructField("amount", MONEY, True),
        StructField("currency", StringType(), True),
        StructField("description", StringType(), True),
        StructField("merchant_name", StringType(), True),
        StructField("merchant_category", StringType(), True),
        StructField("transaction_status", StringType(), True),
        StructField("channel", StringType(), True),
        StructField("location", StringType(), True),
        StructField("is_international", BooleanType(), True),
    ]
)

CREDIT_CARD_SCHEMA = StructType(
    [
        StructField("card_id", StringType(), False),
        StructField("customer_id", StringType(), False),
        StructField("account_id", StringType(), False),
        StructField("card_type", StringType(), True),
        StructField("card_status", StringType(), True),
        StructField("issue_date", DateType(), True),
        StructField("expiry_date", DateType(), True),
        StructField("credit_limit", MONEY, True),
        StructField("current_balance", MONEY, True),
        StructField("available_credit", MONEY, True),
        StructField("last_payment_date", DateType(), True),
        StructField("last_payment_amount", MONEY, True),
        StructField("interest_rate", DoubleType(), True),
        StructField("reward_points", IntegerType(), True),
    ]
)


def _as_inferred(schema: StructType, **types) -> StructType:
    """``schema`` as ``inferSchema`` reads it from a CSV: every column
    nullable, money as double, and the ``types`` given by name."""
    return StructType([
        StructField(f.name, types.get(
            f.name, DoubleType() if f.dataType == MONEY else f.dataType), True)
        for f in schema
    ])


# Raw-zone CSV schemas: exactly the types ``inferSchema`` gives the seeded
# CSVs, so pinning them costs no inference job and changes no output type
# and no warehouse generation. Money stays double until a change moves it to
# MONEY. ``zip_code`` stays int, as inferred, although the data dictionary
# documents a string: inference drops leading zeros (ROADMAP open item).
RAW_CSV_SCHEMAS = {
    "transaction": _as_inferred(TRANSACTION_SCHEMA),
    "account": _as_inferred(ACCOUNT_SCHEMA),
    "customer": _as_inferred(CUSTOMER_SCHEMA, zip_code=IntegerType()),
}
