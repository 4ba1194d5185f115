"""Tests for the explicit scale strategies: salted skew joins and bucketed
co-located joins."""

from __future__ import annotations

from pyspark.sql import functions as F

from banking_etl_pipeline_spark.operators.skew import salted_join, write_bucketed
from banking_etl_pipeline_spark.plans import plan_of


def test_salted_join_equals_plain_join(spark):
    large = spark.range(10_000).select(
        (F.col("id") % 3).cast("string").alias("k"), F.col("id").alias("v")
    )
    small = spark.createDataFrame(
        [("0", "a"), ("1", "b"), ("2", "c")], "k string, tag string"
    )
    plain = large.join(small, "k").groupBy("tag").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    salted = salted_join(large, small, "k", F.col("v"), n_salt=8) \
        .groupBy("tag").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_spreads_partitions(spark):
    """Every (key, salt) pair must actually occur — the hot key is split."""
    large = spark.range(8_000).select(
        F.lit("HOT").alias("k"), F.col("id").alias("v"))
    small = spark.createDataFrame([("HOT", 1)], "k string, w int")
    n_salt = 8
    salted = large.withColumn("_salt", F.pmod(F.xxhash64(F.col("v")), n_salt))
    assert salted.select("_salt").distinct().count() == n_salt
    joined = salted_join(large, small, "k", F.col("v"), n_salt=n_salt)
    assert joined.count() == 8_000


def test_bucketed_join_is_exchange_free(spark):
    try:
        facts = spark.range(5_000).select(
            (F.col("id") % 500).alias("k"), F.col("id").alias("v"))
        dims = spark.range(500).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        write_bucketed(facts, "b_facts", ["k"], 8, sort_cols=["k"])
        write_bucketed(dims, "b_dims", ["k"], 8, sort_cols=["k"])
        # force a non-broadcast join so the bucket layout is what saves the
        # shuffle (a broadcast would hide it)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("b_facts").join(spark.table("b_dims"), "k")
            p = plan_of(joined, "simple")
            assert "SortMergeJoin" in p
            assert "Exchange" not in p, "bucketed join must not shuffle"
            assert joined.count() == 5_000
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS b_facts")
        spark.sql("DROP TABLE IF EXISTS b_dims")


def test_session_persist_materializes_once(spark):
    """session_persist must return the SAME persisted DataFrame for a
    repeated (session, tag) — the leak guard for builders whose expensive
    intermediate is re-invoked by bench/driver loops — and distinct
    frames for distinct tags."""
    from banking_etl_pipeline_spark.session import (
        _SESSION_CACHE,
        session_persist,
        session_scalar,
    )

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10)

    a = session_persist(spark, "t1-test", build)
    b = session_persist(spark, "t1-test", build)
    c = session_persist(spark, "t2-test", build)
    assert a is b and a is not c
    assert calls["n"] == 2  # one build per tag, not per call
    assert a.storageLevel.useMemory  # actually persisted
    # dead-session entries evict on sight
    _SESSION_CACHE[("dead-app", "df", "zombie")] = a
    session_persist(spark, "t3-test", build)
    assert ("dead-app", "df", "zombie") not in _SESSION_CACHE
    # a scalar with a DataFrame's tag is a separate entry
    assert session_scalar(spark, "t1-test", lambda: 7) == 7
    assert session_persist(spark, "t1-test", build) is a
    app = spark.sparkContext.applicationId
    for tag in ("t1-test", "t2-test", "t3-test"):
        _SESSION_CACHE.pop((app, "df", tag), None)
    _SESSION_CACHE.pop((app, "scalar", "t1-test"), None)
