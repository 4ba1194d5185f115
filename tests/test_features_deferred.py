"""Local verification for the feature-engineering tier (operators/features.py):
out-of-fold target encoding, WoE/IV screening, mutual-information audit. The
registry-wide suites check its oracle parity, its plans and its empty and
skewed inputs; this file keeps the checks specific to the tier.
"""

from __future__ import annotations

import math

from banking_etl_pipeline_spark.operators.features import (
    N_FOLDS,
    QUERIES,
)


def test_target_encoding_is_leakage_free(spark, sf_dir):
    """enc for (cat, fold) must equal the mean computed over the OTHER
    folds only — re-derived in Python from the same md5 gate — and every
    (category, fold) cell that exists in the data is present."""
    import hashlib

    from banking_etl_pipeline_spark.catalog import table
    from banking_etl_pipeline_spark.functions.numeric import cents
    from banking_etl_pipeline_spark.operators.features import FOLD_SEED
    from pyspark.sql import functions as F

    raw = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        cents(F.col("o_totalprice")).alias("price_c"),
    ).collect()
    agg: dict = {}
    for r in raw:
        h = hashlib.md5(f"{FOLD_SEED}:{r['o_orderkey']}".encode()).hexdigest()
        fold = (int(h[:15], 16)) % N_FOLDS
        key = (r["o_orderpriority"], fold)
        n, s = agg.get(key, (0, 0))
        agg[key] = (n + 1, s + r["price_c"])
    out = QUERIES["target_encoding_oof"].build(spark, sf_dir).collect()
    assert {(r["category"], r["fold"]) for r in out} == set(agg)
    for r in out:
        cat = r["category"]
        n_out = sum(n for (c, f), (n, _) in agg.items()
                    if c == cat and f != r["fold"])
        s_out = sum(s for (c, f), (_, s) in agg.items()
                    if c == cat and f != r["fold"])
        assert r["n_out"] == n_out
        assert r["enc_c"] == s_out // max(n_out, 1)


def test_woe_iv_identities(spark, sf_dir):
    """WoE fixed-points match a Python re-derivation; IV terms are
    positive whenever bad-rate and good-rate diverge (x·ln x ≥ 0 form)."""
    rows = QUERIES["woe_iv_report"].build(spark, sf_dir).collect()
    g_tot = sum(r["good_cnt"] for r in rows)
    b_tot = sum(r["bad_cnt"] for r in rows)
    for r in rows:
        if r["good_cnt"] > 0 and r["bad_cnt"] > 0:
            dr = (r["bad_cnt"] / b_tot) / (r["good_cnt"] / g_tot)
            assert r["woe_fp"] == math.floor(math.log(dr) * 1e6)
            # (p−q)·ln(p/q) ≥ 0 always; floor can take an exact-0 term to 0
            assert r["iv_term_fp"] >= -1


def test_mutual_information_identities(spark, sf_dir):
    """Cell counts sum to the corpus; the MI total (sum of per-cell
    fixed-point terms) is non-negative up to per-cell floor error."""
    from banking_etl_pipeline_spark.catalog import table

    rows = QUERIES["mutual_information"].build(spark, sf_dir).collect()
    n_tot = table(spark, sf_dir, "orders").count()
    assert sum(r["n_xy"] for r in rows) == n_tot
    mi = sum(r["mi_term_fp"] for r in rows)
    assert mi >= -len(rows)  # MI ≥ 0; each floor loses < 1 ulp of 1e-9
