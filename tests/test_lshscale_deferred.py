"""Local verification for the banding-parameter study tier
(operators/lshscale.py): per-geometry candidate budgets, probe-set recall
tradeoff, and the scaled-geometry near-dup detector, plus a planted-duplicates
corpus proving the scaled detector finds real near-dups it was built for (the
clean corpus correctly yields zero 0.9-cosine pairs). The registry-wide suites
check its oracle parity, its plans and its empty and skewed inputs; this file
keeps the checks specific to the tier.
"""

from __future__ import annotations

import os

from banking_etl_pipeline_spark.catalog import table
from banking_etl_pipeline_spark.operators.lshscale import (
    CONFIGS,
    DUP_THRESHOLD_SCALED,
    QUERIES,
    _sql_sigs,
)
from banking_etl_pipeline_spark.operators.similarity import lsh_bands
from tests.oracle_compare import duck_connection


def test_band_relation_matches_oracle(spark, sf_dir):
    """Cross-engine parity of the band relation itself, row for row, for
    every studied geometry: Spark's literal-plane signatures against the
    DuckDB replay of the md5 plane formula."""
    with duck_connection(sf_dir) as con:
        for nb, bb in CONFIGS:
            oracle = con.execute(
                "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v"
                f" FROM embeddings) SELECT vec_id, band, sig"
                f" FROM {_sql_sigs(nb, bb)} s ORDER BY ALL").fetchall()
            got = sorted((r["vec_id"], r["band"], r["sig"])
                         for r in lsh_bands(spark, sf_dir, nb, bb).collect())
            assert oracle and got == oracle, (nb, bb)


def test_paramscan_matches_band_relation(spark, sf_dir):
    """Budgets re-derived from the same per-geometry band relation the
    joins would consume, plus the Σ n(n−1)/2 identity."""
    rows = {(r["n_bands"], r["band_bits"]): r
            for r in QUERIES["lsh_paramscan_report"].build(spark, sf_dir)
            .collect()}
    assert set(rows) == set(CONFIGS)
    for (nb, bb) in CONFIGS:
        sizes: dict = {}
        for r in lsh_bands(spark, sf_dir, nb, bb).collect():
            k = (r["band"], r["sig"])
            sizes[k] = sizes.get(k, 0) + 1
        r = rows[(nb, bb)]
        assert r["n_buckets"] == len(sizes)
        assert r["max_bucket_n"] == max(sizes.values())
        assert r["candidate_pairs"] == sum(
            n * (n - 1) // 2 for n in sizes.values())


def test_tradeoff_monotone_in_band_bits(spark, sf_dir):
    """The study's claim in data: finer banding must strictly shrink the
    candidate budget and cannot raise recall; caught ≤ truth; recall
    per-mille consistent with its own numerator."""
    scan = {(r["n_bands"], r["band_bits"]): r
            for r in QUERIES["lsh_paramscan_report"].build(spark, sf_dir)
            .collect()}
    rec = {(r["n_bands"], r["band_bits"]): r
           for r in QUERIES["lsh_recall_tradeoff_report"].build(spark, sf_dir)
           .collect()}
    assert set(rec) == set(CONFIGS)
    ordered = sorted(CONFIGS, key=lambda c: c[1])
    for prev, cur in zip(ordered, ordered[1:]):
        assert scan[cur]["candidate_pairs"] < scan[prev]["candidate_pairs"]
        assert rec[cur]["probe_candidates"] <= rec[prev]["probe_candidates"]
        assert rec[cur]["n_caught"] <= rec[prev]["n_caught"]
    n_true = {r["n_true_pairs"] for r in rec.values()}
    assert len(n_true) == 1  # same truth for every geometry
    for r in rec.values():
        assert 0 <= r["n_caught"] <= r["n_true_pairs"]
        assert r["recall_permille"] == \
            r["n_caught"] * 1000 // max(r["n_true_pairs"], 1)


def test_scaled_dedup_empty_on_clean_corpus(spark, sf_dir):
    """The clean testdata corpus has no 0.9-cosine pairs — the scaled
    detector's correct output is empty (true negative, not a no-op: the
    banded join still ran)."""
    assert QUERIES["dedup_embedding_cosine_scaled"].build(spark, sf_dir) \
        .count() == 0


def test_scaled_dedup_finds_planted_duplicates(spark, sf_dir, tmp_path):
    """Plant near-identical copies (first component +0.001, new ids) and
    require the scaled detector to recover ≥90% of the planted pairs with
    every reported pair genuinely above the bar — the duplicated-corpus
    behavior the sf1 measurement motivated."""
    from pyspark.sql import functions as F

    e = table(spark, sf_dir, "embeddings")
    n = e.count()
    copies = e.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, (x + F.lit(0.001)).cast("float"))
            .otherwise(x),
        ).alias("embedding"),
        "label",
    )
    planted_dir = os.path.join(str(tmp_path), "planted")
    e.unionByName(copies).coalesce(1).write.parquet(
        os.path.join(planted_dir, "embeddings.parquet"))
    found = QUERIES["dedup_embedding_cosine_scaled"].build(
        spark, planted_dir).collect()
    planted = {(r["vec_id"], r["vec_id"] + 1_000_000)
               for r in e.select("vec_id").collect()}
    got_pairs = {(r["vec_a"], r["vec_b"]) for r in found}
    caught = planted & got_pairs
    assert len(caught) >= 0.9 * n, (len(caught), n)
    for r in found:
        assert r["cosine_sim"] >= DUP_THRESHOLD_SCALED
