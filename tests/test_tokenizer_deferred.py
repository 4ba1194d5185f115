"""Local verification for the tokenizer tier (operators/tokenizer.py): full BPE
merge-training loop, fixed-merge compression report, Heaps'-law vocabulary
growth, Zipf decade profile. The registry-wide suites check its oracle parity,
its plans and its empty and skewed inputs; this file keeps the checks specific
to the tier.
"""

from __future__ import annotations

from banking_etl_pipeline_spark.operators.tokenizer import (
    FIXED_MERGES,
    N_MERGES,
    QUERIES,
)
from tests.oracle_compare import assert_repeat_deterministic


def test_bpe_merge_train_invariants(spark, sf_dir):
    rows = QUERIES["bpe_merge_train"].build(spark, sf_dir).collect()
    assert [r["step"] for r in rows] == list(range(1, len(rows) + 1))
    assert 0 < len(rows) <= N_MERGES
    seen = set()
    for r in rows:
        a, b = r["pair"].split(" ")
        assert r["merged"] == a + b
        assert r["support"] > 0
        assert r["pair"] not in seen, "a pair can win at most one round"
        seen.add(r["pair"])


def test_bpe_encode_compression_bounds(spark, sf_dir):
    rows = QUERIES["bpe_encode_report"].build(spark, sf_dir).collect()
    assert rows, "corpus has ascii words in every sf fixture"
    for r in rows:
        # merging never splits: n_symbols <= n_chars, and at least one
        # symbol per word survives.
        assert r["n_symbols"] <= r["n_chars"]
        assert r["n_symbols"] >= r["n_words"]
        assert r["chars_per_sym_bp"] >= 10000  # >= 1 char per symbol
    assert len(FIXED_MERGES) == 8


def test_heaps_law_monotone(spark, sf_dir):
    rows = QUERIES["heaps_law"].build(spark, sf_dir).collect()
    assert len(rows) == 10
    for prev, cur in zip(rows, rows[1:]):
        assert cur["vocab_size"] >= prev["vocab_size"]
        assert cur["n_tokens"] >= prev["n_tokens"]
        assert cur["prefix_docs"] >= prev["prefix_docs"]


def test_zipf_shares_sum_to_total(spark, sf_dir):
    rows = QUERIES["zipf_tail_report"].build(spark, sf_dir).collect()
    assert rows
    # exact integer shares: floor rounding loses < 1 bp per decade
    assert 10000 - len(rows) < sum(r["share_bp"] for r in rows) <= 10000


def test_tokenizer_repeat_deterministic(spark, sf_dir):
    assert_repeat_deterministic(spark, sf_dir, QUERIES)
