"""Local verification for the substring-dedup tier (operators/substrings.py):
W-token duplicated-window coverage, corpus-wide hot spans, maximal-span
merging, memorization risk. The registry-wide suites check its oracle parity,
its plans and its empty and skewed inputs; this file keeps the checks specific
to the tier.
"""

from __future__ import annotations

from banking_etl_pipeline_spark.operators.substrings import (
    BOILER,
    QUERIES,
    SUB_W,
)
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import assert_repeat_deterministic


def test_substrings_plans_scale_sane(spark, sf_dir):
    for key, spec in QUERIES.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in p, f"{key}: NLJ"


def test_hot_spans_find_the_injected_boilerplate(spark, sf_dir):
    """The md5-gated boilerplate injection puts W-token windows lying fully
    inside BOILER into ~1/4 of all documents — they must dominate the hot
    list, which is the whole point of the detector."""
    rows = QUERIES["substring_hot_spans"].build(spark, sf_dir).collect()
    assert rows, "no duplicated spans found at all"
    boiler_windows = {
        " ".join(BOILER.split()[i:i + SUB_W])
        for i in range(len(BOILER.split()) - SUB_W + 1)
    }
    top = {r["span_text"] for r in rows[:len(boiler_windows)]}
    assert top == boiler_windows, (
        "pure-boilerplate windows should occupy the top of the hot list"
    )
    assert rows[0]["doc_freq"] >= rows[-1]["doc_freq"]


def test_coverage_bounds_and_injection_reach(spark, sf_dir):
    rows = QUERIES["substring_dup_coverage"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["dup_windows"] <= r["n_windows"]
        assert 0 <= r["dup_ppm"] <= 1_000_000
    touched = sum(1 for r in rows if r["dup_windows"] > 0)
    # every injected document (~1/4 of the corpus) carries ≥ 3 boiler windows
    assert touched >= len(rows) // 6


def test_span_merge_invariants_and_consistency(spark, sf_dir):
    spans = {r["doc_id"]: r for r in
             QUERIES["substring_span_merge"].build(spark, sf_dir).collect()}
    cov = {r["doc_id"]: r for r in
           QUERIES["substring_dup_coverage"].build(spark, sf_dir).collect()}
    assert spans
    for doc_id, r in spans.items():
        assert r["n_spans"] >= 1
        assert r["max_span_len"] >= SUB_W
        assert r["covered_tokens"] >= r["max_span_len"]
        assert r["covered_tokens"] >= r["n_spans"] * SUB_W
    # a document has merged spans exactly when it has duplicated windows
    assert set(spans) == {d for d, r in cov.items() if r["dup_windows"] > 0}


def test_memorization_risk_flags(spark, sf_dir):
    rows = QUERIES["memorization_risk"].build(spark, sf_dir).collect()
    assert rows
    flagged = [r for r in rows if r["risk"]]
    assert flagged, "boilerplate reaches ~1/4 of docs — risk must fire"
    for r in rows:
        assert r["max_doc_freq"] >= 1 and r["windows_at_max"] >= 1


def test_substrings_repeat_deterministic(spark, sf_dir):
    assert_repeat_deterministic(spark, sf_dir, QUERIES)


def test_substrings_plan_pins(spark, sf_dir):
    """Shape pins (qualitative — exchange counts vary with session-cache
    state): the hot-span report is a bounded heap (TakeOrdered, never a
    global sort of the window vocabulary), and no per-doc query plans a
    global range sort; span merging sorts only inside doc_id partitions."""
    p = plan_of(QUERIES["substring_hot_spans"].build(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in p
    for key in ("substring_dup_coverage", "substring_span_merge",
                "memorization_risk"):
        p = plan_of(QUERIES[key].build(spark, sf_dir), "simple")
        assert "Exchange rangepartitioning" not in p, (
            f"{key}: global sort crept in"
        )
