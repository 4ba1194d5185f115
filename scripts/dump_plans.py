#!/usr/bin/env python
"""Write a physical-plan gallery to .scratch/PLANS.md (git-ignored).

Usage:  python scripts/dump_plans.py [sf_dir]   (default sf0.001)

The gallery pins the plan SHAPES tests/test_plans.py asserts on, for human
review: pushdown reaching the scan, dims broadcasting, windows sharing one
exchange, sketches folding map-side. Curated keys only — the full corpus
would be noise; every registered query is still plan-audited by the tests.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from banking_etl_pipeline_spark.plans import plan_of
from banking_etl_pipeline_spark.registry import all_queries
from banking_etl_pipeline_spark.session import get_spark

GALLERY: dict[str, str] = {
    "pricing_summary": "TPC-H Q1 shape: pushdown filter + partial/final hash agg, whole-stage codegen end to end.",
    "local_supplier_volume": "6-table star: every dimension broadcast, fact side never shuffles for a dim join.",
    "forecast_revenue": "Single-scan filtered aggregate: all three predicates pushed to the parquet scan.",
    "window_running_sum": "One exchange + one sort serves the whole window family.",
    "latest_event_snapshot": "Keep-latest as partial+final max_by aggregate — no window sort anywhere.",
    "rolling_active_users": "Offset-explode on the DEDUPED (user, day) relation; raw events touched once.",
    "dedup_minhash_lsh": "Signature build codegen'd; band equi-join on persisted signatures (no recompute).",
    "zorder_layout": "32 codegen'd bit ops per row for the Z-value; per-bucket min/max boxes from one aggregate.",
    "snapshot_diff": "Single full-outer sort-merge join on the PK + 4-row class aggregate.",
    "table_checksum": "XOR digest folds map-side (partial_bit_xor); shuffle carries one value per partition.",
    "concurrent_sessions": "Sweep line partitioned by day: sessionization exchange (user) then sweep exchange (dayn) — never a global ordered sort.",
    "time_weighted_avg": "lead() window and per-user aggregate share ONE user_id exchange.",
    "rolling_hll_wau": "Per-day registers (≤256 rows/day) offset-exploded and merged by MAX; active-day filter is a broadcast semi join.",
    "fuzzy_join": "Edit-distance resolution stays an equi hash join on the 4-char block; levenshtein evaluated only post-join.",
    "quantile_sketch": "Bucket counts partial+final aggregated; quantile walk runs on ≤1024 rows (broadcast epilogue).",
    "bipartite_rank": "Each power-iteration step = equi-join + group-sum; degree dictionaries broadcast.",
    "bm25_retrieval": "Higher-order-function TFs (no Generate, no Python eval); corpus stats arrive as a broadcast row.",
    "compaction_plan": "Manifest aggregate then per-partition window running sum — plan runs on metadata-sized input.",
    "restatement_plan": "Affected-month set broadcast into anti (keep untouched) + semi (recompute slice) joins; both rollups broadcast the dim.",
    "top_paths": "Ordered path prefix via struct-sorted collect_list; two shuffles (user sessions, path counts) + TakeOrdered.",
    "basket_pairs": "Cap via aggregate + semi join, pair generation a self equi-join on the basket key.",
    "gram_matrix": "64 sum-aggregates per dimension over one posexplode pass — shuffle carries 64-long partial buffers, never exploded pairs.",
    "table_profile": "Two-phase distinct: stack unpivot → (column, value) hash aggregate → per-column rollup; one FileScan.",
    "monthly_trend": "All three windows over the monthly rollup; single raw-data aggregate feeds MoM/YoY/trailing-3m.",
    "dedup_embedding_cosine": "Sign-LSH band self equi-join generates candidates; exact cosine only on survivors — no nested-loop pair scan.",
    "dup_clusters": "Fixpoint label propagation: each round joins a localCheckpoint'd label table (truncated lineage) against the persisted edge list.",
    "dedup_incremental": "Incoming batch probes the persisted signature index via a (band, bh) equi-join — probe cost scales with the batch, not the corpus.",
    "dsir_importance": "One conditional aggregate builds both class count tables; the 1024-row LLR dictionary broadcasts onto the token stream.",
    "boilerplate_strip": "Vocabulary-sized keep set broadcast; order recovery via array_sort over (pos, token) structs inside the aggregate.",
    "banking_txn_pipeline": "Seeded chain reduced to a digest: integer cents window sums share one account_id exchange; bit_xor folds map-side.",
    "scd2_pit_join": "Point-in-time lookup as union + carry-forward: two same-key exchanges, no interval range join.",
    "curation_funnel_v2": "Four per-doc gate relations left-joined on doc_id; cluster stage read from the session cache (LogicalRDD).",
    "winnowing_fingerprint": "Per-row array algebra end to end — no shuffle, no Generate; one md5 per shingle position.",
    "triangle_count": "Degree-oriented wedge build/close as hash equi-joins; summary scalars ride broadcast 1-row joins.",
    "bitext_margin_pairs": "Cross-lingual candidates from the cached LSH band index (equi-join, no NLJ); margin = one double division of BIGINT top-K sums.",
    "safety_funnel": "One corpus scan → conditional sums for all funnel stages; no join, no window, the whole tier's shape.",
    "generalization_ladder": "Three tiny QI aggregates unioned; the release decision is a broadcast 1-row argmin join — never a driver-side branch.",
    "bpe_merge_train": "Eight merge rounds, each a bounded pair-count aggregate over the word dictionary (vocab-sized, never corpus-sized).",
    "preference_budget_cap": "Rank-aligned chosen/rejected equi-join on (group, rank) — K pairs per group, never K×K — then one window running sum enforces the token budget.",
    "phase_vocab_overlap": "Distinct (bigram, phase) relation → per-bigram presence flags in ONE aggregate → conditional sums; vocabulary-sized shuffles, no vocab self-join.",
    "lf_coverage_report": "Whole LFAnalysis table (coverage/polarity/overlap/conflict × 4 LFs) from ONE aggregate of conditional sums, stack-reshaped; no join.",
    "salting_plan": "Hot-key table from one group-by; the global total rides a broadcast 1-row join; top-10 via TakeOrdered, never a global sort.",
    "dedup_embedding_cosine_scaled": "Scaled (24×12) sign-LSH band self equi-join + exact re-rank — same shape as the base detector at ~1/40th the candidate budget.",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="dump_plans")
    queries = all_queries()
    out = [
        "# PLANS — representative physical plans (sf0.001, local[32], AQE on)",
        "",
        'Captured with `df.explain("simple")` via `plans.plan_of`. These are the',
        "shapes `tests/test_plans.py` pins; regenerate with",
        "`python scripts/dump_plans.py`.",
    ]
    for key, caption in GALLERY.items():
        plan = plan_of(queries[key].build(spark, sf_dir), "simple").strip()
        out += ["", f"## {key}", "", caption, "", "```", plan, "```"]
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"{path}: {len(GALLERY)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
