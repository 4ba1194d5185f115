"""Physical-plan regression tests.

Correctness says a query returns the right rows; these tests pin down that it
returns them with the right PLAN — the properties that decide whether the
same code survives a 100× scale-up:

- predicate pushdown + column pruning reach the parquet scan,
- dimension joins broadcast (no fact-side shuffle),
- existence checks stay semi-joins,
- aggregates run inside whole-stage codegen.

A refactor that silently turns a broadcast join into a sort-merge shuffle or
drops a filter out of the scan fails here long before a bench regression
would be noticed. The invariants that hold for every key (no
CartesianProduct, no Python evaluation outside the multimodal operators, no
broadcast of an unbounded explode) are checked on the build that
tests/test_oracle_parity.py compares with the oracle.
"""

from __future__ import annotations

import pytest

from banking_etl_pipeline_spark.plans import plan_of
from banking_etl_pipeline_spark.registry import all_queries


@pytest.fixture(scope="module")
def queries():
    return all_queries()


def _build(queries, spark, sf_dir, key):
    return queries[key].build(spark, sf_dir)


def test_filter_pushdown_reaches_scan(spark, sf_dir, queries):
    p = plan_of(_build(queries, spark, sf_dir, "filter_range"))
    assert "PushedFilters: [" in p
    # the range predicate itself must be inside the scan, not only a Filter node
    assert "GreaterThan" in p or "LessThan" in p


def test_column_pruning(spark, sf_dir, queries):
    p = plan_of(_build(queries, spark, sf_dir, "pricing_summary"))
    scan = p[p.index("ReadSchema"):]
    scan_line = scan.splitlines()[0]
    for needed in ("l_quantity", "l_extendedprice", "l_returnflag"):
        assert needed in scan_line
    for pruned in ("l_orderkey", "l_partkey", "l_suppkey"):
        assert pruned not in scan_line, f"{pruned} not pruned from scan"


def test_dim_joins_broadcast(spark, sf_dir, queries):
    for key in ("shipping_priority", "local_supplier_volume",
                "returned_revenue_topn", "join_left_stats", "anomaly_flags"):
        p = plan_of(_build(queries, spark, sf_dir, key))
        assert "BroadcastHashJoin" in p, f"{key}: dim join is not broadcast"
    # the 6-table star must broadcast every dim: a single fact-fact join may
    # shuffle, but 4+ broadcast exchanges must be present
    p = plan_of(_build(queries, spark, sf_dir, "local_supplier_volume"))
    assert p.count("BroadcastExchange") >= 4


def test_existence_stays_semi_join(spark, sf_dir, queries):
    p = plan_of(_build(queries, spark, sf_dir, "order_priority_semi"))
    assert "LeftSemi" in p


def test_partsupp_shapes(spark, sf_dir, queries):
    # Q2 analog: every dim joins broadcast; the argmin join-back may shuffle
    p = plan_of(_build(queries, spark, sf_dir, "min_cost_supplier"))
    assert p.count("BroadcastExchange") >= 3
    # Q20 analog: supplier selection stays a semi join, never inner+distinct
    p = plan_of(_build(queries, spark, sf_dir, "excess_stock_supplier"))
    assert "LeftSemi" in p
    # Q11 analog: the global total enters via broadcast, not a driver collect
    p = plan_of(_build(queries, spark, sf_dir, "important_stock"))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_aggregates_in_wholestage_codegen(spark, sf_dir, queries):
    for key in ("pricing_summary", "groupby_stats", "local_supplier_volume"):
        df = _build(queries, spark, sf_dir, key)
        # AQE finalizes codegen stages only at execution; collect() (not
        # count(), which wraps a new plan) finalizes THIS queryExecution
        df.collect()
        p = plan_of(df, "simple")
        assert "isFinalPlan=true" in p
        assert "*(" in p, f"{key}: no whole-stage codegen stage"
        assert "HashAggregate" in p


def test_window_single_shuffle(spark, sf_dir, queries):
    """The metrics windows all partition by the same key: exactly one
    Exchange hashpartitioning on that key should appear."""
    p = plan_of(_build(queries, spark, sf_dir, "window_running_sum"), "simple")
    assert p.count("Exchange hashpartitioning") == 1


def test_forecast_revenue_pushdown_single_scan(spark, sf_dir, queries):
    """Q6 shape: both range filters reach the parquet scan and the plan has
    no join and no wide shuffle of row data (single partial+final agg)."""
    p = plan_of(_build(queries, spark, sf_dir, "forecast_revenue"))
    assert "PushedFilters: [" in p
    scan = p[p.index("PushedFilters"):].splitlines()[0]
    assert "l_shipdate" in scan and "l_quantity" in scan
    assert "Join" not in p
    assert p.count("HashAggregate (") == 2  # partial + final, nothing else


def test_large_volume_customer_single_lineitem_agg(spark, sf_dir, queries):
    """Q18's classic trap is aggregating lineitem twice (HAVING subquery +
    report). Our plan reuses one aggregate: lineitem is scanned once and
    orders/customer attach by broadcast."""
    p = plan_of(_build(queries, spark, sf_dir, "large_volume_customer"))
    assert p.count("lineitem.parquet") == 1, "lineitem scanned more than once"
    assert "BroadcastHashJoin" in p


def test_parts_supplier_antijoin_broadcast(spark, sf_dir, queries):
    p = plan_of(_build(queries, spark, sf_dir, "parts_supplier_relationship"))
    assert "LeftAnti, BuildRight" in p.replace("build right", "BuildRight") \
        or "LeftAnti" in p
    assert "BroadcastHashJoin" in p


def test_range_join_no_nested_loop(spark, sf_dir, queries):
    """The bucketed range join must plan as an equi-join + filter; a raw
    non-equi containment predicate would fall back to
    BroadcastNestedLoopJoin, which is O(points × intervals) and dies at
    scale."""
    p = plan_of(_build(queries, spark, sf_dir, "range_join"))
    assert "NestedLoop" not in p, "range join fell back to nested loop"
    assert "Join" in p


def test_star_reports_broadcast_all_dims(spark, sf_dir, queries):
    """Q7/Q8/Q9-shaped reports join 2-4 dimensions onto the fact chain;
    every dim side must be a broadcast build, and nothing may degenerate
    into a nested-loop join."""
    for key in ("volume_shipping", "market_share", "product_profit"):
        p = plan_of(_build(queries, spark, sf_dir, key))
        assert "BroadcastHashJoin" in p, f"{key}: dims not broadcast"
        assert "NestedLoop" not in p, f"{key}: nested-loop join"


def test_exclusive_return_supplier_semi_anti(spark, sf_dir, queries):
    """The Q21-shaped EXISTS/NOT-EXISTS pair must stay LeftSemi + LeftAnti
    joins — a rewrite through aggregation or a nested-loop fallback (the
    supplier-inequality is a residual on the equi-key, not the join key)
    would not survive a large fact table."""
    p = plan_of(_build(queries, spark, sf_dir, "exclusive_return_supplier"))
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "NestedLoop" not in p


def test_customer_order_distribution_outer_join(spark, sf_dir, queries):
    """Q13-shaped: zero-order customers must come from a LEFT OUTER join
    (an inner join silently drops them) feeding two cascaded aggregates."""
    p = plan_of(_build(queries, spark, sf_dir, "customer_order_distribution"))
    assert "LeftOuter" in p
    assert p.count("HashAggregate") >= 4  # two aggs × partial+final


def test_disjunctive_blocks_stay_on_broadcast_join(spark, sf_dir, queries):
    """Q19-shaped OR-blocks reference both join sides, so they evaluate
    post-join — but the join itself must remain a broadcast equi-join on
    p_partkey with the disjunction as a Filter, never a nested loop."""
    p = plan_of(_build(queries, spark, sf_dir, "disjunctive_part_revenue"))
    assert "BroadcastHashJoin" in p
    assert "NestedLoop" not in p


def test_kmeans_assign_broadcasts_centroids(spark, sf_dir, queries):
    """The Lloyd-step scored relation must broadcast the 10-row centroid
    side (BroadcastNestedLoopJoin for the cross join) — a shuffled cartesian
    would be catastrophic at corpus scale."""
    p = plan_of(_build(queries, spark, sf_dir, "kmeans_assign"))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_dq_outlier_iqr_broadcasts_quartiles(spark, sf_dir, queries):
    """The 1-row quartile aggregate joins back over the scan via broadcast,
    and the scan reads only the single measured column."""
    p = plan_of(_build(queries, spark, sf_dir, "dq_outlier_iqr"))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    scan_line = p[p.index("ReadSchema"):].splitlines()[0]
    assert "o_totalprice" in scan_line
    assert "o_orderdate" not in scan_line


def test_tfidf_no_extra_scan_for_df(spark, sf_dir, queries):
    """Document frequency comes from a window over the (doc, term) aggregate
    — the documents parquet must be scanned at most twice (terms + the 1-row
    corpus count), never once per subexpression."""
    p = plan_of(_build(queries, spark, sf_dir, "tfidf_top_terms"))
    assert p.count("documents.parquet") <= 2


def test_inverted_index_stays_jvm_side(spark, sf_dir, queries):
    """Index build is two hash aggregates; collect_list runs as an
    ObjectHashAggregate (no sort-based fallback in the plan by default)."""
    p = plan_of(_build(queries, spark, sf_dir, "inverted_index"))
    assert "ObjectHashAggregate" in p
    assert "CartesianProduct" not in p


def test_funnel_three_windows_one_shuffle(spark, sf_dir, queries):
    """Three chained running-min windows + the per-user aggregate all share
    the (user_id) partitioning: exactly one Exchange and one Sort — funnel
    depth must not add shuffles."""
    p = plan_of(_build(queries, spark, sf_dir, "funnel_conversion"), "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Sort ") == 1


def test_pii_mask_shuffle_free(spark, sf_dir, queries):
    """Masking is scan→project only: no Exchange of any kind, and the md5/
    regexp expressions stay inside whole-stage codegen (no Python eval)."""
    p = plan_of(_build(queries, spark, sf_dir, "pii_mask"), "simple")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_latest_snapshot_is_hash_agg_not_window(spark, sf_dir, queries):
    """Keep-latest must compile to partial+final aggregation (map-side
    combine before the shuffle), NOT a window: no Window node, exactly one
    Exchange on the grouping key, and partial_* functions before it. (max_by
    over a string key picks SortAggregate — the Sort there is partition-
    local over pre-combined rows, not a full-data window sort.)"""
    p = plan_of(_build(queries, spark, sf_dir, "latest_event_snapshot"),
                "simple")
    assert "Window" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_max_by" in p


def test_zorder_all_jvm_bitops(spark, sf_dir, queries):
    """The 32-term bit interleave must stay a codegen'd JVM expression
    (no Python eval) and aggregate over the 64 buckets with partial
    aggregation — one Exchange carrying only bucket-level rows."""
    p = plan_of(_build(queries, spark, sf_dir, "zorder_layout"), "simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_incremental_agg_partials_merge(spark, sf_dir, queries):
    """The maintenance plan re-aggregates two partial aggregates: both
    branches must themselves hash-aggregate before the union (map-side
    partials), and the month filter must be pushed into each scan."""
    p = plan_of(_build(queries, spark, sf_dir, "incremental_agg"))
    assert p.count("HashAggregate") >= 4  # partial+final per branch ≥ 4
    assert "PushedFilters: [" in p


def test_table_profile_single_scan(spark, sf_dir, queries):
    """ANALYZE profiles every column in ONE scan of orders via the
    two-phase distinct shape: stack unpivot (Generate/Expand), a
    (column, value) hash aggregate, then the per-column rollup — a
    second FileScan is a regression."""
    p = plan_of(_build(queries, spark, sf_dir, "table_profile"))
    assert p.count("orders.parquet") == 1
    assert "Generate" in p or "Expand" in p  # stack unpivot of the scan
    assert p.count("HashAggregate") >= 4  # partial+final × two phases


def test_gap_fill_spine_from_rollup_not_raw(spark, sf_dir, queries):
    """The dense hour spine must explode from the per-user min/max
    aggregate, never from raw events (Generate sits above a HashAggregate),
    and the locf window runs over the joined rollup. Catalyst plans the
    spine's min/max as its own pruned 2-column scan rather than reusing the
    rollup subtree — 2 scans max, both aggregate before the join."""
    p = plan_of(_build(queries, spark, sf_dir, "gap_fill"))
    assert p.count("events.parquet") <= 2
    assert "Generate" in p and "Window" in p
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_pps_sample_shuffle_free_until_agg(spark, sf_dir, queries):
    """Weighted sampling is scan→project→filter-free aggregation: one
    Exchange (the per-priority aggregate), all integer math JVM-side."""
    p = plan_of(_build(queries, spark, sf_dir, "pps_sample"), "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_rolling_active_users_dedup_before_explode(spark, sf_dir, queries):
    """The 7× offset explode must sit ABOVE the (user, day) dedup
    aggregate — exploding raw events first would 7× the full event volume.
    One raw-event scan; Generate above an aggregate."""
    p = plan_of(_build(queries, spark, sf_dir, "rolling_active_users"))
    assert p.count("events.parquet") == 1
    assert "Generate" in p and "HashAggregate" in p
    assert "Window" not in p and "NestedLoop" not in p


def test_snapshot_diff_single_join_four_rows(spark, sf_dir, queries):
    """Reconciliation is ONE full outer join + one aggregate — no second
    join, no Python, and both snapshot branches prune to 2 columns."""
    p = plan_of(_build(queries, spark, sf_dir, "snapshot_diff"), "simple")
    assert "FullOuter" in p
    assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_window_navigation_single_sort(spark, sf_dir, queries):
    """All five navigation functions share one (custkey, price, key)
    partition sort: exactly one Exchange and one Sort."""
    p = plan_of(_build(queries, spark, sf_dir, "window_navigation"), "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Sort ") == 1


def test_embedding_quantize_narrow(spark, sf_dir, queries):
    """Quantization is scan→project: no Exchange, no Python eval — the
    higher-order-function fold stays JVM-side."""
    p = plan_of(_build(queries, spark, sf_dir, "embedding_quantize"), "simple")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bpe_pair_stats_bounded_topk(spark, sf_dir, queries):
    """Pair counting must end in TakeOrdered (per-partition heap), never a
    global sort of the pair vocabulary; the aggregate is partial+final."""
    p = plan_of(_build(queries, spark, sf_dir, "bpe_pair_stats"), "simple")
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p or "HashAggregate" in p


def test_ohlc_reaggregate_two_aggs_one_scan(spark, sf_dir, queries):
    """Day-from-hour must scan raw events exactly once, then run two
    aggregate stages (hour, then day) — never a second raw scan."""
    p = plan_of(_build(queries, spark, sf_dir, "ohlc_reaggregate"))
    assert p.count("events.parquet") == 1
    assert "partial_min_by" in p or "min_by" in p


def test_hll_merge_register_sized_shuffles(spark, sf_dir, queries):
    """The sharded HLL path aggregates (source, bucket) then bucket: both
    shuffles carry register rows, and the token explode feeds a partial
    aggregate before any exchange."""
    p = plan_of(_build(queries, spark, sf_dir, "hll_merge"), "simple")
    assert "partial_max" in p
    assert "Generate explode" in p or "Generate" in p


def test_table_checksum_partial_xor(spark, sf_dir, queries):
    """The XOR fingerprint must fold map-side (partial_bit_xor before any
    exchange) — the property that keeps the shuffle at one value per
    partition at any table size."""
    p = plan_of(_build(queries, spark, sf_dir, "table_checksum"))
    assert "partial_bit_xor" in p or "bit_xor" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_skew_report_single_scan_expand(spark, sf_dir, queries):
    """Three key columns profile from ONE lineitem scan (stack compiles to
    a Generate node), never three scans."""
    p = plan_of(_build(queries, spark, sf_dir, "skew_report"))
    assert p.count("lineitem.parquet") == 1
    assert "stack(3" in p


def test_fuzzy_join_stays_equi_hash(spark, sf_dir, queries):
    """Prefix blocking must plan as an equi join on the block key — an
    edit-distance predicate alone would force BroadcastNestedLoopJoin
    (all-pairs), the plan that dies at scale."""
    p = plan_of(_build(queries, spark, sf_dir, "fuzzy_join"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_concurrent_sessions_sweep_partitioned_by_day(spark, sf_dir, queries):
    """The sweep-line running sum must partition by day (per-day sorts),
    never a single global ordered sort."""
    p = plan_of(_build(queries, spark, sf_dir, "concurrent_sessions"))
    assert "hashpartitioning(dayn" in p
    # no global ordered sort: every Sort sits under a hash-partitioned
    # Exchange (user for sessionization, dayn for the sweep)
    assert "rangepartitioning" not in p


def test_rolling_hll_wau_semi_join_broadcast(spark, sf_dir, queries):
    """Active-day restriction is a broadcast semi join (tiny day list),
    not a shuffle of register contributions."""
    p = plan_of(_build(queries, spark, sf_dir, "rolling_hll_wau"))
    assert "LeftSemi" in p
    assert "BroadcastExchange" in p


def test_time_weighted_avg_single_shuffle(spark, sf_dir, queries):
    """The lead() window and the per-user aggregate share one user_id
    exchange — the aggregate reuses the window's partitioning."""
    p = plan_of(_build(queries, spark, sf_dir, "time_weighted_avg"))
    assert p.count("hashpartitioning(user_id") == 1


def test_bm25_no_python_no_explode_join(spark, sf_dir, queries):
    """TF extraction stays in codegen'd higher-order functions: no Python
    eval, no Generate/explode, stats arrive by broadcast."""
    p = plan_of(_build(queries, spark, sf_dir, "bm25_retrieval"))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Generate" not in p
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p


def test_basket_pairs_window_cap_then_equi(spark, sf_dir, queries):
    """The basket cap must plan as a count() window on the orderkey
    partition (not a size aggregate + semi join-back — one extra
    shuffle and two extra evaluations of the deduped line list) and pair
    generation as an equi join on the order key — never a nested-loop
    pair product."""
    p = plan_of(_build(queries, spark, sf_dir, "basket_pairs"))
    assert "Window" in p
    assert "LeftSemi" not in p  # the join-back must not come back
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_kmeans_argmin_group_limit(spark, sf_dir, queries):
    """The kmeans argmin is a rank-1 window with Spark's WindowGroupLimit
    partial top-1 before the exchange (not a groupBy-min + equality
    join-back that evaluated and shuffled the N×K scored stream twice —
    measured 4× slower at sf0.1)."""
    for key in ("kmeans_assign", "kmeans_update"):
        p = plan_of(_build(queries, spark, sf_dir, key))
        assert "WindowGroupLimit" in p, key
        assert "SortMergeJoin" not in p, key  # join-back must not return


def test_gap_fill_no_join(spark, sf_dir, queries):
    """gap_fill carries locf through ONE lead() window + explode — the
    spine join and the second (locf) window must stay gone: each re-adds a
    shuffle over the whole series."""
    p = plan_of(_build(queries, spark, sf_dir, "gap_fill"))
    assert "Join" not in p
    assert "Generate" in p  # the span explode


def test_fifo_allocation_equi_join_with_residual(spark, sf_dir, queries):
    """Overlap matching must ride the part-key equi hash join (overlap as
    residual) — a pure non-equi pair join would be a nested loop."""
    p = plan_of(_build(queries, spark, sf_dir, "fifo_allocation"))
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_variant_extract_no_python(spark, sf_dir, queries):
    """VARIANT path extraction stays JVM-side (parse_json/variant_get are
    codegen'd expressions, not UDFs)."""
    p = plan_of(_build(queries, spark, sf_dir, "variant_extract"))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_rate_limit_single_shuffle(spark, sf_dir, queries):
    """The throttle is one (user, day) window: a single hash exchange."""
    p = plan_of(_build(queries, spark, sf_dir, "rate_limit_sample"))
    assert p.count("hashpartitioning(user_id") == 1


def test_dedup_ngram_jaccard_df_capped_equi_join(spark, sf_dir, queries):
    """The shingle pair join must stay an equi join over df-capped posting
    lists (uncapped, a shingle in df documents emits df² pairs) — never a
    nested loop."""
    p = plan_of(_build(queries, spark, sf_dir, "dedup_ngram_jaccard"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_dedup_embedding_cosine_banded_not_allpairs(spark, sf_dir, queries):
    """Candidate generation must ride the sign-LSH band equi join (the
    all-pairs `a.vec_id < b.vec_id` form plans a BroadcastNestedLoopJoin,
    O(n²) at any scale)."""
    p = plan_of(_build(queries, spark, sf_dir, "dedup_embedding_cosine"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_dsir_dictionary_broadcasts(spark, sf_dir, queries):
    """The 1024-row LLR dictionary must broadcast onto the token stream —
    a shuffled join on the feature bucket would be Zipf-skewed."""
    p = plan_of(_build(queries, spark, sf_dir, "dsir_importance"))
    assert "BroadcastExchange" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_dedup_incremental_probe_equi_join(spark, sf_dir, queries):
    """The batch probe must ride the (band, bh) equi join against the
    signature index — never a nested-loop or cartesian pair scan."""
    p = plan_of(_build(queries, spark, sf_dir, "dedup_incremental"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_minhash_containment_df_capped_equi_join(spark, sf_dir, queries):
    p = plan_of(_build(queries, spark, sf_dir, "minhash_containment"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_boilerplate_keep_set_broadcasts(spark, sf_dir, queries):
    """The vocabulary-sized keep set must broadcast; the rebuild's order
    recovery must be array_sort (JVM expression), not a Python UDF."""
    p = plan_of(_build(queries, spark, sf_dir, "boilerplate_strip"))
    assert "BroadcastExchange" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_attribution_interval_join_no_cartesian(spark, sf_dir, queries):
    """The touch window must ride the user_id equi join with the time
    range as residual — never a cartesian/NLJ pair scan."""
    p = plan_of(_build(queries, spark, sf_dir, "attribution_linear"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_business_day_latency_closed_form_no_explode(spark, sf_dir, queries):
    """Business-day math must be the closed form — no calendar-spine
    Generate/explode multiplying the fact table."""
    p = plan_of(_build(queries, spark, sf_dir, "business_day_latency"))
    assert "Generate" not in p


def test_ewma_single_exchange_no_python(spark, sf_dir, queries):
    """The per-user series build is ONE user_id hash exchange; the fold is
    a JVM higher-order expression, never a Python eval node."""
    p = plan_of(_build(queries, spark, sf_dir, "ewma_smoothing"))
    assert p.count("hashpartitioning(user_id") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_weighted_sample_is_takeordered(spark, sf_dir, queries):
    """Top-k by the E-S key must plan as TakeOrderedAndProject (per-
    partition heap) over the scan — no shuffle of the data, no global
    sort."""
    p = plan_of(_build(queries, spark, sf_dir, "weighted_sample_topk"))
    assert "TakeOrderedAndProject" in p
    assert "Exchange hashpartitioning" not in p


def test_semdedup_pairs_only_within_cells(spark, sf_dir, queries):
    """The pair scan must be the cell_id equi join (n²/C per balanced
    cell) — never a global all-pairs nested loop; the quantizer table
    broadcasts."""
    p = plan_of(_build(queries, spark, sf_dir, "semdedup_prune"))
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p


def test_hard_negative_mining_single_aggregate(spark, sf_dir, queries):
    """The two extremes per anchor must come from ONE conditional
    min_by/max_by aggregate over the broadcast anchor join — no rank
    window over the pair stream, no cartesian."""
    p = plan_of(_build(queries, spark, sf_dir, "hard_negative_mining"))
    assert "CartesianProduct" not in p
    assert "Window" not in p


def test_triangle_count_oriented_equi_joins(spark, sf_dir, queries):
    """Wedge build and close must be hash equi joins over the oriented
    edge list — never a shuffled cartesian. (The 1-row summary
    crossJoins broadcast, which is the accepted BNLJ-of-a-scalar
    pattern.)"""
    p = plan_of(_build(queries, spark, sf_dir, "triangle_count"))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or \
        "ShuffledHashJoin" in p


def test_scd2_pit_join_carry_forward_no_range_join(spark, sf_dir, queries):
    """The point-in-time lookup is union + carry-forward: at most two
    same-key exchanges (change-detection window, carry window) and never
    an interval range join or nested loop."""
    p = plan_of(_build(queries, spark, sf_dir, "scd2_pit_join"))
    assert p.count("hashpartitioning(user_id") <= 2
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_leakage_free_features_exclusive_frame_one_exchange(
        spark, sf_dir, queries):
    """All feature windows and the label filter share ONE user_id
    exchange; the frame must be exclusive (no same-row leakage) which the
    oracle equality already proves — here we pin the shuffle count."""
    p = plan_of(_build(queries, spark, sf_dir, "leakage_free_features"))
    assert p.count("hashpartitioning(user_id") == 1


def test_ann_brute_force_probe_containment(spark, sf_dir, queries):
    """The exact-cosine truth tier is EVALUATION-ONLY (feeds
    ann_recall_report): its broadcast-NLJ cost is |probe|·n, bounded only
    because the broadcast side is the FIXED probe set. Pin both halves:
    the probe filter `vec_id < N_QUERIES` is pushed into a parquet scan,
    and the broadcast input is that filtered scan (never the corpus)."""
    from banking_etl_pipeline_spark.operators.similarity import N_QUERIES

    p = plan_of(_build(queries, spark, sf_dir, "ann_brute_force"))
    assert f"LessThan(vec_id,{N_QUERIES})" in p, "probe filter not pushed"
    # the NLJ's build (broadcast) side must carry the probe filter
    bcast = p.index("BroadcastExchange")
    assert f"vec_id#" in p[bcast:] and "BroadcastNestedLoopJoin" in p
    pushed = p.index(f"LessThan(vec_id,{N_QUERIES})")
    assert pushed > bcast, "broadcast side is not the filtered probe scan"


def test_semdedup_cell_count_scales_with_corpus():
    """Per-cell pair cost is (n/C)² · C; C must grow with n so expected
    cell size stays ≈ TARGET_CELL. Pin the bound under 10× and 100× growth
    (pure formula test, no Spark needed)."""
    from banking_etl_pipeline_spark.operators.similarity import (
        SEMDEDUP_MIN_CELLS,
        SEMDEDUP_TARGET_CELL,
        semdedup_n_cells,
    )

    for n in (500, 2000, 20_000, 200_000, 2_000_000, 20_000_000):
        c = semdedup_n_cells(n)
        assert c >= SEMDEDUP_MIN_CELLS
        if c > SEMDEDUP_MIN_CELLS:
            # expected cell size bounded: floor div loses < one TARGET_CELL
            assert n / c < 2 * SEMDEDUP_TARGET_CELL
    # 10× corpus → ≥ 9× cells once past the MIN_CELLS floor
    assert semdedup_n_cells(2_000_000) >= 9 * semdedup_n_cells(200_000)


def test_top_paths_prefix_bounded_one_user_exchange(spark, sf_dir, queries):
    """The session-prefix collect must be bounded BEFORE the aggregate
    (row_number ≤ PATH_LEN filter — a bot session can't inflate the
    array), and the session rank + session build + prefix aggregate must
    all share ONE user_id exchange (hashpartitioning(user_id) satisfies
    the (user_id, session_seq) clustering)."""
    from banking_etl_pipeline_spark.operators.windows import PATH_LEN

    p = plan_of(_build(queries, spark, sf_dir, "top_paths"))
    assert p.count("hashpartitioning(user_id") == 1
    assert f"<= {PATH_LEN})" in p, "prefix bound filter missing from plan"


# ---------------------------------------------------------------------------
# Pins for the scale-critical shapes:
# each test freezes the property that makes the operator survive 100 TB, so
# a refactor can't silently regress it. (Formatted plans put Exchange args
# on their own line — match 'hashpartitioning(' / 'rangepartitioning(',
# never 'Exchange hashpartitioning'.)
# ---------------------------------------------------------------------------

def test_training_shuffle_no_global_sort(spark, sf_dir, queries):
    """The global shuffle order comes from hash-position batch keys — ONE
    hash exchange (batch grouping), never a rangepartitioning/global sort
    of the corpus."""
    p = plan_of(_build(queries, spark, sf_dir, "training_shuffle"))
    assert "rangepartitioning(" not in p
    assert p.count("hashpartitioning(") == 1


def test_scan_parallel_text_ops_are_shuffle_free(spark, sf_dir, queries):
    """doc_chunking, winnowing_fingerprint, and text_fingerprint are pure
    per-row array algebra: ZERO exchanges — they run at full scan
    bandwidth on any corpus size."""
    for key in ("doc_chunking", "winnowing_fingerprint", "text_fingerprint"):
        p = plan_of(_build(queries, spark, sf_dir, key))
        assert "Exchange" not in p, f"{key}: gained a shuffle"


def test_single_exchange_aggregation_ops(spark, sf_dir, queries):
    """One hash exchange each: stratified_sample (per-language rank),
    pack_sequences (per-doc assembly), heavy_hitters (token agg — plus
    its TakeOrdered top-k heap instead of any global sort)."""
    for key in ("stratified_sample", "pack_sequences", "heavy_hitters"):
        p = plan_of(_build(queries, spark, sf_dir, key))
        if "InMemoryTableScan" in p:
            # the aggregate rides a session-persisted shared relation
            # (heavy_hitters shares cms_topk's token-frequency table);
            # any hashpartitioning in the text is the cached relation's
            # BUILD lineage, not a per-run shuffle
            continue
        assert p.count("hashpartitioning(") <= 1, f"{key}: extra shuffle"
        assert "rangepartitioning(" not in p, f"{key}: global sort appeared"
    p = plan_of(_build(queries, spark, sf_dir, "heavy_hitters"))
    assert "TakeOrderedAndProject" in p


def test_feature_hashing_two_exchanges(spark, sf_dir, queries):
    """Hashing-trick vectorizer: token-bucket aggregate + per-doc
    aggregate — exactly the two key changes, nothing more."""
    p = plan_of(_build(queries, spark, sf_dir, "feature_hashing"))
    assert p.count("hashpartitioning(") <= 2


def test_decontamination_benchmark_side_broadcasts(spark, sf_dir, queries):
    """The benchmark shingle set is small by definition: it must broadcast
    into the corpus probe (corpus side never shuffles for the join)."""
    p = plan_of(_build(queries, spark, sf_dir, "decontamination"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_dedup_band_joins_never_nested_loop(spark, sf_dir, queries):
    """The MinHash band self-join and the cluster fixpoint must stay hash
    equi-joins at any scale — a BroadcastNestedLoopJoin here means the
    band key fell out of the join condition."""
    for key in ("dedup_minhash_lsh", "dup_clusters", "dedup_survivors",
                "dedup_incremental"):
        p = plan_of(_build(queries, spark, sf_dir, key))
        assert "BroadcastNestedLoopJoin" not in p, f"{key}: NLJ appeared"


def test_ann_probe_sides_broadcast(spark, sf_dir, queries):
    """ann_lsh / ann_ivf probe a fixed small query set: the probe side
    must broadcast; the corpus side must never be the build side of a
    nested loop against another corpus-sized input (the centroid-table
    broadcast cross in ann_ivf is the accepted bounded-side pattern)."""
    for key in ("ann_lsh", "ann_ivf"):
        p = plan_of(_build(queries, spark, sf_dir, key))
        assert "BroadcastHashJoin" in p, f"{key}: probe join not broadcast"
