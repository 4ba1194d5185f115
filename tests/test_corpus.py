"""Unit tests for the corpus-analytics operators (operators/corpus.py):
label-propagation semantics on a literal graph plus per-row invariants the
oracle hash comparison can't express directly."""

from __future__ import annotations

from pyspark.sql import functions as F

from banking_etl_pipeline_spark.operators.corpus import (
    TOP_TERMS_K,
    dup_clusters,
    propagate_min_labels,
    propagate_to_fixpoint,
    repetition_ratio,
    stratified_sample,
    tfidf_top_terms,
)


def _labels(spark, pairs, iterations):
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    return {
        r["v"]: r["label"]
        for r in propagate_min_labels(df, iterations).collect()
    }


def test_propagation_three_hops_on_chain(spark):
    # chain 1-2-3-4-5: after 3 iterations a vertex sees min(label) within
    # 3 hops — vertex 5 reaches 2 but not 1 (fixed-iteration semantics)
    got = _labels(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], 3)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 2}
    # one more iteration converges the chain fully
    got4 = _labels(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], 4)
    assert got4 == {v: 1 for v in (1, 2, 3, 4, 5)}


def test_fixpoint_labels_diameter5_chain(spark):
    """Fixed 3-round propagation only labels components of diameter ≤ 3.
    The fixpoint driver must fully converge a diameter-5 chain
    (1-2-3-4-5-6): every vertex gets the component min regardless of hop
    distance, and a disjoint pair keeps its own label."""
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (20, 21)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["v"]: r["label"] for r in propagate_to_fixpoint(df).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 20: 20, 21: 20}


def test_fixpoint_respects_iteration_backstop(spark):
    """max_iterations caps the rounds (runaway guard): with 1 round allowed
    on the diameter-5 chain, labels equal the 1-hop propagation result."""
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["v"]: r["label"]
        for r in propagate_to_fixpoint(df, max_iterations=1).collect()
    }
    one_hop = {
        r["v"]: r["label"] for r in propagate_min_labels(df, 1).collect()
    }
    assert got == one_hop


def test_propagation_converges_small_components(spark):
    # triangle {1,2,3} + disjoint pair {10,11}: diameter ≤ 2, so 3
    # iterations are a true fixpoint
    got = _labels(spark, [(1, 2), (2, 3), (1, 3), (10, 11)], 3)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dup_clusters_representative_invariants(spark, sf_dir):
    rows = dup_clusters(spark, sf_dir).collect()
    assert rows, "LSH near-dup graph should be non-empty on the testdata"
    by_cluster: dict[int, list] = {}
    for r in rows:
        assert r["cluster_id"] <= r["doc_id"]
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        # the representative (min doc_id) is a member of its own cluster
        assert min(m["doc_id"] for m in members) == cid
        assert all(m["cluster_size"] == len(members) for m in members)


def test_tfidf_top_terms_shape(spark, sf_dir):
    df = tfidf_top_terms(spark, sf_dir)
    per_doc = df.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("rank").alias("max_rank")
    )
    bad = per_doc.filter(
        (F.col("n") > TOP_TERMS_K) | (F.col("max_rank") > TOP_TERMS_K)
    ).count()
    assert bad == 0
    assert df.filter((F.col("tf") < 1) | (F.col("df") < 1)).count() == 0


def test_repetition_ratio_bounds(spark, sf_dir):
    df = repetition_ratio(spark, sf_dir)
    out_of_range = df.filter(
        (F.col("distinct_token_ratio") <= 0)
        | (F.col("distinct_token_ratio") > 1)
        | (F.col("dup_bigram_frac") < 0)
        | (F.col("dup_bigram_frac") >= 1)
        | (F.col("top_bigram_frac") <= 0)
        | (F.col("top_bigram_frac") > 1)
    ).count()
    assert out_of_range == 0


def test_kmeans_assign_diagonal_dominance(spark, sf_dir):
    # per-label centroids should re-attract their own members far above the
    # 1/n_labels random-assignment rate (0.41 observed vs 0.10 random)
    from banking_etl_pipeline_spark.operators.similarity import kmeans_assign

    rows = kmeans_assign(spark, sf_dir).collect()
    total = sum(r["n"] for r in rows)
    diag = sum(r["n"] for r in rows if r["label"] == r["assigned_label"])
    assert total > 0
    assert diag / total > 0.25
    assert all(r["mean_sq_dist"] >= 0 for r in rows)


def test_embedding_centroids_shape(spark, sf_dir):
    from banking_etl_pipeline_spark.operators.similarity import (
        embedding_centroids,
    )

    rows = embedding_centroids(spark, sf_dir).collect()
    assert {r["label"] for r in rows} == set(range(10))
    for r in rows:
        # near-uniform corpus: centroid magnitude collapses well below the
        # average member norm
        assert 0 < r["centroid_norm"] < r["mean_vec_norm"]


def test_stratified_sample_rates(spark, sf_dir):
    rows = stratified_sample(spark, sf_dir).collect()
    assert all(r["n_kept"] <= r["n_docs"] for r in rows)
    # aggregate keep-rate per language respects the configured ordering:
    # 'en' is downsampled hardest (10% vs 40/25 elsewhere)
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    rates = {
        lang: sum(r["n_kept"] for r in rs) / sum(r["n_docs"] for r in rs)
        for lang, rs in by_lang.items()
    }
    assert rates["en"] < max(rates.values())


def test_cms_never_underestimates(spark, sf_dir):
    # Count-Min guarantee: estimate >= exact for every probed token, and
    # with depth 4 / width 1024 on this corpus the overestimate stays small
    from banking_etl_pipeline_spark.operators.skew import cms_topk

    rows = cms_topk(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["cms_estimate"] >= r["exact_n"], r
        assert r["cms_estimate"] <= r["exact_n"] * 2, r


def test_hll_estimate_within_tolerance(spark, sf_dir):
    # linear-counting regime on this vocab: estimate within ~2/sqrt(m)+eps
    from banking_etl_pipeline_spark.operators.skew import hll_distinct

    r = hll_distinct(spark, sf_dir).collect()[0]
    assert r["nonzero_buckets"] <= r["m"]
    assert abs(r["hll_estimate"] - r["n_exact"]) / r["n_exact"] < 0.15


def test_kmeans_update_shift_is_bounded(spark, sf_dir):
    # after one reassignment, every recomputed centroid exists, keeps its
    # members, and moves by less than the centroid's own magnitude scale
    from banking_etl_pipeline_spark.operators.similarity import kmeans_update

    rows = kmeans_update(spark, sf_dir).collect()
    assert rows
    total = sum(r["n_members"] for r in rows)
    assert total > 0
    for r in rows:
        assert r["n_members"] > 0
        assert 0 <= r["centroid_shift"] < 1.0
        assert r["new_norm"] > 0


def test_bloom_no_false_negatives(spark, sf_dir):
    # Bloom guarantee: every member passes; FPR stays near theory (≤ 2%)
    from banking_etl_pipeline_spark.operators.skew import bloom_filter_probe

    r = bloom_filter_probe(spark, sf_dir).collect()[0]
    assert r["members_passed"] == r["n_keys"]
    assert r["fpr"] <= 0.02


def test_bm25_score_ordering(spark, sf_dir):
    """Docs containing more query terms at equal length should not score
    zero; bm25 is positive iff some term matches."""
    from banking_etl_pipeline_spark.operators.corpus import bm25_retrieval

    rows = bm25_retrieval(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.tf0 + r.tf1 + r.tf2 > 0
        assert r.bm25 > 0


def test_pmi_min_count_and_exact_fraction(spark, sf_dir):
    from banking_etl_pipeline_spark.operators.corpus import (
        PMI_MIN_COUNT,
        PMI_TOP_K,
        pmi_collocations,
    )

    rows = pmi_collocations(spark, sf_dir).collect()
    assert 0 < len(rows) <= PMI_TOP_K
    ratios = [r.score_num / r.score_den for r in rows]
    assert ratios == sorted(ratios, reverse=True)
    for r in rows:
        assert r.cab >= PMI_MIN_COUNT
        assert r.score_num > 0 and r.score_den > 0


def test_dedup_survivors_one_per_cluster(spark, sf_dir):
    from collections import defaultdict

    from banking_etl_pipeline_spark.operators.corpus import dedup_survivors

    rows = dedup_survivors(spark, sf_dir).collect()
    assert rows
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r.cluster_id].append(r)
    for cid, members in by_cluster.items():
        keepers = [m for m in members if m.keep]
        assert len(keepers) == 1, f"cluster {cid}"
        k = keepers[0]
        assert k.doc_id == k.survivor_doc
        assert all(k.n_chars >= m.n_chars for m in members), "not longest"
        assert len(members) == members[0].n_members


def test_mixture_plan_conservation(spark, sf_dir):
    """Water-filling invariants: per-stratum allocation never exceeds
    availability, and the full budget (total div 2) is spent exactly
    whenever unsaturated capacity remains."""
    from banking_etl_pipeline_spark.operators.sampling import (
        MIX_BUDGET_DIV,
        mixture_plan,
    )

    rows = mixture_plan(spark, sf_dir).collect()
    assert rows
    total = sum(r["avail_tokens"] for r in rows)
    budget = total // MIX_BUDGET_DIV
    allocated = sum(r["allocated_tokens"] for r in rows)
    for r in rows:
        assert 0 <= r["allocated_tokens"] <= r["avail_tokens"]
    if any(not r["saturated"] and r["weight_bp"] > 0 for r in rows):
        assert allocated == budget
    else:
        assert allocated <= budget


def test_winnowing_shared_fingerprint_on_overlap(spark, sf_dir):
    """Winnowing guarantee: two documents sharing a run of ≥ k+w−1
    shingles select at least one common (hash) fingerprint — checked on
    the real corpus by construction: every doc shares all fingerprints
    with itself, and densities stay within (0, 1]."""
    from banking_etl_pipeline_spark.operators.text import (
        winnowing_fingerprint,
    )

    rows = winnowing_fingerprint(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_fingerprints"] <= r["n_windows"]
        assert 0 < r["density"] <= 1.0


def test_minhash_eval_bounds(spark, sf_dir):
    """Precision/recall stay in [0,1] and hits can't exceed either side."""
    from banking_etl_pipeline_spark.operators.dedup import minhash_eval

    r = minhash_eval(spark, sf_dir).collect()[0]
    assert 0 <= r["n_hit"] <= min(r["n_truth"], r["n_pred"]) or (
        r["n_truth"] == 0 or r["n_pred"] == 0
    )
    assert 0.0 <= r["precision"] <= 1.0
    assert 0.0 <= r["recall"] <= 1.0


def test_curation_funnel_v2_monotone(spark, sf_dir):
    """Funnel counts must be monotone non-increasing stage over stage and
    the final token budget positive on the testdata."""
    from banking_etl_pipeline_spark.operators.curation import (
        curation_funnel_v2,
    )

    rows = curation_funnel_v2(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (r["n_docs"] >= r["n_after_trim"] >= r["n_after_quality"]
                >= r["n_after_dedup"] >= r["n_final"] >= 0)
    assert sum(r["final_tokens"] for r in rows) > 0
