"""Local verification for the product-quantization tier (operators/pquant.py):
packed PQ codes, codebook/distortion audits, ADC probe search. The
registry-wide suites check its oracle parity, its plans and its empty and
skewed inputs; this file keeps the checks specific to the tier.
"""

from __future__ import annotations

from banking_etl_pipeline_spark.catalog import table
from banking_etl_pipeline_spark.operators.pquant import (
    N_PROBES,
    PQ_K,
    PQ_M,
    QUERIES,
    TOP_K,
)
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import assert_repeat_deterministic


def test_pquant_plans_scale_sane(spark, sf_dir):
    for key, spec in QUERIES.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in p, f"{key}: NLJ"


def test_encode_covers_corpus_and_seeds_are_lossless(spark, sf_dir):
    """Every vector gets one packed code in [0, 2³²); the K codebook-seed
    vectors must encode themselves with ZERO distortion — their subvectors
    ARE codewords, so any nonzero distortion would mean the assignment or
    the integer distance is wrong."""
    rows = QUERIES["pq_encode"].build(spark, sf_dir).collect()
    assert len(rows) == table(spark, sf_dir, "embeddings").count()
    for r in rows:
        assert 0 <= r["pq_code"] < (1 << (4 * PQ_M))
        assert r["total_dist"] >= 0
    lossless = sum(1 for r in rows if r["total_dist"] == 0)
    assert lossless >= PQ_K


def test_codebook_population_accounts_every_vector(spark, sf_dir):
    rows = QUERIES["pq_codebook_report"].build(spark, sf_dir).collect()
    n_vecs = table(spark, sf_dir, "embeddings").count()
    per_m: dict[int, int] = {}
    for r in rows:
        assert 0 <= r["code"] < PQ_K and 0 <= r["m"] < PQ_M
        assert r["mean_dist"] * r["n_assigned"] <= r["sum_dist"]
        per_m[r["m"]] = per_m.get(r["m"], 0) + r["n_assigned"]
    assert per_m == {m: n_vecs for m in range(PQ_M)}


def test_distortion_report_matches_encode_totals(spark, sf_dir):
    per_m = {r["m"]: r for r in
             QUERIES["pq_distortion_report"].build(spark, sf_dir).collect()}
    enc = QUERIES["pq_encode"].build(spark, sf_dir).collect()
    assert set(per_m) == set(range(PQ_M))
    assert sum(r["sum_dist"] for r in per_m.values()) == \
        sum(r["total_dist"] for r in enc)
    for r in per_m.values():
        assert r["worst_dist"] * r["n_vectors"] >= r["sum_dist"]


def test_ann_probe_shape_and_self_retrieval(spark, sf_dir):
    """Each probe returns exactly TOP_K ranked rows with non-decreasing
    ADC distance, and the probe's own stored vector achieves the minimum
    ADC distance (its codes are the per-subspace argmins of its own lookup
    table — nothing can score lower)."""
    rows = QUERIES["pq_ann_probe"].build(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == N_PROBES
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, TOP_K + 1))
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)
        self_rows = [r for r in rs if r["vec_id"] == qid]
        assert self_rows, f"probe {qid} not retrieved in its own top-{TOP_K}"
        assert self_rows[0]["adc_dist"] == dists[0]


def test_pquant_repeat_deterministic(spark, sf_dir):
    assert_repeat_deterministic(spark, sf_dir, QUERIES)


def test_pquant_plan_pins(spark, sf_dir):
    """Shape pins (qualitative — exchange counts vary with session-cache
    state): the codebook side always broadcasts (a shuffled join against a
    ≤1024-row table would be wrong at any scale) and nothing plans a
    global range sort — the seed selection is a TakeOrdered heap."""
    for key, min_bcast in {
        "pq_encode": 1,
        "pq_codebook_report": 1,
        "pq_distortion_report": 1,
        "pq_ann_probe": 2,
    }.items():
        p = plan_of(QUERIES[key].build(spark, sf_dir), "simple")
        assert p.count("BroadcastHashJoin") >= min_bcast, key
        assert "Exchange rangepartitioning" not in p, key


def test_adc_self_distance_equals_encode_distortion(spark, sf_dir):
    """Exactness bridge between the two query families: a probe's ADC
    distance to its own stored vector is Σ_m lut[m, code_m] where code_m
    is the per-subspace argmin of that same lut — i.e. exactly the
    vector's total quantization distortion from pq_encode. Any drift in
    the LUT build, the assignment, or the packing breaks this identity."""
    enc = {r["vec_id"]: r["total_dist"]
           for r in QUERIES["pq_encode"].build(spark, sf_dir).collect()}
    probe_rows = QUERIES["pq_ann_probe"].build(spark, sf_dir).collect()
    self_rows = [r for r in probe_rows if r["vec_id"] == r["query_id"]]
    assert len(self_rows) == N_PROBES
    for r in self_rows:
        assert r["adc_dist"] == enc[r["query_id"]], r["query_id"]
