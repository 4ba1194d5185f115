"""Local verification for the ranked-retrieval evaluation tier
(operators/retrieval.py): MRR, precision/recall@k, micro-NDCG, kNN-label
accuracy over the shared banded-LSH index. The registry-wide suites check its
oracle parity, its plans and its empty and skewed inputs; this file keeps the
checks specific to the tier.
"""

from __future__ import annotations

from banking_etl_pipeline_spark.operators.retrieval import (
    QUERIES,
    RET_K,
    RET_KS,
    RET_Q_MOD,
    _qset,
    _ranked,
)


def test_ranked_is_a_valid_topk(spark, sf_dir):
    """Ranks are 1..≤K and unique per query; rel matches the label grade;
    no query retrieves itself."""
    rows = _ranked(spark, sf_dir).collect()
    per_q: dict = {}
    for r in rows:
        assert 1 <= r["rank"] <= RET_K
        assert r["neighbor_id"] != r["q_id"]
        assert r["rel"] == int(r["q_label"] == r["c_label"])
        per_q.setdefault(r["q_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
        assert q % RET_Q_MOD == 0


def test_metric_bounds(spark, sf_dir):
    """Every fixed-point metric sits in [0, 1e6]; hit counts respect the
    counting identities."""
    mrr = QUERIES["retrieval_mrr"].build(spark, sf_dir).collect()[0]
    assert 0 <= mrr["mrr_x1e6"] <= 1_000_000
    assert mrr["n_hit"] <= mrr["n_queries"]
    assert mrr["sum_recip_x1e6"] <= mrr["n_hit"] * 1_000_000

    pr = {r["k"]: r for r in
          QUERIES["retrieval_precision_recall"].build(spark, sf_dir).collect()}
    assert set(pr) == set(RET_KS)
    for k, r in pr.items():
        assert 0 <= r["precision_x1e6"] <= 1_000_000
        assert 0 <= r["recall_x1e6"] <= 1_000_000
        assert r["hits"] <= r["n_queries"] * k
        assert r["hits"] <= r["possible"]
    # hits@k is monotone in k
    ks = sorted(pr)
    for a, b in zip(ks, ks[1:]):
        assert pr[a]["hits"] <= pr[b]["hits"]

    nd = QUERIES["retrieval_ndcg"].build(spark, sf_dir).collect()[0]
    assert 0 <= nd["micro_ndcg_x1e6"] <= 1_000_000
    assert nd["sum_dcg_fp"] <= nd["sum_idcg_fp"]

    acc = QUERIES["retrieval_knn_accuracy"].build(spark, sf_dir).collect()[0]
    assert 0 <= acc["accuracy_x1e6"] <= 1_000_000
    assert acc["n_correct"] <= acc["n_predicted"] <= acc["n_queries"]


def test_qset_covers_the_gate(spark, sf_dir):
    from banking_etl_pipeline_spark.catalog import table

    qs = _qset(spark, sf_dir).collect()
    expected = table(spark, sf_dir, "embeddings").filter(
        f"vec_id % {RET_Q_MOD} = 0"
    ).count()
    assert len(qs) == expected
    assert all(q["n_rel"] >= 0 for q in qs)
