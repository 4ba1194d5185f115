"""Local verification for the KMV set-operation sketch tier (operators/kmv.py):
bottom-K sketches, merged-sketch union cardinality, sketch-overlap
Jaccard/intersection. The registry-wide suites check its oracle parity, its
plans and its empty and skewed inputs; this file keeps the checks specific to
the tier.
"""

from __future__ import annotations

import hashlib

from banking_etl_pipeline_spark.catalog import table
from banking_etl_pipeline_spark.operators.kmv import (
    H_DOMAIN,
    KMV_K,
    KMV_SEED,
    QUERIES,
)


def _model_hashes(spark, sf_dir):
    rows = table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    ).distinct().collect()
    sets: dict = {}
    for r in rows:
        h = hashlib.md5(f"{KMV_SEED}:{r['user_id']}".encode()).hexdigest()
        sets.setdefault(r["event_type"], set()).add(int(h[:12], 16))
    return sets


def test_sketch_matches_python_model(spark, sf_dir):
    """Exact counts, fill levels, and the (K-1)·H/theta estimate re-derived
    from the same 48-bit md5 hashes; the estimate must also be within the
    standard KMV error envelope (~4/sqrt(K)) when the estimator branch is
    active."""
    sets = _model_hashes(spark, sf_dir)
    out = {r["event_type"]: r
           for r in QUERIES["kmv_type_sketch"].build(spark, sf_dir).collect()}
    assert set(out) == set(sets)
    for t, hs in sets.items():
        r = out[t]
        assert r["n_exact"] == len(hs)
        assert r["k_filled"] == min(len(hs), KMV_K)
        if len(hs) < KMV_K:
            assert r["n_est"] == len(hs)
        else:
            theta = sorted(hs)[KMV_K - 1]
            assert r["n_est"] == (KMV_K - 1) * H_DOMAIN // theta
            rel = abs(r["n_est"] - len(hs)) / len(hs)
            assert rel < 4 / KMV_K ** 0.5, (t, r["n_est"], len(hs))


def test_union_and_jaccard_identities(spark, sf_dir):
    """Merged-sketch union estimates match a Python replay; exact
    intersections / unions obey inclusion-exclusion; Jaccard fixed-points
    are consistent with their own numerators."""
    sets = _model_hashes(spark, sf_dir)
    uni = {tuple(sorted(r.asDict().items())) and (r["t1"], r["t2"]): r
           for r in QUERIES["kmv_union_report"].build(spark, sf_dir).collect()}
    jac = {(r["t1"], r["t2"]): r
           for r in QUERIES["kmv_jaccard_report"].build(spark, sf_dir)
           .collect()}
    types = sorted(sets)
    for i, t1 in enumerate(types):
        for t2 in types[i + 1:]:
            a, b = sets[t1], sets[t2]
            u = uni[(t1, t2)]
            assert u["n_union_exact"] == len(a | b)
            merged = sorted(a)[:KMV_K] + sorted(b)[:KMV_K]
            kept = sorted(set(merged))[:KMV_K]
            if len(kept) < KMV_K:
                want = len(kept)
            else:
                want = (KMV_K - 1) * H_DOMAIN // kept[-1]
            assert u["n_union_est"] == want
            j = jac[(t1, t2)]
            assert j["n_inter_exact"] == len(a & b)
            ka = set(sorted(a)[:KMV_K])
            kb = set(sorted(b)[:KMV_K])
            overlap = sum(1 for x in kept if x in ka and x in kb)
            assert j["overlap"] == overlap
            assert j["jaccard_est_fp"] == \
                overlap * 1_000_000 // max(len(kept), 1)
            assert j["jaccard_exact_fp"] == \
                len(a & b) * 1_000_000 // max(len(a | b), 1)
