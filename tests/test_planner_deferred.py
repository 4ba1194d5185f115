"""Local verification for the scale-planner tier (operators/planner.py):
per-table size/partition plans, broadcast classification, hot-key salting,
hash-bucket skew: oracle parity + plan sanity + an independent Python model
of the exact integer arithmetic. The module is registered in
`registry.MODULES`.
"""

from __future__ import annotations

import hashlib

import pytest

from banking_etl_pipeline_spark.catalog import table
from banking_etl_pipeline_spark.operators.planner import (
    _WIDTHS,
    BROADCAST_THRESHOLD,
    MAX_PARTITION_BYTES,
    N_BUCKETS,
    PROJECTION,
    QUERIES,
    SALT_SEED,
    SHUFFLE_PARTITIONS,
)
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import compare, duck_connection


@pytest.mark.parametrize(
    "key", ["shuffle_partition_plan", "broadcast_plan", "salting_plan",
            "partition_skew_report", "lsh_candidate_report"]
)
def test_planner_oracle_parity(key, spark, sf_dir):
    spec = QUERIES[key]
    res = compare(spec.build(spark, sf_dir), duck_connection(sf_dir),
                  spec.oracle)
    assert res["row_count_match"] and res["columns_match"] \
        and res["values_match"], f"{key}: {res['detail']}"


def test_planner_plans_scale_sane(spark, sf_dir):
    for key, spec in QUERIES.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "CartesianProduct" not in p, f"{key}: cartesian"
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in p, f"{key}: python eval"


def _model_est_bytes(spark, sf_dir, name):
    fixed, strs, arrs = _WIDTHS[name]
    rows = table(spark, sf_dir, name).select(*(strs + arrs)).collect() \
        if (strs or arrs) else None
    n = table(spark, sf_dir, name).count()
    var = 0
    if rows is not None:
        for r in rows:
            for c in strs:
                var += len(r[c]) if r[c] is not None else 0
            for c in arrs:
                var += 4 * (len(r[c]) if r[c] is not None else 0)
    return n, n * fixed + var


def test_partition_plan_matches_python_model(spark, sf_dir):
    """est_bytes re-derived row-by-row in Python for every table, plus the
    ceil-division and clamping identities for both horizons."""
    out = {r["table_name"]: r
           for r in QUERIES["shuffle_partition_plan"].build(spark, sf_dir)
           .collect()}
    assert set(out) == set(_WIDTHS)
    for name in _WIDTHS:
        n, est = _model_est_bytes(spark, sf_dir, name)
        r = out[name]
        assert r["n_rows"] == n, name
        assert r["est_bytes"] == est, name
        assert r["partitions_now"] == max(
            1, -(-est // MAX_PARTITION_BYTES)), name
        assert r["partitions_1000x"] == max(
            1, -(-(est * PROJECTION) // MAX_PARTITION_BYTES)), name
        assert r["partitions_1000x"] >= r["partitions_now"]


def test_broadcast_plan_consistent(spark, sf_dir):
    """Classification follows the threshold exactly, and a side too big to
    broadcast today can never become broadcastable at 1000x."""
    rows = QUERIES["broadcast_plan"].build(spark, sf_dir).collect()
    assert {r["table_name"] for r in rows} == set(_WIDTHS)
    for r in rows:
        want_now = ("broadcast" if r["est_bytes"] <= BROADCAST_THRESHOLD
                    else "shuffle")
        want_proj = ("broadcast"
                     if r["est_bytes"] * PROJECTION <= BROADCAST_THRESHOLD
                     else "shuffle")
        assert r["strategy_now"] == want_now, r
        assert r["strategy_1000x"] == want_proj, r
        if r["strategy_now"] == "shuffle":
            assert r["strategy_1000x"] == "shuffle", r
    # the fixed-size dimensions must classify broadcastable at every sf
    by_name = {r["table_name"]: r for r in rows}
    for dim in ("region", "nation"):
        assert by_name[dim]["strategy_now"] == "broadcast"


def test_salting_plan_matches_python_model(spark, sf_dir):
    counts: dict = {}
    for r in table(spark, sf_dir, "events").select("user_id").collect():
        counts[r["user_id"]] = counts.get(r["user_id"], 0) + 1
    total = sum(counts.values())
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = QUERIES["salting_plan"].build(spark, sf_dir).collect()
    assert [(r["user_id"], r["cnt"]) for r in got] == want
    for r in got:
        assert r["share_permille"] == r["cnt"] * 1000 // max(total, 1)
        assert r["salt_factor"] == max(
            1, (r["cnt"] * SHUFFLE_PARTITIONS + total - 1) // max(total, 1))
        assert r["salt_factor"] >= 1


def test_skew_report_matches_python_model(spark, sf_dir):
    buckets: dict = {}
    for r in table(spark, sf_dir, "events").select("user_id").collect():
        h = hashlib.md5(f"{SALT_SEED}:{r['user_id']}".encode()).hexdigest()
        b = int(h[:15], 16) % N_BUCKETS
        buckets[b] = buckets.get(b, 0) + 1
    [row] = QUERIES["partition_skew_report"].build(spark, sf_dir).collect()
    assert row["n_buckets"] == len(buckets)
    assert row["total_rows"] == sum(buckets.values())
    assert row["max_bucket_rows"] == max(buckets.values())
    assert row["min_bucket_rows"] == min(buckets.values())
    assert row["skew_permille"] == (
        max(buckets.values()) * N_BUCKETS * 1000
        // max(sum(buckets.values()), 1))
    # max load is at least the average → skew per-mille >= ~1000 (integer
    # floor can shave at most 1)
    assert row["skew_permille"] >= 999


def test_lsh_candidate_report_matches_bands(spark, sf_dir):
    """candidate_pairs re-derived from the actual cached band relation the
    dedup/ANN joins consume — the report must price exactly the join that
    would run — plus the Σ n(n−1)/2 identity per band."""
    from banking_etl_pipeline_spark.operators.similarity import (
        N_BANDS,
        lsh_bands_cached,
    )

    sizes: dict = {}
    for r in lsh_bands_cached(spark, sf_dir).collect():
        sizes.setdefault(r["band"], {}).setdefault(r["sig"], 0)
        sizes[r["band"]][r["sig"]] += 1
    rows = QUERIES["lsh_candidate_report"].build(spark, sf_dir).collect()
    assert len(rows) == N_BANDS == len(sizes)
    for r in rows:
        b = sizes[r["band"]]
        assert r["n_buckets"] == len(b)
        assert r["max_bucket_n"] == max(b.values())
        assert r["candidate_pairs"] == sum(n * (n - 1) // 2
                                           for n in b.values())
