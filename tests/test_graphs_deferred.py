"""Local verification for the graph-traversal tier (operators/graphs.py):
bounded-round frontier-join BFS over the md5-derived order graph. The
module is registered in `registry.MODULES`.
"""

from __future__ import annotations

import hashlib

import pytest

from banking_etl_pipeline_spark.catalog import table
from banking_etl_pipeline_spark.operators.graphs import (
    GRAPH_SEED,
    MAX_DEPTH,
    SEED_MOD,
    queries as graph_queries,
)
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import compare, duck_connection


@pytest.fixture(scope="module")
def gq():
    return graph_queries()


@pytest.mark.parametrize(
    "key", ["bfs_layers", "bfs_frontier_report", "bfs_reach_report"]
)
def test_graphs_oracle_parity(key, spark, sf_dir, gq):
    spec = gq[key]
    res = compare(spec.build(spark, sf_dir), duck_connection(sf_dir),
                  spec.oracle)
    assert res["row_count_match"] and res["columns_match"] \
        and res["values_match"], f"{key}: {res['detail']}"


def test_graphs_plans_scale_sane(spark, sf_dir, gq):
    for key, spec in gq.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "CartesianProduct" not in p, f"{key}: cartesian"
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in p, f"{key}: python eval"


def test_customer_keys_are_dense_from_zero(spark, sf_dir):
    """The md5-derived dst formula maps into [0, n_cust-1]; it is only a
    valid vertex id because customer keys are dense from 0 — pin the
    assumption the edge derivation stands on."""
    keys = sorted(
        r.c_custkey
        for r in table(spark, sf_dir, "customer").select("c_custkey")
        .collect()
    )
    assert keys == list(range(len(keys)))


def test_bfs_matches_python_model(spark, sf_dir, gq):
    """Re-derive the whole traversal in Python from the same md5 edge
    formula and compare min-distances exactly."""
    n_cust = table(spark, sf_dir, "customer").count()
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    ).collect()
    adj: dict = {}
    for r in orders:
        h = hashlib.md5(
            f"{GRAPH_SEED}:{r['o_orderkey']}".encode()
        ).hexdigest()
        dst = int(h[:15], 16) % n_cust
        adj.setdefault(r["o_custkey"], set()).add(dst)
    dist = {k: 0 for k in range(0, n_cust, SEED_MOD)}
    frontier = set(dist)
    for r in range(1, MAX_DEPTH + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    nxt.add(v)
        for v in nxt:
            dist[v] = r
        frontier = nxt
    got = {r["k"]: r["dist"]
           for r in gq["bfs_layers"].build(spark, sf_dir).collect()}
    assert got == dist
    reach = gq["bfs_reach_report"].build(spark, sf_dir).collect()[0]
    assert reach["n_customers"] == n_cust
    assert reach["n_reached"] == len(dist)
    assert reach["n_unreached"] == n_cust - len(dist)
