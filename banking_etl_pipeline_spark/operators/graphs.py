"""Bounded-round graph-traversal tier
(registered in `registry.MODULES`).

`corpus.dup_clusters` iterates hash-min label propagation to a FIXPOINT
(connected components); this tier is the bounded-depth sibling — BFS by
frontier joins, the pattern behind k-hop neighborhoods, blast-radius
audits, and influence spread. The graph is derived deterministically from
the data (the injected-known-signal discipline): one directed edge per
order, src = the ordering customer, dst = an md5-derived customer key —
so both engines construct the identical edge list and the oracle replays
the whole traversal.

- bfs_layers: min-distance (≤ MAX_DEPTH hops) from the seed set
  (c_custkey % SEED_MOD == 0) to every reached customer. Each round is
  ONE equi-join frontier ⋈ edges + an anti-join against the visited set
  — never a full-graph recompute; round r touches only distance-r
  frontier edges.
- bfs_frontier_report: nodes per distance — the frontier-growth curve.
- bfs_reach_report: one row — customers total / reached / unreached.

Scale: per round one shuffle keyed on the join vertex plus one
(broadcastable-when-small) visited anti-join; rounds are a CONSTANT
(MAX_DEPTH), so lineage stays bounded without checkpointing (dup_clusters
documents the localCheckpoint discipline for UNBOUNDED fixpoints). The
edge list materializes once per session; at 100 TB both sides of every
round's join hash-partition on the vertex key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import md5_long_seeded, sql_md5_long_seeded
from ..session import session_persist
from ..spec import QuerySpec

GRAPH_SEED = 229
SEED_MOD = 100   # c_custkey % 100 == 0 → BFS seed set
MAX_DEPTH = 3


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One directed edge per order: (src = o_custkey, dst = md5-derived
    customer key in [0, n_cust-1]); customer keys are dense from 0 in the
    test corpus, which the suite asserts."""

    def build() -> DataFrame:
        n = table(spark, sf_dir, "customer").agg(
            F.count(F.lit(1)).alias("n_cust")
        )
        o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        h = md5_long_seeded(GRAPH_SEED, F.col("o_orderkey").cast("string"))
        return (
            o.crossJoin(F.broadcast(n))
            .select(
                F.col("o_custkey").alias("src"),
                (h % F.col("n_cust")).alias("dst"),
            )
            .distinct()
        )

    return session_persist(spark, f"graph_edges:{sf_dir}", build)


def _layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        e = _edges(spark, sf_dir)
        seeds = (
            table(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") % SEED_MOD == 0)
            .select(F.col("c_custkey").alias("k"))
        )
        visited = seeds.withColumn("dist", F.lit(0))
        frontier = seeds
        for r in range(1, MAX_DEPTH + 1):
            nxt = (
                frontier.join(e, frontier.k == e.src)
                .select(F.col("dst").alias("k"))
                .distinct()
                .join(visited.select("k"), "k", "left_anti")
            )
            visited = visited.unionByName(nxt.withColumn("dist", F.lit(r)))
            frontier = nxt
        return visited

    return session_persist(spark, f"graph_bfs:{sf_dir}", build)


def bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _layers(spark, sf_dir).select("k", "dist")


def _edges_sql() -> str:
    h = sql_md5_long_seeded(GRAPH_SEED, "CAST(o_orderkey AS VARCHAR)")
    return f"""
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cust FROM customer),
e AS (
  SELECT DISTINCT o_custkey AS src, {h} % n.n_cust AS dst
  FROM orders, n
),
d0 AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % {SEED_MOD} = 0),
d1 AS (
  SELECT DISTINCT e.dst AS k FROM e JOIN d0 ON e.src = d0.k
  WHERE e.dst NOT IN (SELECT k FROM d0)
),
d2 AS (
  SELECT DISTINCT e.dst AS k FROM e JOIN d1 ON e.src = d1.k
  WHERE e.dst NOT IN (SELECT k FROM d0)
    AND e.dst NOT IN (SELECT k FROM d1)
),
d3 AS (
  SELECT DISTINCT e.dst AS k FROM e JOIN d2 ON e.src = d2.k
  WHERE e.dst NOT IN (SELECT k FROM d0)
    AND e.dst NOT IN (SELECT k FROM d1)
    AND e.dst NOT IN (SELECT k FROM d2)
),
layers AS (
  SELECT k, 0 AS dist FROM d0
  UNION ALL SELECT k, 1 FROM d1
  UNION ALL SELECT k, 2 FROM d2
  UNION ALL SELECT k, 3 FROM d3
)"""


BFS_LAYERS_SQL = f"""
WITH {_edges_sql()}
SELECT k, dist FROM layers
"""


def bfs_frontier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _layers(spark, sf_dir)
        .groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("dist")
    )


BFS_FRONTIER_REPORT_SQL = f"""
WITH {_edges_sql()}
SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM layers GROUP BY dist ORDER BY dist
"""


def bfs_reach_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    reached = _layers(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_reached")
    )
    total = table(spark, sf_dir, "customer").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    return total.crossJoin(F.broadcast(reached)).selectExpr(
        "n_customers",
        "n_reached",
        "n_customers - n_reached AS n_unreached",
    )


BFS_REACH_REPORT_SQL = f"""
WITH {_edges_sql()},
r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reached FROM layers),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_customers FROM customer)
SELECT t.n_customers, r.n_reached,
       t.n_customers - r.n_reached AS n_unreached
FROM t, r
"""


def queries() -> dict[str, QuerySpec]:
    return {
        "bfs_layers": QuerySpec(
            bfs_layers,
            BFS_LAYERS_SQL,
            "min-distance BFS layers (≤3 hops) by per-round frontier joins",
        ),
        "bfs_frontier_report": QuerySpec(
            bfs_frontier_report,
            BFS_FRONTIER_REPORT_SQL,
            "frontier-growth curve: node count per BFS distance",
        ),
        "bfs_reach_report": QuerySpec(
            bfs_reach_report,
            BFS_REACH_REPORT_SQL,
            "k-hop blast radius: total / reached / unreached customers",
        ),
    }
