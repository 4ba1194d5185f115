"""Incremental view maintenance tier over `orders`/`customer`
(registered in `registry.MODULES`).

`layout.incremental_agg` proved the mergeable-partial algebra for
single-table rollups; this tier extends incremental maintenance to the
three harder view classes a warehouse actually materializes, each as an
algebraic proof: the Spark side executes the INCREMENTAL plan (stored
view state + delta work only), the DuckDB oracle recomputes the view
from scratch, and the driver hash equality IS the maintenance-correctness
theorem. Deltas are deterministic key-gates, so both engines agree on the
split exactly.

- ivm_join_delta: join-view maintenance under fact appends —
  V(A ∪ ΔA ⋈ C) = reagg(partials(A ⋈ C) ∪ partials(ΔA ⋈ C)). Yesterday's
  per-nation partials are session-persisted (the stored MV); today's work
  is one Δ-sized join + a bounded merge re-aggregate. At 100 TB the Δ
  join touches only the append, never the base fact.
- ivm_minmax_repair: MAX is NOT retractable — deleting the current max
  forces a re-read. The repair is SCOPED: only groups whose deleted max
  equals the stored max recompute (one semi-join against the affected
  group set); every other group keeps its stored row untouched. The
  classic Flink/Materialize retraction-repair pattern as a DataFrame
  plan.
- ivm_topk_maintain: for insert-only deltas,
  topk(base ∪ Δ) = topk(topk(base) ∪ Δ) — the stored K rows plus the
  delta are all the state a top-k view needs. Both stages plan as
  TakeOrderedAndProject (bounded heaps, never a global sort).

All measures are exact cents (BIGINT); ranks take a total tie-break
order (value desc, key asc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.numeric import cents, sql_cents
from ..session import session_persist
from ..spec import QuerySpec

APPEND_MOD = 16   # o_orderkey % 16 == 0 → today's appended fact rows
DELETE_MOD = 8    # o_orderkey % 8 == 0  → today's deleted fact rows
GRP_MOD = 64      # minmax view groups: o_custkey % 64
TOPK_MOD = 4      # o_orderkey % 4 == 0 → today's inserts for the top-k view
TOP_K = 20


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", cents(F.col("o_totalprice")).alias("price_c")
    )


def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")

    def partials(rows: DataFrame) -> DataFrame:
        return (
            rows.join(c, rows.o_custkey == c.c_custkey)
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("price_c").alias("rev"),
            )
        )

    # yesterday's materialized view partials — persisted once per session,
    # exactly like the stored MV a warehouse keeps next to the base table
    stored = session_persist(
        spark,
        f"ivm_join_view:{sf_dir}",
        lambda: partials(o.filter(F.col("o_orderkey") % APPEND_MOD != 0)),
    )
    delta = partials(o.filter(F.col("o_orderkey") % APPEND_MOD == 0))
    return (
        stored.unionByName(delta)
        .groupBy("c_nationkey")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.sum("rev").cast("long").alias("revenue_c"),
        )
    )


IVM_JOIN_DELTA_SQL = f"""
SELECT c.c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM({sql_cents('o.o_totalprice')}) AS BIGINT) AS revenue_c
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
"""


def ivm_minmax_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir).withColumn(
        "grp", F.col("o_custkey") % GRP_MOD
    )
    deleted = F.col("o_orderkey") % DELETE_MOD == 0
    # yesterday's stored view: per-group max over ALL rows (deletes not yet
    # applied)
    stored = session_persist(
        spark,
        f"ivm_minmax_view:{sf_dir}",
        lambda: o.groupBy("grp").agg(F.max("price_c").alias("old_max")),
    )
    del_max = (
        o.filter(deleted).groupBy("grp").agg(F.max("price_c").alias("dmx"))
    )
    j = stored.join(del_max, "grp", "left")
    untouched = j.filter(
        F.col("dmx").isNull() | (F.col("dmx") < F.col("old_max"))
    ).select("grp", F.col("old_max").alias("max_price_c"))
    affected = j.filter(F.col("dmx") == F.col("old_max")).select("grp")
    # the re-read is scoped: only affected groups scan their survivors;
    # groups emptied by the delete drop out here, matching the recompute
    repaired = (
        o.filter(~deleted)
        .join(affected, "grp")
        .groupBy("grp")
        .agg(F.max("price_c").alias("max_price_c"))
    )
    return untouched.unionByName(repaired)


IVM_MINMAX_REPAIR_SQL = f"""
SELECT o_custkey % {GRP_MOD} AS grp,
       MAX({sql_cents('o_totalprice')}) AS max_price_c
FROM orders
WHERE o_orderkey % {DELETE_MOD} != 0
GROUP BY 1
"""


def ivm_topk_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir).select("o_orderkey", "price_c")
    order = [F.desc("price_c"), F.asc("o_orderkey")]
    stored = session_persist(
        spark,
        f"ivm_topk_view:{sf_dir}",
        lambda: o.filter(F.col("o_orderkey") % TOPK_MOD != 0)
        .orderBy(*order)
        .limit(TOP_K),
    )
    delta = o.filter(F.col("o_orderkey") % TOPK_MOD == 0)
    merged = stored.unionByName(delta).orderBy(*order).limit(TOP_K)
    # rank window over ≤ TOP_K rows — bounded by construction
    w = Window.orderBy(*order)
    return merged.withColumn("rank", F.row_number().over(w)).select(
        "rank", "o_orderkey", "price_c"
    )


IVM_TOPK_MAINTAIN_SQL = f"""
SELECT CAST(rank AS INTEGER) AS rank, o_orderkey, price_c
FROM (
  SELECT o_orderkey, {sql_cents('o_totalprice')} AS price_c,
         ROW_NUMBER() OVER (ORDER BY {sql_cents('o_totalprice')} DESC,
                            o_orderkey) AS rank
  FROM orders
)
WHERE rank <= {TOP_K}
"""


def queries() -> dict[str, QuerySpec]:
    return {
        "ivm_join_delta": QuerySpec(
            ivm_join_delta,
            IVM_JOIN_DELTA_SQL,
            "join-view maintenance: stored partials ⊎ delta-join partials",
        ),
        "ivm_minmax_repair": QuerySpec(
            ivm_minmax_repair,
            IVM_MINMAX_REPAIR_SQL,
            "scoped MAX repair under deletes (recompute affected groups only)",
        ),
        "ivm_topk_maintain": QuerySpec(
            ivm_topk_maintain,
            IVM_TOPK_MAINTAIN_SQL,
            "top-k maintenance: topk(topk(base) ∪ Δ) for insert-only deltas",
        ),
    }
