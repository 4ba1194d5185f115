"""Epoch/dataloader planning tier over `documents`
(registered in `registry.MODULES`).

What a trainer's data-loading control plane computes before/during a run:
the per-epoch shuffle order (seeded, reproducible, never a materialized
permutation), the temperature-scaled token allocation across sources, and
the exact resume point after a mid-epoch crash. No counterpart in the
reference repo; the recipes are the public pretraining-dataloader
conventions (seeded hash shuffle, T=0.5 temperature mixing, token-offset
resume against the shard manifest).

- epoch_shuffle_heads: for each of EPOCHS epochs, the first HEADS
  documents of that epoch's seeded-hash order. The order IS
  md5(seed_e, doc_id) — per-epoch reshuffle without storing permutations;
  each head is a TakeOrdered (top-HEADS heap), never a global sort. The
  position column comes from a window over ≤ EPOCHS·HEADS rows.
- temperature_mixture: per-source token budget under T=0.5 sampling
  weights w_i = floor(sqrt(tokens_i)·1e6), apportioned by the exact
  largest-remainder method so the quotas sum to the budget EXACTLY
  (water-filling twin: sampling.mixture_plan caps by availability;
  this one solves fair rounding). The remainder rank runs over
  ≤ |source-domain| rows (bounded: 20 in testdata).
- resume_plan: given the training-shard assignment (shards tier — the
  shared session-persisted exact prefix sum) and a crash at half the
  corpus' token mass, the documents/shards still owed. One bounded
  aggregate over the assignment.

Determinism: every output is BIGINT/INT integer algebra; the only double
is sqrt(tokens) — per-row, identical expression shape in both engines,
fixed-pointed before any sum. w_i·BUDGET stays in int64 while
sqrt(source_tokens) < 9.2e6·(Σw/BUDGET) — ~8.5e13 tokens per source at
this BUDGET; assert-guarded in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import md5_long_seeded, sql_md5_long_seeded
from ..spec import QuerySpec
from .shards import _SQL_ASSIGN_CTES, _assignment

EPOCHS = 3
HEADS = 5
SHUFFLE_SEED = 211      # epoch e hashes with seed SHUFFLE_SEED + e
T_BUDGET = 1_000_000    # tokens allocated by temperature_mixture


def epoch_shuffle_heads(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    per_epoch = []
    for e in range(EPOCHS):
        h = md5_long_seeded(SHUFFLE_SEED + e, F.col("doc_id").cast("string"))
        per_epoch.append(
            d.select(F.lit(e).alias("epoch"), "doc_id", h.alias("h"))
            .orderBy("h", "doc_id")
            .limit(HEADS)
        )
    heads = per_epoch[0]
    for nxt in per_epoch[1:]:
        heads = heads.unionByName(nxt)
    # window over ≤ EPOCHS·HEADS rows — bounded by construction
    w = Window.partitionBy("epoch").orderBy("h", "doc_id")
    return heads.withColumn("position", F.row_number().over(w)).select(
        "epoch", "position", "doc_id", "h"
    )


def _heads_sql() -> str:
    parts = []
    for e in range(EPOCHS):
        h = sql_md5_long_seeded(SHUFFLE_SEED + e, "CAST(doc_id AS VARCHAR)")
        parts.append(
            f"(SELECT {e} AS epoch, doc_id, {h} AS h FROM documents"
            f" ORDER BY h, doc_id LIMIT {HEADS})"
        )
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH heads AS (
{union}
)
SELECT epoch,
       CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h, doc_id)
            AS INTEGER) AS position,
       doc_id, h
FROM heads
"""


EPOCH_SHUFFLE_HEADS_SQL = _heads_sql()


def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    src = (
        d.select("source", F.size(F.split(F.col("text"), " ")).cast("long")
                 .alias("t"))
        .groupBy("source")
        .agg(F.sum("t").alias("tokens"))
        .withColumn("w_fp", F.floor(F.sqrt(F.col("tokens")) * 1e6))
    )
    tot = src.agg(F.sum("w_fp").alias("w_total"))
    based = src.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "tokens",
        "w_fp",
        # exact floor(w·B/W): w_fp < w_total, so w_fp·B is the smaller
        # product orientation; stays in int64 while w_fp < 9.2e12
        f"(w_fp * {T_BUDGET}) div greatest(w_total, 1) AS base",
        f"(w_fp * {T_BUDGET}) % greatest(w_total, 1) AS rem",
    )
    left = based.agg(
        (F.lit(T_BUDGET) - F.sum("base")).alias("leftover"),
        F.count(F.lit(1)).alias("n_src"),
    )
    # remainder rank over ≤ |sources| rows — bounded by the source domain
    w = Window.orderBy(F.desc("rem"), F.asc("source"))
    return (
        based.withColumn("rr", F.row_number().over(w))
        .crossJoin(F.broadcast(left))
        .selectExpr(
            "source",
            "tokens",
            "w_fp",
            "base + (CASE WHEN rr <= leftover THEN 1 ELSE 0 END) AS quota",
        )
    )


TEMPERATURE_MIXTURE_SQL = f"""
WITH src AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
weighted AS (
  SELECT source, tokens,
         CAST(FLOOR(sqrt(tokens) * 1e6) AS BIGINT) AS w_fp
  FROM src
),
tot AS (SELECT CAST(SUM(w_fp) AS BIGINT) AS w_total FROM weighted),
based AS (
  SELECT source, tokens, w_fp,
         (w_fp * {T_BUDGET}) // GREATEST(w_total, 1) AS base,
         (w_fp * {T_BUDGET}) % GREATEST(w_total, 1) AS rem
  FROM weighted, tot
),
lft AS (
  SELECT CAST({T_BUDGET} - SUM(base) AS BIGINT) AS leftover FROM based
)
SELECT source, tokens, w_fp,
       base + (CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                         <= leftover THEN 1 ELSE 0 END) AS quota
FROM based, lft
"""


def resume_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _assignment(spark, sf_dir)
    tot = a.agg(
        F.coalesce(F.max("prefix"), F.lit(0).cast("long")).alias("total")
    ).selectExpr("total div 2 AS resume_offset")
    rem = (
        a.crossJoin(F.broadcast(tot))
        .filter(F.col("prefix") > F.col("resume_offset"))
        .agg(
            F.count(F.lit(1)).alias("n_docs_remaining"),
            F.coalesce(F.sum("n_tokens"), F.lit(0).cast("long"))
            .cast("long").alias("tokens_remaining"),
            F.coalesce(F.min("shard_id"), F.lit(-1).cast("long"))
            .alias("first_shard"),
            F.coalesce(F.max("shard_id"), F.lit(-1).cast("long"))
            .alias("last_shard"),
        )
    )
    return tot.crossJoin(F.broadcast(rem)).select(
        "resume_offset",
        "n_docs_remaining",
        "tokens_remaining",
        "first_shard",
        "last_shard",
    )


RESUME_PLAN_SQL = f"""
WITH {_SQL_ASSIGN_CTES},
tot AS (
  SELECT COALESCE(CAST(MAX(prefix) AS BIGINT), 0) // 2 AS resume_offset
  FROM assign
),
rem AS (SELECT a.* FROM assign a, tot WHERE a.prefix > tot.resume_offset)
SELECT (SELECT resume_offset FROM tot) AS resume_offset,
       CAST(COUNT(*) AS BIGINT) AS n_docs_remaining,
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tokens_remaining,
       COALESCE(MIN(shard_id), -1) AS first_shard,
       COALESCE(MAX(shard_id), -1) AS last_shard
FROM rem
"""


def queries() -> dict[str, QuerySpec]:
    return {
        "epoch_shuffle_heads": QuerySpec(
            epoch_shuffle_heads,
            EPOCH_SHUFFLE_HEADS_SQL,
            "per-epoch seeded-shuffle heads via TakeOrdered (no global sort)",
        ),
        "temperature_mixture": QuerySpec(
            temperature_mixture,
            TEMPERATURE_MIXTURE_SQL,
            "T=0.5 source mixing by exact largest-remainder apportionment",
        ),
        "resume_plan": QuerySpec(
            resume_plan,
            RESUME_PLAN_SQL,
            "mid-epoch crash resume point against the shard manifest",
        ),
    }
