"""Training-shard manifest tier over `documents`
(registered in `registry.MODULES`).

The last hop of a pretraining data pipeline: lay the curated corpus out as
fixed-token-budget shards (the WebDataset/TFRecord manifest a trainer's
data loader consumes), deterministically and reproducibly. Documents take
a seeded-hash training order (the `training_shuffle` discipline — no
global sort of raw text, the order IS the md5 slot), the exact running
token total assigns each document to the shard its cumulative end falls
in (`shard_id = (prefix − 1) div SHARD_TOKENS`), and the manifest/balance
reports are bounded per-shard aggregates over that assignment.

The running total uses `functions/ranks.py::distributed_prefix_sum` — the
two-phase exact prefix sum (local running sums inside range partitions +
broadcast partition totals). A bare `SUM() OVER (ORDER BY …)` would drag
100 TB through one task; the two-phase form is bit-identical (integer
sums) and fully parallel, property-tested against Spark's own global
window in tests/test_properties.py.

- shard_assignment: per document — token count, exact running total in
  training order, shard id. The loader-facing table.
- shard_manifest: per shard — document count, token mass, prefix range.
  What actually ships next to the shard files.
- shard_balance_report: one row — shard count, exact mean tokens per
  shard, worst overrun/underrun vs the budget. The "did packing stay
  balanced" gate before a training run launches.

Scale: one narrow scan derives (slot hash, token count); the prefix sum
is two parallel exchanges + a ≤P-row broadcast; every report aggregate
keys on shard_id (bounded by corpus_tokens / SHARD_TOKENS). No global
single-task sort, no self-join, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import md5_long_seeded, sql_md5_long_seeded
from ..functions.ranks import distributed_prefix_sum
from ..session import session_persist
from ..spec import QuerySpec

SHARD_TOKENS = 4_096  # token budget per shard (test-scale; a flag in prod)
SLOT_SEED = 97        # training-order hash seed


def _assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        d = table(spark, sf_dir, "documents")
        base = d.select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("long")
            .alias("n_tokens"),
            md5_long_seeded(SLOT_SEED, F.col("doc_id").cast("string"))
            .alias("h"),
        )
        summed = distributed_prefix_sum(
            base, [F.col("h").asc(), F.col("doc_id").asc()],
            "n_tokens", out="prefix",
        )
        return summed.select(
            "doc_id", "n_tokens", "prefix",
            F.expr(f"(prefix - 1) div {SHARD_TOKENS}").alias("shard_id"),
        )

    return session_persist(spark, f"shard_assign:{sf_dir}", build)


_SQL_ASSIGN_CTES = f"""
base AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         {sql_md5_long_seeded(SLOT_SEED, "CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
),
assign AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id) AS BIGINT) AS prefix,
         (CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id) AS BIGINT) - 1)
             // {SHARD_TOKENS} AS shard_id
  FROM base
)"""


def shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _assignment(spark, sf_dir)


SHARD_ASSIGNMENT_SQL = f"""
WITH {_SQL_ASSIGN_CTES}
SELECT doc_id, n_tokens, prefix, shard_id FROM assign
"""


def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _assignment(spark, sf_dir)
    return a.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        F.min("prefix").alias("first_prefix"),
        F.max("prefix").alias("last_prefix"),
    )


SHARD_MANIFEST_SQL = f"""
WITH {_SQL_ASSIGN_CTES}
SELECT shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
       MIN(prefix) AS first_prefix,
       MAX(prefix) AS last_prefix
FROM assign GROUP BY shard_id
"""


def shard_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = shard_manifest(spark, sf_dir)
    return m.agg(
        F.count(F.lit(1)).alias("n_shards"),
        # greatest(…, 1): an empty corpus yields (0 shards, NULL mean)
        # instead of an ANSI divide-by-zero, identically in both engines
        F.expr("sum(shard_tokens) div greatest(count(*), 1)")
        .alias("mean_tokens"),
        F.max(F.col("shard_tokens") - SHARD_TOKENS).alias("worst_overrun"),
        F.min(F.col("shard_tokens") - SHARD_TOKENS).alias("worst_underrun"),
    )


SHARD_BALANCE_REPORT_SQL = f"""
WITH {_SQL_ASSIGN_CTES},
m AS (
  SELECT shard_id, CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
  FROM assign GROUP BY shard_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
       CAST(SUM(shard_tokens) AS BIGINT) // GREATEST(COUNT(*), 1)
           AS mean_tokens,
       CAST(MAX(shard_tokens - {SHARD_TOKENS}) AS BIGINT) AS worst_overrun,
       CAST(MIN(shard_tokens - {SHARD_TOKENS}) AS BIGINT) AS worst_underrun
FROM m
"""


QUERIES: dict[str, QuerySpec] = {
    "shard_assignment": QuerySpec(
        shard_assignment, SHARD_ASSIGNMENT_SQL,
        "per-doc training slot, exact running tokens, shard id",
    ),
    "shard_manifest": QuerySpec(
        shard_manifest, SHARD_MANIFEST_SQL,
        "per-shard doc/token mass and prefix range manifest",
    ),
    "shard_balance_report": QuerySpec(
        shard_balance_report, SHARD_BALANCE_REPORT_SQL,
        "shard count, mean tokens, worst over/underrun vs budget",
    ),
}
