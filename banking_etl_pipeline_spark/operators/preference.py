"""Preference-pair (RLHF/DPO) data-prep tier over `documents`
(registered in `registry.MODULES`).

The chosen/rejected pair-construction stage of a preference-tuning
pipeline, with the candidate group (a "prompt"'s completion set) stood in
by the `source` column:

- preference_pairs: within each group, rank documents by the fixed-point
  quality score q6 = floor(quality_score·1e6) (the text.py heuristic —
  every term integer-derived, bit-identical across engines) and pair the
  i-th best with the i-th worst (rank alignment: K pairs per group, never
  a K×K blow-up); keep pairs whose quality gap clears GAP6_T.  All
  ranking/gap math is BIGINT.

- preference_gap_report: per group — pair volume and gap statistics
  (BIGINT integer-division means).

- preference_split: prompt-level train/val assignment — the split is a
  seeded hash of the GROUP key, so both members of a pair and all pairs
  of a prompt land on the same side (the user_level_split discipline
  applied to preference data; no prompt leakage across splits by
  construction).

- preference_budget_cap: per-group token budget enforcement — pairs
  ranked by gap, kept while the running token mass (chosen + rejected
  whitespace tokens, exact ints) stays within TOKEN_BUDGET; the running
  sum is one window cumulative sum per group.

Scale: groups are bounded (sources), per-group work is two row_number
windows + a rank-aligned equi-join producing K rows per group — the
shuffles are keyed on the group and carry candidates, never the corpus
square.  The scored-docs stage (one scan + the quality expression) is the
only corpus-sized relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import md5_long_seeded, sql_md5_long_seeded
from ..spec import QuerySpec
from .text import TEXT_QUALITY_SCORE_SQL, text_quality_score

PREF_K = 5            # pairs per group (top-K vs bottom-K, rank-aligned)
GAP6_T = 60_000       # minimum q6 gap (0.06 quality units)
SPLIT_SEED = 29
TRAIN_PCT = 80        # group-hash % 100 < 80 → train
TOKEN_BUDGET = 300    # per-group pair-token budget (whitespace tokens)


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc: group key (source), fixed-point quality, exact token count."""
    q = text_quality_score(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("quality_score") * F.lit(1e6)).alias("q6"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    return d.join(q, "doc_id")


_SQL_SCORED = f"""
  SELECT d.doc_id, d.source,
         CAST(FLOOR(s.quality_score * 1e6) AS BIGINT) AS q6,
         CAST(s.n_tokens AS BIGINT) AS n_tokens
  FROM ({TEXT_QUALITY_SCORE_SQL}) s
  JOIN documents d ON d.doc_id = s.doc_id
"""


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _scored(spark, sf_dir)
    w_top = Window.partitionBy("source").orderBy(F.desc("q6"), F.asc("doc_id"))
    w_bot = Window.partitionBy("source").orderBy(F.asc("q6"), F.asc("doc_id"))
    r = sc.withColumn("rtop", F.row_number().over(w_top)).withColumn(
        "rbot", F.row_number().over(w_bot))
    c = r.filter(F.col("rtop") <= PREF_K).select(
        "source", F.col("rtop").alias("rank"),
        F.col("doc_id").alias("chosen_id"), F.col("q6").alias("chosen_q6"),
        F.col("n_tokens").alias("chosen_tokens"))
    j = r.filter(F.col("rbot") <= PREF_K).select(
        "source", F.col("rbot").alias("rank"),
        F.col("doc_id").alias("rejected_id"), F.col("q6").alias("rejected_q6"),
        F.col("n_tokens").alias("rejected_tokens"))
    return (
        c.join(j, ["source", "rank"])
        .filter(F.col("chosen_id") != F.col("rejected_id"))
        .withColumn("gap6", F.col("chosen_q6") - F.col("rejected_q6"))
        .filter(F.col("gap6") >= GAP6_T)
    )


_SQL_PAIRS = f"""
q AS ({_SQL_SCORED}),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY q6 DESC, doc_id) AS rtop,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY q6 ASC, doc_id) AS rbot
  FROM q
),
pairs AS (
  SELECT c.source, c.rtop AS rank,
         c.doc_id AS chosen_id, c.q6 AS chosen_q6,
         c.n_tokens AS chosen_tokens,
         j.doc_id AS rejected_id, j.q6 AS rejected_q6,
         j.n_tokens AS rejected_tokens,
         c.q6 - j.q6 AS gap6
  FROM r c JOIN r j ON c.source = j.source AND c.rtop = j.rbot
  WHERE c.rtop <= {PREF_K} AND c.doc_id <> j.doc_id
    AND c.q6 - j.q6 >= {GAP6_T}
)"""


def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _pairs(spark, sf_dir)
        .select("source", "chosen_id", "rejected_id",
                "chosen_q6", "rejected_q6", "gap6")
        .orderBy("source", "chosen_id")
    )


PREFERENCE_PAIRS_SQL = f"""
WITH {_SQL_PAIRS}
SELECT source, chosen_id, rejected_id, chosen_q6, rejected_q6, gap6
FROM pairs
ORDER BY source, chosen_id
"""


def preference_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _pairs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("gap6").alias("sum_gap6"),
            F.min("gap6").alias("min_gap6"),
            F.max("gap6").alias("max_gap6"),
        )
        .withColumn("mean_gap6", F.expr("sum_gap6 div n_pairs"))
        .drop("sum_gap6")
        .orderBy("source")
    )


PREFERENCE_GAP_REPORT_SQL = f"""
WITH {_SQL_PAIRS}
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN(gap6) AS BIGINT) AS min_gap6,
       CAST(MAX(gap6) AS BIGINT) AS max_gap6,
       CAST(SUM(gap6) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_gap6
FROM pairs
GROUP BY source
ORDER BY source
"""


def preference_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prompt-level split: the seeded hash of the GROUP key decides for
    every pair of the group at once — zero prompt leakage by construction."""
    split = F.when(
        md5_long_seeded(SPLIT_SEED, F.col("source")) % 100 < TRAIN_PCT,
        F.lit("train"),
    ).otherwise(F.lit("val"))
    return (
        _pairs(spark, sf_dir)
        .select("source", "chosen_id", "rejected_id", split.alias("split"))
        .orderBy("source", "chosen_id")
    )


PREFERENCE_SPLIT_SQL = f"""
WITH {_SQL_PAIRS}
SELECT source, chosen_id, rejected_id,
       CASE WHEN ({sql_md5_long_seeded(SPLIT_SEED, 'source')}) % 100
                 < {TRAIN_PCT}
            THEN 'train' ELSE 'val' END AS split
FROM pairs
ORDER BY source, chosen_id
"""


def preference_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep each group's best-gap pairs while the running token mass stays
    within TOKEN_BUDGET — one window cumulative sum per group, exact ints."""
    p = _pairs(spark, sf_dir).withColumn(
        "pair_tokens", F.col("chosen_tokens") + F.col("rejected_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("gap6"), F.asc("chosen_id"), F.asc("rejected_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        p.withColumn("cum_tokens", F.sum("pair_tokens").over(w))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("source", "chosen_id", "rejected_id", "pair_tokens",
                "cum_tokens")
        .orderBy("source", "chosen_id")
    )


PREFERENCE_BUDGET_CAP_SQL = f"""
WITH {_SQL_PAIRS},
c AS (
  SELECT source, chosen_id, rejected_id,
         chosen_tokens + rejected_tokens AS pair_tokens,
         SUM(chosen_tokens + rejected_tokens) OVER (
           PARTITION BY source
           ORDER BY gap6 DESC, chosen_id, rejected_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum_tokens
  FROM pairs
)
SELECT source, chosen_id, rejected_id,
       CAST(pair_tokens AS BIGINT) AS pair_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c
WHERE cum_tokens <= {TOKEN_BUDGET}
ORDER BY source, chosen_id
"""


QUERIES: dict[str, QuerySpec] = {
    "preference_pairs": QuerySpec(
        preference_pairs, PREFERENCE_PAIRS_SQL,
        "rank-aligned chosen/rejected pairs per group (DPO prep)",
    ),
    "preference_gap_report": QuerySpec(
        preference_gap_report, PREFERENCE_GAP_REPORT_SQL,
        "per-group preference-pair volume and gap stats",
    ),
    "preference_split": QuerySpec(
        preference_split, PREFERENCE_SPLIT_SQL,
        "prompt-level train/val split, zero pair leakage",
    ),
    "preference_budget_cap": QuerySpec(
        preference_budget_cap, PREFERENCE_BUDGET_CAP_SQL,
        "per-group token-budget cap via window running sum",
    ),
}
