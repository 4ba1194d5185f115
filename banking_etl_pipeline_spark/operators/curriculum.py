"""Curriculum / annealing tier over `documents`
(registered in `registry.MODULES`).

The phase-based data-scheduling stage of a modern pretraining run: split
the corpus into quality phases (warmup → main → anneal), decide the
high-quality repeat plan for the anneal phase, lay out a deterministic
phase-major training order, and audit the vocabulary shift between
consecutive phases:

- curriculum_phases: FIXED fixed-point quality thresholds (q6 =
  floor(quality_score·1e6), the text.py heuristic — bit-identical across
  engines) bucket every document into one of three phases; per phase:
  volume, token mass, mean quality by BIGINT integer division.  Fixed
  thresholds (not data-dependent quantiles) keep the oracle static and the
  assignment replay-stable — at deployment they come from the previous
  corpus audit, exactly like the decile_trim_gate cutoffs.

- anneal_repeat_plan: per source inside the anneal phase, the epoch
  multiplier a quality-annealed final phase uses (1 + one per quality
  threshold the source's mean clears), with exact effective-token
  accounting — the "repeat the best data" plan, integer math end to end.

- curriculum_order: phase-major deterministic layout — every document
  gets (phase, batch, md5-derived slot); batches are hash-assigned within
  the phase (the training_shuffle discipline applied per phase, no global
  sort anywhere).

- phase_vocab_overlap: vocabulary Jaccard between consecutive phases from
  ONE pass — per-token phase-presence flags (bool aggregates over the
  distinct (phase, token) relation), then conditional sums; no vocab
  self-join.

Scale: phase assignment is a pure column expression; every aggregate is
keyed on phase/source (bounded); the vocab overlap shuffles the DISTINCT
(token, phase-flags) relation — vocabulary-sized, never corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import md5_long_seeded, sql_md5_long_seeded
from ..functions.numeric import ftrunc, sql_ftrunc
from ..spec import QuerySpec
from .text import TEXT_QUALITY_SCORE_SQL, text_quality_score

# q6 phase cutoffs (≈ corpus terciles, fixed by policy — see docstring)
PHASE_T1 = 460_000
PHASE_T2 = 495_000
# per-source mean-q6 thresholds granting +1 anneal epoch each (set INSIDE
# the anneal phase's own distribution, or every source trivially maxes out)
ANNEAL_T = (515_000, 525_000)
N_BATCHES = 8
ORDER_SEED = 41


def _phased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc: source, q6, n_tokens, phase (1 warmup / 2 main / 3 anneal)."""
    q = text_quality_score(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("quality_score") * F.lit(1e6)).alias("q6"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    phase = (
        F.when(F.col("q6") < PHASE_T1, F.lit(1))
        .when(F.col("q6") < PHASE_T2, F.lit(2))
        .otherwise(F.lit(3))
    )
    return d.join(q, "doc_id").withColumn("phase", phase)


_SQL_PHASED = f"""
  SELECT d.doc_id, d.source,
         CAST(FLOOR(s.quality_score * 1e6) AS BIGINT) AS q6,
         CAST(s.n_tokens AS BIGINT) AS n_tokens,
         CASE WHEN CAST(FLOOR(s.quality_score * 1e6) AS BIGINT) < {PHASE_T1}
              THEN 1
              WHEN CAST(FLOOR(s.quality_score * 1e6) AS BIGINT) < {PHASE_T2}
              THEN 2 ELSE 3 END AS phase
  FROM ({TEXT_QUALITY_SCORE_SQL}) s
  JOIN documents d ON d.doc_id = s.doc_id
"""


def curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _phased(spark, sf_dir)
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("q6").alias("sum_q6"),
        )
        .withColumn("mean_q6", F.expr("sum_q6 div n_docs"))
        .drop("sum_q6")
        .orderBy("phase")
    )


CURRICULUM_PHASES_SQL = f"""
WITH p AS ({_SQL_PHASED})
SELECT phase,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(q6) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_q6
FROM p
GROUP BY phase
ORDER BY phase
"""


def anneal_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source inside the anneal phase: epoch multiplier from the
    source's mean quality, plus exact effective-token accounting."""
    p = _phased(spark, sf_dir).filter(F.col("phase") == 3)
    g = p.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("q6").alias("sum_q6"),
    ).withColumn("mean_q6", F.expr("sum_q6 div n_docs")).drop("sum_q6")
    repeats = (
        F.lit(1)
        + (F.col("mean_q6") >= ANNEAL_T[0]).cast("long")
        + (F.col("mean_q6") >= ANNEAL_T[1]).cast("long")
    )
    return (
        g.withColumn("repeats", repeats)
        .withColumn("effective_tokens", F.col("n_tokens") * F.col("repeats"))
        .orderBy("source")
    )


ANNEAL_REPEAT_PLAN_SQL = f"""
WITH p AS ({_SQL_PHASED}),
g AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         CAST(SUM(q6) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_q6
  FROM p WHERE phase = 3
  GROUP BY source
)
SELECT source, n_docs, n_tokens, mean_q6,
       1 + CAST(mean_q6 >= {ANNEAL_T[0]} AS BIGINT)
         + CAST(mean_q6 >= {ANNEAL_T[1]} AS BIGINT) AS repeats,
       n_tokens * (1 + CAST(mean_q6 >= {ANNEAL_T[0]} AS BIGINT)
                     + CAST(mean_q6 >= {ANNEAL_T[1]} AS BIGINT))
         AS effective_tokens
FROM g
ORDER BY source
"""


def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-major deterministic training layout: every doc gets a
    hash-assigned batch within its phase and an md5 slot for intra-batch
    order — replay-stable under any partitioning, no global sort."""
    h = md5_long_seeded(ORDER_SEED, F.col("doc_id").cast("string"))
    return (
        _phased(spark, sf_dir)
        .select(
            "doc_id", "phase",
            (h % N_BATCHES).alias("batch"),
            (h % 999_983).alias("slot"),
        )
        .orderBy("phase", "batch", "slot", "doc_id")
    )


CURRICULUM_ORDER_SQL = f"""
WITH p AS ({_SQL_PHASED})
SELECT doc_id, phase,
       ({sql_md5_long_seeded(ORDER_SEED, 'CAST(doc_id AS VARCHAR)')})
         % {N_BATCHES} AS batch,
       ({sql_md5_long_seeded(ORDER_SEED, 'CAST(doc_id AS VARCHAR)')})
         % 999983 AS slot
FROM p
ORDER BY phase, batch, slot, doc_id
"""


def phase_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM-vocabulary Jaccard between consecutive phases: per bigram,
    phase presence flags from one aggregate over the distinct
    (bigram, phase) relation; the Jaccard is one double division of exact
    counts.  Bigrams, not unigrams — the unigram vocabulary saturates on
    any sizeable corpus (every phase sees every word), while bigram
    coverage genuinely shifts with the mix."""
    p = _phased(spark, sf_dir)
    toked = (
        table(spark, sf_dir, "documents")
        .join(p.select("doc_id", "phase"), "doc_id")
        .withColumn("toks", F.split(F.col("text"), " "))
    )
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    )
    toks = (
        toked.filter(F.size(F.col("toks")) >= 2)
        .select("phase", F.explode(bigrams).alias("tok"))
        .distinct()
    )
    flags = toks.groupBy("tok").agg(
        *[
            F.max((F.col("phase") == k).cast("long")).alias(f"p{k}")
            for k in (1, 2, 3)
        ]
    )
    # ALL five sums in one aggregate, then a 1-row stack reshape — a
    # per-pair aggregate would duplicate the scan→explode→distinct subtree
    s = flags.agg(
        F.sum("p1").alias("v1"), F.sum("p2").alias("v2"),
        F.sum("p3").alias("v3"),
        F.sum(F.col("p1") * F.col("p2")).alias("c12"),
        F.sum(F.col("p2") * F.col("p3")).alias("c23"),
    )
    out = s.selectExpr(
        "stack(2, 1, 2, v1, v2, c12, 2, 3, v2, v3, c23)"
        " AS (phase_a, phase_b, vocab_a, vocab_b, vocab_common)"
    )
    union = F.col("vocab_a") + F.col("vocab_b") - F.col("vocab_common")
    return out.select(
        "phase_a", "phase_b", "vocab_a", "vocab_b", "vocab_common",
        ftrunc(
            F.when(union > 0, F.col("vocab_common") / union), 6
        ).alias("jaccard"),
    ).orderBy("phase_a")


PHASE_VOCAB_OVERLAP_SQL = f"""
WITH p AS ({_SQL_PHASED}),
toks AS (
  SELECT DISTINCT pp.phase, t.tok
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, len(string_split(text, ' '))),
             i -> string_split(text, ' ')[i] || ' '
                  || string_split(text, ' ')[i + 1]
           )) AS tok
    FROM documents
    WHERE len(string_split(text, ' ')) >= 2
  ) t
  JOIN p pp ON pp.doc_id = t.doc_id
),
flags AS (
  SELECT tok,
         CAST(MAX(CASE WHEN phase = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p1,
         CAST(MAX(CASE WHEN phase = 2 THEN 1 ELSE 0 END) AS BIGINT) AS p2,
         CAST(MAX(CASE WHEN phase = 3 THEN 1 ELSE 0 END) AS BIGINT) AS p3
  FROM toks GROUP BY tok
),
s AS MATERIALIZED (
  SELECT CAST(SUM(p1) AS BIGINT) AS v1,
         CAST(SUM(p2) AS BIGINT) AS v2,
         CAST(SUM(p3) AS BIGINT) AS v3,
         CAST(SUM(p1 * p2) AS BIGINT) AS c12,
         CAST(SUM(p2 * p3) AS BIGINT) AS c23
  FROM flags
),
pairs AS (
  SELECT 1 AS phase_a, 2 AS phase_b,
         v1 AS vocab_a, v2 AS vocab_b, c12 AS vocab_common FROM s
  UNION ALL
  SELECT 2, 3, v2, v3, c23 FROM s
)
SELECT phase_a, phase_b, vocab_a, vocab_b, vocab_common,
       {sql_ftrunc(
           "CASE WHEN (vocab_a + vocab_b - vocab_common) > 0 THEN "
           "vocab_common / (vocab_a + vocab_b - vocab_common) END", 6)}
         AS jaccard
FROM pairs
ORDER BY phase_a
"""


def queries() -> dict[str, QuerySpec]:
    return {
        "curriculum_phases": QuerySpec(
            curriculum_phases, CURRICULUM_PHASES_SQL,
            "quality-phase bucketing: volume/token/quality per phase",
        ),
        "anneal_repeat_plan": QuerySpec(
            anneal_repeat_plan, ANNEAL_REPEAT_PLAN_SQL,
            "anneal-phase epoch multipliers per source, exact tokens",
        ),
        "curriculum_order": QuerySpec(
            curriculum_order, CURRICULUM_ORDER_SQL,
            "phase-major deterministic training layout, no global sort",
        ),
        "phase_vocab_overlap": QuerySpec(
            phase_vocab_overlap, PHASE_VOCAB_OVERLAP_SQL,
            "vocabulary Jaccard between consecutive phases, one pass",
        ),
    }
