"""Weak-supervision / programmatic-labeling tier over `documents`
(registered in `registry.MODULES`).

The Snorkel-style labeling workflow (public recipe): a bank of cheap
deterministic labeling functions (LFs) votes keep(0)/filter(1)/abstain(-1)
on every document, a label model resolves the votes into a training label
with a confidence, and the LF analysis tables (coverage, overlap,
conflict) tell the engineer which heuristics to fix.  Four operators:

- weak_label_matrix: the per-document LF vote matrix.  Four LFs — block
  lexicon ratio, document length, token-uniqueness (repetition), and a
  source blocklist/trustlist — each thresholded to vote on roughly a
  quartile per polarity and abstain in between (fixed integer cutoffs,
  the decile_trim_gate discipline).

- label_model_vote: weighted-majority resolution in EXACT integer domain:
  score = Σ w·vote over non-abstaining LFs, den = Σ w active; label 1 iff
  2·score > den, 0 iff <, tie → abstain; confidence6 = score·1e6 div den.
  (The full Snorkel label model learns the weights generatively; the
  fixed-weight majority vote is its standard deterministic baseline.)

- lf_conflict_report: for each LF pair — both-voted volume, agreements,
  conflicts.  All six pairs from ONE aggregate over the matrix,
  stack-unpivoted (the injection_pattern_scan shape).

- lf_coverage_report: per LF — coverage, polarity balance, overlap with
  and conflict against the rest of the bank (the LFAnalysis summary).

Scale: the matrix is a pure column projection over one corpus scan; every
report is conditional sums into a 1-row aggregate reshaped with stack —
no joins, no windows, no Python anywhere in the tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..spec import QuerySpec

# LF cutoffs (≈ corpus quartiles, fixed by policy)
LEX_HI, LEX_LO = 122_000, 67_000      # block-lexicon ratio6
LEN_LO, LEN_HI = 32, 76               # whitespace token count
UNIQ_LO, UNIQ_HI = 361_000, 600_000   # distinct-token ratio6
BLOCKED = ("src3", "src7", "src13")
TRUSTED = ("src0", "src1", "src2")
LF_NAMES = ("lf_lexicon", "lf_length", "lf_repetition", "lf_source")
LF_WEIGHTS = (3, 2, 2, 4)  # lf_source is the most trusted heuristic


def _matrix_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    n = F.size(tk)
    hits = F.size(F.filter(tk, lambda x: x.isin("slow", "big", "the")))
    base = d.select(
        "doc_id", "source",
        n.alias("n"),
        hits.alias("hits"),
        F.size(F.array_distinct(tk)).alias("uniq"),
    ).select(
        "doc_id", "source", "n",
        F.expr("(hits * 1000000) div n").alias("lex6"),
        F.expr("(uniq * 1000000) div n").alias("uniq6"),
    )

    def tri(hi_cond, lo_cond):
        return (F.when(hi_cond, F.lit(1)).when(lo_cond, F.lit(0))
                .otherwise(F.lit(-1)))

    return base.select(
        "doc_id",
        tri(F.col("lex6") >= LEX_HI, F.col("lex6") <= LEX_LO)
        .alias("lf_lexicon"),
        tri(F.col("n") <= LEN_LO, F.col("n") >= LEN_HI).alias("lf_length"),
        tri(F.col("uniq6") <= UNIQ_LO, F.col("uniq6") >= UNIQ_HI)
        .alias("lf_repetition"),
        tri(F.col("source").isin(*BLOCKED), F.col("source").isin(*TRUSTED))
        .alias("lf_source"),
    )


_SQL_MATRIX = f"""
  SELECT doc_id,
         CASE WHEN (hits * 1000000) // n >= {LEX_HI} THEN 1
              WHEN (hits * 1000000) // n <= {LEX_LO} THEN 0
              ELSE -1 END AS lf_lexicon,
         CASE WHEN n <= {LEN_LO} THEN 1
              WHEN n >= {LEN_HI} THEN 0
              ELSE -1 END AS lf_length,
         CASE WHEN (uniq * 1000000) // n <= {UNIQ_LO} THEN 1
              WHEN (uniq * 1000000) // n >= {UNIQ_HI} THEN 0
              ELSE -1 END AS lf_repetition,
         CASE WHEN source IN ({', '.join(f"'{s}'" for s in BLOCKED)}) THEN 1
              WHEN source IN ({', '.join(f"'{s}'" for s in TRUSTED)}) THEN 0
              ELSE -1 END AS lf_source
  FROM (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
           CAST(len(list_filter(string_split(text, ' '),
                x -> x IN ('slow', 'big', 'the'))) AS BIGINT) AS hits,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
             AS uniq
    FROM documents
  )
"""


def weak_label_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _matrix_df(spark, sf_dir)
    n_active = sum(
        (F.col(c) >= 0).cast("long") for c in LF_NAMES
    )
    return m.select(
        "doc_id", *LF_NAMES, n_active.alias("n_active")
    ).orderBy("doc_id")


WEAK_LABEL_MATRIX_SQL = f"""
WITH m AS ({_SQL_MATRIX})
SELECT doc_id, lf_lexicon, lf_length, lf_repetition, lf_source,
       CAST((CASE WHEN lf_lexicon >= 0 THEN 1 ELSE 0 END)
          + (CASE WHEN lf_length >= 0 THEN 1 ELSE 0 END)
          + (CASE WHEN lf_repetition >= 0 THEN 1 ELSE 0 END)
          + (CASE WHEN lf_source >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_active
FROM m
ORDER BY doc_id
"""


def label_model_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _matrix_df(spark, sf_dir)
    score = sum(
        F.when(F.col(c) >= 0, F.col(c) * w).otherwise(0)
        for c, w in zip(LF_NAMES, LF_WEIGHTS)
    )
    den = sum(
        F.when(F.col(c) >= 0, F.lit(w)).otherwise(0)
        for c, w in zip(LF_NAMES, LF_WEIGHTS)
    )
    scored = m.select(
        "doc_id",
        score.cast("long").alias("score"),
        den.cast("long").alias("den"),
    )
    label = (
        F.when(F.lit(2) * F.col("score") > F.col("den"), F.lit(1))
        .when(F.lit(2) * F.col("score") < F.col("den"), F.lit(0))
        .otherwise(F.lit(-1))
    )
    return scored.select(
        "doc_id", "den",
        F.when(F.col("den") > 0, label).otherwise(F.lit(-1)).alias("label"),
        F.when(
            F.col("den") > 0, F.expr("(score * 1000000) div den")
        ).alias("confidence6"),
    ).orderBy("doc_id")


_W = dict(zip(LF_NAMES, LF_WEIGHTS))
_SQL_SCORE = " + ".join(
    f"(CASE WHEN {c} >= 0 THEN {c} * {w} ELSE 0 END)"
    for c, w in _W.items()
)
_SQL_DEN = " + ".join(
    f"(CASE WHEN {c} >= 0 THEN {w} ELSE 0 END)" for c, w in _W.items()
)

LABEL_MODEL_VOTE_SQL = f"""
WITH m AS ({_SQL_MATRIX}),
s AS (
  SELECT doc_id,
         CAST({_SQL_SCORE} AS BIGINT) AS score,
         CAST({_SQL_DEN} AS BIGINT) AS den
  FROM m
)
SELECT doc_id, den,
       CASE WHEN den = 0 THEN -1
            WHEN 2 * score > den THEN 1
            WHEN 2 * score < den THEN 0
            ELSE -1 END AS label,
       CASE WHEN den > 0 THEN (score * 1000000) // den END AS confidence6
FROM s
ORDER BY doc_id
"""

_PAIRS = [(i, j) for i in range(4) for j in range(i + 1, 4)]


def lf_conflict_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _matrix_df(spark, sf_dir)
    aggs = []
    for i, j in _PAIRS:
        a, b = LF_NAMES[i], LF_NAMES[j]
        both = (F.col(a) >= 0) & (F.col(b) >= 0)
        aggs += [
            F.sum(both.cast("long")).alias(f"b{i}{j}"),
            F.sum((both & (F.col(a) == F.col(b))).cast("long"))
            .alias(f"a{i}{j}"),
            F.sum((both & (F.col(a) != F.col(b))).cast("long"))
            .alias(f"c{i}{j}"),
        ]
    one = m.agg(*aggs)
    stack_args = ", ".join(
        f"'{LF_NAMES[i]}', '{LF_NAMES[j]}', b{i}{j}, a{i}{j}, c{i}{j}"
        for i, j in _PAIRS
    )
    return (
        one.selectExpr(
            f"stack({len(_PAIRS)}, {stack_args})"
            " AS (lf_a, lf_b, n_both, n_agree, n_conflict)"
        )
        .orderBy("lf_a", "lf_b")
    )


def _conflict_sql() -> str:
    sums, rows = [], []
    for i, j in _PAIRS:
        a, b = LF_NAMES[i], LF_NAMES[j]
        both = f"{a} >= 0 AND {b} >= 0"
        sums += [
            f"CAST(SUM(CASE WHEN {both} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS b{i}{j}",
            f"CAST(SUM(CASE WHEN {both} AND {a} = {b} THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS a{i}{j}",
            f"CAST(SUM(CASE WHEN {both} AND {a} <> {b} THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS c{i}{j}",
        ]
        rows.append(
            f"  SELECT '{a}' AS lf_a, '{b}' AS lf_b, b{i}{j} AS n_both,"
            f" a{i}{j} AS n_agree, c{i}{j} AS n_conflict FROM one"
        )
    return f"""
WITH m AS ({_SQL_MATRIX}),
one AS MATERIALIZED (
  SELECT {', '.join(sums)} FROM m
),
grid AS (
{chr(10).join(r + (' UNION ALL' if k < len(rows) - 1 else '')
              for k, r in enumerate(rows))}
)
SELECT lf_a, lf_b, n_both, n_agree, n_conflict
FROM grid ORDER BY lf_a, lf_b
"""


LF_CONFLICT_REPORT_SQL = _conflict_sql()


def lf_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per LF: coverage, polarity counts, overlap with and conflict against
    the rest of the bank (the LFAnalysis summary table)."""
    m = _matrix_df(spark, sf_dir)
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for i, c in enumerate(LF_NAMES):
        others = [o for o in LF_NAMES if o != c]
        any_other = None
        any_conf = None
        for o in others:
            both = (F.col(c) >= 0) & (F.col(o) >= 0)
            conf = both & (F.col(c) != F.col(o))
            any_other = both if any_other is None else (any_other | both)
            any_conf = conf if any_conf is None else (any_conf | conf)
        aggs += [
            F.sum((F.col(c) >= 0).cast("long")).alias(f"v{i}"),
            F.sum((F.col(c) == 1).cast("long")).alias(f"p{i}"),
            F.sum((F.col(c) == 0).cast("long")).alias(f"g{i}"),
            F.sum(any_other.cast("long")).alias(f"o{i}"),
            F.sum(any_conf.cast("long")).alias(f"x{i}"),
        ]
    one = m.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', v{i}, p{i}, g{i}, o{i}, x{i}"
        for i, c in enumerate(LF_NAMES)
    )
    return (
        one.selectExpr(
            "n_docs",
            f"stack({len(LF_NAMES)}, {stack_args})"
            " AS (lf, n_voted, n_filter, n_keep, n_overlap, n_conflict)",
        )
        .select("lf", "n_docs", "n_voted", "n_filter", "n_keep",
                "n_overlap", "n_conflict")
        .orderBy("lf")
    )


def _coverage_sql() -> str:
    sums, rows = ["CAST(COUNT(*) AS BIGINT) AS n_docs"], []
    for i, c in enumerate(LF_NAMES):
        others = [o for o in LF_NAMES if o != c]
        any_other = " OR ".join(
            f"({c} >= 0 AND {o} >= 0)" for o in others
        )
        any_conf = " OR ".join(
            f"({c} >= 0 AND {o} >= 0 AND {c} <> {o})" for o in others
        )
        sums += [
            f"CAST(SUM(CASE WHEN {c} >= 0 THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS v{i}",
            f"CAST(SUM(CASE WHEN {c} = 1 THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS p{i}",
            f"CAST(SUM(CASE WHEN {c} = 0 THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS g{i}",
            f"CAST(SUM(CASE WHEN {any_other} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS o{i}",
            f"CAST(SUM(CASE WHEN {any_conf} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS x{i}",
        ]
        rows.append(
            f"  SELECT '{c}' AS lf, n_docs, v{i} AS n_voted, p{i} AS"
            f" n_filter, g{i} AS n_keep, o{i} AS n_overlap,"
            f" x{i} AS n_conflict FROM one"
        )
    return f"""
WITH m AS ({_SQL_MATRIX}),
one AS MATERIALIZED (
  SELECT {', '.join(sums)} FROM m
),
grid AS (
{chr(10).join(r + (' UNION ALL' if k < len(rows) - 1 else '')
              for k, r in enumerate(rows))}
)
SELECT lf, n_docs, n_voted, n_filter, n_keep, n_overlap, n_conflict
FROM grid ORDER BY lf
"""


LF_COVERAGE_REPORT_SQL = _coverage_sql()


QUERIES: dict[str, QuerySpec] = {
    "weak_label_matrix": QuerySpec(
        weak_label_matrix, WEAK_LABEL_MATRIX_SQL,
        "per-doc labeling-function vote matrix (Snorkel-style LFs)",
    ),
    "label_model_vote": QuerySpec(
        label_model_vote, LABEL_MODEL_VOTE_SQL,
        "weighted-majority label resolution, integer confidence",
    ),
    "lf_conflict_report": QuerySpec(
        lf_conflict_report, LF_CONFLICT_REPORT_SQL,
        "pairwise LF agreement/conflict from one aggregate",
    ),
    "lf_coverage_report": QuerySpec(
        lf_coverage_report, LF_COVERAGE_REPORT_SQL,
        "per-LF coverage/polarity/overlap/conflict (LFAnalysis)",
    ),
}
