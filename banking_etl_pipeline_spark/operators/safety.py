"""Safety-filtering tier over the `documents` corpus
(registered in `registry.MODULES`).

The lexicon/pattern filtering stage every public web-scale corpus recipe
runs (C4's bad-word list, Gopher's rules, CCNet's filters) — here the
decision mechanics, with a deterministic lexicon drawn from the synthetic
corpus vocabulary so results are non-trivial at test scale:

- safety_lexicon_ratio: per source, documents flagged by block-lexicon
  token ratio.  The ratio is EXACT integer fixed-point —
  ratio6 = (hits·1e6) div n_tokens — so per-source means are BIGINT
  integer division, no double-summation-order drift.

- injection_pattern_scan: per signature pattern, document hit counts and
  rates in one scan (conditional sums unpivoted via stack — the
  vocab_coverage shape).  The pattern set mixes realistic prompt-injection
  signatures (which legitimately hit zero in this corpus — zeros are part
  of the report) with adjacent-token-repeat signatures that do hit.

- safety_blocklist_audit: per language, document and character mass
  removed by a source blocklist — the domain-blocklist accounting step.

- safety_funnel: per language, cumulative survivors through
  blocklist → lexicon ratio → injection scan — conditional sums over
  per-document verdicts in ONE pass (the curation_funnel shape), exact
  integers.

Scale: every operator is one corpus scan → bounded hash aggregate
(sources × langs cardinality); the flag expressions are pure column
expressions (split/filter/rlike), no Python, no joins, no windows — the
cheapest possible 100 TB pass, and the funnel never materializes
intermediate stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..spec import QuerySpec

BLOCK_LEXICON = ("slow", "big", "the")
RATIO6_T = 150_000  # flag when block-lexicon tokens exceed 15% of tokens

# Signature grid: realistic injection patterns (zero hits in the synthetic
# corpus — kept deliberately, a scan that can't report zero is broken) plus
# adjacent-repeat signatures that do hit.  RE2-safe, no backreferences.
INJECTION_PATTERNS = (
    "ignore previous instructions",
    "system prompt",
    "<script",
    "key key",
    "big big",
)
_INJ_ANY = "|".join(f"({p})" for p in INJECTION_PATTERNS)

BLOCKED_SOURCES = ("src3", "src7", "src13")


def _doc_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document safety verdict columns (single projection, no shuffle)."""
    d = table(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    hits = F.size(F.filter(tk, lambda x: x.isin(*BLOCK_LEXICON)))
    return d.select(
        "doc_id", "lang", "source", "n_chars",
        F.size(tk).alias("n_tokens"),
        hits.alias("hits"),
        F.col("source").isin(*BLOCKED_SOURCES).alias("blocked"),
        F.col("text").rlike(_INJ_ANY).alias("inj"),
    ).withColumn("ratio6", F.expr("(hits * 1000000) div n_tokens"))


_SQL_VERDICTS = f"""
  SELECT doc_id, lang, source, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '),
             x -> x IN ({', '.join(f"'{w}'" for w in BLOCK_LEXICON)})))
           AS hits,
         source IN ({', '.join(f"'{s}'" for s in BLOCKED_SOURCES)})
           AS blocked,
         regexp_matches(text, '{_INJ_ANY}') AS inj,
         (len(list_filter(string_split(text, ' '),
              x -> x IN ({', '.join(f"'{w}'" for w in BLOCK_LEXICON)})))
          * 1000000)
           // len(string_split(text, ' ')) AS ratio6
  FROM documents
"""


def safety_lexicon_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: docs, flagged docs (ratio6 ≥ RATIO6_T), mean ratio6
    (BIGINT integer division — exact)."""
    v = _doc_verdicts(spark, sf_dir)
    return (
        v.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("ratio6") >= RATIO6_T).cast("long")).alias(
                "n_flagged"),
            F.sum("ratio6").alias("sum_ratio6"),
        )
        .withColumn("mean_ratio6", F.expr("sum_ratio6 div n_docs"))
        .drop("sum_ratio6")
        .orderBy("source")
    )


SAFETY_LEXICON_RATIO_SQL = f"""
WITH v AS ({_SQL_VERDICTS})
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN ratio6 >= {RATIO6_T} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(SUM(ratio6) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
         AS mean_ratio6
FROM v
GROUP BY source
ORDER BY source
"""


def injection_pattern_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per signature: documents hit and the fixed-point hit rate, from ONE
    corpus scan (conditional sums, stack-unpivoted)."""
    d = table(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("n_docs")] + [
        F.sum(F.col("text").rlike(p).cast("long")).alias(f"h{i}")
        for i, p in enumerate(INJECTION_PATTERNS)
    ]
    one = d.agg(*aggs)
    stack_args = ", ".join(
        f"'{p}', h{i}" for i, p in enumerate(INJECTION_PATTERNS)
    )
    return (
        one.selectExpr(
            "n_docs",
            f"stack({len(INJECTION_PATTERNS)}, {stack_args})"
            " AS (pattern, n_docs_hit)",
        )
        .selectExpr(
            "pattern", "n_docs_hit",
            "CASE WHEN n_docs > 0 THEN (n_docs_hit * 1000000) div n_docs "
            "END AS hit_rate6",
        )
        .orderBy("pattern")
    )


def _inj_scan_sql() -> str:
    sums = ",\n       ".join(
        f"CAST(SUM(CASE WHEN regexp_matches(text, '{p}') THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS h{i}"
        for i, p in enumerate(INJECTION_PATTERNS)
    )
    rows = "\n  UNION ALL\n".join(
        f"  SELECT '{p}' AS pattern, h{i} AS n_docs_hit, n_docs FROM one"
        for i, p in enumerate(INJECTION_PATTERNS)
    )
    return f"""
WITH one AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       {sums}
  FROM documents
),
grid AS (
{rows}
)
SELECT pattern, n_docs_hit,
       CASE WHEN n_docs > 0 THEN (n_docs_hit * 1000000) // n_docs
       END AS hit_rate6
FROM grid
ORDER BY pattern
"""


INJECTION_PATTERN_SCAN_SQL = _inj_scan_sql()


def safety_blocklist_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per language: docs/chars removed by the source blocklist."""
    v = _doc_verdicts(spark, sf_dir)
    blk = F.col("blocked").cast("long")
    return (
        v.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(blk).alias("n_blocked"),
            F.sum(F.col("n_chars") * blk).alias("chars_blocked"),
            (F.count(F.lit(1)) - F.sum(blk)).alias("n_surviving"),
        )
        .orderBy("lang")
    )


SAFETY_BLOCKLIST_AUDIT_SQL = f"""
WITH v AS ({_SQL_VERDICTS})
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       CAST(SUM(CASE WHEN blocked THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_blocked,
       CAST(COUNT(*) - SUM(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
         AS n_surviving
FROM v
GROUP BY lang
ORDER BY lang
"""


def safety_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per language, cumulative survivors: total → source blocklist →
    lexicon ratio → injection scan.  One pass, conditional sums."""
    v = _doc_verdicts(spark, sf_dir)
    s1 = ~F.col("blocked")
    s2 = s1 & (F.col("ratio6") < RATIO6_T)
    s3 = s2 & ~F.col("inj")
    return (
        v.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(s1.cast("long")).alias("n_after_blocklist"),
            F.sum(s2.cast("long")).alias("n_after_lexicon"),
            F.sum(s3.cast("long")).alias("n_clean"),
        )
        .orderBy("lang")
    )


SAFETY_FUNNEL_SQL = f"""
WITH v AS ({_SQL_VERDICTS})
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN NOT blocked THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_blocklist,
       CAST(SUM(CASE WHEN NOT blocked AND ratio6 < {RATIO6_T}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_after_lexicon,
       CAST(SUM(CASE WHEN NOT blocked AND ratio6 < {RATIO6_T} AND NOT inj
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
FROM v
GROUP BY lang
ORDER BY lang
"""


def queries() -> dict[str, QuerySpec]:
    return {
        "safety_lexicon_ratio": QuerySpec(
            safety_lexicon_ratio, SAFETY_LEXICON_RATIO_SQL,
            "per-source block-lexicon token-ratio flags (C4-style)",
        ),
        "injection_pattern_scan": QuerySpec(
            injection_pattern_scan, INJECTION_PATTERN_SCAN_SQL,
            "per-signature injection-pattern hit counts and rates",
        ),
        "safety_blocklist_audit": QuerySpec(
            safety_blocklist_audit, SAFETY_BLOCKLIST_AUDIT_SQL,
            "per-language doc/char mass removed by the source blocklist",
        ),
        "safety_funnel": QuerySpec(
            safety_funnel, SAFETY_FUNNEL_SQL,
            "cumulative safety-filter survivors per language, one pass",
        ),
    }
