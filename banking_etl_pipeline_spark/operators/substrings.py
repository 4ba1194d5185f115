"""Substring-level (span) deduplication tier over `documents`
(registered in `registry.MODULES`).

Document-level dedup (dedup.py) misses the dominant contamination mode of
real crawls: *spans* repeated across otherwise-distinct documents — license
headers, navigation boilerplate, quoted passages. The public recipe
(Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better" — suffix-array substring dedup) re-expressed Spark-first: fixed
width-W token windows instead of suffix arrays, because a W-token sliding
window is a pure scan-side explode (O(total tokens) rows, no global
suffix order), detects every duplicated substring of length ≥ W exactly,
and its duplicated-window positions merge back into maximal spans with one
per-document window function. Corpus construction injects a deterministic
boilerplate sentence into an md5-gated quarter of the documents (same
union-a-known-signal discipline as dedup_exact's shifted copy,
dedup.py:107) so every detector has true positives to find at any sf.

- substring_dup_coverage: per document, how many of its W-token windows
  also appear in ≥ 2 documents, as count + ppm ratio (exact integer
  division) — the "how contaminated is this doc" curation signal.
- substring_hot_spans: the top-20 most-widespread windows (doc-frequency,
  then total occurrences) — the candidate boilerplate/license list a
  curation pass would strip corpus-wide.
- substring_span_merge: duplicated windows merged into maximal spans per
  document (gaps-and-islands over window positions: a window starting
  within W of the previous duplicated window extends the span), emitting
  span count, covered tokens, and longest span — the span table an
  actual span-removal rewrite consumes.
- memorization_risk: per document, the widest reach of any of its windows
  (max doc-frequency, how many windows sit at that max, and a risk flag)
  — the "likely memorized verbatim" ranking signal.

Scale: the window stage is a narrow scan-side explode (O(total tokens)
rows — the same cost class as the minhash shingle stage, dedup.py:67);
the only wide exchange is ONE groupBy(window) doc-frequency aggregate
(partial+final, key cardinality ≤ distinct windows), session-cached and
shared by all four queries; the join back to per-document positions is a
co-partitioned equi-join on the window string; span merging is one
window function inside each document partition. No self-join, no
cartesian, no collect. At 100 TB the groupBy key would be md5-64 of the
window (32-byte fixed key instead of the token string) with the text kept
only on the hot-span report path; the plan shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import md5_long_seeded, sql_md5_long_seeded
from ..session import session_persist
from ..spec import QuerySpec

SUB_W = 5          # window width in tokens: detects dup substrings ≥ 5 tokens
INJECT_SEED = 73   # md5 gate seed for the boilerplate injection
INJECT_MOD = 4     # 1-in-4 documents receive the boilerplate sentence
BOILER = "subscribe to our newsletter for daily updates"  # 7 tokens → 3 windows
RISK_DF = 3        # windows in ≥ 3 docs flag memorization risk


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    gate = md5_long_seeded(INJECT_SEED, F.col("doc_id").cast("string"))
    return d.select(
        "doc_id",
        # F.concat (not concat_ws): propagates a NULL text like the
        # oracle's `text || ' ' || BOILER` does — concat_ws would silently
        # drop the NULL and emit just the boilerplate sentence
        F.when(gate % INJECT_MOD == 0,
               F.concat(F.col("text"), F.lit(" "), F.lit(BOILER)))
        .otherwise(F.col("text")).alias("text2"),
    )


def _windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, w): every W-token window of every document, 1-based.

    Exploded-row form for the same codegen reason as dedup._exploded_shingles
    — slice/array_join are JVM builtins, and the explode count is exactly
    n_tokens - W + 1 per document. Session-cached: all four tier queries
    (and the doc-frequency stage derived from it) reuse one materialization
    per (session, sf).
    """
    def build() -> DataFrame:
        toks = F.split(F.col("text2"), " ")
        ex = (
            _corpus(spark, sf_dir)
            .select("doc_id", toks.alias("t"))
            .filter(F.size("t") >= SUB_W)
            .select(
                "doc_id", "t",
                F.explode(
                    F.sequence(F.lit(1), F.size("t") - (SUB_W - 1))
                ).alias("pos"),
            )
        )
        return ex.select(
            "doc_id", "pos",
            F.expr(f"array_join(slice(t, pos, {SUB_W}), ' ')").alias("w"),
        )

    return session_persist(spark, f"substr_windows:{sf_dir}", build)


def _doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, doc_freq, occurrences): the one wide aggregate of the tier."""
    def build() -> DataFrame:
        return _windows(spark, sf_dir).groupBy("w").agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("occurrences"),
        )

    return session_persist(spark, f"substr_doc_freq:{sf_dir}", build)


def _dup_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, doc_freq) for windows appearing in ≥ 2 documents."""
    dup = _doc_freq(spark, sf_dir).filter(F.col("doc_freq") >= 2)
    return _windows(spark, sf_dir).join(dup, "w").select(
        "doc_id", "pos", "doc_freq"
    )


# shared SQL CTEs: corpus → token arrays → windows → doc frequency.
# DuckDB list slicing t[i:j] is 1-based inclusive (W consecutive tokens);
# range(a, b) is end-exclusive so positions run 1 .. n_tokens - W + 1,
# matching Spark's inclusive sequence(1, size - W + 1).
_SQL_WINDOW_CTES = f"""
corpus AS (
  SELECT doc_id,
         CASE WHEN {sql_md5_long_seeded(INJECT_SEED, "CAST(doc_id AS VARCHAR)")}
                   % {INJECT_MOD} = 0
              THEN text || ' ' || '{BOILER}' ELSE text END AS text2
  FROM documents
),
tok AS (
  SELECT doc_id, string_split(text2, ' ') AS t FROM corpus
  WHERE len(string_split(text2, ' ')) >= {SUB_W}
),
win AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         array_to_string(t[u.i:u.i + {SUB_W - 1}], ' ') AS w
  FROM tok, UNNEST(range(1, len(t) - {SUB_W - 2})) AS u(i)
),
dfreq AS (
  SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
         CAST(COUNT(*) AS BIGINT) AS occurrences
  FROM win GROUP BY w
)"""


def substring_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _windows(spark, sf_dir)
    dup = _doc_freq(spark, sf_dir).filter(F.col("doc_freq") >= 2).select("w")
    flagged = w.join(dup.withColumn("is_dup", F.lit(1)), "w", "left")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.coalesce(F.sum("is_dup"), F.lit(0)).cast("long")
        .alias("dup_windows"),
    ).withColumn(
        "dup_ppm",
        F.expr("(dup_windows * 1000000) div n_windows"),
    )


SUBSTRING_DUP_COVERAGE_SQL = f"""
WITH {_SQL_WINDOW_CTES}
SELECT w.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(COALESCE(SUM(CASE WHEN d.doc_freq >= 2 THEN 1 END), 0) AS BIGINT)
           AS dup_windows,
       CAST(COALESCE(SUM(CASE WHEN d.doc_freq >= 2 THEN 1 END), 0) AS BIGINT)
           * 1000000 // COUNT(*) AS dup_ppm
FROM win w LEFT JOIN dfreq d ON w.w = d.w
GROUP BY w.doc_id
"""


def substring_hot_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _doc_freq(spark, sf_dir)
        .filter(F.col("doc_freq") >= 2)
        .select(F.col("w").alias("span_text"), "doc_freq", "occurrences")
        .orderBy(
            F.col("doc_freq").desc(),
            F.col("occurrences").desc(),
            F.col("span_text").asc(),
        )
        .limit(20)
    )


SUBSTRING_HOT_SPANS_SQL = f"""
WITH {_SQL_WINDOW_CTES}
SELECT w AS span_text, doc_freq, occurrences
FROM dfreq WHERE doc_freq >= 2
ORDER BY doc_freq DESC, occurrences DESC, span_text ASC
LIMIT 20
"""


def merge_dup_spans(dup: DataFrame, w: int = SUB_W) -> DataFrame:
    """(doc_id, pos) duplicated-window starts → per-doc maximal-span stats.

    Gaps-and-islands: a window starting ≤ w positions after the previous
    duplicated window overlaps-or-abuts its span and extends it; a larger
    gap opens a new span. Property-tested against a pure-Python interval
    model (tests/test_properties.py)."""
    by_pos = Window.partitionBy("doc_id").orderBy("pos")
    run = (
        dup.withColumn("prev", F.lag("pos").over(by_pos))
        .withColumn(
            "new_span",
            F.when(
                F.col("prev").isNull()
                | (F.col("pos") - F.col("prev") > w), 1
            ).otherwise(0),
        )
        .withColumn(
            "span_id",
            F.sum("new_span").over(
                by_pos.rowsBetween(Window.unboundedPreceding,
                                   Window.currentRow)
            ),
        )
    )
    spans = run.groupBy("doc_id", "span_id").agg(
        F.min("pos").alias("s"), F.max("pos").alias("e")
    )
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + w).cast("long")
        .alias("covered_tokens"),
        F.max(F.col("e") - F.col("s") + w).cast("long")
        .alias("max_span_len"),
    )


def substring_span_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return merge_dup_spans(
        _dup_positions(spark, sf_dir).select("doc_id", "pos"), SUB_W
    )


SUBSTRING_SPAN_MERGE_SQL = f"""
WITH {_SQL_WINDOW_CTES},
dup AS (
  SELECT w.doc_id, w.pos FROM win w JOIN dfreq d ON w.w = d.w
  WHERE d.doc_freq >= 2
),
run AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                   OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                      > {SUB_W}
              THEN 1 ELSE 0 END AS new_span
  FROM dup
),
ids AS (
  SELECT doc_id, pos,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS span_id
  FROM run
),
spans AS (
  SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) AS e
  FROM ids GROUP BY doc_id, span_id
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(e - s + {SUB_W}) AS BIGINT) AS covered_tokens,
       CAST(MAX(e - s + {SUB_W}) AS BIGINT) AS max_span_len
FROM spans GROUP BY doc_id
"""


def memorization_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc max via a window function, not groupBy-max + join-back: the
    # max, the filter, and the final aggregate all ride ONE doc_id
    # exchange (the join-back shape costs three more)
    w = _windows(spark, sf_dir).join(_doc_freq(spark, sf_dir), "w")
    md = F.max("doc_freq").over(Window.partitionBy("doc_id"))
    at_max = (
        w.withColumn("max_doc_freq", md)
        .filter(F.col("doc_freq") == F.col("max_doc_freq"))
        .groupBy("doc_id", "max_doc_freq")
        .agg(F.count(F.lit(1)).alias("windows_at_max"))
    )
    return at_max.select(
        "doc_id", "max_doc_freq", "windows_at_max",
        (F.col("max_doc_freq") >= RISK_DF).alias("risk"),
    )


MEMORIZATION_RISK_SQL = f"""
WITH {_SQL_WINDOW_CTES},
j AS (
  SELECT w.doc_id, d.doc_freq FROM win w JOIN dfreq d ON w.w = d.w
),
m AS (
  SELECT doc_id, MAX(doc_freq) AS max_doc_freq FROM j GROUP BY doc_id
)
SELECT j.doc_id, m.max_doc_freq,
       CAST(COUNT(*) AS BIGINT) AS windows_at_max,
       m.max_doc_freq >= {RISK_DF} AS risk
FROM j JOIN m ON j.doc_id = m.doc_id AND j.doc_freq = m.max_doc_freq
GROUP BY j.doc_id, m.max_doc_freq
"""


def queries() -> dict[str, QuerySpec]:
    return {
        "substring_dup_coverage": QuerySpec(
            substring_dup_coverage, SUBSTRING_DUP_COVERAGE_SQL,
            "per-doc duplicated W-token-window count and ppm ratio",
        ),
        "substring_hot_spans": QuerySpec(
            substring_hot_spans, SUBSTRING_HOT_SPANS_SQL,
            "top-20 most-widespread windows: the boilerplate strip list",
        ),
        "substring_span_merge": QuerySpec(
            substring_span_merge, SUBSTRING_SPAN_MERGE_SQL,
            "duplicated windows merged to maximal spans per document",
        ),
        "memorization_risk": QuerySpec(
            memorization_risk, MEMORIZATION_RISK_SQL,
            "per-doc max window doc-frequency + memorization flag",
        ),
    }
