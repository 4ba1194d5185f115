"""Cross-lingual bitext mining over `documents` ⋈ `embeddings`
(registered in `registry.MODULES`).

The margin-based parallel-pair mining recipe from the public CCMatrix /
LASER line of work: candidate cross-lingual pairs come from approximate
nearest-neighbor search, and a pair (x, y) is accepted when its cosine
stands out from each side's neighborhood —

    margin(x, y) = cos(x, y) / (0.5 * (avgK(x) + avgK(y)))

with avgK the mean cosine of the K nearest candidates.  Four operators:

- bitext_margin_pairs: the miner.  Candidates are the LSH band-collision
  pairs (the SAME session-cached sign-LSH band table similarity.py and
  dedup.py ride — one signature index per session, three consumers),
  restricted to source-language (en) × non-en.  The margin is computed in
  EXACT INTEGER domain: cosines are fixed-pointed to c6 = floor(cos·1e6)
  (bit-identical across engines since the HOF double fold matches DuckDB's
  list_dot_product), per-side top-K sums are BIGINT — order-independent,
  unlike a double AVG — and the margin is ONE double division of exact
  integers:  margin = 2·c6·sn·tn / (ssum·tn + tsum·sn).

- bitext_reciprocal_best: the classic bidirectional-alignment filter —
  pairs where y is x's best candidate within y's language AND x is y's
  best candidate overall.  Pure row_number ranks, exact.

- bitext_mining_report: per target language — candidate volume, accepted
  volume, mean/max accepted margin (integer-domain margin6 sums).

- bitext_lang_coverage: per target language, the fraction of documents
  with at least one accepted pair — the aligned-corpus coverage a
  translation-data curator tracks per crawl.

Scale: the candidate stage is the banded equi-join on (band, sig) — never
a cross join — and the band width is CORPUS-DERIVED (r8: `dedup_band_bits`,
shared with dedup_embedding_cosine's session-persisted band table), so
bucket width is pinned at ~32 rows and the candidate volume stays linear
in N at any corpus size.  The doc⋈embedding lang
annotation is an equi-join on the id, and the margin stage is two
row_number windows + two bounded hash aggregates over the candidate set.
The scored candidate table is session-persisted (`bitext_scored`), so the
four operators share one materialization — the persisted candidate index a
mining deployment maintains between language-pair extractions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.numeric import ftrunc, sql_ftrunc
from ..session import session_persist
from ..spec import QuerySpec
from .dedup import DEDUP_MAX_BAND_BITS, DEDUP_TARGET_BUCKET
from .similarity import _SQL_PLANE, BAND_BITS, N_BANDS

SRC_LANG = "en"
K_MARGIN = 4     # neighborhood size for the margin normalizer
MARGIN_T = 1.2   # acceptance threshold (≈ p98 of the candidate margins)


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate cross-lingual pairs with fixed-point cosines:
    (src_id en-doc, tgt_id non-en doc, tgt_lang, c6 = floor(cos·1e6)).

    Band geometry is CORPUS-DERIVED (r8 — the sf3 instrument caught this
    family as the next fixed-geometry quadratic: at N=60 k the base 6-bit
    bands hold ~940 rows each, so the src×tgt bucket join emits ∝N²/64
    candidates — three of the four keys spilled >35 GB and timed out at
    sf3). Same derivation as dedup_embedding_cosine (`dedup_band_bits`:
    smallest bb with 2^bb·32 ≥ N, integer search mirrored in the oracle's
    params CTE), and the band table is the SAME session-persisted
    `_bands_for` materialization the dedup detector rides, so the two
    families share one signature index per session. At ≤2048 vectors this
    resolves to the historical bb=6 — identical candidates, identical
    output."""
    from .dedup import pair_cos_cached

    # r10 (r9 VERDICT item 2): the candidate+verify stage is the SHARED
    # `pair_cos_cached` materialization (all base-geometry band-collision
    # pairs vec_a < vec_b with exact cosine) — one verify join per session
    # for this family AND the dedup detector, instead of two. A collision
    # pair {x, y} is a bitext candidate iff its langs are mixed en/non-en;
    # the en side becomes src regardless of id order. The cosine double is
    # orientation-independent (per-element products commute, the fold order
    # is the index order), so c6 = floor(cos·1e6) is bit-identical to the
    # old src⋈tgt scoring and the oracle replay.
    pc = pair_cos_cached(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    la = d.select(F.col("doc_id").alias("vec_a"),
                  F.col("lang").alias("lang_a"))
    lb = d.select(F.col("doc_id").alias("vec_b"),
                  F.col("lang").alias("lang_b"))
    ab = (F.col("lang_a") == SRC_LANG) & (F.col("lang_b") != SRC_LANG)
    ba = (F.col("lang_b") == SRC_LANG) & (F.col("lang_a") != SRC_LANG)
    return (
        pc.join(la, "vec_a").join(lb, "vec_b")
        .filter(ab | ba)
        .select(
            F.when(ab, F.col("vec_a")).otherwise(F.col("vec_b"))
            .alias("src_id"),
            F.when(ab, F.col("vec_b")).otherwise(F.col("vec_a"))
            .alias("tgt_id"),
            F.when(ab, F.col("lang_b")).otherwise(F.col("lang_a"))
            .alias("tgt_lang"),
            F.floor(F.col("cosine_sim") * F.lit(1e6)).alias("c6"),
        )
    )


def _scored_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_persist(
        spark, f"bitext_scored:{sf_dir}", lambda: _scored(spark, sf_dir)
    )


def _margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All candidates with their margin (NULL when a side's neighborhood
    sum is non-positive — no meaningful normalizer)."""
    sc = _scored_cached(spark, sf_dir)
    w_src = Window.partitionBy("src_id", "tgt_lang").orderBy(
        F.desc("c6"), F.asc("tgt_id"))
    w_tgt = Window.partitionBy("tgt_id").orderBy(F.desc("c6"), F.asc("src_id"))
    # each side ranks ONLY with its own window (r9: a shared `ranked` with
    # both rank columns made ss and ts each evaluate BOTH windows — four
    # exchange+sort passes over the candidate set for two top-K sums; the
    # rank a side filters on never depends on the other side's window, and
    # each window's groupBy reuses its own window exchange per guide §2.4)
    ss = (sc.withColumn("rs", F.row_number().over(w_src))
          .filter(F.col("rs") <= K_MARGIN)
          .groupBy("src_id", "tgt_lang")
          .agg(F.sum("c6").alias("ssum"), F.count(F.lit(1)).alias("sn")))
    ts = (sc.withColumn("rt", F.row_number().over(w_tgt))
          .filter(F.col("rt") <= K_MARGIN)
          .groupBy("tgt_id")
          .agg(F.sum("c6").alias("tsum"), F.count(F.lit(1)).alias("tn")))
    den = F.col("ssum") * F.col("tn") + F.col("tsum") * F.col("sn")
    num = F.lit(2) * F.col("c6") * F.col("sn") * F.col("tn")
    return (
        sc.join(ss, ["src_id", "tgt_lang"]).join(ts, "tgt_id")
        .select("src_id", "tgt_id", "tgt_lang", F.col("c6").alias("cos6"),
                F.when(den > 0, num / den).alias("margin"))
    )


def bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accepted parallel pairs: margin ≥ MARGIN_T (see module docstring)."""
    return (
        _margin_pairs(spark, sf_dir)
        .filter(F.col("margin") >= MARGIN_T)
        .orderBy("src_id", "tgt_id")
    )


def bitext_reciprocal_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional best-match pairs: the candidate is the src's top
    neighbor within the target language AND the tgt's top neighbor."""
    sc = _scored_cached(spark, sf_dir)
    w_src = Window.partitionBy("src_id", "tgt_lang").orderBy(
        F.desc("c6"), F.asc("tgt_id"))
    w_tgt = Window.partitionBy("tgt_id").orderBy(F.desc("c6"), F.asc("src_id"))
    return (
        sc.withColumn("rs", F.row_number().over(w_src))
        .withColumn("rt", F.row_number().over(w_tgt))
        .filter((F.col("rs") == 1) & (F.col("rt") == 1))
        .select("src_id", "tgt_id", "tgt_lang", F.col("c6").alias("cos6"))
        .orderBy("src_id", "tgt_id")
    )


def bitext_mining_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per target language: candidate volume, accepted volume, mean and max
    accepted margin.  margin6 = floor(margin·1e6) keeps the sums BIGINT."""
    m = _margin_pairs(spark, sf_dir).withColumn(
        "m6", F.floor(F.col("margin") * F.lit(1e6)))
    acc = F.col("margin") >= MARGIN_T
    return (
        m.groupBy("tgt_lang")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            # coalesce: NULL margins (no positive neighborhood normalizer)
            # must count as not-accepted, matching the oracle's ELSE 0 —
            # an all-NULL language would otherwise sum to NULL, not 0
            F.sum(F.coalesce(acc.cast("long"), F.lit(0))).alias("n_pairs"),
            ftrunc(
                F.sum(F.when(acc, F.col("m6")))
                / F.sum(acc.cast("long")) / F.lit(1e6), 6
            ).alias("mean_margin"),
            F.max(F.when(acc, F.col("m6"))).alias("max_margin6"),
        )
        .orderBy("tgt_lang")
    )


def bitext_lang_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per target language: fraction of documents with ≥1 accepted pair."""
    d = (table(spark, sf_dir, "documents").filter(F.col("lang") != SRC_LANG)
         .groupBy(F.col("lang").alias("tgt_lang"))
         .agg(F.count(F.lit(1)).alias("n_docs")))
    aligned = (
        bitext_margin_pairs(spark, sf_dir)
        .select("tgt_lang", "tgt_id").distinct()
        .groupBy("tgt_lang").agg(F.count(F.lit(1)).alias("n_aligned_"))
    )
    return (
        d.join(aligned, "tgt_lang", "left")
        .select(
            "tgt_lang", "n_docs",
            F.coalesce(F.col("n_aligned_"), F.lit(0)).alias("n_aligned"),
            ftrunc(
                F.coalesce(F.col("n_aligned_"), F.lit(0)) / F.col("n_docs"), 6
            ).alias("coverage"),
        )
        .orderBy("tgt_lang")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle: regenerates the md5-derived hyperplanes, band signatures,
# candidate set and fixed-point margins exactly (same replay contract as
# similarity.ANN_LSH_SQL).
# ---------------------------------------------------------------------------

_SQL_BASE = f"""
e AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
params AS (  -- corpus-derived band width, same integer search as
             -- dedup_band_bits (r8: the fixed 6-bit geometry was ∝N²/64)
  SELECT COALESCE((
    SELECT MIN(b) FROM range({BAND_BITS}, {DEDUP_MAX_BAND_BITS + 1}) t(b)
    WHERE (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) * {DEDUP_TARGET_BUCKET}
            >= (SELECT COUNT(*) FROM embeddings)
  ), {DEDUP_MAX_BAND_BITS}) AS bb
),
planes AS MATERIALIZED (
  SELECT p, {_SQL_PLANE} AS pv
  FROM range({N_BANDS * DEDUP_MAX_BAND_BITS}) t(p)
  WHERE p < {N_BANDS} * (SELECT bb FROM params)
),
bits AS (
  SELECT e.vec_id, CAST(p // pr.bb AS INTEGER) AS band,
         CASE WHEN list_dot_product(e.v, planes.pv) >= 0
              THEN 1 << CAST(p % pr.bb AS INTEGER) ELSE 0 END AS bit
  FROM e CROSS JOIN planes CROSS JOIN params pr
),
sigs AS MATERIALIZED (
  SELECT vec_id, band, CAST(SUM(bit) AS INTEGER) AS sig
  FROM bits GROUP BY vec_id, band
),
bl AS (
  SELECT s.vec_id, s.band, s.sig, l.lang
  FROM sigs s JOIN documents l ON l.doc_id = s.vec_id
),
cand AS (
  SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS tgt_id, b.lang AS tgt_lang
  FROM bl a JOIN bl b ON a.band = b.band AND a.sig = b.sig
  WHERE a.lang = '{SRC_LANG}' AND b.lang <> '{SRC_LANG}'
),
scored AS (
  SELECT c.src_id, c.tgt_id, c.tgt_lang,
         CAST(FLOOR(list_dot_product(s.v, t.v) / (s.nrm * t.nrm) * 1e6)
              AS BIGINT) AS c6
  FROM cand c JOIN e s ON s.vec_id = c.src_id JOIN e t ON t.vec_id = c.tgt_id
)"""

_SQL_MARGIN = f"""
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY src_id, tgt_lang
                            ORDER BY c6 DESC, tgt_id) AS rs,
         ROW_NUMBER() OVER (PARTITION BY tgt_id
                            ORDER BY c6 DESC, src_id) AS rt
  FROM scored
),
ss AS (
  SELECT src_id, tgt_lang, CAST(SUM(c6) AS BIGINT) AS ssum,
         CAST(COUNT(*) AS BIGINT) AS sn
  FROM ranked WHERE rs <= {K_MARGIN} GROUP BY src_id, tgt_lang
),
ts AS (
  SELECT tgt_id, CAST(SUM(c6) AS BIGINT) AS tsum,
         CAST(COUNT(*) AS BIGINT) AS tn
  FROM ranked WHERE rt <= {K_MARGIN} GROUP BY tgt_id
),
m AS (
  SELECT s.src_id, s.tgt_id, s.tgt_lang, s.c6 AS cos6,
         CASE WHEN (ss.ssum * ts.tn + ts.tsum * ss.sn) > 0
              THEN (2 * s.c6 * ss.sn * ts.tn)
                   / (ss.ssum * ts.tn + ts.tsum * ss.sn)
         END AS margin
  FROM scored s
  JOIN ss ON ss.src_id = s.src_id AND ss.tgt_lang = s.tgt_lang
  JOIN ts ON ts.tgt_id = s.tgt_id
)"""

BITEXT_MARGIN_PAIRS_SQL = f"""
WITH {_SQL_BASE},
{_SQL_MARGIN}
SELECT src_id, tgt_id, tgt_lang, cos6, margin
FROM m WHERE margin >= {MARGIN_T}
ORDER BY src_id, tgt_id
"""

BITEXT_RECIPROCAL_BEST_SQL = f"""
WITH {_SQL_BASE},
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY src_id, tgt_lang
                            ORDER BY c6 DESC, tgt_id) AS rs,
         ROW_NUMBER() OVER (PARTITION BY tgt_id
                            ORDER BY c6 DESC, src_id) AS rt
  FROM scored
)
SELECT src_id, tgt_id, tgt_lang, c6 AS cos6
FROM ranked WHERE rs = 1 AND rt = 1
ORDER BY src_id, tgt_id
"""

BITEXT_MINING_REPORT_SQL = f"""
WITH {_SQL_BASE},
{_SQL_MARGIN},
m6 AS (
  SELECT tgt_lang, margin,
         CAST(FLOOR(margin * 1e6) AS BIGINT) AS m6
  FROM m
)
SELECT tgt_lang,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN margin >= {MARGIN_T} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pairs,
       {sql_ftrunc(
           f"CAST(SUM(CASE WHEN margin >= {MARGIN_T} THEN m6 END) AS BIGINT)"
           f" / CAST(SUM(CASE WHEN margin >= {MARGIN_T} THEN 1 ELSE 0 END)"
           f" AS BIGINT) / 1e6", 6)} AS mean_margin,
       CAST(MAX(CASE WHEN margin >= {MARGIN_T} THEN m6 END) AS BIGINT)
         AS max_margin6
FROM m6
GROUP BY tgt_lang
ORDER BY tgt_lang
"""

BITEXT_LANG_COVERAGE_SQL = f"""
WITH {_SQL_BASE},
{_SQL_MARGIN},
aligned AS (
  SELECT tgt_lang, CAST(COUNT(DISTINCT tgt_id) AS BIGINT) AS n_aligned
  FROM m WHERE margin >= {MARGIN_T} GROUP BY tgt_lang
),
d AS (
  SELECT lang AS tgt_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents WHERE lang <> '{SRC_LANG}' GROUP BY lang
)
SELECT d.tgt_lang, d.n_docs,
       COALESCE(aligned.n_aligned, 0) AS n_aligned,
       {sql_ftrunc("COALESCE(aligned.n_aligned, 0) / d.n_docs", 6)}
         AS coverage
FROM d LEFT JOIN aligned ON aligned.tgt_lang = d.tgt_lang
ORDER BY d.tgt_lang
"""


QUERIES: dict[str, QuerySpec] = {
    "bitext_margin_pairs": QuerySpec(
        bitext_margin_pairs, BITEXT_MARGIN_PAIRS_SQL,
        "margin-based cross-lingual pair mining (CCMatrix recipe)",
    ),
    "bitext_reciprocal_best": QuerySpec(
        bitext_reciprocal_best, BITEXT_RECIPROCAL_BEST_SQL,
        "bidirectional best-match alignment pairs",
    ),
    "bitext_mining_report": QuerySpec(
        bitext_mining_report, BITEXT_MINING_REPORT_SQL,
        "per-language mining volumes and margin stats",
    ),
    "bitext_lang_coverage": QuerySpec(
        bitext_lang_coverage, BITEXT_LANG_COVERAGE_SQL,
        "aligned-document coverage per target language",
    ),
}
