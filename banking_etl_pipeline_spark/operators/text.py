"""Text-analysis operators over the `documents` table (engine extension
beyond reference parity: language-ID, quality scoring, token counting,
document fingerprinting).

All pure Spark column expressions (split/transform/aggregate/filter) — no
Python UDFs; per-row narrow transforms that scale linearly and pipeline with
any downstream shuffle. Ratios divide integer-derived doubles, so results are
bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import (
    MERSENNE,
    TOKEN_MOD,
    md5_long,
    sql_md5_long,
)
from ..spec import QuerySpec


def tokens(col: Column) -> Column:
    return F.split(col, " ")


_SQL_TOKENS = "string_split({x}, ' ')"

# Marker stopwords per language for the n-gram/stopword heuristic.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "nicht", "ein"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "fr": ("le", "la", "les", "et", "des", "une"),
}


def _marker_hits(toks: Column, lang: str) -> Column:
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def _sql_marker_hits(toks_expr: str, lang: str) -> str:
    in_list = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"CAST(len(list_filter({toks_expr}, t -> t IN ({in_list}))) AS INTEGER)"


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    total_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.length("text").alias("len_chars"),
        (total_len.cast("double") / F.size(toks)).alias("mean_token_len"),
    )


TEXT_TOKEN_COUNT_SQL = f"""
WITH t AS (SELECT doc_id, text, {_SQL_TOKENS.format(x='text')} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique_tokens,
       CAST(length(text) AS INTEGER) AS len_chars,
       CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE)
           / len(toks) AS mean_token_len
FROM t
"""

# BPE-style pre-tokenization: letter runs, digit runs, punctuation runs —
# the split a byte-pair tokenizer applies before merges. RE2-safe (no
# lookarounds) so Spark's Java regex and DuckDB's RE2 agree exactly.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware counting: BPE-ish pre-tokens vs whitespace tokens and
    a chars-per-token ratio (the standard LLM-cost estimator inputs)."""
    d = table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
    return d.select(
        "doc_id",
        F.size(pieces).alias("n_bpe_tokens"),
        F.size(tokens(F.col("text"))).alias("n_ws_tokens"),
        (F.length("text").cast("double") / F.size(pieces)).alias(
            "chars_per_token"
        ),
    )


TEXT_BPE_TOKEN_COUNT_SQL = rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS INTEGER)
           AS n_bpe_tokens,
       CAST(len({_SQL_TOKENS.format(x='text')}) AS INTEGER) AS n_ws_tokens,
       CAST(length(text) AS DOUBLE)
           / len(regexp_extract_all(text, '{BPE_PATTERN}')) AS chars_per_token
FROM documents
"""


# ---------------------------------------------------------------------------
# language identification (stopword-marker heuristic)
# ---------------------------------------------------------------------------


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    hits = {lang: _marker_hits(toks, lang) for lang in LANG_MARKERS}
    predicted = (
        F.when(
            (hits["en"] >= hits["de"])
            & (hits["en"] >= hits["es"])
            & (hits["en"] >= hits["fr"]),
            "en",
        )
        .when((hits["de"] >= hits["es"]) & (hits["de"] >= hits["fr"]), "de")
        .when(hits["es"] >= hits["fr"], "es")
        .otherwise("fr")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[hits[lang].alias(f"hits_{lang}") for lang in LANG_MARKERS],
        predicted.alias("predicted_lang"),
    )


TEXT_LANG_ID_SQL = f"""
WITH t AS (SELECT doc_id, lang, {_SQL_TOKENS.format(x='text')} AS toks FROM documents),
h AS (
  SELECT doc_id, lang,
         {_sql_marker_hits('toks', 'en')} AS hits_en,
         {_sql_marker_hits('toks', 'de')} AS hits_de,
         {_sql_marker_hits('toks', 'es')} AS hits_es,
         {_sql_marker_hits('toks', 'fr')} AS hits_fr
  FROM t
)
SELECT doc_id, lang AS labeled_lang, hits_en, hits_de, hits_es, hits_fr,
       CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
            WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
            WHEN hits_es >= hits_fr THEN 'es'
            ELSE 'fr' END AS predicted_lang
FROM h
"""

# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    stop_hits = _marker_hits(toks, "en")
    total_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    mean_len = total_len.cast("double") / n_tokens
    stop_ratio = stop_hits.cast("double") / n_tokens
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    # weighted heuristic — every term is an integer-derived double, so the
    # arithmetic is bit-identical across engines
    score = (
        F.least(n_tokens.cast("double") / 200.0, F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.2
        + F.when((mean_len >= 3.0) & (mean_len <= 8.0), 0.2).otherwise(0.0)
        + uniq_ratio * 0.2
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        mean_len.alias("mean_token_len"),
        uniq_ratio.alias("unique_ratio"),
        score.alias("quality_score"),
    )


TEXT_QUALITY_SCORE_SQL = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS.format(x='text')} AS toks FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         {_sql_marker_hits('toks', 'en')} AS stop_hits,
         CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS BIGINT)
             AS total_len,
         CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(stop_hits AS DOUBLE) / n_tokens AS stopword_ratio,
       CAST(total_len AS DOUBLE) / n_tokens AS mean_token_len,
       CAST(n_uniq AS DOUBLE) / n_tokens AS unique_ratio,
       least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) * 0.4
       + least((CAST(stop_hits AS DOUBLE) / n_tokens) * 5.0, 1.0) * 0.2
       + (CASE WHEN CAST(total_len AS DOUBLE) / n_tokens >= 3.0
                AND CAST(total_len AS DOUBLE) / n_tokens <= 8.0 THEN 0.2 ELSE 0.0 END)
       + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.2 AS quality_score
FROM m
"""

# ---------------------------------------------------------------------------
# document fingerprinting (content hash + polynomial rolling hash)
# ---------------------------------------------------------------------------


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    token_hashes = F.transform(toks, lambda t: md5_long(t) % TOKEN_MOD)
    poly = F.aggregate(
        token_hashes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % MERSENNE,
    )
    return d.select(
        "doc_id",
        md5_long(F.col("text")).alias("content_fp"),
        poly.alias("rolling_fp"),
    )


TEXT_FINGERPRINT_SQL = f"""
WITH t AS (SELECT doc_id, text, {_SQL_TOKENS.format(x='text')} AS toks FROM documents)
SELECT doc_id,
       {sql_md5_long('text')} AS content_fp,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(toks, t -> {sql_md5_long('t')} % {TOKEN_MOD})),
         (acc, x) -> (acc * 31 + x) % {MERSENNE}) AS rolling_fp
FROM t
"""


# ---------------------------------------------------------------------------
# corpus curation funnel (the training-data pipeline, end to end)
# ---------------------------------------------------------------------------

CURATION_MIN_TOKENS = 10
CURATION_MIN_QUALITY = 0.5


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation funnel in one query: language-ID →
    quality gate → exact dedup → token accounting, reported per predicted
    language.

    Scale shape: every per-document signal (tokens, stopword hits, quality
    score, BPE count, content hash) is computed in ONE narrow pass over the
    corpus — no joins between the signal stages, because they are all
    functions of the same row. The only extra shuffle is the exact-dedup
    keep-set (groupBy content hash → min doc_id, SURVEY.md §7.8), and the
    final per-language rollup is a 4-group aggregate. At 100 TB this is a
    scan + two aggregates; the funnel never materializes intermediate
    corpora."""
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    hits = {lang: _marker_hits(toks, lang) for lang in LANG_MARKERS}
    predicted = (
        F.when(
            (hits["en"] >= hits["de"])
            & (hits["en"] >= hits["es"])
            & (hits["en"] >= hits["fr"]),
            "en",
        )
        .when((hits["de"] >= hits["es"]) & (hits["de"] >= hits["fr"]), "de")
        .when(hits["es"] >= hits["fr"], "es")
        .otherwise("fr")
    )
    total_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    mean_len = total_len.cast("double") / n_tokens
    stop_ratio = hits["en"].cast("double") / n_tokens
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    score = (
        F.least(n_tokens.cast("double") / 200.0, F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.2
        + F.when((mean_len >= 3.0) & (mean_len <= 8.0), 0.2).otherwise(0.0)
        + uniq_ratio * 0.2
    )
    pieces = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
    per_doc = d.select(
        "doc_id",
        F.md5("text").alias("content_key"),
        predicted.alias("predicted_lang"),
        n_tokens.alias("n_tokens"),
        score.alias("quality_score"),
        F.size(pieces).alias("n_bpe_tokens"),
    )
    keep = per_doc.groupBy("content_key").agg(F.min("doc_id").alias("keep_id"))
    flagged = per_doc.join(keep, "content_key").withColumn(
        "is_unique", F.col("doc_id") == F.col("keep_id")
    )
    curated = F.col("is_unique") & (
        F.col("quality_score") >= CURATION_MIN_QUALITY
    ) & (F.col("n_tokens") >= CURATION_MIN_TOKENS)
    return (
        flagged.withColumn("is_curated", curated)
        .groupBy("predicted_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("is_unique").cast("int")).alias("n_unique"),
            F.sum(F.col("is_curated").cast("int")).alias("n_curated"),
            F.sum(
                F.when(F.col("is_curated"), F.col("n_bpe_tokens")).otherwise(0)
            ).alias("curated_bpe_tokens"),
        )
        .orderBy("predicted_lang")
    )


CORPUS_CURATION_SQL = rf"""
WITH t AS (
  SELECT doc_id, text, md5(text) AS content_key,
         {_SQL_TOKENS.format(x='text')} AS toks
  FROM documents
),
m AS (
  SELECT doc_id, content_key,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         {_sql_marker_hits('toks', 'en')} AS hits_en,
         {_sql_marker_hits('toks', 'de')} AS hits_de,
         {_sql_marker_hits('toks', 'es')} AS hits_es,
         {_sql_marker_hits('toks', 'fr')} AS hits_fr,
         CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS BIGINT)
             AS total_len,
         CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq,
         CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS INTEGER)
             AS n_bpe_tokens
  FROM t
),
scored AS (
  SELECT *,
         CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
              WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
              WHEN hits_es >= hits_fr THEN 'es'
              ELSE 'fr' END AS predicted_lang,
         least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) * 0.4
         + least((CAST(hits_en AS DOUBLE) / n_tokens) * 5.0, 1.0) * 0.2
         + (CASE WHEN CAST(total_len AS DOUBLE) / n_tokens >= 3.0
                  AND CAST(total_len AS DOUBLE) / n_tokens <= 8.0 THEN 0.2 ELSE 0.0 END)
         + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.2 AS quality_score
  FROM m
),
keep AS (SELECT content_key, MIN(doc_id) AS keep_id FROM scored GROUP BY content_key),
flagged AS (
  SELECT s.*, s.doc_id = k.keep_id AS is_unique,
         (s.doc_id = k.keep_id
          AND s.quality_score >= {CURATION_MIN_QUALITY}
          AND s.n_tokens >= {CURATION_MIN_TOKENS}) AS is_curated
  FROM scored s JOIN keep k USING (content_key)
)
SELECT predicted_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(is_unique AS INTEGER)) AS BIGINT) AS n_unique,
       CAST(SUM(CAST(is_curated AS INTEGER)) AS BIGINT) AS n_curated,
       CAST(SUM(CASE WHEN is_curated THEN n_bpe_tokens ELSE 0 END) AS BIGINT)
           AS curated_bpe_tokens
FROM flagged
GROUP BY predicted_lang
ORDER BY predicted_lang
"""


WINNOW_K = 3  # token k-gram (shingle) length
WINNOW_W = 4  # winnowing window (k-grams per window)


def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing (the public local-fingerprinting algorithm)
    over token 3-gram shingles: slide a 4-hash window over the shingle
    hash sequence and select each window's minimum with the
    RIGHTMOST-position tie rule; the distinct selected (position, hash)
    set is the document's fingerprint — guaranteed to share a
    fingerprint with any copy overlapping by ≥ k+w−1 shingles, which is
    what makes it the partial-copy/plagiarism detector exact hashing
    can't be. Per doc: fingerprint count, density over windows, and an
    order-independent XOR digest of the selected hashes (shared digest
    components flag candidate partial copies — the probe a copy-scan
    joins on).

    Plan: PER-ROW array algebra end-to-end — one md5 per shingle
    position, per-window rightmost-min via an (h·4 + reversed-offset)
    integer key and native array_min (no struct fold: an earlier
    explode→groupBy-per-window draft shuffled 4·Σ positions through a
    1.5M-group aggregate and cost 20 s at sf0.1; a struct fold was still
    12 s; this form is ~1 s, scan-parallel, shuffle-free). The oracle
    replays every selection bit-for-bit from the same arithmetic."""
    d = table(spark, sf_dir, "documents").filter(
        F.size(F.split(F.col("text"), " ")) >= WINNOW_K + WINNOW_W - 1
    )
    # hoist the tokenization OUT of the transform lambda: an expression
    # inside the lambda re-evaluates per element (split ×3 per position
    # cost 4.6 s at sf0.1; hoisted it's one split per row)
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("tk"))
    # shingle hash per token position (1-based): md5 of the 3-token join
    hs = F.expr(
        "transform(sequence(1, size(tk) - 2), p -> "
        "CAST(conv(substring(md5(concat_ws(' ', "
        "element_at(tk, p), element_at(tk, p + 1), element_at(tk, p + 2))),"
        " 1, 15), 16, 10) AS BIGINT))"
    )
    base = toked.select("doc_id", hs.alias("hs")).select(
        "doc_id", "hs", (F.size("hs") - (WINNOW_W - 1)).alias("nw")
    )
    # per window j: encode candidate p as h(p)·4 + (3 − offset); array_min
    # picks min h, ties → larger p (reversed offset), h < 2^60 so ·4 fits
    keys = F.expr(
        f"""transform(sequence(1, nw), j ->
              array_min(transform(sequence(0, {WINNOW_W - 1}), o ->
                element_at(hs, j + o) * 4 + {WINNOW_W - 1} - o)))"""
    )
    # string-encoded "(h):(p)" fingerprints: struct-valued array_distinct
    # is unsupported in DuckDB 1.0, and the encoding is engine-identical
    picks = F.expr(
        """transform(sequence(1, nw), j ->
             concat(CAST(element_at(ks, j) div 4 AS STRING), ':',
                    CAST(j + 3 - element_at(ks, j) % 4 AS STRING)))"""
    )
    withk = base.select("doc_id", "hs", "nw", keys.alias("ks"))
    fps = F.array_distinct(picks)
    return withk.select(
        "doc_id", fps.alias("fps"), "nw"
    ).select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.col("nw").cast("long").alias("n_windows"),
        (F.size("fps").cast("double") / F.col("nw")).alias("density"),
        F.aggregate(
            F.expr("transform(fps, s -> CAST(split_part(s, ':', 1)"
                   " AS BIGINT))"),
            F.lit(0).cast("long"),
            lambda acc, x: acc.bitwiseXOR(x),
        ).alias("fp_digest"),
    )


WINNOWING_FINGERPRINT_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_transform(range(1, len(string_split(text, ' ')) - 1),
           p -> {sql_md5_long(
               "string_split(text, ' ')[p] || ' ' || "
               "string_split(text, ' ')[p + 1] || ' ' || "
               "string_split(text, ' ')[p + 2]")}) AS hs
  FROM documents
  WHERE len(string_split(text, ' ')) >= {WINNOW_K + WINNOW_W - 1}
),
sized AS (
  SELECT doc_id, hs, len(hs) - {WINNOW_W - 1} AS nw FROM base
),
keyed AS (
  SELECT doc_id, nw,
         list_transform(range(1, nw + 1), j ->
           list_min(list_transform(range(0, {WINNOW_W}), o ->
             hs[CAST(j + o AS INTEGER)] * 4 + {WINNOW_W - 1} - o))) AS ks
  FROM sized
),
fps AS (
  SELECT doc_id, nw,
         list_distinct(list_transform(range(1, nw + 1), j ->
           CAST(ks[CAST(j AS INTEGER)] // 4 AS VARCHAR) || ':' ||
           CAST(j + 3 - ks[CAST(j AS INTEGER)] % 4 AS VARCHAR))) AS fp
  FROM keyed
)
SELECT doc_id,
       CAST(len(fp) AS BIGINT) AS n_fingerprints,
       CAST(nw AS BIGINT) AS n_windows,
       CAST(len(fp) AS DOUBLE) / nw AS density,
       CAST(list_reduce(
              list_transform(fp, s -> CAST(string_split(s, ':')[1] AS BIGINT)),
              (a, b) -> xor(a, b)) AS BIGINT) AS fp_digest
FROM fps
"""


VOCAB_K = 20  # closed-vocabulary size for the coverage audit


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-health metric: what fraction of each language's token
    occurrences a fixed closed vocabulary covers — the OOV-rate check
    run before committing to a vocab/tokenizer (a language whose
    coverage lags will fragment into bytes and train poorly).

    The vocabulary is the corpus's own global top-VOCAB_K tokens under a
    total order (count desc, token asc — deterministic at ties), so the
    whole audit is self-contained and oracle-replayable: one token
    explode feeds both the global counts (top-k via TakeOrdered) and the
    per-language coverage join; the vocab broadcasts at any corpus size.
    Exact integer occurrence counts; coverage is the only double."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "tok", "left")
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("in_vocab", F.lit(0))).alias("n_covered"),
        )
        .select(
            "lang", "n_tokens", "n_covered",
            (F.col("n_covered").cast("double") / F.col("n_tokens"))
            .alias("coverage"),
        )
    )


VOCAB_COVERAGE_SQL = f"""
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (
  SELECT tok, 1 AS in_vocab FROM (
    SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
    ORDER BY n DESC, tok ASC LIMIT {VOCAB_K}
  )
)
SELECT t.lang,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(COALESCE(v.in_vocab, 0)) AS BIGINT) AS n_covered,
       CAST(SUM(COALESCE(v.in_vocab, 0)) AS DOUBLE) / COUNT(*) AS coverage
FROM toks t LEFT JOIN vocab v USING (tok)
GROUP BY t.lang
"""


TRIM_DECILE_DIV = 10  # cut the bottom and top n div 10 docs per language


def decile_trim_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shaped quality gate: per language, drop the shortest
    and longest decile of documents by token count — the tail trim every
    corpus recipe applies (too-short = fragments/boilerplate, too-long =
    concatenation junk) before content filters run.

    Exact integer formulation — no percentile interpolation: rank docs
    per language on the total order (token_count, doc_id), cut at
    lo = n div 10 and hi = n − n div 10, keep ranks (lo, hi]. The cuts
    are reproducible on any engine and any partitioning because the
    order is total and the cut points are integers. One rank window per
    language + one summary aggregate; at 100 TB the window sort is the
    only per-language cost and rides a single hash exchange. Summary per
    language: doc counts, kept band, and the kept band's token-length
    bounds — the dataset-card numbers."""
    d = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks = F.size(F.split(F.col("text"), " "))
    w = Window.partitionBy("lang").orderBy(toks.asc(), F.col("doc_id").asc())
    ranked = d.select(
        "lang", "doc_id", toks.alias("n_tokens"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    kept = (F.col("rn") > F.expr(f"n div {TRIM_DECILE_DIV}")) & (
        F.col("rn") <= F.col("n") - F.expr(f"n div {TRIM_DECILE_DIV}")
    )
    return (
        ranked.select("lang", "n_tokens", kept.alias("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.min(F.when(F.col("keep"), F.col("n_tokens"))).alias(
                "kept_min_tokens"),
            F.max(F.when(F.col("keep"), F.col("n_tokens"))).alias(
                "kept_max_tokens"),
            F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0))
            .alias("kept_tokens"),
        )
    )


DECILE_TRIM_GATE_SQL = f"""
WITH ranked AS (
  SELECT lang, doc_id,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY len(string_split(text, ' ')), doc_id)
             AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
),
flagged AS (
  SELECT lang, n_tokens,
         rn > n // {TRIM_DECILE_DIV}
           AND rn <= n - n // {TRIM_DECILE_DIV} AS keep
  FROM ranked
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(MIN(CASE WHEN keep THEN n_tokens END) AS INTEGER)
           AS kept_min_tokens,
       CAST(MAX(CASE WHEN keep THEN n_tokens END) AS INTEGER)
           AS kept_max_tokens,
       CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
           AS kept_tokens
FROM flagged GROUP BY lang
"""


QUERIES: dict[str, QuerySpec] = {
    "decile_trim_gate": QuerySpec(
        decile_trim_gate, DECILE_TRIM_GATE_SQL,
        "per-language decile tail trim by exact integer rank cuts",
    ),
    "winnowing_fingerprint": QuerySpec(
        winnowing_fingerprint, WINNOWING_FINGERPRINT_SQL,
        "MOSS winnowing: rightmost-min k-gram fingerprints per doc",
    ),
    "vocab_coverage": QuerySpec(
        vocab_coverage, VOCAB_COVERAGE_SQL,
        "per-language OOV/coverage rate against the global top-k vocab",
    ),
    "text_token_count": QuerySpec(text_token_count, TEXT_TOKEN_COUNT_SQL, "token counting"),
    "text_bpe_token_count": QuerySpec(text_bpe_token_count, TEXT_BPE_TOKEN_COUNT_SQL, "BPE-ish regex pre-token counting"),
    "text_lang_id": QuerySpec(text_lang_id, TEXT_LANG_ID_SQL, "stopword-marker language ID"),
    "text_quality_score": QuerySpec(text_quality_score, TEXT_QUALITY_SCORE_SQL, "heuristic quality score"),
    "text_fingerprint": QuerySpec(text_fingerprint, TEXT_FINGERPRINT_SQL, "content + rolling-hash fingerprints"),
    "corpus_curation": QuerySpec(
        corpus_curation, CORPUS_CURATION_SQL,
        "lang-ID → quality gate → dedup → token-accounting funnel",
    ),
}
