"""Corpus reporting & sketch-tuning tier
(registered in `registry.MODULES`).

Four operators a corpus team runs before committing to a training mix:
per-source datasheets, MinHash banding-parameter tuning, the dedup
aggressiveness curve, and a char-level gibberish signal, each with a
builder, a DuckDB oracle and local parity tests in
tests/test_reports_deferred.py.

Scale design:
- source_quality_report: one aggregate over documents + one distinct-doc
  probe of the SESSION-CACHED LSH pair table (dedup.minhash_lsh_cached) —
  the near-dup side reuses the signature index, never recomputes it.
- minhash_param_sweep: re-bands the SAME 16-hash signatures three ways
  ((16,1)/(8,2)/(4,4)); candidate generation per config is a band-hash
  equi-join, truth is the df-capped exact-Jaccard pair stage
  (shingle_pair_commons_cached) — tuning costs three cheap joins, not
  three signature recomputations.
- dedup_threshold_curve: pure arithmetic over the cached LSH pair list —
  thresholds explode against pairs (8 rows per pair), grouped once.
- char_entropy_quality: shuffle-free per-row closed form — per-character
  counts via the length-minus-replace identity (27 fixed characters), so
  it runs at scan bandwidth; no explode of the character stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.numeric import ftrunc, sql_ftrunc
from ..spec import QuerySpec
from .dedup import (
    DEDUP_MINHASH_LSH_SQL,
    MINHASH_EST_THRESHOLD,
    N_HASHES,
    SQL_BANDS_CTES,
    _signatures,
    _exploded_shingles,
    _MIN_TOKENS,
    minhash_lsh_cached,
    shingle_pair_commons_cached,
)
from ..session import default_parallelism, session_persist, session_scalar

# ---------------------------------------------------------------------------
# per-source quality datasheet
# ---------------------------------------------------------------------------

GATE_MIN_TOKENS = 5
GATE_MAX_MEAN_TOKEN_LEN = 12.0


def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus datasheet: volume, language spread, a simple
    quality-gate pass count, and the near-duplicate exposure measured
    against the session-cached MinHash-LSH pair table. `dup_rate_bp` is
    exact integer basis points (10000·dup_docs div n_docs) so the oracle
    compares exactly. The per-source report is the artifact that decides
    which crawls enter the mix and at what weight."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    mean_len = (F.length("text") - n_tok + 1).cast("double") / n_tok
    base = d.select(
        "doc_id", "source", "lang",
        n_tok.alias("n_tok"),
        ((n_tok >= GATE_MIN_TOKENS)
         & (mean_len <= GATE_MAX_MEAN_TOKEN_LEN)).alias("gate"),
    )
    pairs = minhash_lsh_cached(spark, sf_dir)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    joined = base.join(dup_docs, "doc_id", "left")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum(F.col("gate").cast("long")).alias("gate_pass"),
            F.sum(F.coalesce(F.col("is_dup").cast("long"), F.lit(0)))
            .alias("near_dup_docs"),
        )
        .select(
            "source", "n_docs", "n_tokens", "n_langs", "gate_pass",
            "near_dup_docs",
            F.expr("(10000 * near_dup_docs) div n_docs").alias("dup_rate_bp"),
        )
    )


SOURCE_QUALITY_REPORT_SQL = f"""
WITH base AS (
  SELECT doc_id, source, lang,
         len(string_split(text, ' ')) AS n_tok,
         (len(string_split(text, ' ')) >= {GATE_MIN_TOKENS}
          AND CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
              / len(string_split(text, ' ')) <= {GATE_MAX_MEAN_TOKEN_LEN})
             AS gate
  FROM documents
),
lsh AS ({DEDUP_MINHASH_LSH_SQL}),
dups AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM lsh UNION ALL SELECT doc_b FROM lsh
  )
)
SELECT b.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(b.n_tok) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT b.lang) AS BIGINT) AS n_langs,
       CAST(SUM(CASE WHEN b.gate THEN 1 ELSE 0 END) AS BIGINT) AS gate_pass,
       CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS near_dup_docs,
       (10000 * CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS dup_rate_bp
FROM base b LEFT JOIN dups d USING (doc_id)
GROUP BY b.source
"""


# ---------------------------------------------------------------------------
# MinHash banding-parameter sweep (precision/recall per config)
# ---------------------------------------------------------------------------

# (bands, rows_per_band) layouts of the SAME 16-hash signature.
SWEEP_CONFIGS = [(16, 1), (8, 2), (4, 4)]
# The sweep evaluates precision/recall on pairs ANCHORED at this probe set
# (doc_id < SWEEP_PROBE_DOCS — the lowest ids, so `doc_a < doc_b` keeps
# every probe-anchored pair exactly once). Un-anchored, the (16, 1) layout
# is quadratic: single-hash buckets collect every doc sharing a frequent
# min-shingle, so buckets grow ∝N and candidates ∝N² (measured on the r7
# sf1 corpus: 174 k pairs at 5 k docs → 20.6 M at 50 k, 118× on 10× rows —
# the same cliff class dedup_embedding_cosine had pre-r7). Probe-anchoring
# bounds every config at |probes|·bucket ≈ linear in N, the
# lsh_recall_tradeoff_report stance; precision/recall on the fixed probe
# sample estimate the corpus-wide ratios.
SWEEP_PROBE_DOCS = 200


def _sigs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_persist(
        spark, f"report_sigs:{sf_dir}",
        lambda: _signatures(
            _exploded_shingles(
                table(spark, sf_dir, "documents")
                .filter(F.size(F.split(F.col("text"), " ")) >= 3)
                .repartition(default_parallelism())
                .select("doc_id", "text")
            )
        ),
    )


def minhash_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch tuning as a first-class operator: the same 16-hash MinHash
    signatures re-banded three ways — more bands × fewer rows = higher
    recall / lower precision. Per config: candidate-pair count, predicted
    pairs at the estimate threshold, and pair-level precision/recall
    against the exact df-capped Jaccard truth. This is the measurement
    that picks N_BANDS before anyone trusts the sketch on a real corpus;
    like ann_recall_report/minhash_eval, the evaluation itself is
    oracle-checked. Pairs are probe-anchored (doc_a < SWEEP_PROBE_DOCS,
    see the constant's note) so every config's candidate join is linear
    in corpus size."""
    sigs = _sigs_cached(spark, sf_dir)
    truth = (
        shingle_pair_commons_cached(spark, sf_dir)
        .filter(F.col("doc_a") < SWEEP_PROBE_DOCS)
        .select(
            "doc_a", "doc_b",
            (F.col("common").cast("double")
             / (F.col("n_a") + F.col("n_b") - F.col("common"))).alias("j"),
        )
        .filter(F.col("j") >= MINHASH_EST_THRESHOLD)
        .select("doc_a", "doc_b", F.lit(1).alias("t"))
    )
    est = (
        F.aggregate(
            F.zip_with(F.col("sig_a"), F.col("sig_b"),
                       lambda x, y: (x == y).cast("long")),
            F.lit(0).cast("long"), lambda acc, x: acc + x,
        ).cast("double") / float(N_HASHES)
    )
    per_config = []
    for bands, rows in SWEEP_CONFIGS:
        # one exploded (doc_id, band, bh) per config
        bands_df = sigs.select(
            "doc_id", "sig",
            F.explode(F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(F.concat_ws(",", *[
                        F.element_at(F.col("sig"), b * rows + r + 1)
                        .cast("string")
                        for r in range(rows)
                    ])).alias("bh"),
                )
                for b in range(bands)
            ])).alias("bk"),
        ).select("doc_id", "sig", F.col("bk.band").alias("band"),
                 F.col("bk.bh").alias("bh"))
        a = bands_df.filter(F.col("doc_id") < SWEEP_PROBE_DOCS).alias("a")
        b_ = bands_df.alias("b")
        cand = (
            a.join(b_, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bh") == F.col("b.bh"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.sig").alias("sig_a"),
                    F.col("b.sig").alias("sig_b"))
            .dropDuplicates(["doc_a", "doc_b"])
        )
        pred = cand.select(
            "doc_a", "doc_b", est.alias("e")
        ).filter(F.col("e") >= MINHASH_EST_THRESHOLD).select(
            "doc_a", "doc_b", F.lit(1).alias("p")
        )
        j = truth.join(pred, ["doc_a", "doc_b"], "full")
        agg = j.agg(
            F.lit(bands).alias("bands"),
            F.lit(rows).alias("rows_per_band"),
            F.sum(F.coalesce("t", F.lit(0))).alias("n_truth"),
            F.sum(F.coalesce("p", F.lit(0))).alias("n_pred"),
            F.sum((F.col("t").isNotNull() & F.col("p").isNotNull())
                  .cast("long")).alias("n_hit"),
        )
        per_config.append(agg)
    out = per_config[0]
    for c in per_config[1:]:
        out = out.unionByName(c)
    prec = F.when(F.col("n_pred") > 0,
                  F.col("n_hit").cast("double") / F.col("n_pred")) \
        .otherwise(F.lit(0.0))
    rec = F.when(F.col("n_truth") > 0,
                 F.col("n_hit").cast("double") / F.col("n_truth")) \
        .otherwise(F.lit(0.0))
    return out.select(
        "bands", "rows_per_band", "n_truth", "n_pred", "n_hit",
        ftrunc(prec, 6).alias("precision"),
        ftrunc(rec, 6).alias("recall"),
    )


def _sweep_config_sql(bands: int, rows: int) -> str:
    band_exprs = []
    for b in range(bands):
        parts = " || ',' || ".join(
            f"CAST(sig[{b * rows + r + 1}] AS VARCHAR)" for r in range(rows)
        )
        band_exprs.append(f"md5({parts}) ")
    bands_sql = " UNION ALL ".join(
        f"SELECT doc_id, sig, {b} AS band, {band_exprs[b]} AS bh FROM sigs"
        for b in range(bands)
    )
    return f"""
sel_{bands}_{rows} AS (
  WITH bl AS ({bands_sql}),
  cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.sig AS sig_a, b.sig AS sig_b
    FROM bl a JOIN bl b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    WHERE a.doc_id < {SWEEP_PROBE_DOCS}
  ),
  pred AS (
    SELECT doc_a, doc_b, 1 AS p FROM cand
    WHERE CAST(list_sum(list_transform(range(1, {N_HASHES + 1}),
            i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS DOUBLE)
          / {N_HASHES}.0 >= {MINHASH_EST_THRESHOLD}
  )
  SELECT {bands} AS bands, {rows} AS rows_per_band,
         CAST(SUM(COALESCE(t.t, 0)) AS BIGINT) AS n_truth,
         CAST(SUM(COALESCE(pred.p, 0)) AS BIGINT) AS n_pred,
         CAST(SUM(CASE WHEN t.t IS NOT NULL AND pred.p IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM truth t FULL JOIN pred USING (doc_a, doc_b)
)"""


_SWEEP_TRUTH_SQL = f"""
truth AS (
  SELECT doc_a, doc_b, 1 AS t FROM (
    WITH t0 AS (
      SELECT doc_id, {{shingles}} AS sh FROM documents WHERE {_MIN_TOKENS}
    ),
    sz AS (SELECT doc_id, len(sh) AS n_sh FROM t0),
    e0 AS (SELECT doc_id, unnest(sh) AS s FROM t0),
    rare AS (SELECT s FROM e0 GROUP BY s HAVING COUNT(*) <= {{max_df}}),
    e AS (SELECT doc_id, s FROM e0 JOIN rare USING (s)),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS common
      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
      WHERE a.doc_id < {{probe_docs}}
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b
    FROM p JOIN sz sa ON sa.doc_id = p.doc_a
           JOIN sz sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.common)
            >= {MINHASH_EST_THRESHOLD}
  )
)"""


def _sweep_sql() -> str:
    from .dedup import (
        JACCARD_MAX_DF,
        _SQL_BASE_HASHES,
        _SQL_SHINGLES,
        _SQL_SIGNATURE,
    )

    truth = _SWEEP_TRUTH_SQL.format(
        shingles=_SQL_SHINGLES.format(x="text"), max_df=JACCARD_MAX_DF,
        probe_docs=SWEEP_PROBE_DOCS,
    )
    configs = ",".join(_sweep_config_sql(b, r) for b, r in SWEEP_CONFIGS)
    selects = " UNION ALL ".join(
        f"SELECT * FROM sel_{b}_{r}" for b, r in SWEEP_CONFIGS
    )
    return f"""
WITH t AS (
  SELECT doc_id, {_SQL_SHINGLES.format(x='text')} AS sh
  FROM documents WHERE {_MIN_TOKENS}
),
hs AS (SELECT doc_id, {_SQL_BASE_HASHES} AS hs FROM t),
sigs AS (SELECT doc_id, {_SQL_SIGNATURE} AS sig FROM hs),
{truth},
{configs}
SELECT bands, rows_per_band, n_truth, n_pred, n_hit,
       {sql_ftrunc('CASE WHEN n_pred > 0 THEN CAST(n_hit AS DOUBLE) / n_pred ELSE 0.0 END', 6)} AS precision,
       {sql_ftrunc('CASE WHEN n_truth > 0 THEN CAST(n_hit AS DOUBLE) / n_truth ELSE 0.0 END', 6)} AS recall
FROM ({selects})
"""


# ---------------------------------------------------------------------------
# dedup aggressiveness curve: survivors vs estimate threshold
# ---------------------------------------------------------------------------

CURVE_THRESHOLDS = [20, 30, 40, 50, 60, 70, 80, 90]  # est·100, exact ints


def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much corpus does each dedup threshold cost? For every estimate
    threshold t: surviving pair count, distinct docs that would be
    DROPPED under keep-lowest-id survivorship, and the survivor count
    over the whole documents table. The planning curve a corpus team
    draws before fixing the near-dup threshold — one pass over the
    session-cached LSH pair list, thresholds as an exploded literal
    array (integer percent values, so grouping keys are exact)."""
    pairs = minhash_lsh_cached(spark, sf_dir).select(
        "doc_a", "doc_b",
        F.floor(F.col("est_jaccard") * 100.0 + 0.5).cast("long").alias("e100"),
    )
    n_docs = session_scalar(
        spark, f"documents_count:{sf_dir}",
        table(spark, sf_dir, "documents").count,
    )
    t = F.explode(F.array(*[F.lit(x) for x in CURVE_THRESHOLDS])).alias("thr")
    exploded = pairs.select("doc_a", "doc_b", "e100", t).filter(
        F.col("e100") >= F.col("thr")
    )
    per_thr = exploded.groupBy("thr").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("doc_b").alias("n_dropped"),
    )
    # thresholds with zero surviving pairs must still appear (0 rows cost);
    # the spine is a literal relation so it exists even over an empty corpus
    # (documents.limit(1) would vanish and drop all 8 rows)
    all_thr = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in CURVE_THRESHOLDS])).alias("thr")
    )
    return (
        all_thr.join(per_thr, "thr", "left")
        .select(
            "thr",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            (F.lit(n_docs) - F.coalesce("n_dropped", F.lit(0)))
            .alias("n_survivors"),
        )
    )


def _curve_sql() -> str:
    thrs = ", ".join(str(x) for x in CURVE_THRESHOLDS)
    return f"""
WITH lsh AS ({DEDUP_MINHASH_LSH_SQL}),
p AS (
  SELECT doc_a, doc_b,
         CAST(FLOOR(est_jaccard * 100.0 + 0.5) AS BIGINT) AS e100
  FROM lsh
),
thr AS (SELECT unnest([{thrs}]) AS thr),
hit AS (
  SELECT thr.thr, p.doc_a, p.doc_b FROM thr JOIN p ON p.e100 >= thr.thr
),
agg AS (
  SELECT thr, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_dropped
  FROM hit GROUP BY thr
)
SELECT t.thr, COALESCE(a.n_pairs, 0) AS n_pairs,
       COALESCE(a.n_dropped, 0) AS n_dropped,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
         - COALESCE(a.n_dropped, 0) AS n_survivors
FROM thr t LEFT JOIN agg a USING (thr)
"""


# ---------------------------------------------------------------------------
# char-level entropy / gibberish signal (shuffle-free closed form)
# ---------------------------------------------------------------------------

_ENTROPY_CHARS = "abcdefghijklmnopqrstuvwxyz "  # 27 fixed characters


def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-unigram Shannon entropy + out-of-alphabet ratio per doc —
    the classic garbled-text/gibberish signal orthogonal to token rules
    (mojibake and binary spill crater the in-alphabet ratio; repetitive
    spam craters entropy). Counts use the length-minus-replace identity
    per fixed character — 27 exact integer counts per row, no explode of
    the character stream, no shuffle: the plan is scan→project at full
    bandwidth. Entropy is truncated to 6 dp (same ln policy as the
    lm/ccnet scores)."""
    d = table(spark, sf_dir, "documents")
    total = F.length("text")
    counts = [
        (c, total - F.length(F.replace(F.col("text"), F.lit(c), F.lit(""))))
        for c in _ENTROPY_CHARS
    ]
    in_alpha = counts[0][1]
    for _, cnt in counts[1:]:
        in_alpha = in_alpha + cnt
    p_terms = None
    for _, cnt in counts:
        p = cnt.cast("double") / in_alpha.cast("double")
        term = F.when(cnt > 0, -p * F.log(p)).otherwise(F.lit(0.0))
        p_terms = term if p_terms is None else p_terms + term
    return d.select(
        "doc_id",
        total.alias("n_chars_total"),
        in_alpha.alias("n_in_alphabet"),
        ftrunc(p_terms, 6).alias("char_entropy"),
        ftrunc(
            (total - in_alpha).cast("double") / total.cast("double"), 6
        ).alias("oov_char_ratio"),
    ).filter(F.col("n_in_alphabet") > 0)


def _entropy_sql() -> str:
    cnt = {
        c: f"(length(text) - length(replace(text, '{c}', '')))"
        for c in _ENTROPY_CHARS
    }
    in_alpha = " + ".join(cnt.values())
    terms = " + ".join(
        f"CASE WHEN {e} > 0 THEN -(CAST({e} AS DOUBLE) / ia) "
        f"* ln(CAST({e} AS DOUBLE) / ia) ELSE 0.0 END"
        for e in cnt.values()
    )
    return f"""
WITH base AS (
  SELECT doc_id, text, length(text) AS n_chars_total,
         CAST({in_alpha} AS BIGINT) AS n_in_alphabet,
         CAST(({in_alpha}) AS DOUBLE) AS ia
  FROM documents
)
SELECT doc_id, CAST(n_chars_total AS BIGINT) AS n_chars_total,
       n_in_alphabet,
       {sql_ftrunc(terms, 6)} AS char_entropy,
       {sql_ftrunc('CAST(n_chars_total - n_in_alphabet AS DOUBLE) / n_chars_total', 6)} AS oov_char_ratio
FROM base WHERE n_in_alphabet > 0
"""


QUERIES: dict[str, QuerySpec] = {
    "source_quality_report": QuerySpec(
        source_quality_report, SOURCE_QUALITY_REPORT_SQL,
        "per-source datasheet: volume, langs, gate, near-dup exposure",
    ),
    "minhash_param_sweep": QuerySpec(
        minhash_param_sweep, _sweep_sql(),
        "banding-config sweep: precision/recall per (bands, rows)",
    ),
    "dedup_threshold_curve": QuerySpec(
        dedup_threshold_curve, _curve_sql(),
        "survivor/dropped counts per near-dup threshold",
    ),
    "char_entropy_quality": QuerySpec(
        char_entropy_quality, _entropy_sql(),
        "char-unigram entropy + out-of-alphabet ratio, shuffle-free",
    ),
}
