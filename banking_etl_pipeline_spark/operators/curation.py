"""Advanced corpus-curation operators over `documents` (engine extension
beyond reference parity): the second tier of a training-data pipeline —
importance resampling, incremental (new-batch-vs-index) dedup, containment
detection, and boilerplate stripping.

Scale design:
- dsir_importance: hashed-feature importance resampling (the DSIR recipe
  from the public data-selection literature): both class-conditional bucket
  count tables live in ONE conditional aggregate over the exploded token
  stream, the 1024-row log-likelihood-ratio dictionary broadcasts, and each
  document's score is an int64 sum of fixed-point LLRs — exact,
  order-independent, mergeable across shards.
- dedup_incremental: probes the incoming batch's band signatures against
  the persisted corpus band table (dedup.minhash_bands) — the production
  "dedup tonight's crawl against the index" shape: the index is written
  once; the probe is an equi-join on (band, band-hash) whose left side is
  batch-sized, never a corpus self-join.
- minhash_containment: same df-capped shingle equi-join as exact Jaccard,
  but scoring containment |A∩B| / min(|A|,|B|) — catches subset/quotation
  duplicates whose Jaccard is diluted by the longer document.
- boilerplate_strip: df-ratio token filter; re-assembly sorts an exploded
  (pos, token) pair list per doc, so the result is independent of
  partitioning and of aggregation order (never a bare collect_list).

All md5-derived hashing (functions/hashing.py) — every operator's DuckDB
oracle reproduces scores and digests bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import md5_long, sql_md5_long
from ..session import default_parallelism
from ..spec import QuerySpec
from .dedup import (
    JACCARD_MAX_DF,
    N_HASHES,
    SQL_BANDS_CTES,
    _MIN_TOKENS,
    _SQL_SHINGLES,
    minhash_bands_cached,
    shingle_pair_commons_cached,
)

# ---------------------------------------------------------------------------
# DSIR-style hashed-feature importance scoring
# ---------------------------------------------------------------------------

DSIR_MOD = 20        # md5 bucket 0 of 20 → ~5% of docs form the target set
DSIR_DIM = 1024      # hashed feature buckets
DSIR_FIXED = 1_000_000  # fixed-point scale for the per-bucket LLR


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling, hashed-feature form: score
    every source document by how target-like its token distribution is.

    A hash-designated ~5% of docs act as the in-domain target set. Features
    are md5-hashed token buckets (the hashing trick — no vocabulary, fixed
    DSIR_DIM dimensionality at any corpus size). Per bucket f the
    add-one-smoothed log-likelihood ratio
        llr(f) = ln((ct_f+1)/(T+D)) − ln((cs_f+1)/(S+D))
    is quantized to fixed-point (floor · 10^6 → int64), and a document's
    importance score is Σ tokens llr_fixed(bucket) — an INTEGER sum, exact
    and order-independent, so shards merge by addition (ln appears only in
    the 1024-row dictionary, the same cross-engine-stable usage as the HLL
    estimator). Plan: one exploded conditional aggregate builds both count
    tables at once; the LLR dictionary broadcasts; one groupBy(doc) sums.
    `selected` marks positive-scoring docs — the resampling keep set."""
    d = table(spark, sf_dir, "documents").repartition(default_parallelism())
    is_target = md5_long(
        F.concat(F.lit("dsir:"), F.col("doc_id").cast("string"))
    ) % DSIR_MOD == 0
    toks = d.select(
        "doc_id",
        is_target.alias("tgt"),
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    ).select(
        "doc_id",
        "tgt",
        (md5_long(F.concat(F.lit("feat:"), F.col("tok"))) % DSIR_DIM)
        .alias("f"),
    )
    counts = toks.groupBy("f").agg(
        F.sum(F.when(F.col("tgt"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("tgt"), 0).otherwise(1)).alias("cs"),
    )
    # totals are the column sums of the 1024-row bucket table — never a
    # second scan of the token stream
    totals = counts.agg(
        F.sum("ct").alias("t_total"), F.sum("cs").alias("s_total")
    )
    llr = (
        F.log((F.col("ct") + 1.0) / (F.col("t_total") + float(DSIR_DIM)))
        - F.log((F.col("cs") + 1.0) / (F.col("s_total") + float(DSIR_DIM)))
    )
    dictionary = counts.crossJoin(F.broadcast(totals)).select(
        "f",
        F.floor(llr * F.lit(float(DSIR_FIXED))).cast("long").alias("llr_fx"),
    )
    scored = (
        toks.filter(~F.col("tgt"))
        .join(F.broadcast(dictionary), "f")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("llr_fx").alias("score_fx"),
        )
    )
    return scored.select(
        "doc_id", "n_tokens", "score_fx",
        (F.col("score_fx") > 0).alias("selected"),
    )


DSIR_IMPORTANCE_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         {sql_md5_long("'dsir:' || CAST(doc_id AS VARCHAR)")} % {DSIR_MOD} = 0
             AS tgt,
         {sql_md5_long("'feat:' || tok")} % {DSIR_DIM} AS f
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
),
counts AS (
  SELECT f,
         SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS cs
  FROM toks GROUP BY f
),
totals AS (SELECT SUM(ct) AS t_total, SUM(cs) AS s_total FROM counts),
dict AS (
  SELECT f,
         CAST(FLOOR((ln((ct + 1.0) / (t_total + {float(DSIR_DIM)!r}))
                     - ln((cs + 1.0) / (s_total + {float(DSIR_DIM)!r})))
                    * {float(DSIR_FIXED)!r}) AS BIGINT) AS llr_fx
  FROM counts CROSS JOIN totals
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(llr_fx) AS BIGINT) AS score_fx,
       SUM(llr_fx) > 0 AS selected
FROM toks JOIN dict USING (f)
WHERE NOT tgt
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# incremental dedup: incoming batch vs corpus signature index
# ---------------------------------------------------------------------------

INC_MOD = 5  # md5 bucket 0 of 5 → ~20% of docs play the "incoming batch"


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup an incoming batch against the existing corpus WITHOUT a corpus
    self-join — the nightly-crawl-vs-index shape every production dedup
    runs: the corpus's banded MinHash signature table (dedup.minhash_bands,
    persisted ≙ materialized index) is probed by the batch's band keys via
    an equi-join on (band, band-hash); candidates are verified by exact
    signature agreement. Per incoming doc: candidate count, duplicate
    count at the MinHash threshold, and the best corpus match picked by a
    zero-padded (match-count, inverted doc id) max_by key — integer
    sort key, so ties break deterministically on the smallest corpus doc.
    Incoming docs with no band collision appear with zero counts (left
    join): the batch report is complete, not hit-only."""
    bands = minhash_bands_cached(spark, sf_dir)
    incoming_flag = md5_long(
        F.concat(F.lit("inc:"), F.col("doc_id").cast("string"))
    ) % INC_MOD == 0
    bands = bands.withColumn("inc", incoming_flag)
    probe = bands.filter("inc").select(
        F.col("doc_id").alias("in_doc"),
        F.col("sig").alias("in_sig"),
        "band",
        "bh",
    )
    index = bands.filter(~F.col("inc")).select(
        F.col("doc_id").alias("corpus_doc"),
        F.col("sig").alias("corpus_sig"),
        "band",
        "bh",
    )
    n_match = F.aggregate(
        F.zip_with(
            F.col("in_sig"), F.col("corpus_sig"),
            lambda x, y: (x == y).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = (
        probe.join(index, ["band", "bh"])
        .select("in_doc", "corpus_doc", "in_sig", "corpus_sig")
        .dropDuplicates(["in_doc", "corpus_doc"])
        .select("in_doc", "corpus_doc", n_match.alias("n_match"))
    )
    # struct key: (n_match, corpus_doc-asc tiebreak): same winner as
    # the oracle's printf key without a per-candidate string alloc
    best_key = F.struct(
        F.col("n_match"),
        (F.lit(9_999_999_999) - F.col("corpus_doc")).alias("nd"),
    )
    per_doc = cand.groupBy("in_doc").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(
            (F.col("n_match") >= int(0.2 * N_HASHES) + 1).cast("long")
        ).alias("n_dups"),
        F.max_by("corpus_doc", best_key).alias("best_match"),
        F.max("n_match").alias("best_n_match"),
    )
    incoming_docs = bands.filter("inc").select(
        F.col("doc_id").alias("in_doc")
    ).distinct()
    return incoming_docs.join(per_doc, "in_doc", "left").select(
        "in_doc",
        F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        F.coalesce("n_dups", F.lit(0)).alias("n_dups"),
        "best_match",
        F.coalesce("best_n_match", F.lit(0)).alias("best_n_match"),
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH {SQL_BANDS_CTES},
flagged AS (
  SELECT *,
         {sql_md5_long("'inc:' || CAST(doc_id AS VARCHAR)")} % {INC_MOD} = 0
             AS inc
  FROM bands
),
cand AS (
  SELECT DISTINCT p.doc_id AS in_doc, x.doc_id AS corpus_doc,
         p.sig AS in_sig, x.sig AS corpus_sig
  FROM flagged p JOIN flagged x
    ON p.band = x.band AND p.bh = x.bh AND p.inc AND NOT x.inc
),
scored AS (
  SELECT in_doc, corpus_doc,
         CAST(list_sum(list_transform(range(1, {N_HASHES + 1}),
              i -> CASE WHEN in_sig[i] = corpus_sig[i] THEN 1 ELSE 0 END))
              AS BIGINT) AS n_match
  FROM cand
),
per_doc AS (
  SELECT in_doc,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(SUM(CASE WHEN n_match >= {int(0.2 * N_HASHES) + 1}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         arg_max(corpus_doc,
                 printf('%02d:%010d', n_match, 9999999999 - corpus_doc))
             AS best_match,
         MAX(n_match) AS best_n_match
  FROM scored GROUP BY in_doc
),
incoming AS (
  SELECT DISTINCT doc_id AS in_doc FROM flagged WHERE inc
)
SELECT i.in_doc,
       COALESCE(p.n_candidates, 0) AS n_candidates,
       COALESCE(p.n_dups, 0) AS n_dups,
       p.best_match,
       COALESCE(p.best_n_match, 0) AS best_n_match
FROM incoming i LEFT JOIN per_doc p USING (in_doc)
"""


# ---------------------------------------------------------------------------
# containment (subset/quotation) duplicate detection
# ---------------------------------------------------------------------------

CONTAIN_THRESHOLD = 0.5


def minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment duplicates: pairs where the smaller document's shingle
    set is mostly inside the larger one — C = |A∩B| / min(|A|,|B|).
    Jaccard misses these (a doc quoted inside a 10× longer one has J ≈
    0.1 but C ≈ 1.0); curation wants them because the contained copy adds
    no information. Ratio view over the SAME df-capped shingle pair stage
    as exact Jaccard (dedup.shingle_pair_commons, session-cached — sizes
    pre-cap, so the denominator stays exact; the cap bounds the pair
    blowup identically)."""
    pairs = shingle_pair_commons_cached(spark, sf_dir)
    containment = F.col("common").cast("double") / F.least("n_a", "n_b")
    return pairs.select(
        "doc_a", "doc_b", "common", "n_a", "n_b",
        containment.alias("containment"),
    ).filter(F.col("containment") >= CONTAIN_THRESHOLD)


MINHASH_CONTAINMENT_SQL = f"""
WITH t AS (
  SELECT doc_id, {_SQL_SHINGLES.format(x='text')} AS sh
  FROM documents WHERE {_MIN_TOKENS}
),
sz AS (SELECT doc_id, len(sh) AS n_sh FROM t),
e0 AS (SELECT doc_id, unnest(sh) AS s FROM t),
rare AS (
  SELECT s FROM e0 GROUP BY s HAVING COUNT(*) <= {JACCARD_MAX_DF}
),
e AS (SELECT doc_id, s FROM e0 JOIN rare USING (s)),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.common,
       CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b,
       CAST(p.common AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS containment
FROM p JOIN sz sa ON sa.doc_id = p.doc_a JOIN sz sb ON sb.doc_id = p.doc_b
WHERE CAST(p.common AS DOUBLE) / least(sa.n_sh, sb.n_sh)
        >= {CONTAIN_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# boilerplate stripping (df-ratio token filter, order-preserving rebuild)
# ---------------------------------------------------------------------------

BOILERPLATE_DF_RATIO = 0.6  # tokens present in >60% of docs are boilerplate


def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip boilerplate tokens (document frequency > 60% of the corpus —
    nav bars, cookie banners, licence headers in real crawls) and emit the
    cleaned document plus before/after counts.

    The strip SET is tiny by construction (only tokens in >60% of all
    documents qualify), so it broadcasts as ONE sorted-array row and the
    strip itself is a per-row higher-order filter over the split token
    array — token order survives natively (the
    former keep-set equi-join shuffled every token OCCURRENCE and
    re-assembled documents with a collect_list + array_sort groupBy; now
    the only occurrence-level shuffle left is the df aggregate itself).
    Cleaned-text md5 gives downstream exact-dedup a
    boilerplate-insensitive key."""
    d = table(spark, sf_dir, "documents").repartition(default_parallelism())
    tk = F.split(F.col("text"), " ")
    ex = d.select("doc_id", F.explode(tk).alias("tok"))
    df_tbl = ex.distinct().groupBy("tok").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    strip_set = (
        df_tbl.crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("df").cast("double") / F.col("n_docs")
            > BOILERPLATE_DF_RATIO
        )
        .agg(F.array_sort(F.collect_list("tok")).alias("strip_toks"))
    )
    kept_arr = F.filter(
        tk, lambda t: ~F.array_contains(F.col("strip_toks"), t)
    )
    return (
        d.crossJoin(F.broadcast(strip_set))
        .select(
            "doc_id",
            F.size(tk).cast("long").alias("n_tokens"),
            kept_arr.alias("kept"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.size("kept").cast("long").alias("n_kept"),
            F.md5(F.concat_ws(" ", F.col("kept"))).alias("clean_md5"),
        )
    )


BOILERPLATE_STRIP_SQL = f"""
WITH ex AS (
  SELECT doc_id, p.i - 1 AS pos, string_split(text, ' ')[p.i] AS tok
  FROM documents,
       LATERAL (SELECT unnest(range(1, len(string_split(text, ' ')) + 1))
                AS i) p
),
df_tbl AS (
  SELECT tok, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, tok FROM ex) GROUP BY tok
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
keep_toks AS (
  SELECT tok FROM df_tbl CROSS JOIN n
  WHERE CAST(df AS DOUBLE) / n_docs <= {BOILERPLATE_DF_RATIO}
),
rebuilt AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM ex JOIN keep_toks USING (tok)
  GROUP BY doc_id
),
orig AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT o.doc_id, o.n_tokens,
       COALESCE(r.n_kept, 0) AS n_kept,
       md5(COALESCE(r.clean_text, '')) AS clean_md5
FROM orig o LEFT JOIN rebuilt r USING (doc_id)
"""


DECON_DROP_RATIO = 0.5  # drop docs sharing ≥50% of shingles with the bench


def curation_funnel_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end pretraining curation funnel, composed from this
    engine's own gates and reported per language with CUMULATIVE stage
    counts — the dataset-card table a curation run publishes:

      raw → (1) decile length trim → (2) repetition quality rule →
      (3) near-dup survivor selection → (4) decontamination + benchmark
      holdout removal → final kept docs + token budget.

    Every stage is a per-doc verdict from an already-oracled operator
    family: exact rank cuts (decile_trim_gate's integer formulation),
    `repetition_ratio.is_repetitive` (absent ⇒ fragment ⇒ fail),
    `dedup_survivors.keep` over the session-cached LSH clusters (absent
    ⇒ not a near-dup ⇒ keep), and `decontamination.contamination_ratio`
    plus the md5 bench-holdout flag. The composition is doc_id left
    joins of per-doc relations — at 100 TB each gate is the stage you'd
    materialize, and the funnel is the bookkeeping join over those
    stage tables. The DuckDB oracle replays every gate AND the
    composition, so the funnel numbers themselves are hash-checked."""
    from .corpus import REPETITION_RATIO_SQL  # noqa: F401 (oracle twin)
    from .corpus import dedup_survivors, repetition_ratio
    from .dedup import BENCH_MOD, decontamination
    from .text import TRIM_DECILE_DIV

    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split(F.col("text"), " ")).alias("nt")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("nt").asc(), F.col("doc_id").asc()
    )
    ranked = d.select(
        "doc_id", "lang", "nt",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    trim_keep = (F.col("rn") > F.expr(f"n div {TRIM_DECILE_DIV}")) & (
        F.col("rn") <= F.col("n") - F.expr(f"n div {TRIM_DECILE_DIV}")
    )
    rep = repetition_ratio(spark, sf_dir).select("doc_id", "is_repetitive")
    surv = dedup_survivors(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("surv_keep")
    )
    dec = decontamination(spark, sf_dir).select(
        "doc_id", "contamination_ratio"
    )
    bench = md5_long(
        F.concat(F.lit("bench:"), F.col("doc_id").cast("string"))
    ) % BENCH_MOD == 0
    s1 = F.col("s1")
    s2 = s1 & ~F.coalesce("is_repetitive", F.lit(True))
    s3 = s2 & F.coalesce("surv_keep", F.lit(True))
    s4 = s3 & (
        F.coalesce("contamination_ratio", F.lit(0.0)) < DECON_DROP_RATIO
    ) & ~bench
    j = (
        ranked.select("doc_id", "lang", "nt", trim_keep.alias("s1"))
        .join(rep, "doc_id", "left")
        .join(surv, "doc_id", "left")
        .join(dec, "doc_id", "left")
        .select("lang", "nt", s1.alias("s1"), s2.alias("s2"),
                s3.alias("s3"), s4.alias("s4"))
    )
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("s1").cast("long")).alias("n_after_trim"),
        F.sum(F.col("s2").cast("long")).alias("n_after_quality"),
        F.sum(F.col("s3").cast("long")).alias("n_after_dedup"),
        F.sum(F.col("s4").cast("long")).alias("n_final"),
        F.sum(F.when(F.col("s4"), F.col("nt")).otherwise(0))
        .alias("final_tokens"),
    )


def _curation_funnel_v2_sql() -> str:
    from .corpus import DEDUP_SURVIVORS_SQL, REPETITION_RATIO_SQL
    from .dedup import BENCH_MOD, DECONTAMINATION_SQL
    from .text import TRIM_DECILE_DIV

    return f"""
WITH ranked AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS nt,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY len(string_split(text, ' ')), doc_id)
             AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
),
rep AS (SELECT doc_id, is_repetitive FROM ({REPETITION_RATIO_SQL}) z),
surv AS (SELECT doc_id, keep AS surv_keep FROM ({DEDUP_SURVIVORS_SQL}) z),
dec AS (SELECT doc_id, contamination_ratio FROM ({DECONTAMINATION_SQL}) z),
staged AS (
  SELECT r.lang, r.nt,
         r.rn > r.n // {TRIM_DECILE_DIV}
           AND r.rn <= r.n - r.n // {TRIM_DECILE_DIV} AS s1,
         COALESCE(rep.is_repetitive, TRUE) AS is_rep,
         COALESCE(surv.surv_keep, TRUE) AS surv_keep,
         COALESCE(dec.contamination_ratio, 0.0) AS cr,
         {sql_md5_long("'bench:' || CAST(r.doc_id AS VARCHAR)")}
           % {BENCH_MOD} = 0 AS bench
  FROM ranked r
  LEFT JOIN rep USING (doc_id)
  LEFT JOIN surv USING (doc_id)
  LEFT JOIN dec USING (doc_id)
),
cum AS (
  SELECT lang, nt, s1,
         s1 AND NOT is_rep AS s2,
         s1 AND NOT is_rep AND surv_keep AS s3,
         s1 AND NOT is_rep AND surv_keep
            AND cr < {DECON_DROP_RATIO} AND NOT bench AS s4
  FROM staged
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_trim,
       CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after_quality,
       CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup,
       CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       CAST(SUM(CASE WHEN s4 THEN nt ELSE 0 END) AS BIGINT) AS final_tokens
FROM cum GROUP BY lang
"""


CURATION_FUNNEL_V2_SQL = _curation_funnel_v2_sql()


QUERIES: dict[str, QuerySpec] = {
    "curation_funnel_v2": QuerySpec(
        curation_funnel_v2, CURATION_FUNNEL_V2_SQL,
        "cumulative trim→quality→dedup→decontamination funnel per language",
    ),
    "dsir_importance": QuerySpec(
        dsir_importance, DSIR_IMPORTANCE_SQL,
        "hashed-feature importance resampling score (DSIR recipe)",
    ),
    "dedup_incremental": QuerySpec(
        dedup_incremental, DEDUP_INCREMENTAL_SQL,
        "incoming-batch LSH probe against the corpus signature index",
    ),
    "minhash_containment": QuerySpec(
        minhash_containment, MINHASH_CONTAINMENT_SQL,
        "subset/quotation duplicate pairs by shingle containment",
    ),
    "boilerplate_strip": QuerySpec(
        boilerplate_strip, BOILERPLATE_STRIP_SQL,
        "df-ratio boilerplate token strip with order-preserving rebuild",
    ),
}
