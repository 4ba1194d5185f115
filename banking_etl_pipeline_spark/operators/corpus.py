"""Corpus-analytics operators over `documents` — the statistics layer of a
training-data pipeline (engine extension beyond reference parity):
TF-IDF distinguishing terms, Gopher-style repetition quality rules,
language-stratified sampling, and duplicate-cluster assignment (connected
components over the MinHash-LSH near-dup graph).

Scale design:
- tfidf_top_terms: explode → (doc, term) hash aggregate → df via a window
  over term → broadcast scalar N → per-doc top-k window. Three key-partition
  shuffles, each map-side combined; ranking is integer-only (tf desc, df asc,
  term) so the result is deterministic across engines and cluster layouts.
- repetition_ratio: bigram explode + two-phase hash aggregate; all ratios are
  integer-over-integer doubles (bit-identical cross-engine).
- stratified_sample: per-row md5 bucket against a per-language rate (CASE) —
  narrow map + one small aggregate; reproducible under any repartitioning,
  unlike df.sample/TABLESAMPLE (partition-layout dependent).
- dup_clusters: label propagation (hash-min) over the symmetric LSH pair
  graph iterated to CONVERGENCE — each round is one equi-join + one
  min-aggregate over the persisted edge list (both shuffles on vertex id),
  and a 1-row sum(label) aggregate per round detects the fixpoint (labels
  are monotone non-increasing). Rounds = component diameter; the DuckDB
  oracle is exact connected components via a recursive reachability CTE, so
  an under-iterated Spark result can't hide behind a lockstepped oracle.

No reference counterpart (the reference has no corpus layer); the pattern
follows the public MinHash/label-propagation literature (PAPERS.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import md5_long, sql_md5_long
from ..functions.numeric import ftrunc, sql_ftrunc
from ..session import session_persist
from ..spec import QuerySpec
from .dedup import DEDUP_MINHASH_LSH_SQL, minhash_lsh_cached
from .text import tokens

TOP_TERMS_K = 3
REPETITION_TOP_BIGRAM_MAX = 0.05  # flag docs whose modal bigram exceeds 5%
# per-language keep-rates (percent): downsample the head language, keep more
# of the low-resource tail — the standard data-mixing rebalance.
STRATA_RATES = {"en": 10, "de": 40, "es": 40, "fr": 40}
STRATA_DEFAULT_RATE = 25
STRATA_SEED = 7
CC_ITERATIONS = 3       # bounded-hop primitive (propagate_min_labels)
CC_MAX_ITERATIONS = 50  # fixpoint runaway backstop, not a semantic bound


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinguishing terms per doc by TF-IDF.

    Ranking is by (tf DESC, df ASC, term ASC) — integers and strings only, so
    the top-k set is identical in Spark and DuckDB even when two terms'
    double tfidf scores collide to the last ulp. For a fixed doc, tf desc /
    df asc IS tfidf order (ln(N/df) is monotone decreasing in df); the score
    column is reported (truncated to 4 dp) but never ordered on.
    """
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    # document frequency: window over term — reuses the (doc_id, term)
    # aggregate instead of a second scan + join back
    df_w = Window.partitionBy("term")
    scored = tf.withColumn("df", F.count("*").over(df_w))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    scored = scored.crossJoin(F.broadcast(n_docs))
    rank_w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= TOP_TERMS_K)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            "rank",
            ftrunc(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                4,
            ).alias("tfidf"),
        )
    )


TFIDF_TOP_TERMS_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
),
with_df AS (
  SELECT doc_id, term, tf,
         CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs
  FROM tf
),
scored AS (
  SELECT doc_id, term, tf, df, n_docs,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC
         ) AS INTEGER) AS rank
  FROM with_df
)
SELECT doc_id, term, tf, df, rank,
       {sql_ftrunc('tf * ln(CAST(n_docs AS DOUBLE) / df)', 4)} AS tfidf
FROM scored WHERE rank <= {TOP_TERMS_K}
"""


# ---------------------------------------------------------------------------
# repetition quality rules (Gopher-style)
# ---------------------------------------------------------------------------


def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition metrics: duplicate-bigram fraction, modal-bigram
    share, distinct-token ratio, and a rule flag — the repetition filters a
    pretraining curation pass applies (docs with < 2 tokens are out of rule
    scope and excluded).
    """
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    base = d.select("doc_id", toks.alias("t")).filter(F.size("t") >= 2)
    tok_stats = base.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        (F.size(F.array_distinct("t")).cast("double") / F.size("t")).alias(
            "distinct_token_ratio"
        ),
    )
    bigrams = base.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
    ).select(
        "doc_id",
        F.concat_ws(
            " ", F.element_at("t", F.col("i")), F.element_at("t", F.col("i") + 1)
        ).alias("bg"),
    )
    bg_per_doc = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("total_bg"),
            F.count("*").alias("distinct_bg"),
            F.max("c").alias("top_bg"),
        )
    )
    out = tok_stats.join(bg_per_doc, "doc_id")
    top_frac = F.col("top_bg").cast("double") / F.col("total_bg")
    return out.select(
        "doc_id",
        "n_tokens",
        "distinct_token_ratio",
        (
            F.lit(1.0)
            - F.col("distinct_bg").cast("double") / F.col("total_bg")
        ).alias("dup_bigram_frac"),
        top_frac.alias("top_bigram_frac"),
        (top_frac > F.lit(REPETITION_TOP_BIGRAM_MAX)).alias("is_repetitive"),
    )


REPETITION_RATIO_SQL = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
tok_stats AS (
  SELECT doc_id,
         CAST(len(t) AS INTEGER) AS n_tokens,
         CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS distinct_token_ratio
  FROM base
),
bigrams AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg
  FROM base, LATERAL (SELECT unnest(range(1, len(t))) AS i)
),
bgc AS (
  SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg
),
bg_per_doc AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS total_bg,
         CAST(COUNT(*) AS BIGINT) AS distinct_bg,
         CAST(MAX(c) AS BIGINT) AS top_bg
  FROM bgc GROUP BY doc_id
)
SELECT s.doc_id, s.n_tokens, s.distinct_token_ratio,
       1.0 - CAST(distinct_bg AS DOUBLE) / total_bg AS dup_bigram_frac,
       CAST(top_bg AS DOUBLE) / total_bg AS top_bigram_frac,
       CAST(top_bg AS DOUBLE) / total_bg > {REPETITION_TOP_BIGRAM_MAX}
           AS is_repetitive
FROM tok_stats s JOIN bg_per_doc b ON s.doc_id = b.doc_id
"""


# ---------------------------------------------------------------------------
# language-stratified deterministic sampling
# ---------------------------------------------------------------------------


def _rate_col() -> F.Column:
    expr = F.lit(STRATA_DEFAULT_RATE)
    out = None
    for lang, rate in STRATA_RATES.items():
        cond = F.col("lang") == lang
        out = F.when(cond, rate) if out is None else out.when(cond, rate)
    return out.otherwise(expr)


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing rebalance report: per (lang, source) stratum, how many
    docs/chars the per-language hash-sample keeps. The keep decision is a
    pure row property (md5 bucket vs the language's rate), so the sampled
    corpus is identical at any parallelism — the property `df.sample` lacks.
    """
    d = table(spark, sf_dir, "documents")
    bucket = md5_long(
        F.concat_ws(":", F.lit(str(STRATA_SEED)), F.col("doc_id"))
    ) % 100
    kept = F.col("bucket") < _rate_col()
    return (
        d.select("doc_id", "lang", "source", "n_chars", bucket.alias("bucket"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias(
                "kept_chars"
            ),
        )
    )


_SQL_BUCKET = sql_md5_long(f"'{STRATA_SEED}:' || CAST(doc_id AS VARCHAR)") + " % 100"
_SQL_RATE = (
    "CASE "
    + " ".join(f"WHEN lang = '{l}' THEN {r}" for l, r in STRATA_RATES.items())
    + f" ELSE {STRATA_DEFAULT_RATE} END"
)

STRATIFIED_SAMPLE_SQL = f"""
WITH b AS (
  SELECT doc_id, lang, source, n_chars,
         {_SQL_BUCKET} AS bucket, {_SQL_RATE} AS rate
  FROM documents
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN bucket < rate THEN n_chars ELSE 0 END) AS BIGINT)
           AS kept_chars
FROM b GROUP BY lang, source
"""


# ---------------------------------------------------------------------------
# duplicate-cluster assignment (connected components over LSH pairs)
# ---------------------------------------------------------------------------


def _edge_graph(pairs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(doc_a, doc_b) pair list → (verts, adj) with self-loops, persisted.

    The symmetric edge list is persisted: every downstream consumer (verts,
    adj, each propagation round) re-derives the expensive LSH pair stage
    otherwise — this persist is the edge-list materialization a cluster job
    would also do once."""
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).persist()
    verts = sym.select(F.col("src").alias("v")).distinct()
    # self-loop rows keep a vertex's own label in the min() each round;
    # persisted too so the distinct isn't replayed once per iteration
    adj = sym.unionByName(
        verts.select(F.col("v").alias("src"), F.col("v").alias("dst"))
    ).persist()
    return verts, adj


def _propagation_round(adj: DataFrame, labels: DataFrame) -> DataFrame:
    """One hash-min round: label(v) ← min over N(v) ∪ {v} of prior labels.
    One equi-join + one min-aggregate."""
    return (
        adj.join(
            labels.select(F.col("v").alias("u"), "label"),
            F.col("dst") == F.col("u"),
        )
        .groupBy("src")
        .agg(F.min("label").alias("label"))
        .select(F.col("src").alias("v"), "label")
    )


def propagate_min_labels(
    pairs: DataFrame, iterations: int = CC_ITERATIONS
) -> DataFrame:
    """Fixed-round hash-min label propagation over an undirected pair list
    (columns doc_a, doc_b) → (v, label) with label = min vertex id within
    `iterations` hops. The bounded-hop primitive; `propagate_to_fixpoint`
    is the converged connected-components driver `dup_clusters` uses."""
    verts, adj = _edge_graph(pairs)
    labels = verts.select("v", F.col("v").alias("label"))
    for _ in range(iterations):
        labels = _propagation_round(adj, labels)
    return labels


def propagate_to_fixpoint(
    pairs: DataFrame, max_iterations: int = CC_MAX_ITERATIONS
) -> DataFrame:
    """Hash-min label propagation iterated to CONVERGENCE (a fixed
    3-round pass only labels components of diameter ≤ 3).

    Labels are monotone non-increasing (each round takes a min that
    includes the vertex's own prior label via the self-loop), so
    sum(label) strictly decreases until the fixpoint — one cheap 1-row
    aggregate per round is the convergence test, exactly the per-superstep
    "voteToHalt" check of a Pregel runtime. Each round's labels are
    materialized via eager `localCheckpoint`, which TRUNCATES LINEAGE:
    with persist alone the data is cached but the logical plan still nests
    every prior round, and each downstream action pays seconds of
    driver-side re-analysis of the N-round plan tree (measured 1.4 s on a
    519-row cached result) — the classic iterative-algorithm plan blowup.
    On a real cluster swap localCheckpoint for reliable `checkpoint` (a
    checkpoint dir survives executor loss); semantics are identical.
    Rounds needed = graph diameter (min labels travel one hop per round);
    `max_iterations` is a runaway backstop, not a semantic bound. At
    fixpoint label(v) = min vertex id of v's connected component."""
    verts, adj = _edge_graph(pairs)
    labels = verts.select("v", F.col("v").alias("label")).localCheckpoint()
    prev_sum = (labels.agg(F.sum("label").alias("s")).collect()[0]["s"]) or 0
    for _ in range(max_iterations):
        labels = _propagation_round(adj, labels).localCheckpoint()
        cur_sum = (labels.agg(F.sum("label").alias("s")).collect()[0]["s"]) or 0
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every LSH-near-duplicate doc to a cluster: hash-min label
    propagation over the symmetric pair graph iterated to convergence, so
    cluster_id = min doc_id of the full connected component regardless of
    its diameter. cluster_size = docs sharing it. Downstream, a curation
    pass keeps one representative (min doc_id) per cluster — exactly what
    `cluster_id == doc_id` selects. The pair stage is the session-cached
    LSH output (`dedup.minhash_lsh_cached`) shared with `dedup_survivors`.
    """
    pairs = minhash_lsh_cached(spark, sf_dir).select("doc_a", "doc_b")
    labels = propagate_to_fixpoint(pairs)
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("v").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


# Session-scoped cache of the converged cluster assignment (session_persist,
# same rationale as the dedup/similarity band caches): dup_clusters and
# dedup_survivors share the fixpoint-propagation result in one session.
def dup_clusters_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_persist(
        spark, f"dup_clusters:{sf_dir}",
        lambda: dup_clusters(spark, sf_dir),
    )


# Oracle: exact connected components via recursive reachability — reach(v)
# enumerates every vertex r reachable from v (UNION dedups, so the recursion
# terminates), and MIN(r) per v is the component-min label, which is exactly
# the fixpoint of hash-min propagation on a symmetric graph. No iteration
# count appears on either side, so the oracle can no longer mask an
# under-iterated Spark result (both sides would stop early together).
DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_LSH_SQL}) z
),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS v FROM sym),
reach(v, r) AS (
  SELECT v, v AS r FROM verts
  UNION
  SELECT s.src AS v, reach.r
  FROM sym s JOIN reach ON s.dst = reach.v
),
labels AS (SELECT v, MIN(r) AS label FROM reach GROUP BY v),
sizes AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM labels GROUP BY label
)
SELECT labels.v AS doc_id, labels.label AS cluster_id, sizes.cluster_size
FROM labels JOIN sizes ON labels.label = sizes.label
"""


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection — the decision step that completes the dedup
    pipeline (detect pairs → cluster → CHOOSE WHICH COPY TO KEEP → drop):
    per near-dup cluster, keep the LONGEST document (ties → smallest
    doc_id) via one max_by on a zero-padded (n_chars, inverted doc_id)
    sort key — content-aware survivorship, not the arbitrary min-id
    shortcut, because curation wants the most complete copy. One
    aggregate over cluster members + a join-back labels every doc with
    its survivor and a keep verdict; downstream the kept set is
    `WHERE keep`. The aggregate shuffles one candidate per (partition,
    cluster) — cluster count, not doc count, bounds it."""
    clusters = dup_clusters_cached(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = clusters.join(docs, "doc_id")
    # struct sort key (n_chars desc-tiebreak form): same winner as the
    # oracle's printf string key without a per-member string alloc
    key = F.struct(
        F.col("n_chars"),
        (F.lit(9_999_999_999) - F.col("doc_id")).alias("nk"),
    )
    survivors = (
        members.select("cluster_id", "doc_id", "n_chars", key.alias("k"))
        .groupBy("cluster_id")
        .agg(
            F.max_by("doc_id", "k").alias("survivor_doc"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
    return members.join(survivors, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "survivor_doc",
        (F.col("doc_id") == F.col("survivor_doc")).alias("keep"),
        "n_chars",
        "n_members",
    )


DEDUP_SURVIVORS_SQL = f"""
WITH members AS (
  SELECT c.doc_id, c.cluster_id, d.n_chars
  FROM ({DUP_CLUSTERS_SQL}) c JOIN documents d USING (doc_id)
),
surv AS (
  SELECT cluster_id,
         arg_max(doc_id, printf('%010d:%010d', n_chars,
                                9999999999 - doc_id)) AS survivor_doc,
         CAST(COUNT(*) AS BIGINT) AS n_members
  FROM members GROUP BY cluster_id
)
SELECT m.doc_id, m.cluster_id, s.survivor_doc,
       m.doc_id = s.survivor_doc AS keep,
       m.n_chars, s.n_members
FROM members m JOIN surv s ON m.cluster_id = s.cluster_id
"""


# ---------------------------------------------------------------------------
# bigram language-model score (KenLM-style quality-filter proxy)
# ---------------------------------------------------------------------------


def lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean log-probability under a corpus-wide bigram LM with
    add-one smoothing: avg over the doc's bigram occurrences of
    ln((c(w1,w2) + 1) / (c(w1) + V)). The perplexity-style filter a
    pretraining pipeline uses to drop incoherent text — docs scoring far
    below the corpus mean are gibberish relative to the corpus's own
    statistics.

    Plan: one bigram explode feeds BOTH the corpus counts and the per-doc
    scoring (Spark reuses the shuffle output of the (w1, w2) aggregate);
    context counts come from a window over w1 on that same aggregate — the
    scoring join is (doc bigrams) ⋈ (bigram stats) on the bigram key, the
    vocabulary scalar rides a broadcast 1-row join. At 100 TB the bigram
    stats table is the Zipf-skewed side: frequency-cap or broadcast its
    head (the top ~1e6 bigrams cover almost all occurrences) and let the
    tail default to the smoothing floor.
    """
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    base = d.select("doc_id", toks.alias("t")).filter(F.size("t") >= 2)
    big = base.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
    ).select(
        "doc_id",
        F.element_at("t", F.col("i")).alias("w1"),
        F.concat_ws(
            " ", F.element_at("t", F.col("i")), F.element_at("t", F.col("i") + 1)
        ).alias("bg"),
    )
    # corpus statistics: c2 per bigram, c1 per context (window over w1 on
    # the bigram aggregate — no second pass over the corpus)
    stats = (
        big.groupBy("w1", "bg")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .withColumn("c2", F.col("n_occ"))
        .withColumn("c1", F.sum("n_occ").over(Window.partitionBy("w1")))
    )
    vocab = d.select(F.explode(tokens(F.col("text"))).alias("tok")).agg(
        F.count_distinct("tok").alias("v")
    )
    # broadcast the STATS side explicitly: it is bounded by the distinct-
    # bigram count (Zipf: the head covers nearly all occurrences; cap or
    # sample it past ~1e6 entries at real scale), while `big` is the
    # exploded corpus (∝ total tokens). Left unhinted, Catalyst's
    # post-explode size estimate of `big` can sit under the broadcast
    # threshold and it builds-left — broadcasting the FACT side, which
    # inverts scaling locally (measured: lm_score 8.0 s at sf3 vs
    # 4.5 s at sf10) and would OOM a real cluster at 100 TB.
    scored = (
        big.join(F.broadcast(stats.select("bg", "c2", "c1")), "bg")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.col("c2") + 1).cast("double")
                / (F.col("c1") + F.col("v")).cast("double")
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        ftrunc(F.avg("lp"), 6).alias("lm_score"),
    )


LM_SCORE_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
big AS (
  SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i + 1] AS bg
  FROM base, LATERAL (SELECT unnest(range(1, len(t))) AS i)
),
stats AS (
  SELECT w1, bg, COUNT(*) AS c2 FROM big GROUP BY w1, bg
),
ctx AS (
  SELECT w1, bg, c2, SUM(c2) OVER (PARTITION BY w1) AS c1 FROM stats
),
vocab AS (
  SELECT COUNT(DISTINCT tok) AS v
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
),
scored AS (
  SELECT b.doc_id,
         ln(CAST(c.c2 + 1 AS DOUBLE) / CAST(c.c1 + vocab.v AS DOUBLE)) AS lp
  FROM big b JOIN ctx c ON b.bg = c.bg CROSS JOIN vocab
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       FLOOR(AVG(lp) * 1000000.0) / 1000000.0 AS lm_score
FROM scored GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# inverted index build (term → posting list, digest-verified)
# ---------------------------------------------------------------------------


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index construction: term → (df, total tf, posting digest).

    The full positional posting list IS built — `doc:pos1,pos2;doc2:...`,
    docs ascending, positions ascending — then reported as its md5 so the
    oracle verifies every byte of the index without hashing nested arrays.
    Two shuffles: (term, doc_id) then term — the standard index-build plan.
    At 100 TB the term key is Zipf-skewed; the production variant shards hot
    terms by doc-id range into segment files (same two-phase shape, key =
    (term, doc_shard)), which this plan reaches by adding one salt column.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "term")
    )
    per_doc = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"),
        F.concat_ws(
            ":",
            F.col("doc_id"),
            F.array_join(F.sort_array(F.collect_list("pos")), ","),
        ).alias("entry"),
    )
    return per_doc.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("tf_total"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "entry"))
                    ),
                    lambda x: x["entry"],
                ),
                ";",
            )
        ).alias("postings_md5"),
    )


INVERTED_INDEX_SQL = """
WITH tok AS (
  SELECT doc_id, i - 1 AS pos, toks[i] AS term
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)
),
per_doc AS (
  SELECT term, doc_id,
         CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(doc_id AS VARCHAR) || ':' ||
           string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS entry
  FROM tok GROUP BY term, doc_id
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS tf_total,
       md5(string_agg(entry, ';' ORDER BY doc_id)) AS postings_md5
FROM per_doc GROUP BY term
"""


def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE tokenizer training: count adjacent symbol
    pairs across the corpus and surface the top candidates for the next
    merge. Symbols here are characters within whitespace tokens (merge
    round 0); the winning pair is what a trainer would fuse before
    recounting. Shape: token explode → position explode (sequence over
    len-1) → substr(2) → two-phase hash aggregate → TakeOrdered top-20
    (count desc, pair asc — total order, deterministic). Map-side combine
    collapses each partition to its distinct pairs (≤ alphabet², tiny), so
    the shuffle is bounded by vocabulary, not corpus size — the reason
    BPE training scales to 100 TB as a sequence of aggregate jobs.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("t")).filter(
        F.length("t") >= 2
    )
    pairs = tok.select(
        F.explode(
            F.sequence(F.lit(1), F.length("t") - 1)
        ).alias("i"),
        "t",
    ).select(F.expr("substr(t, i, 2)").alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


BPE_PAIR_STATS_SQL = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
),
pairs AS (
  SELECT substr(t, CAST(i AS INTEGER), 2) AS pair
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM tok WHERE len(t) >= 2)
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 20
"""


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "join", "hash")


def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed query over the corpus — the
    scoring function behind lexical search and retrieval-based data
    curation (rank corpus docs by closeness to a benchmark/topic). The
    plan is two narrow scans (stats pass, scoring pass) + ONE broadcast:
    per-doc term frequencies come from `size(filter(tokens, t = q))` —
    higher-order array functions, codegen'd, no explode, no join per
    term — and the corpus statistics (N, Σdl, per-term document
    frequency) reduce to a single broadcast row (a production pipeline
    persists the stats row and scores in one pass). Per-term scores are separate columns added in FIXED left-to-right
    order (never a float SUM over a group, whose addition order is
    partition-dependent), so the double math is bit-reproducible across
    engines and cluster layouts. At 100 TB: stats row is daily-batch
    metadata; scoring is a narrow map over the corpus — embarrassingly
    parallel, zero shuffles after the stats broadcast."""
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    def _tf(term: str):
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf_cols = [_tf(t).alias(f"tf{i}") for i, t in enumerate(BM25_QUERY)]
    base = d.select("doc_id", *tf_cols, F.size(toks).alias("dl"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(BM25_QUERY))
        ],
    )
    joined = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl") / F.col("n_docs")
    k1p1 = BM25_K1 + 1.0

    def term_score(i: int):
        tf = F.col(f"tf{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        )
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl") / avgdl)
        )
        return idf * (tf * F.lit(k1p1)) / denom

    score = term_score(0) + term_score(1) + term_score(2)
    return (
        joined.select(
            "doc_id",
            "dl",
            *[F.col(f"tf{i}") for i in range(len(BM25_QUERY))],
            ftrunc(score, 4).alias("bm25"),
        )
        .filter(F.col("bm25") > 0)
    )


def _bm25_sql() -> str:
    tf_exprs = ",\n         ".join(
        f"CAST(len(list_filter(string_split(text, ' '), x -> x = '{t}')) "
        f"AS INTEGER) AS tf{i}"
        for i, t in enumerate(BM25_QUERY)
    )
    df_exprs = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(BM25_QUERY))
    )
    k1, b, k1p1 = BM25_K1, BM25_B, BM25_K1 + 1.0
    terms = " + ".join(
        f"(ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * {k1p1!r})"
        f" / (tf{i} + {k1!r} * ({1.0 - b!r} + {b!r} * (dl / (sum_dl / n_docs)))))"
        for i in range(len(BM25_QUERY))
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         {tf_exprs},
         CAST(len(string_split(text, ' ')) AS INTEGER) AS dl
  FROM documents
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl,
         {df_exprs}
  FROM base
)
SELECT doc_id, dl, tf0, tf1, tf2,
       {sql_ftrunc(f"({terms})", 4)} AS bm25
FROM base CROSS JOIN stats
WHERE {sql_ftrunc(f"({terms})", 4)} > 0
"""


BM25_RETRIEVAL_SQL = _bm25_sql()


PMI_MIN_COUNT = 5
PMI_TOP_K = 20
# Keep-exact-int64 threshold for PMI score fractions: well under 2^63-1
# (9.223e18) so the double-precision product comparison (rel. err < 4.5e-16)
# decides identically in Spark and DuckDB, and neither engine's exact int64
# product can overflow when the guard passes.
PMI_INT_SAFE = 9.0e18


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k collocations by pointwise mutual information — the phrase
    detector (word2vec-phrases / vocabulary induction) over the corpus.
    PMI = log(c_ab·Nu² / (Nb·c_a·c_b)) is MONOTONE in the rational
    c_ab·Nu² / (Nb·c_a·c_b). Ranking uses the IEEE-double ratio with the
    multiply/divide order mirrored exactly in the oracle (bit-identical
    cross-engine); the exact int64 numerator/denominator are emitted only
    when a guarded product provably fits in int64 (else NULL), so the query
    cannot silently wrap at corpus scales where Nu² · c_ab exceeds 2⁶³.
    One bigram explode feeds BOTH the pair counts and (via
    the unigram stream) the word counts — two hash aggregates + two
    broadcast-joins of count dictionaries, then TakeOrdered top-k on the
    exact fraction (cross-engine identical double only for the final
    displayed ratio). Min-count 5 kills the hapax noise PMI is infamous
    for."""
    d = table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    unigrams = base.select(F.explode("t").alias("w"))
    uni_counts = unigrams.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    n_uni = unigrams.agg(F.count(F.lit(1)).alias("nu"))
    bigrams = base.select(
        "t", F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i")
    ).select(
        F.element_at("t", F.col("i")).alias("a"),
        F.element_at("t", F.col("i") + 1).alias("b"),
    )
    bg_counts = (
        bigrams.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= PMI_MIN_COUNT)
    )
    n_bg = bigrams.agg(F.count(F.lit(1)).alias("nb"))
    scored = (
        bg_counts.join(F.broadcast(uni_counts.withColumnRenamed("w", "a")
                                   .withColumnRenamed("cw", "ca")), "a")
        .join(F.broadcast(uni_counts.withColumnRenamed("w", "b")
                          .withColumnRenamed("cw", "cb")), "b")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bg))
        .select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            "cab",
            # Rank by the IEEE-double ratio (identical mult/div order in the
            # oracle → bit-identical cross-engine); keep the exact int64
            # fraction only when it provably fits (cab·nu² can
            # overflow int64 at larger corpora — Spark wraps silently while
            # DuckDB errors, an asymmetric parity break). PMI_INT_SAFE has a
            # >200-ulp margin below 2^63-1, so the double-vs-int comparison
            # can never disagree across engines.
            ((F.col("cab").cast("double") * F.col("nu")) * F.col("nu"))
            .alias("num_d"),
            ((F.col("nb").cast("double") * F.col("ca")) * F.col("cb"))
            .alias("den_d"),
            F.when(
                (F.col("cab").cast("double") * F.col("nu")) * F.col("nu")
                < F.lit(PMI_INT_SAFE),
                F.col("cab") * F.col("nu") * F.col("nu"),
            ).cast("long").alias("score_num"),
            F.when(
                (F.col("nb").cast("double") * F.col("ca")) * F.col("cb")
                < F.lit(PMI_INT_SAFE),
                F.col("nb") * F.col("ca") * F.col("cb"),
            ).cast("long").alias("score_den"),
        )
    )
    ratio = F.col("num_d") / F.col("den_d")
    return (
        scored.orderBy(ratio.desc(), F.col("bigram").asc())
        .limit(PMI_TOP_K)
        .select("bigram", "cab", "score_num", "score_den",
                ftrunc(ratio, 6).alias("pmi_ratio"))
    )


PMI_COLLOCATIONS_SQL = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
unigrams AS (
  SELECT unnest(t) AS w FROM base
),
uni_counts AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM unigrams GROUP BY w
),
n_uni AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM unigrams),
bigrams AS (
  SELECT t[i] AS a, t[i + 1] AS b
  FROM base, LATERAL (SELECT unnest(range(1, len(t))) AS i)
),
bg_counts AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab
  FROM bigrams GROUP BY a, b
  HAVING COUNT(*) >= {PMI_MIN_COUNT}
),
n_bg AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bigrams),
scored AS (
  SELECT g.a || ' ' || g.b AS bigram, g.cab,
         (CAST(g.cab AS DOUBLE) * nu) * nu AS num_d,
         (CAST(nb AS DOUBLE) * ua.cw) * ub.cw AS den_d,
         CAST(CASE WHEN (CAST(g.cab AS DOUBLE) * nu) * nu < {PMI_INT_SAFE!r}
                   THEN g.cab * nu * nu END AS BIGINT) AS score_num,
         CAST(CASE WHEN (CAST(nb AS DOUBLE) * ua.cw) * ub.cw < {PMI_INT_SAFE!r}
                   THEN nb * ua.cw * ub.cw END AS BIGINT) AS score_den
  FROM bg_counts g
  JOIN uni_counts ua ON g.a = ua.w
  JOIN uni_counts ub ON g.b = ub.w
  CROSS JOIN n_uni CROSS JOIN n_bg
)
SELECT bigram, cab, score_num, score_den,
       {sql_ftrunc("(num_d / den_d)", 6)} AS pmi_ratio
FROM scored
ORDER BY num_d / den_d DESC, bigram ASC
LIMIT {PMI_TOP_K}
"""


def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing: per language, split documents into
    head / middle / tail thirds by their LM score (the public CCNet
    recipe — train on head+middle, inspect or drop tail). Ranks use the
    TRUNCATED lm_score (the operator's own oracle-stable output) with a
    doc_id tie-break, and the third-cuts are pure integer comparisons
    (rn·3 vs n), so bucket assignment is exact on both engines — no
    percentile interpolation, no float cut points. One rank window per
    language over the per-doc score table; the LM pipeline itself is
    `lm_score`'s (already shared/oracled) bigram plan. Summary per
    (lang, bucket): doc count and the score band."""
    scores = lm_score(spark, sf_dir).select("doc_id", "lm_score")
    langs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    s = scores.join(langs, "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("lm_score").desc(), F.col("doc_id").asc()
    )
    ranked = s.select(
        "lang", "lm_score",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    bucket = (
        F.when(F.col("rn") * 3 <= F.col("n"), "head")
        .when(F.col("rn") * 3 <= F.col("n") * 2, "middle")
        .otherwise("tail")
    )
    return (
        ranked.select("lang", bucket.alias("bucket"), "lm_score")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("lm_score").alias("best_score"),
            F.min("lm_score").alias("worst_score"),
        )
    )


CCNET_BUCKETS_SQL = f"""
WITH scores AS (
  SELECT doc_id, lm_score FROM ({LM_SCORE_SQL}) z
),
ranked AS (
  SELECT d.lang, s.lm_score,
         ROW_NUMBER() OVER (PARTITION BY d.lang
                            ORDER BY s.lm_score DESC, s.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY d.lang) AS n
  FROM scores s JOIN documents d USING (doc_id)
),
bucketed AS (
  SELECT lang,
         CASE WHEN rn * 3 <= n THEN 'head'
              WHEN rn * 3 <= n * 2 THEN 'middle'
              ELSE 'tail' END AS bucket,
         lm_score
  FROM ranked
)
SELECT lang, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MAX(lm_score) AS best_score,
       MIN(lm_score) AS worst_score
FROM bucketed GROUP BY lang, bucket
"""


HASH_DIM = 1024  # feature-hashing target dimensionality


def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick — fixed-dimensional sparse bag-of-words without a
    vocabulary: every token maps to bucket md5(token) % 1024, per-doc
    bucket counts ARE the feature vector. No dictionary build, no
    broadcast, no OOV problem — which is why it's the vectorizer that
    survives streaming and 100 TB corpora (Vowpal Wabbit / scikit
    HashingVectorizer lineage). One explode + one (doc, bucket) hash
    aggregate; the per-doc summary (non-zeros, L1, exact L2², heaviest
    bucket) is what the oracle checks — a production pipeline writes the
    (doc, bucket, count) triples themselves as the sparse matrix.
    Collisions are the accepted trade (1024 buckets × ~200-token vocab
    here ≈ rare); integer counts keep every statistic exact."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    buckets = toks.select(
        "doc_id",
        (md5_long(F.concat(F.lit("fh:"), F.col("tok"))) % HASH_DIM).alias(
            "bucket"
        ),
    )
    per_bucket = buckets.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    # struct key: (count, bucket-asc tiebreak): no per-bucket string
    key = F.struct(F.col("c"), (F.lit(10**9) - F.col("bucket")).alias("nb"))
    return per_bucket.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nnz"),
        F.sum("c").alias("l1"),
        F.sum(F.col("c") * F.col("c")).alias("l2_sq"),
        F.max_by("bucket", key).alias("top_bucket"),
        F.max("c").alias("top_count"),
    )


FEATURE_HASHING_SQL = f"""
WITH buckets AS (
  SELECT doc_id,
         {sql_md5_long("'fh:' || tok")} % {HASH_DIM} AS bucket
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
),
per_bucket AS (
  SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM buckets GROUP BY doc_id, bucket
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS nnz,
       CAST(SUM(c) AS BIGINT) AS l1,
       CAST(SUM(c * c) AS BIGINT) AS l2_sq,
       arg_max(bucket, printf('%010d:%010d', c, 1000000000 - bucket))
           AS top_bucket,
       CAST(MAX(c) AS BIGINT) AS top_count
FROM per_bucket GROUP BY doc_id
"""


QUERIES: dict[str, QuerySpec] = {
    "feature_hashing": QuerySpec(
        feature_hashing,
        FEATURE_HASHING_SQL,
        "hashing-trick sparse vectorizer, per-doc exact sparse stats",
    ),
    "bm25_retrieval": QuerySpec(
        bm25_retrieval,
        BM25_RETRIEVAL_SQL,
        "BM25 lexical retrieval: higher-order-function TFs, one stats broadcast",
    ),
    "pmi_collocations": QuerySpec(
        pmi_collocations,
        PMI_COLLOCATIONS_SQL,
        "integer-exact PMI collocation top-k from one bigram explode",
    ),
    "bpe_pair_stats": QuerySpec(
        bpe_pair_stats,
        BPE_PAIR_STATS_SQL,
        "BPE merge-pair counting: explode→substr→bounded hash aggregate",
    ),
    "lm_score": QuerySpec(
        lm_score,
        LM_SCORE_SQL,
        "bigram-LM mean log-prob per doc (add-one smoothing)",
    ),
    "ccnet_buckets": QuerySpec(
        ccnet_buckets, CCNET_BUCKETS_SQL,
        "CCNet head/middle/tail thirds per language by LM score",
    ),
    "inverted_index": QuerySpec(
        inverted_index,
        INVERTED_INDEX_SQL,
        "positional inverted index, md5-digest-verified postings",
    ),
    "tfidf_top_terms": QuerySpec(
        tfidf_top_terms,
        TFIDF_TOP_TERMS_SQL,
        "top-3 TF-IDF terms per doc; integer-only ranking",
    ),
    "repetition_ratio": QuerySpec(
        repetition_ratio,
        REPETITION_RATIO_SQL,
        "Gopher-style repetition quality metrics per doc",
    ),
    "stratified_sample": QuerySpec(
        stratified_sample,
        STRATIFIED_SAMPLE_SQL,
        "per-language deterministic hash sample, mixing report",
    ),
    "dedup_survivors": QuerySpec(
        dedup_survivors,
        DEDUP_SURVIVORS_SQL,
        "content-aware survivor per near-dup cluster (keep longest)",
    ),
    "dup_clusters": QuerySpec(
        dup_clusters_cached,
        DUP_CLUSTERS_SQL,
        "connected components (3-iter hash-min) over LSH near-dup pairs",
    ),
}
