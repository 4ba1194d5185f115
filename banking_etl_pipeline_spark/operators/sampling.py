"""Deterministic sampling, dataset splitting, chunking, and heavy hitters —
the corpus-engineering operators a training-data pipeline runs between
curation (operators/text.py) and dedup (operators/dedup.py).

Everything is driven by the cross-engine md5 hash (functions/hashing.py), so
sampling and split assignment are (a) reproducible run-to-run, (b) identical
on Spark and the DuckDB oracle, and (c) stable under repartitioning — unlike
`df.sample()`, whose output depends on partition layout and so cannot be
oracle-checked or reproduced across cluster sizes.

Scale notes:
- hash-sample / split-assign are narrow per-row maps — zero shuffles; the
  split report adds one 3-group aggregate (partial map-side combine first).
- chunking explodes each doc to ceil(len/stride) rows but stays narrow
  (no shuffle); output row width is bounded by CHUNK_CHARS so downstream
  partition sizing is predictable at 100 TB.
- heavy hitters = explode → two-phase hash aggregate (map-side partial
  combine collapses each partition to its distinct tokens before the
  shuffle) → TakeOrdered top-k (per-partition heap + driver merge of k
  rows — never a full sort of the token counts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import md5_long, sql_md5_long
from ..functions.numeric import cents
from ..spec import QuerySpec

SAMPLE_PCT = 5          # hash-sample keeps buckets 0..4 of 100
TRAIN_PCT = 80          # train/val/test = 80/10/10
VAL_PCT = 10
CHUNK_CHARS = 600       # chunk window (chars)
CHUNK_STRIDE = 400      # window start spacing (< CHUNK_CHARS → 200-char overlap)
HEAVY_HITTERS_K = 50


# ---------------------------------------------------------------------------
# deterministic hash sample
# ---------------------------------------------------------------------------


def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~5% row sample of lineitem, keyed on the (orderkey, linenumber) PK.

    The bucket expression is computed per row and never re-seeded, so the
    sample is a stable row property: re-running at any parallelism, or on a
    re-partitioned copy of the table, selects exactly the same rows.
    """
    li = table(spark, sf_dir, "lineitem")
    key = F.concat_ws(":", F.col("l_orderkey"), F.col("l_linenumber"))
    return li.filter(md5_long(key) % 100 < SAMPLE_PCT).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


_SQL_LI_KEY = "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"

SAMPLE_HASH_SQL = f"""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE {sql_md5_long(_SQL_LI_KEY)} % 100 < {SAMPLE_PCT}
"""


# ---------------------------------------------------------------------------
# train / val / test split
# ---------------------------------------------------------------------------


def _split_col(seeded_key: Column) -> Column:
    bucket = md5_long(seeded_key) % 100
    return (
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to train/val/test by hashed doc_id and report
    per-split volume (docs, chars, whitespace tokens). The assignment column
    is what a real pipeline writes out; the report is the oracle-checkable
    summary of it."""
    d = table(spark, sf_dir, "documents")
    assigned = d.select(
        _split_col(F.concat(F.lit("split:"), F.col("doc_id"))).alias("split"),
        "n_chars",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
    )


TRAIN_VAL_TEST_SPLIT_SQL = f"""
WITH assigned AS (
  SELECT CASE
           WHEN {sql_md5_long("'split:' || CAST(doc_id AS VARCHAR)")} % 100
                < {TRAIN_PCT} THEN 'train'
           WHEN {sql_md5_long("'split:' || CAST(doc_id AS VARCHAR)")} % 100
                < {TRAIN_PCT + VAL_PCT} THEN 'val'
           ELSE 'test'
         END AS split,
         n_chars,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
  FROM documents
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM assigned
GROUP BY split
"""


# ---------------------------------------------------------------------------
# overlapping document chunking
# ---------------------------------------------------------------------------


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slice each document into CHUNK_CHARS-char windows every CHUNK_STRIDE
    chars (200-char overlap — the standard RAG/embedding chunker). Pure
    sequence+explode+substr column algebra: narrow, no shuffle, no UDF;
    empty docs produce an empty start sequence and vanish from both engines
    identically."""
    d = table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(0), F.length("text") - 1, F.lit(CHUNK_STRIDE)
    )
    exploded = d.select(
        "doc_id", "text", F.explode(starts).alias("start")
    )
    chunk = F.col("text").substr(F.col("start") + 1, F.lit(CHUNK_CHARS))
    return exploded.select(
        "doc_id",
        F.floor(F.col("start") / CHUNK_STRIDE).alias("chunk_id"),
        F.col("start").alias("chunk_start"),
        F.length(chunk).alias("chunk_len"),
        md5_long(chunk).alias("chunk_hash"),
    )


DOC_CHUNKING_SQL = f"""
WITH exploded AS (
  SELECT doc_id,
         unnest(generate_series(0, length(text) - 1, {CHUNK_STRIDE})) AS start,
         text
  FROM documents
),
chunks AS (
  SELECT doc_id, start, substr(text, start + 1, {CHUNK_CHARS}) AS chunk
  FROM exploded
)
SELECT doc_id,
       CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(start AS INTEGER) AS chunk_start,
       CAST(length(chunk) AS INTEGER) AS chunk_len,
       {sql_md5_long("chunk")} AS chunk_hash
FROM chunks
"""


# ---------------------------------------------------------------------------
# exact heavy hitters (frequent tokens)
# ---------------------------------------------------------------------------


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most frequent whitespace tokens across the corpus, exact.
    Ties broken by token string so the top-k cut is deterministic.
    Rides the session-persisted shared token-frequency table, the
    aggregate cms_topk builds too: sharing it explicitly is deterministic,
    where Spark's CacheManager substituted cms's cache only when cms ran
    first."""
    from .skew import token_frequencies

    return (
        token_frequencies(spark, sf_dir)
        .select("token", F.col("exact_n").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(HEAVY_HITTERS_K)
    )


HEAVY_HITTERS_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM toks
GROUP BY token
ORDER BY cnt DESC, token ASC
LIMIT {HEAVY_HITTERS_K}
"""


# ---------------------------------------------------------------------------
# sequence packing (concat-then-split into fixed-token training sequences)
# ---------------------------------------------------------------------------

SEQ_LEN = 2048  # tokens per packed training sequence


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate each language's documents in
    doc_id order into one token stream, then split the stream into
    SEQ_LEN-token training sequences. Per doc: which sequence it starts and
    ends in, and its offset in the stream — everything integer, from ONE
    running-sum window per language (a single hash-partition shuffle on
    lang; at 100 TB the partition key becomes (lang, stream_shard) with
    per-shard streams, same plan shape). Token counts are BPE-ish pre-token
    counts (operators/text.py BPE_PATTERN).
    """
    from .text import BPE_PATTERN

    d = table(spark, sf_dir, "documents")
    n_tok = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
    ).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = d.select("lang", "doc_id", n_tok.alias("n_tokens"))
    cum = base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    start_off = F.col("cum_tokens") - F.col("n_tokens")
    return cum.filter(F.col("n_tokens") > 0).select(
        "lang",
        "doc_id",
        "n_tokens",
        start_off.alias("stream_offset"),
        F.floor(start_off / SEQ_LEN).alias("start_seq"),
        F.floor((F.col("cum_tokens") - 1) / SEQ_LEN).alias("end_seq"),
        (start_off % SEQ_LEN).alias("offset_in_seq"),
    )


def _pack_sql() -> str:
    from .text import BPE_PATTERN

    return f"""
WITH base AS (
  SELECT lang, doc_id,
         CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT)
             AS n_tokens
  FROM documents
),
cum AS (
  SELECT lang, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum_tokens
  FROM base
)
SELECT lang, doc_id, n_tokens,
       CAST(cum_tokens - n_tokens AS BIGINT) AS stream_offset,
       CAST((cum_tokens - n_tokens) // {SEQ_LEN} AS BIGINT) AS start_seq,
       CAST((cum_tokens - 1) // {SEQ_LEN} AS BIGINT) AS end_seq,
       CAST((cum_tokens - n_tokens) % {SEQ_LEN} AS BIGINT) AS offset_in_seq
FROM cum WHERE n_tokens > 0
"""


PACK_SEQUENCES_SQL = _pack_sql()


def pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size Poisson sampling of orders — the
    survey-sampling primitive behind importance-weighted corpus mixing:
    each order is kept independently with p_i = totalprice_cents / 10^7
    (bigger orders sampled more), and a Horvitz–Thompson weight 1/p_i
    makes the sample unbiased for population totals.

    Everything is INTEGER arithmetic so both engines agree exactly:
    uniform draw u = md5(orderkey) mod 10^6; keep iff u·10 < cents;
    HT weight in micro-units = 10^13 div cents (exact int64 division,
    summed as int64). Per priority class: population count, sample count,
    and the HT population estimate — the report that shows the estimator
    works. Shuffle-free sampling (scan→filter), one tiny aggregate;
    deterministic under any repartitioning, unlike `df.sample`.
    """
    o = table(spark, sf_dir, "orders")
    c = cents(F.col("o_totalprice"))
    u = md5_long(F.col("o_orderkey").cast("string")) % F.lit(1_000_000)
    kept = o.select(
        "o_orderpriority",
        c.alias("c"),
        (u * 10 < c).cast("long").alias("keep"),
        # p_i caps at 1 for cents ≥ 10^7 — HT weight caps at 1 (10^6 micro)
        F.expr(
            f"CASE WHEN {_CENTS_EXPR_SPARK} >= 10000000 THEN 1000000 "
            f"ELSE {10**13} div {_CENTS_EXPR_SPARK} END"
        ).alias("w_micro"),
    )
    return kept.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_pop"),
        F.sum("keep").alias("n_sampled"),
        F.sum(F.when(F.col("keep") == 1, F.col("w_micro")).otherwise(0))
        .alias("ht_estimate_micro"),
    )


_CENTS_EXPR_SPARK = (
    "CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)"
)

PPS_SAMPLE_SQL = f"""
WITH draw AS (
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c,
         (CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
               AS BIGINT) % 1000000) AS u
  FROM orders
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_pop,
       CAST(SUM(CASE WHEN u * 10 < c THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sampled,
       CAST(SUM(CASE WHEN u * 10 < c THEN
                   CASE WHEN c >= 10000000 THEN 1000000 ELSE {10**13} // c END
                 ELSE 0 END)
            AS BIGINT) AS ht_estimate_micro
FROM draw
GROUP BY o_orderpriority
"""


RATE_CAP_PER_DAY = 3


def rate_limit_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key-per-window cap (N events per user per day) — the
    throttling/downsampling primitive that tames chatty keys before they
    dominate a training mix or a downstream quota (the per-key analog of
    `stratified_sample`'s per-language rates). Deterministic: rank within
    (user, day) by (ts, event_id) and keep rank ≤ 3 — first-N-wins, so
    re-runs and replays keep identical rows, unlike reservoir/random
    sampling. One shuffle on (user, day); the window state is the rank
    counter, and at 100 TB the cap bounds every group's OUTPUT while the
    sort is bounded by the day bucket — skew-proof by construction."""
    e = table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    ranked = e.select(
        "event_id", "user_id", day.alias("day"), "ts"
    ).withColumn("rn", F.row_number().over(
        Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    ))
    return ranked.filter(F.col("rn") <= RATE_CAP_PER_DAY).select(
        "event_id", "user_id", "day", "rn"
    )


RATE_LIMIT_SAMPLE_SQL = f"""
WITH ranked AS (
  SELECT event_id, user_id, CAST(ts AS DATE) AS day,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT event_id, user_id, day, CAST(rn AS INTEGER) AS rn
FROM ranked WHERE rn <= {RATE_CAP_PER_DAY}
"""


WS_TOP_K = 100
_U_SCALE = float(1 << 60)  # md5_long is 60-bit; (h+1)/2^60 ∈ (0, 1], exact


def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–Spirakis
    exponential-key scheme: each doc draws a deterministic uniform
    u = (md5+1)/2^60 (division by a power of two — the double is exact)
    and ranks by key = ln(u)/w; the top-k keys ARE a weighted
    without-replacement sample. This is the one-pass distributed answer
    to a problem reservoir sampling solves sequentially: keys are a pure
    row property, so the plan is scan → TakeOrdered (per-partition k-heap,
    k rows to the driver, mergeable across shards) with no shuffle of the
    data itself — and unlike an actual reservoir, the result is identical
    under any partitioning and replay (PPS/Poisson sampling in
    `pps_sample` is the with-replacement/expected-size counterpart).
    Weight = n_chars: longer docs proportionally likelier, the standard
    size-biased curation draw."""
    d = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        md5_long(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))) + 1
    ) / F.lit(_U_SCALE)
    key = F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", F.col("n_chars").alias("w"), key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
        .limit(WS_TOP_K)
        .select(
            "doc_id", "w",
            (F.floor(F.col("es_key") * F.lit(1e9)) / F.lit(1e9))
            .alias("es_key_trunc"),
        )
    )


WEIGHTED_SAMPLE_TOPK_SQL = f"""
WITH keyed AS (
  SELECT doc_id, n_chars AS w,
         ln(({sql_md5_long("'ws:' || CAST(doc_id AS VARCHAR)")} + 1)
            / {_U_SCALE!r}) / n_chars AS es_key
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, w,
       FLOOR(es_key * 1000000000.0) / 1000000000.0 AS es_key_trunc
FROM keyed
ORDER BY es_key DESC, doc_id ASC
LIMIT {WS_TOP_K}
"""


MIX_WEIGHTS_BP = {"en": 4000, "de": 2000, "es": 2000, "fr": 2000}
MIX_BUDGET_DIV = 2  # budget = total corpus tokens div 2


def _mix_weight() -> Column:
    w = None
    for lang, bp in MIX_WEIGHTS_BP.items():
        cond = F.col("lang") == lang
        w = F.when(cond, bp) if w is None else w.when(cond, bp)
    return w.otherwise(F.lit(0)).cast("long")


def mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing allocation planner: split a token budget across language
    strata by target weights, capped by each stratum's availability —
    the plan a pre-training mixture job executes before sampling.

    Water-filling in three deterministic integer rounds: (1) proportional
    ask capped at availability, (2) the leftover re-split across
    UNSATURATED strata by their weights, (3) the final residue handed to
    the stratum with the most remaining capacity (tie → lang ascending).
    Every product uses the split form `(a div m)·w + ((a mod m)·w) div m`
    = exact floor(a·w/m) without ever forming a·w — at 100 TB budgets
    (B ~ 10^15 tokens) the naive product overflows int64 silently in
    Spark while DuckDB errors, so the two engines would fail differently
    on the same input (the same hazard as PMI's product). Everything after
    the per-stratum aggregate is ≤|langs| rows of integer algebra."""
    d = table(spark, sf_dir, "documents")
    avail = (
        d.select("lang", F.size(F.split(F.col("text"), " ")).alias("t"))
        .groupBy("lang")
        .agg(F.sum("t").alias("avail"))
        .select("lang", "avail", _mix_weight().alias("w"))
    )
    tot = avail.agg(
        F.expr(f"sum(avail) div {MIX_BUDGET_DIV}").alias("budget"),
    )

    def _mul_div(a: str, w: str, m) -> str:
        # exact floor(a*w/m) without forming a*w (int64 overflow guard)
        return f"(({a} div {m}) * {w} + (({a} % {m}) * {w}) div {m})"

    s1 = avail.crossJoin(F.broadcast(tot)).selectExpr(
        "lang", "avail", "w", "budget",
        f"least(avail, {_mul_div('budget', 'w', 10000)}) AS a1",
    )
    agg1 = s1.selectExpr(
        "a1", "CASE WHEN a1 < avail THEN w ELSE 0 END AS uw"
    ).agg(
        F.sum("a1").alias("sum1"), F.sum("uw").alias("unsat_w")
    )
    s2 = s1.crossJoin(F.broadcast(agg1)).selectExpr(
        "lang", "avail", "w", "budget",
        "a1",
        "budget - sum1 AS l1",
        "unsat_w",
    ).selectExpr(
        "lang", "avail", "w", "budget",
        "a1 + CASE WHEN a1 < avail AND unsat_w > 0 THEN"
        f" least(avail - a1, {_mul_div('l1', 'w', 'unsat_w')})"
        " ELSE 0 END AS a2",
    )
    agg2 = s2.agg(F.sum("a2").alias("sum2"))
    ranked = s2.crossJoin(F.broadcast(agg2)).withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy((F.col("avail") - F.col("a2")).desc(),
                           F.col("lang").asc())
        ),
    )
    return ranked.selectExpr(
        "lang", "avail AS avail_tokens", "w AS weight_bp",
        "a2 + CASE WHEN rn = 1 THEN least(budget - sum2, avail - a2)"
        " ELSE 0 END AS allocated_tokens",
    ).selectExpr(
        "lang", "avail_tokens", "weight_bp", "allocated_tokens",
        "allocated_tokens = avail_tokens AS saturated",
        # 1e6, not 1000000.0: Spark's SQL parser types a dotted literal as
        # DECIMAL, which would silently flip fill_ratio's column type
        "FLOOR(CAST(allocated_tokens AS DOUBLE) / avail_tokens * 1e6)"
        " / 1e6 AS fill_ratio",
    )


def _mixture_plan_sql() -> str:
    w_case = " ".join(
        f"WHEN lang = '{lang}' THEN {bp}"
        for lang, bp in MIX_WEIGHTS_BP.items()
    )

    def md(a: str, w: str, m) -> str:
        return f"(({a} // {m}) * {w} + (({a} % {m}) * {w}) // {m})"

    return f"""
WITH avail AS (
  SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail,
         CAST(CASE {w_case} ELSE 0 END AS BIGINT) AS w
  FROM documents GROUP BY lang
),
tot AS (SELECT SUM(avail) // {MIX_BUDGET_DIV} AS budget FROM avail),
s1 AS (
  SELECT lang, avail, w, budget,
         least(avail, {md('budget', 'w', 10000)}) AS a1
  FROM avail CROSS JOIN tot
),
agg1 AS (
  SELECT SUM(a1) AS sum1,
         SUM(CASE WHEN a1 < avail THEN w ELSE 0 END) AS unsat_w
  FROM s1
),
s2 AS (
  SELECT lang, avail, w, budget,
         a1 + CASE WHEN a1 < avail AND unsat_w > 0
                   THEN least(avail - a1,
                              {md('(budget - sum1)', 'w', 'unsat_w')})
                   ELSE 0 END AS a2
  FROM s1 CROSS JOIN agg1
),
agg2 AS (SELECT SUM(a2) AS sum2 FROM s2),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY avail - a2 DESC, lang ASC) AS rn
  FROM s2 CROSS JOIN agg2
),
final AS (
  SELECT lang, avail AS avail_tokens, w AS weight_bp,
         a2 + CASE WHEN rn = 1 THEN least(budget - sum2, avail - a2)
                   ELSE 0 END AS allocated_tokens
  FROM ranked
)
SELECT lang, avail_tokens, weight_bp,
       CAST(allocated_tokens AS BIGINT) AS allocated_tokens,
       allocated_tokens = avail_tokens AS saturated,
       FLOOR(CAST(allocated_tokens AS DOUBLE) / avail_tokens * 1000000.0)
         / 1000000.0 AS fill_ratio
FROM final
"""


MIXTURE_PLAN_SQL = _mixture_plan_sql()


def user_level_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-aware train/val/test split: assignment hashes the USER, not
    the event — the split every per-user model evaluation needs, because
    event-level splitting puts the same user's history on both sides and
    the eval score silently measures memorization. md5-deterministic
    (replayable, partition-independent, like `train_val_test_split`'s
    row-level counterpart). The report proves the property the split
    exists for: per split, event count, DISTINCT user count, and the
    user-overlap count with the other splits — pinned to zero by
    construction (each user hashes to exactly one split) and verified by
    the oracle replay."""
    e = table(spark, sf_dir, "events")
    bucket = md5_long(
        F.concat(F.lit("usplit:"), F.col("user_id").cast("string"))
    ) % 100
    split = (
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    assigned = e.select("user_id", "event_id", split.alias("split"))
    per_split = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    # overlap proof: users appearing in >1 split (zero by construction)
    overlap = (
        assigned.select("user_id", "split").distinct()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .agg(F.count(F.lit(1)).alias("leaky_users"))
    )
    return per_split.crossJoin(F.broadcast(overlap))


USER_LEVEL_SPLIT_SQL = f"""
WITH assigned AS (
  SELECT user_id, event_id,
         CASE WHEN {sql_md5_long("'usplit:' || CAST(user_id AS VARCHAR)")}
                   % 100 < {TRAIN_PCT} THEN 'train'
              WHEN {sql_md5_long("'usplit:' || CAST(user_id AS VARCHAR)")}
                   % 100 < {TRAIN_PCT + VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM events
),
per_split AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM assigned GROUP BY split
),
overlap AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS leaky_users FROM (
    SELECT user_id FROM (SELECT DISTINCT user_id, split FROM assigned)
    GROUP BY user_id HAVING COUNT(*) > 1
  )
)
SELECT p.split, p.n_events, p.n_users, o.leaky_users
FROM per_split p CROSS JOIN overlap o
"""


SHUFFLE_BATCHES = 64
_HASH_SPACE = 1 << 60  # md5_long range


def training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The global pre-training shuffle as a pure hash property: every doc
    gets a deterministic shuffle position (md5) and batch id = position
    div (hash-space / N), so the "shuffled" order exists WITHOUT a global
    sort — at 100 TB you `repartitionByRange(shuffle_pos)` +
    sortWithinPartitions and each output range IS a training batch, the
    dataloader-prep step that breaks corpus ordering correlations
    (source/time locality) before sequence packing. Hash uniformity makes
    batch sizes concentrate tightly around n/N (the report shows the
    spread); determinism makes the epoch replayable across cluster sizes
    and restarts, which `ORDER BY rand()` never is. Report per batch:
    doc count and exact token count — the balance check a training run
    does before trusting the shard layout."""
    d = table(spark, sf_dir, "documents")
    pos = md5_long(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    assigned = d.select(
        F.size(F.split(F.col("text"), " ")).alias("nt"),
        pos.alias("p"),
    ).select(
        "nt",
        F.least(
            F.expr(f"p div {_HASH_SPACE // SHUFFLE_BATCHES}"),
            F.lit(SHUFFLE_BATCHES - 1),
        ).alias("batch_id"),
    )
    return assigned.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("n_tokens"),
    )


TRAINING_SHUFFLE_SQL = f"""
WITH assigned AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
         least({sql_md5_long("'shuf:' || CAST(doc_id AS VARCHAR)")}
                 // {_HASH_SPACE // SHUFFLE_BATCHES},
               {SHUFFLE_BATCHES - 1}) AS batch_id
  FROM documents
)
SELECT batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens
FROM assigned GROUP BY batch_id
"""


QUERIES: dict[str, QuerySpec] = {
    "training_shuffle": QuerySpec(
        training_shuffle, TRAINING_SHUFFLE_SQL,
        "deterministic hash global shuffle into balanced training batches",
    ),
    "user_level_split": QuerySpec(
        user_level_split, USER_LEVEL_SPLIT_SQL,
        "user-hashed train/val/test split with zero-overlap proof",
    ),
    "mixture_plan": QuerySpec(
        mixture_plan, MIXTURE_PLAN_SQL,
        "integer water-filling token-budget allocation across languages",
    ),
    "weighted_sample_topk": QuerySpec(
        weighted_sample_topk, WEIGHTED_SAMPLE_TOPK_SQL,
        "Efraimidis-Spirakis weighted without-replacement top-k sample",
    ),
    "rate_limit_sample": QuerySpec(
        rate_limit_sample,
        RATE_LIMIT_SAMPLE_SQL,
        "deterministic first-N-per-key-per-day throttling sampler",
    ),
    "pps_sample": QuerySpec(
        pps_sample, PPS_SAMPLE_SQL,
        "weighted Poisson sample + integer Horvitz-Thompson estimate",
    ),
    "pack_sequences": QuerySpec(
        pack_sequences, PACK_SEQUENCES_SQL,
        "concat-then-split fixed-token sequence packing",
    ),
    "sample_hash": QuerySpec(
        sample_hash, SAMPLE_HASH_SQL,
        "deterministic md5-bucket row sample",
    ),
    "train_val_test_split": QuerySpec(
        train_val_test_split, TRAIN_VAL_TEST_SPLIT_SQL,
        "hash-assigned 80/10/10 split with volume report",
    ),
    "doc_chunking": QuerySpec(
        doc_chunking, DOC_CHUNKING_SQL,
        "overlapping fixed-window document chunker",
    ),
    "heavy_hitters": QuerySpec(
        heavy_hitters, HEAVY_HITTERS_SQL,
        "exact top-k frequent tokens",
    ),
}
