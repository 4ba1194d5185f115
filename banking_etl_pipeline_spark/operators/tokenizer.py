"""Tokenizer-training tier over the `documents` corpus
(registered in `registry.MODULES`).

Extends `bpe_pair_stats` (corpus.py — merge round 0 only) to the full
tokenizer-training workflow a data team runs before a pretraining launch:

- bpe_merge_train: N_MERGES rounds of the actual BPE training loop.  The
  scale-critical factorization is the classic one (Sennrich et al. 2016,
  public): BPE trains on the WORD-FREQUENCY DICTIONARY, not the raw token
  stream — one corpus-scale aggregate builds (word, freq), then every merge
  round is a job over that bounded-vocabulary table (pairs explode →
  weighted hash aggregate → TakeOrdered 1).  The dictionary is
  session-persisted, so the corpus is scanned exactly once per session; at
  100 TB each round shuffles at most |vocab| · mean_word_len pair rows,
  independent of corpus size.  The winning pair per round is a 1-row
  collect (the argmax genuinely serializes rounds — same pattern as
  `dup_clusters`' convergence probe), and the merge is applied with exact
  left-to-right non-overlapping semantics via the doubled-space literal
  `replace` identity (no regex, no Python, codegen'd):
      trim(replace(replace(' ' || replace(sym,' ','  ') || ' ',
                           ' a  b ', ' ab '), '  ', ' '))
  The DuckDB oracle replays all N rounds as chained CTE stages with scalar
  subqueries for each round's argmax — bit-exact, including the
  (count desc, pair asc) tie-break.

- bpe_encode_report: apply a FIXED public merge table to the dictionary and
  report per-language compression (chars per symbol, exact basis points).
  Encoding joins the corpus word stream to the encoded dictionary —
  broadcast vocabulary lookup, the standard "tokenize via vocab table"
  shape — instead of re-folding merges per occurrence.

- heaps_law: vocabulary-growth curve (Heaps' law): distinct-vocabulary and
  token-occurrence counts at 10 corpus prefixes.  Per-token first
  occurrence is one bounded min-aggregate; prefix membership is 10
  conditional sums unpivoted with `stack` — no inequality join, no NLJ.

- zipf_tail_report: token-frequency mass by COUNT DECADE (1-9, 10-99, ...),
  decade = length(cast(freq as varchar)) — rank-free, so no global sort of
  the vocabulary; exact integer mass and basis-point shares.

BPE words are restricted to `^[a-z]{2,}$` (the synthetic corpus is
lowercase-ASCII already); this keeps the char-spacing identity
(`split(w,'')`) safe from UTF-16-vs-codepoint divergence between Spark's
Java regex and DuckDB's RE2.  heaps_law / zipf_tail_report group raw tokens
byte-exact with no regex, so they take the stream unfiltered.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..catalog import table
from ..session import session_persist, session_scalar
from ..spec import QuerySpec

N_MERGES = 8
_WORD_RE = "^[a-z]{2,}$"
_SQL_WORD_RE = "[a-z]{2,}"


# ---------------------------------------------------------------------------
# shared: the word-frequency dictionary with char-spaced symbol strings
# ---------------------------------------------------------------------------


def _word_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, sym, freq): ONE corpus-scale aggregate, session-persisted.
    `sym` is the space-joined character sequence the merge rounds rewrite."""

    def build() -> DataFrame:
        d = table(spark, sf_dir, "documents")
        words = d.select(
            F.explode(F.split(F.col("text"), " ")).alias("word")
        ).filter(F.col("word").rlike(_WORD_RE))
        return (
            words.groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq"))
            .select(
                "word",
                F.array_join(F.split(F.col("word"), ""), " ").alias("sym"),
                "freq",
            )
        )

    return session_persist(spark, f"tokenizer_dict:{sf_dir}", build)


_SQL_WORD_DICT = f"""
  SELECT word,
         array_to_string(string_split(word, ''), ' ') AS sym,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE regexp_full_match(word, '{_SQL_WORD_RE}')
  GROUP BY word
"""


def _adjacent_pairs(df: DataFrame) -> DataFrame:
    """Explode each symbol string into its adjacent pairs, weighted by word
    frequency.  Multiplicity within a word counts (standard BPE support).
    The split is hoisted into a named column — inside the transform lambda
    it would be re-evaluated per element (the HOF constant-folding rule
    SCALE.md documents)."""
    toked = df.withColumn("toks", F.split(F.col("sym"), " "))
    pair_arr = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    )
    return (
        toked.filter(F.size(F.col("toks")) >= 2)
        .select(F.explode(pair_arr).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("support"))
    )


def _merge_expr(a: str, b: str) -> Column:
    """Exact non-overlapping left-to-right merge of pair (a, b) inside a
    space-joined symbol string (doubled-space identity, literal replace)."""
    return F.expr(
        "trim(replace(replace(' ' || replace(sym, ' ', '  ') || ' ',"
        f" ' {a}  {b} ', ' {a}{b} '), '  ', ' '))"
    )


# ---------------------------------------------------------------------------
# bpe_merge_train
# ---------------------------------------------------------------------------

_MERGE_SCHEMA = StructType(
    [
        StructField("step", LongType(), False),
        StructField("pair", StringType(), False),
        StructField("merged", StringType(), False),
        StructField("support", LongType(), False),
    ]
)


def bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N_MERGES rounds of BPE merge training; returns the learned merge
    table (step, pair, merged, support).  Each round: weighted pair counts
    over the persisted dictionary → argmax by (support desc, pair asc) →
    rewrite the dictionary.  Stops early if the dictionary runs out of
    multi-symbol entries (tiny corpora)."""
    cur = _word_dict(spark, sf_dir).select("sym", "freq")
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, N_MERGES + 1):
        top = (
            _adjacent_pairs(cur)
            .orderBy(F.desc("support"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, support = top[0]["pair"], top[0]["support"]
        a, b = pair.split(" ")
        merges.append((step, pair, a + b, support))
        cur = cur.select(_merge_expr(a, b).alias("sym"), "freq")
    return spark.createDataFrame(merges, _MERGE_SCHEMA)


def _bpe_train_sql() -> str:
    """Chained-CTE replay of the merge loop: each round's argmax is a 1-row
    CTE consumed by scalar subqueries in the next dictionary stage."""
    # AS MATERIALIZED: each dict CTE is referenced twice (its argmax and
    # the next stage); inlined CTEs would re-derive the whole chain per
    # reference — 2^N scans of documents.
    parts = [
        "WITH dict1 AS MATERIALIZED "
        f"(SELECT sym, freq FROM ({_SQL_WORD_DICT}))"
    ]
    for k in range(1, N_MERGES + 1):
        parts.append(
            f"""
top{k} AS MATERIALIZED (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS support
  FROM (
    SELECT toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1]
             AS pair,
           freq
    FROM (
      SELECT string_split(sym, ' ') AS toks, freq FROM dict{k}
      WHERE len(string_split(sym, ' ')) >= 2
    ), unnest(generate_series(1, len(toks) - 1)) AS t(i)
  )
  GROUP BY pair
  ORDER BY support DESC, pair ASC
  LIMIT 1
),
dict{k + 1} AS MATERIALIZED (
  SELECT trim(replace(replace(
           ' ' || replace(sym, ' ', '  ') || ' ',
           ' ' || (SELECT string_split(pair, ' ')[1] FROM top{k})
               || '  ' || (SELECT string_split(pair, ' ')[2] FROM top{k})
               || ' ',
           ' ' || (SELECT replace(pair, ' ', '') FROM top{k}) || ' '),
           '  ', ' ')) AS sym,
         freq
  FROM dict{k}
)"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS step, pair,"
        f" replace(pair, ' ', '') AS merged, support FROM top{k}"
        for k in range(1, N_MERGES + 1)
    )
    return ",".join(parts) + "\n" + selects


BPE_MERGE_TRAIN_SQL = _bpe_train_sql()


# ---------------------------------------------------------------------------
# bpe_encode_report
# ---------------------------------------------------------------------------

# Fixed public English merge table (frequent bigram fusions) so the encoder
# is independent of the training loop's output.
FIXED_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("e", "r"),
    ("o", "n"),
    ("r", "e"),
    ("s", "t"),
)


def bpe_encode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-compression datasheet under FIXED_MERGES:
    encode the DICTIONARY once (chained literal replaces), then broadcast
    vocabulary lookup against the corpus word stream — per-occurrence
    folding never happens.  chars_per_sym_bp is exact integer basis
    points."""
    enc = _word_dict(spark, sf_dir)
    for a, b in FIXED_MERGES:
        enc = enc.select("word", _merge_expr(a, b).alias("sym"), "freq")
    enc = enc.select(
        "word", F.size(F.split(F.col("sym"), " ")).alias("n_syms")
    )
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word").rlike(_WORD_RE))
    return (
        words.join(F.broadcast(enc), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum("n_syms").alias("n_symbols"),
        )
        .select(
            "lang",
            "n_words",
            "n_chars",
            "n_symbols",
            F.expr("(10000 * n_chars) div n_symbols").alias("chars_per_sym_bp"),
        )
        .orderBy("lang")
    )


def _encode_sql() -> str:
    sym = "sym"
    for a, b in FIXED_MERGES:
        sym = (
            f"trim(replace(replace(' ' || replace({sym}, ' ', '  ') || ' ',"
            f" ' {a}  {b} ', ' {a}{b} '), '  ', ' '))"
        )
    return f"""
WITH dict AS ({_SQL_WORD_DICT}),
enc AS (
  SELECT word, CAST(len(string_split({sym}, ' ')) AS INTEGER) AS n_syms
  FROM dict
),
stream AS (
  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT s.lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(s.word)) AS BIGINT) AS n_chars,
       CAST(SUM(e.n_syms) AS BIGINT) AS n_symbols,
       (10000 * CAST(SUM(length(s.word)) AS BIGINT))
         // CAST(SUM(e.n_syms) AS BIGINT) AS chars_per_sym_bp
FROM stream s JOIN enc e ON s.word = e.word
GROUP BY s.lang
ORDER BY s.lang
"""


BPE_ENCODE_REPORT_SQL = _encode_sql()


# ---------------------------------------------------------------------------
# heaps_law
# ---------------------------------------------------------------------------

N_PREFIXES = 10


def heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth at 10 corpus prefixes (Heaps' law inputs).
    prefix k covers doc_id < (n_docs·k) div 10 (doc_ids are contiguous
    0-based).  Two bounded aggregates: per-token first-occurrence doc
    (min), per-doc token counts — each reduced with 10 conditional sums
    and unpivoted via stack; no inequality join, no NLJ.  The single
    driver-side scalar is n_docs (1-row collect)."""
    d = table(spark, sf_dir, "documents")
    n_docs = session_scalar(
        spark, f"documents_count:{sf_dir}", d.count)
    ts = [(n_docs * k) // N_PREFIXES for k in range(1, N_PREFIXES + 1)]

    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    # coalesce: SUM over an empty corpus is NULL in Spark but the oracle's
    # scalar COUNT(*) subqueries yield 0 — pin both to 0
    vocab_row = firsts.agg(
        *[
            F.coalesce(
                F.sum((F.col("first_doc") < F.lit(t)).cast("long")), F.lit(0)
            ).alias(f"v{k}")
            for k, t in enumerate(ts, start=1)
        ]
    )
    occ_row = toks.agg(
        *[
            F.coalesce(
                F.sum((F.col("doc_id") < F.lit(t)).cast("long")), F.lit(0)
            ).alias(f"o{k}")
            for k, t in enumerate(ts, start=1)
        ]
    )
    stack_args = ", ".join(
        f"{k}L, {t}L, v{k}, o{k}" for k, t in enumerate(ts, start=1)
    )
    return (
        vocab_row.join(F.broadcast(occ_row))
        .select(
            F.expr(
                f"stack({N_PREFIXES}, {stack_args})"
                " AS (k, prefix_docs, vocab_size, n_tokens)"
            )
        )
        .orderBy("k")
    )


HEAPS_LAW_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
firsts AS (
  SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok
),
ks AS (
  SELECT CAST(k AS BIGINT) AS k,
         ((SELECT COUNT(*) FROM documents) * CAST(k AS BIGINT))
           // {N_PREFIXES} AS prefix_docs
  FROM unnest(generate_series(1, {N_PREFIXES})) AS t(k)
)
SELECT ks.k,
       ks.prefix_docs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts
        WHERE first_doc < ks.prefix_docs) AS vocab_size,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM toks
        WHERE doc_id < ks.prefix_docs) AS n_tokens
FROM ks
ORDER BY ks.k
"""


# ---------------------------------------------------------------------------
# zipf_tail_report
# ---------------------------------------------------------------------------


def zipf_tail_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-frequency mass by count decade (1-9, 10-99, ...): the Zipf
    head/tail profile that sizes vocabulary cutoffs.  decade =
    length(cast(freq as string)) — rank-free, so the vocabulary is never
    globally sorted; one bounded-vocab shuffle + one tiny aggregate.
    share_bp is exact integer basis points of total token mass."""
    d = table(spark, sf_dir, "documents")
    freqs = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    decades = freqs.groupBy(
        F.length(F.col("freq").cast("string")).alias("decade")
    ).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("freq").alias("mass"),
    )
    total = decades.agg(F.sum("mass").alias("total_mass"))
    return (
        decades.join(F.broadcast(total))
        .select(
            "decade",
            "n_tokens",
            "mass",
            F.expr("(10000 * mass) div total_mass").alias("share_bp"),
        )
        .orderBy("decade")
    )


ZIPF_TAIL_REPORT_SQL = """
WITH freqs AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
),
decades AS (
  SELECT CAST(length(CAST(freq AS VARCHAR)) AS INTEGER) AS decade,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(freq) AS BIGINT) AS mass
  FROM freqs
  GROUP BY 1
)
SELECT decade, n_tokens, mass,
       CAST((10000 * mass) // (SELECT SUM(mass) FROM decades) AS BIGINT)
           AS share_bp
FROM decades
ORDER BY decade
"""


QUERIES: dict[str, QuerySpec] = {
    "bpe_merge_train": QuerySpec(
        bpe_merge_train,
        BPE_MERGE_TRAIN_SQL,
        f"{N_MERGES}-round BPE merge training over the word dictionary",
    ),
    "bpe_encode_report": QuerySpec(
        bpe_encode_report,
        BPE_ENCODE_REPORT_SQL,
        "per-lang compression under a fixed merge table (vocab lookup)",
    ),
    "heaps_law": QuerySpec(
        heaps_law,
        HEAPS_LAW_SQL,
        "vocabulary growth at 10 corpus prefixes (Heaps' law)",
    ),
    "zipf_tail_report": QuerySpec(
        zipf_tail_report,
        ZIPF_TAIL_REPORT_SQL,
        "token mass by count decade, rank-free Zipf profile",
    ),
}
