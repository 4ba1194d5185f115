"""Banding-parameter scaling study over `embeddings` (all three keys
are registered and oracle-checked).

With the fixed BAND_BITS=6 geometry the LSH candidate budget is
quadratic: 469 k candidate pairs at N=2 k → 47 M at N=20 k, measured
at sf0.1 and sf1 — dedup_embedding_cosine's 29× sf1 blowup. This tier
turns the mitigation ("raise BAND_BITS with corpus size") into
measured, oracle-checked operators; the registered detector itself is
corpus-derived (`dedup.dedup_band_bits` — the geometry picked FROM this
study's data), and so are the bitext family and
`dedup_embedding_cosine_scaled` (`scaled_band_bits`: the same integer
search floored at SCALED_BITS=12, so the finer production geometry is
kept up to 131 k vectors and widens beyond). The base (16, 6) constants
in operators/similarity.py still anchor the ANN/retrieval probe-join
oracles, which are |probes|×N and have no quadratic path:

- lsh_paramscan_report: for each candidate geometry (n_bands,
  band_bits) — total buckets, hottest bucket, and the exact candidate-
  pair budget Σ n·(n−1)/2. Shows budget ∝ N²·n_bands/2^band_bits
  dropping ~4× per +2 bits on the same corpus.
- lsh_recall_tradeoff_report: the other side of the trade — per
  geometry, candidate budget restricted to a fixed probe set vs how
  many true ≥ COSINE_DUP_THRESHOLD pairs (exact probe×corpus scan)
  the banding catches, as recall per-mille. On this near-uniform
  corpus (true-pair cosine ≈ 0.35 → P[sign-bit match] ≈ 0.61) the
  curve quantifies exactly how fast low-threshold recall decays with
  band width — the data an operator needs to pick the geometry.
- dedup_embedding_cosine_scaled: the scaled geometry (24 bands ×
  `scaled_band_bits(N)` ≥ 12 bits) end-to-end at the corpus-realistic
  near-dup threshold 0.9, where sign-agreement is ~0.86/bit and
  banding theory gives ≳98 % recall. On the clean test corpus the
  correct output is EMPTY (there are no 0.9-cosine pairs — a true
  negative, still hash-compared); on a duplicated corpus (the sf1
  replica dataset, or any real crawl) it lights up with the planted
  near-identical pairs at ~1/40th the candidate budget of the base
  geometry. tests/test_lshscale_deferred.py plants dups to prove it.

Scale: per-geometry signatures are linear scans built by
`similarity.lsh_bands`, one narrow expression of the same size for every
geometry: the planes enter the plan as one literal (weights computed
driver-side), one transform takes every plane's sign bit and one
aggregate per band packs them. The first build plus collect of
lsh_paramscan_report in a fresh session on sf0.001 takes 11-12 s on
4 vCPU, against 40-42 s with one column expression per plane and one
literal per weight.
Candidates come from banded equi-joins only, the probe truth is
|probes|×N not N², and every report is a bounded aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.vectors import dot
from ..session import session_persist
from ..spec import QuerySpec
from .similarity import _SQL_PLANE, _corpus, lsh_bands

# geometries under study: the registered base (16, 6) plus three
# progressively finer bandings; every geometry is built by
# similarity.lsh_bands from the same md5-derived plane family, indexed
# 0..n_bands*band_bits-1
CONFIGS: tuple[tuple[int, int], ...] = ((16, 6), (16, 8), (20, 10), (24, 12))
SCALED_BANDS, SCALED_BITS = 24, 12
DUP_THRESHOLD_SCALED = 0.9   # corpus-realistic near-dup bar (vs base 0.35)
PROBE_IDS = 100              # vec_id < 100 anchor the recall measurement
BASE_THRESHOLD = 0.35        # operators/dedup.py COSINE_DUP_THRESHOLD


def _sql_sigs(n_bands: int, band_bits: int, rel: str = "e") -> str:
    """sigs relation for one geometry (same md5 plane family, same
    band = p div bits / bit = 1 << (p mod bits) packing as
    similarity.lsh_bands)."""
    return f"""(
  SELECT vec_id, band, CAST(SUM(bit) AS INTEGER) AS sig FROM (
    SELECT {rel}.vec_id, CAST(p // {band_bits} AS INTEGER) AS band,
           CASE WHEN list_dot_product({rel}.v, pl.pv) >= 0
                THEN 1 << CAST(p % {band_bits} AS INTEGER) ELSE 0 END AS bit
    FROM {rel} CROSS JOIN (
      SELECT p, {_SQL_PLANE} AS pv
      FROM range({n_bands * band_bits}) t(p)
    ) pl
  ) GROUP BY vec_id, band
)"""


def lsh_paramscan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for n_bands, band_bits in CONFIGS:
        buckets = (
            lsh_bands(spark, sf_dir, n_bands, band_bits)
            .groupBy("band", "sig")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        parts.append(
            buckets.agg(
                F.count(F.lit(1)).cast("long").alias("n_buckets"),
                F.max("n").alias("max_bucket_n"),
                F.sum(F.expr("n * (n - 1) div 2")).cast("long")
                .alias("candidate_pairs"),
            ).select(
                F.lit(n_bands).alias("n_bands"),
                F.lit(band_bits).alias("band_bits"),
                "n_buckets", "max_bucket_n", "candidate_pairs",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("band_bits", "n_bands")


def _sql_paramscan_one(n_bands: int, band_bits: int) -> str:
    return f"""
SELECT {n_bands} AS n_bands, {band_bits} AS band_bits,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       MAX(n) AS max_bucket_n,
       CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs
FROM (
  SELECT band, sig, CAST(COUNT(*) AS BIGINT) AS n
  FROM {_sql_sigs(n_bands, band_bits)} GROUP BY band, sig
)"""


LSH_PARAMSCAN_REPORT_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
{" UNION ALL ".join(_sql_paramscan_one(nb, bb) for nb, bb in CONFIGS)}
ORDER BY band_bits, n_bands
"""


def _true_probe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact probe×corpus truth: (vec_a, vec_b) with vec_a < PROBE_IDS,
    vec_a < vec_b, cosine ≥ BASE_THRESHOLD. |probes|·N work, broadcast
    probes — the eval anchor, not a scale path (same stance as
    similarity.ann_brute_force)."""

    def build() -> DataFrame:
        e = _corpus(spark, sf_dir)
        probes = e.filter(F.col("vec_id") < PROBE_IDS).select(
            F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
            F.col("nrm").alias("na"),
        )
        sim = dot(F.col("va"), F.col("v")) / (F.col("na") * F.col("nrm"))
        return (
            F.broadcast(probes)
            .join(e, F.col("vec_a") < F.col("vec_id"))
            .select(
                "vec_a", F.col("vec_id").alias("vec_b"),
                sim.alias("cosine_sim"),
            )
            .filter(F.col("cosine_sim") >= BASE_THRESHOLD)
        )

    return session_persist(spark, f"lshscale_truth:{sf_dir}", build)


_SQL_TRUTH = f"""(
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM ec a JOIN ec b ON a.vec_id < {PROBE_IDS} AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {BASE_THRESHOLD}
)"""


def lsh_recall_tradeoff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = _true_probe_pairs(spark, sf_dir).select("vec_a", "vec_b")
    n_true = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    parts = []
    for n_bands, band_bits in CONFIGS:
        bands = lsh_bands(spark, sf_dir, n_bands, band_bits)
        pb = bands.filter(F.col("vec_id") < PROBE_IDS).select(
            F.col("vec_id").alias("vec_a"),
            F.col("band").alias("aband"),
            F.col("sig").alias("asig"),
        )
        cand = (
            F.broadcast(pb)
            .join(
                bands,
                (F.col("aband") == F.col("band"))
                & (F.col("asig") == F.col("sig"))
                & (F.col("vec_a") < F.col("vec_id")),
            )
            .select("vec_a", F.col("vec_id").alias("vec_b"))
            .distinct()
        )
        # budget + caught in ONE scan of the cand subtree: referencing cand
        # twice (count agg + semi-join) re-executed the broadcast join +
        # distinct per consumer — the oracle hoists cand_{g} MATERIALIZED,
        # this is the Spark-side equivalent (with cand referenced twice,
        # this key's isolated cost was ~2× the paramscan's). truth is
        # persisted, distinct pairs, and probe-bounded -> broadcast left
        # join keeps count(*) == |cand| while flagging the true pairs.
        stats = (
            cand.join(
                F.broadcast(truth.withColumn("is_true", F.lit(1))),
                ["vec_a", "vec_b"], "left",
            ).agg(
                F.count(F.lit(1)).cast("long").alias("probe_candidates"),
                F.coalesce(F.sum("is_true"), F.lit(0)).cast("long")
                .alias("n_caught"),
            )
        )
        parts.append(
            stats.crossJoin(F.broadcast(n_true))
            .selectExpr(
                f"{n_bands} AS n_bands",
                f"{band_bits} AS band_bits",
                "probe_candidates",
                "n_true_pairs",
                "n_caught",
                "n_caught * 1000 div greatest(n_true_pairs, 1L)"
                " AS recall_permille",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("band_bits", "n_bands")


def _sql_cand_cte(n_bands: int, band_bits: int) -> str:
    """Named MATERIALIZED CTEs for one geometry: sigs (referenced twice by
    its cand join) and the distinct probe-candidate set (referenced twice —
    budget count + truth join). Hoisting these replaced a form that
    inlined the full sigs pipeline four times per geometry, including
    inside a per-truth-row correlated EXISTS — DuckDB inlines a CTE at
    each reference, the re-execution that spilled the triangle_count
    oracle past 80 GB at sf1."""
    g = f"{n_bands}x{band_bits}"
    return f"""
sigs_{g} AS MATERIALIZED {_sql_sigs(n_bands, band_bits)},
cand_{g} AS MATERIALIZED (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs_{g} a JOIN sigs_{g} b
    ON a.band = b.band AND a.sig = b.sig
   AND a.vec_id < {PROBE_IDS} AND a.vec_id < b.vec_id
)"""


def _sql_recall_one(n_bands: int, band_bits: int) -> str:
    # n_caught via an inner join: both cand and truth are DISTINCT pair
    # sets, so the join count equals the semi-join count — no correlated
    # EXISTS, one hash join per geometry.
    g = f"{n_bands}x{band_bits}"
    return f"""
SELECT {n_bands} AS n_bands, {band_bits} AS band_bits,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{g}) AS probe_candidates,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM truth t JOIN cand_{g} c
          ON t.vec_a = c.vec_a AND t.vec_b = c.vec_b) AS n_caught"""


LSH_RECALL_TRADEOFF_REPORT_SQL = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ec AS MATERIALIZED (
  SELECT vec_id, v,
         sqrt(list_dot_product(v, v)) AS nrm
  FROM e
),
truth AS MATERIALIZED (SELECT vec_a, vec_b FROM {_SQL_TRUTH} t),
{",".join(_sql_cand_cte(nb, bb) for nb, bb in CONFIGS)},
raw AS (
{" UNION ALL ".join(_sql_recall_one(nb, bb) for nb, bb in CONFIGS)}
)
SELECT n_bands, band_bits, probe_candidates, n_true_pairs, n_caught,
       n_caught * 1000 // GREATEST(n_true_pairs, 1) AS recall_permille
FROM raw
ORDER BY band_bits, n_bands
"""


def scaled_band_bits(n: int) -> int:
    """Band width for the scaled detector: the SAME corpus-derived search
    as `dedup.dedup_band_bits` but FLOORED at SCALED_BITS=12 — this key's
    point is the finer production geometry, so it never narrows below it,
    and past 2^12·32 = 131 k vectors it keeps growing so buckets stay
    pinned at ~32 rows (the fixed 12-bit geometry spilled ~45 GB at
    sf10's 200 k vectors — ~49-row buckets × 24 bands of candidates into
    one DISTINCT sort). Identical output for every corpus ≤131 k vectors,
    which covers all driver SFs and the sf1/sf3 scale sets."""
    from .dedup import dedup_band_bits

    return max(SCALED_BITS, dedup_band_bits(n))


def dedup_embedding_cosine_scaled(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """dedup_embedding_cosine's semantics at the scaled geometry and the
    realistic 0.9 near-dup bar: banded equi-join candidates, exact cosine
    verification. Empty on the clean corpus (true negative); finds planted
    near-identical pairs on duplicated corpora at ~1/40th the base
    candidate budget (measured on the sf1 replica corpus). Band width is
    corpus-derived above 131 k vectors (`scaled_band_bits`)."""
    from ..session import session_scalar

    n = session_scalar(
        spark, f"embeddings_count:{sf_dir}",
        lambda: table(spark, sf_dir, "embeddings").count(),
    )
    bands = lsh_bands(spark, sf_dir, SCALED_BANDS, scaled_band_bits(n))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    e = _corpus(spark, sf_dir)
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                  F.col("nrm").alias("na"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                  F.col("nrm").alias("nb"))
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= DUP_THRESHOLD_SCALED)
    )


def _dedup_embedding_cosine_scaled_sql() -> str:
    # params-derived mirror of scaled_band_bits: the integer search starts
    # AT the SCALED_BITS floor, so MIN >= 12 by construction and the
    # COALESCE saturates at the same cap as the Python side (the dedup /
    # semdedup precedent). sigs is consumed twice (a and b) -> MATERIALIZED.
    from .dedup import DEDUP_MAX_BAND_BITS, DEDUP_TARGET_BUCKET

    return f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm
  FROM embeddings
),
params AS (
  SELECT COALESCE((
    SELECT MIN(b) FROM range({SCALED_BITS}, {DEDUP_MAX_BAND_BITS + 1}) t(b)
    WHERE (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) * {DEDUP_TARGET_BUCKET}
            >= (SELECT COUNT(*) FROM embeddings)
  ), {DEDUP_MAX_BAND_BITS}) AS bb
),
planes AS MATERIALIZED (
  SELECT p, {_SQL_PLANE} AS pv
  FROM range({SCALED_BANDS * DEDUP_MAX_BAND_BITS}) t(p)
  WHERE p < {SCALED_BANDS} * (SELECT bb FROM params)
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
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
)
SELECT cand.vec_a, cand.vec_b,
       list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) AS cosine_sim
FROM cand
JOIN e ea ON ea.vec_id = cand.vec_a
JOIN e eb ON eb.vec_id = cand.vec_b
WHERE list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm)
        >= {DUP_THRESHOLD_SCALED}
"""


DEDUP_EMBEDDING_COSINE_SCALED_SQL = _dedup_embedding_cosine_scaled_sql()


QUERIES: dict[str, QuerySpec] = {
    "lsh_paramscan_report": QuerySpec(
        lsh_paramscan_report,
        LSH_PARAMSCAN_REPORT_SQL,
        "candidate-pair budget per banding geometry"
        " (budget ∝ N²·bands/2^bits)",
    ),
    "lsh_recall_tradeoff_report": QuerySpec(
        lsh_recall_tradeoff_report,
        LSH_RECALL_TRADEOFF_REPORT_SQL,
        "probe-set recall vs candidate budget per banding geometry",
    ),
    "dedup_embedding_cosine_scaled": QuerySpec(
        dedup_embedding_cosine_scaled,
        DEDUP_EMBEDDING_COSINE_SCALED_SQL,
        "near-dup pairs at the scaled (24×12) geometry, 0.9 bar,"
        " exact re-rank",
    ),
}
