"""Ranked-retrieval evaluation tier over `embeddings`
(registered in `registry.MODULES`).

The eval loop a retrieval/RAG data pipeline runs after building an index:
take a query sample, retrieve top-K through the SAME banded sign-LSH index
the engine serves (`similarity.lsh_bands_cached` — the session-persisted
signature table every ANN/dedup consumer shares), grade against labels
(relevant ⇔ same `label` as the query), and report the standard IR
metrics. No counterpart in the reference repo; the metrics are the
classic public definitions (MRR, precision/recall@k, NDCG, kNN-label
accuracy) computed exactly in integer fixed-point.

- retrieval_mrr: mean reciprocal rank of the first relevant hit.
- retrieval_precision_recall: micro precision@k / recall@k for k∈{1,5,10}.
- retrieval_ndcg: micro-NDCG@K — global DCG over ideal-DCG mass, each
  per-row discount fixed-pointed BEFORE summation (floor(1e9/log2(r+1)) —
  the per-row double is bit-identical across engines, the sums are exact
  BIGINTs, and the final ratio uses the overflow-safe split form
  `(a div m)·w + ((a mod m)·w) div m`).
- retrieval_knn_accuracy: majority-vote label prediction from the top-K
  (deterministic argmax via the composite-MIN trick `(20-cnt)·100+label`)
  vs the query's own label.

Cross-engine determinism: cosine similarity orders candidates (ties →
neighbor_id) but never reaches an output column; every emitted metric is
a BIGINT ratio `a·1e6 div b` of exact integers.

Scale: the query side is a 1/Q_MOD hash-gate of the corpus (NOT a
broadcast — it grows with the data); candidates come from the banded
equi-join on (band, sig), so there is no all-pairs scan anywhere; the
re-rank window partitions by q_id (parallel across queries); every
aggregate after top-K is bounded by queries × K rows. The label-count
side table is |label-domain| rows — broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.vectors import as_double, dot
from ..session import session_persist
from ..spec import QuerySpec
from .similarity import _SQL_PLANE, BAND_BITS, EMBED_DIM, N_BANDS, lsh_bands_cached

RET_Q_MOD = 25   # vec_id % 25 == 0 → the query sample (sf-proportional)
RET_K = 10       # depth of the graded ranking
RET_KS = (1, 5, 10)  # precision/recall cutoffs


def _embedded(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    return e.withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))


def _qset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per query vector: (q_id, q_label, n_rel) where n_rel is the
    number of relevant (same-label, non-self) corpus vectors."""
    labels = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    lc = labels.groupBy("label").agg(F.count(F.lit(1)).alias("_lc"))
    return (
        labels.filter(F.col("vec_id") % RET_Q_MOD == 0)
        .join(F.broadcast(lc), "label")
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            (F.col("_lc") - 1).alias("n_rel"),
        )
    )


def _ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K graded ranking per query: (q_id, q_label, neighbor_id,
    c_label, rank, rel). Session-persisted — all four tier queries reuse
    one materialization, and the band table itself is the session-wide
    LSH cache shared with the ANN/dedup operators."""

    def build() -> DataFrame:
        bands = lsh_bands_cached(spark, sf_dir)
        qb = bands.filter(F.col("vec_id") % RET_Q_MOD == 0).select(
            F.col("vec_id").alias("q_id"),
            F.col("band").alias("qband"),
            F.col("sig").alias("qsig"),
        )
        cand = (
            qb.join(
                bands,
                (F.col("qband") == F.col("band"))
                & (F.col("qsig") == F.col("sig"))
                & (F.col("q_id") != F.col("vec_id")),
            )
            .select("q_id", "vec_id")
            .distinct()
        )
        e = _embedded(spark, sf_dir)
        q = e.filter(F.col("vec_id") % RET_Q_MOD == 0).select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
        )
        sim = dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
        scored = (
            cand.join(e, "vec_id")
            .join(q, "q_id")
            .select(
                "q_id",
                "q_label",
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("c_label"),
                sim.alias("_sim"),
            )
        )
        w = Window.partitionBy("q_id").orderBy(
            F.desc("_sim"), F.asc("neighbor_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= RET_K)
            .select(
                "q_id",
                "q_label",
                "neighbor_id",
                "c_label",
                "rank",
                (F.col("q_label") == F.col("c_label")).cast("int").alias("rel"),
            )
        )

    return session_persist(spark, f"retrieval_ranked:{sf_dir}", build)


# DuckDB replica: regenerate the md5-derived hyperplanes, replay the banded
# candidate join + exact cosine re-rank (the ann_lsh oracle pattern), then
# grade against labels.
RET_CTES = f"""
e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
             AS nrm
  FROM embeddings
),
planes AS (
  SELECT p, {_SQL_PLANE} AS pv FROM range({N_BANDS * BAND_BITS}) t(p)
),
bits AS (
  SELECT e.vec_id, CAST(p // {BAND_BITS} AS INTEGER) AS band,
         CASE WHEN list_dot_product(e.v, planes.pv) >= 0
              THEN 1 << CAST(p % {BAND_BITS} AS INTEGER) ELSE 0 END AS bit
  FROM e CROSS JOIN planes
),
sigs AS (
  SELECT vec_id, band, CAST(SUM(bit) AS INTEGER) AS sig
  FROM bits GROUP BY vec_id, band
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id
  FROM sigs q JOIN sigs c ON q.band = c.band AND q.sig = c.sig
  WHERE q.vec_id % {RET_Q_MOD} = 0 AND q.vec_id <> c.vec_id
),
scored AS (
  SELECT cand.q_id, q.label AS q_label, cand.vec_id AS neighbor_id,
         c.label AS c_label,
         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
  FROM cand
  JOIN e c ON c.vec_id = cand.vec_id
  JOIN e q ON q.vec_id = cand.q_id
),
topk AS (
  SELECT q_id, q_label, neighbor_id, c_label, rank,
         CASE WHEN q_label = c_label THEN 1 ELSE 0 END AS rel
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY sim DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {RET_K}
),
qset AS (
  SELECT e.vec_id AS q_id, e.label AS q_label,
         CAST(lc.cnt AS BIGINT) - 1 AS n_rel
  FROM e
  JOIN (SELECT label, COUNT(*) AS cnt FROM e GROUP BY label) lc
    ON e.label = lc.label
  WHERE e.vec_id % {RET_Q_MOD} = 0
)"""


def retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _ranked(spark, sf_dir)
    hits = (
        r.filter(F.col("rel") == 1)
        .groupBy("q_id")
        .agg(F.min("rank").alias("first_rank"))
    )
    j = _qset(spark, sf_dir).join(hits, "q_id", "left")
    return (
        j.agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.count("first_rank").alias("n_hit"),
            F.coalesce(
                F.sum(F.expr("1000000 div first_rank")), F.lit(0).cast("long")
            ).cast("long").alias("sum_recip_x1e6"),
        )
        .withColumn(
            "mrr_x1e6", F.expr("sum_recip_x1e6 div greatest(n_queries, 1)")
        )
    )


RETRIEVAL_MRR_SQL = f"""
WITH {RET_CTES},
hits AS (
  SELECT q_id, MIN(rank) AS first_rank FROM topk WHERE rel = 1 GROUP BY q_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(h.first_rank) AS BIGINT) AS n_hit,
       CAST(COALESCE(SUM(1000000 // h.first_rank), 0) AS BIGINT)
           AS sum_recip_x1e6,
       CAST(COALESCE(SUM(1000000 // h.first_rank), 0) AS BIGINT)
           // GREATEST(CAST(COUNT(*) AS BIGINT), 1) AS mrr_x1e6
FROM qset q LEFT JOIN hits h ON q.q_id = h.q_id
"""


def retrieval_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ks = F.explode(F.array(*[F.lit(k) for k in RET_KS])).alias("k")
    r = _ranked(spark, sf_dir)
    h = (
        r.select("rank", "rel")
        .withColumn("k", ks)
        .filter(F.col("rank") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("rel").cast("long").alias("_hits"))
    )
    qk = (
        _qset(spark, sf_dir)
        .withColumn("k", ks)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(F.least(F.col("n_rel"), F.col("k"))).cast("long")
            .alias("possible"),
        )
    )
    return (
        qk.join(h, "k", "left")
        .selectExpr(
            "k",
            "n_queries",
            "CAST(coalesce(_hits, 0) AS BIGINT) AS hits",
            "possible",
        )
        .selectExpr(
            "k",
            "n_queries",
            "hits",
            "possible",
            "hits * 1000000 div greatest(n_queries * k, 1)"
            " AS precision_x1e6",
            "hits * 1000000 div greatest(possible, 1) AS recall_x1e6",
        )
        .orderBy("k")
    )


RETRIEVAL_PRECISION_RECALL_SQL = f"""
WITH {RET_CTES},
ks AS (SELECT unnest([{", ".join(str(k) for k in RET_KS)}]) AS k),
h AS (
  SELECT ks.k, CAST(SUM(t.rel) AS BIGINT) AS hits
  FROM ks LEFT JOIN topk t ON t.rank <= ks.k
  GROUP BY ks.k
),
qk AS (
  SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_queries,
         CAST(SUM(LEAST(q.n_rel, ks.k)) AS BIGINT) AS possible
  FROM ks CROSS JOIN qset q GROUP BY ks.k
)
SELECT qk.k, qk.n_queries,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, qk.possible,
       CAST(COALESCE(h.hits, 0) AS BIGINT) * 1000000
           // GREATEST(qk.n_queries * qk.k, 1) AS precision_x1e6,
       CAST(COALESCE(h.hits, 0) AS BIGINT) * 1000000
           // GREATEST(qk.possible, 1) AS recall_x1e6
FROM qk LEFT JOIN h ON qk.k = h.k
ORDER BY qk.k
"""


def retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _ranked(spark, sf_dir)
    # per-row discount fixed-pointed BEFORE summation: the double
    # 1e9/log2(r+1) is bit-identical across engines for integer r, the
    # floor makes it an exact BIGINT, and BIGINT sums are order-free
    fp = F.floor(F.lit(1e9) / F.log2(F.col("rank") + F.lit(1)))
    d = r.filter(F.col("rel") == 1).agg(
        F.coalesce(F.sum(fp), F.lit(0).cast("long")).cast("long")
        .alias("sum_dcg_fp")
    )
    ideal = (
        _qset(spark, sf_dir)
        .select(F.least(F.col("n_rel"), F.lit(RET_K)).cast("int").alias("m"))
        .filter(F.col("m") > 0)
        .select(F.explode(F.sequence(F.lit(1), F.col("m"))).alias("i"))
        .agg(
            F.coalesce(
                F.sum(F.floor(F.lit(1e9) / F.log2(F.col("i") + F.lit(1)))),
                F.lit(0).cast("long"),
            ).cast("long").alias("sum_idcg_fp")
        )
    )
    nq = _qset(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_queries"))
    return (
        nq.crossJoin(F.broadcast(d))
        .crossJoin(F.broadcast(ideal))
        .selectExpr(
            "n_queries",
            "sum_dcg_fp",
            "sum_idcg_fp",
            # overflow-safe exact floor(dcg·1e6/idcg): split form — never
            # forms dcg*1e6 (which overflows int64 once dcg > ~9e12)
            "(sum_dcg_fp div greatest(sum_idcg_fp, 1)) * 1000000"
            " + ((sum_dcg_fp % greatest(sum_idcg_fp, 1)) * 1000000)"
            "   div greatest(sum_idcg_fp, 1) AS micro_ndcg_x1e6",
        )
    )


RETRIEVAL_NDCG_SQL = f"""
WITH {RET_CTES},
d AS (
  SELECT CAST(COALESCE(SUM(CAST(FLOOR(1e9 / log2(rank + 1)) AS BIGINT)), 0)
              AS BIGINT) AS sum_dcg_fp
  FROM topk WHERE rel = 1
),
ideal AS (
  SELECT CAST(FLOOR(1e9 / log2(u.i + 1)) AS BIGINT) AS fp
  FROM qset q,
       LATERAL (SELECT unnest(range(1, LEAST(q.n_rel, {RET_K}) + 1)) AS i) u
  WHERE q.n_rel > 0
),
i AS (SELECT CAST(COALESCE(SUM(fp), 0) AS BIGINT) AS sum_idcg_fp FROM ideal),
nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM qset)
SELECT n_queries, sum_dcg_fp, sum_idcg_fp,
       (sum_dcg_fp // GREATEST(sum_idcg_fp, 1)) * 1000000
       + ((sum_dcg_fp % GREATEST(sum_idcg_fp, 1)) * 1000000)
         // GREATEST(sum_idcg_fp, 1) AS micro_ndcg_x1e6
FROM nq, d, i
"""


def retrieval_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _ranked(spark, sf_dir)
    votes = r.groupBy("q_id", "c_label").agg(F.count(F.lit(1)).alias("cnt"))
    # deterministic majority vote: most votes, ties → smallest label
    # (labels < 100, cnt ≤ RET_K, so the composite is collision-free)
    comp = (F.lit(20) - F.col("cnt")) * 100 + F.col("c_label")
    winner = votes.groupBy("q_id").agg(F.min(comp).alias("compw"))
    j = _qset(spark, sf_dir).join(
        winner.select("q_id", (F.col("compw") % 100).alias("pred")),
        "q_id",
        "left",
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.count("pred").alias("n_predicted"),
        F.coalesce(
            F.sum(F.when(F.col("pred") == F.col("q_label"), 1).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("n_correct"),
    ).withColumn(
        "accuracy_x1e6",
        F.expr("n_correct * 1000000 div greatest(n_predicted, 1)"),
    )


RETRIEVAL_KNN_ACCURACY_SQL = f"""
WITH {RET_CTES},
votes AS (
  SELECT q_id, c_label, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM topk GROUP BY q_id, c_label
),
winner AS (
  SELECT q_id, MIN((20 - cnt) * 100 + c_label) AS compw
  FROM votes GROUP BY q_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(w.compw) AS BIGINT) AS n_predicted,
       CAST(COALESCE(SUM(CASE WHEN w.compw % 100 = q.q_label
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_correct,
       CAST(COALESCE(SUM(CASE WHEN w.compw % 100 = q.q_label
                              THEN 1 ELSE 0 END), 0) AS BIGINT) * 1000000
           // GREATEST(CAST(COUNT(w.compw) AS BIGINT), 1) AS accuracy_x1e6
FROM qset q LEFT JOIN winner w ON q.q_id = w.q_id
"""


QUERIES: dict[str, QuerySpec] = {
    "retrieval_mrr": QuerySpec(
        retrieval_mrr,
        RETRIEVAL_MRR_SQL,
        "mean reciprocal rank of the LSH-served label-graded ranking",
    ),
    "retrieval_precision_recall": QuerySpec(
        retrieval_precision_recall,
        RETRIEVAL_PRECISION_RECALL_SQL,
        "micro precision@k / recall@k for k in {1,5,10}",
    ),
    "retrieval_ndcg": QuerySpec(
        retrieval_ndcg,
        RETRIEVAL_NDCG_SQL,
        "micro-NDCG@10 in exact fixed-point (split-form final ratio)",
    ),
    "retrieval_knn_accuracy": QuerySpec(
        retrieval_knn_accuracy,
        RETRIEVAL_KNN_ACCURACY_SQL,
        "top-K majority-vote label accuracy (composite-MIN argmax)",
    ),
}
