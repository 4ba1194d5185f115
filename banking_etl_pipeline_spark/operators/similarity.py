"""Approximate-nearest-neighbor search over the `embeddings` table (engine
extension beyond reference parity).

Two tiers:
- `ann_brute_force` — exact cosine top-k per query via a broadcast
  nested-loop against the corpus. The correctness baseline (DuckDB-oracle
  checked); at scale this is the per-partition re-rank stage, not the scan.
- `ann_lsh` — banded sign-random-hyperplane LSH (the MinHash-LSH banding
  trick applied to sign hashes): every vector gets N_BANDS independent
  band signatures of BAND_BITS sign-bits each from deterministic
  md5-derived hyperplanes (functions/vectors.py); a pair is a candidate iff
  ANY band signature matches. Candidates come from an equi-join on
  (band_id, signature) after an explode — the sub-quadratic scale path
  (the join shuffles on the band key; at 100 TB you raise BAND_BITS with
  corpus size to keep buckets small and add bands to hold recall).
  Oracle-checked end-to-end — the hyperplanes are md5-derived, so DuckDB
  regenerates them and reproduces the exact candidate set; additionally
  tests/test_extensions.py checks recall against the brute-force truth.

Cosine values are bit-identical across engines (sequential double folds both
sides), so rank ordering matches exactly with a vec_id tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..session import session_persist, session_scalar
from ..functions.numeric import ftrunc, sql_ftrunc
from ..functions.vectors import as_double, dot, norm, planes
from ..spec import QuerySpec

N_QUERIES = 10  # vectors with vec_id < 10 serve as the query set
TOP_K = 5
# Banded LSH geometry. Testdata embeddings are near-uniform (top-1 cosine
# ≈ 0.35 → P[bit match] ≈ 0.61 for true neighbors vs 0.5 for random), so
# 16 bands × 6 bits gives ~0.5 expected recall at ~0.2 candidate rate.
N_BANDS = 16
BAND_BITS = 6
EMBED_DIM = 64


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    return e.withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))


def ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _corpus(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    sim = dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    scored = (
        F.broadcast(q)
        .join(e, F.col("q_id") != F.col("vec_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"), sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "neighbor_id", "rank", "cosine_sim")
    )


ANN_BRUTE_FORCE_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine_sim
  FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT q_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_sim
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


def lsh_bands(spark: SparkSession, sf_dir: str, n_bands: int = N_BANDS,
              band_bits: int = BAND_BITS) -> DataFrame:
    """One row per (vector, band): sign-LSH band signatures, session-
    persisted per (sf_dir, n_bands, band_bits) and shared by every consumer
    (the persisted signature index a cluster deployment maintains).

    Band b packs the sign bits of planes b*band_bits .. (b+1)*band_bits-1
    into an int, plane p at bit p % band_bits. The expression has the same
    size for any geometry: one literal of planes, one transform for every
    plane's bit, one aggregate per band. Only (vec_id, band, sig) is kept;
    re-rank joins vectors back by id."""

    # `bits` is a column below the explode, so each plane's dot product
    # runs once per vector, not once per band
    def build() -> DataFrame:
        bits = F.transform(
            planes(n_bands * band_bits, EMBED_DIM),
            lambda w, p: F.when(
                dot(F.col("v"), w) >= 0,
                F.call_function("shiftleft", F.lit(1), p % band_bits),
            ).otherwise(0),
        )
        sigs = F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.aggregate(F.slice("bits", b * band_bits + 1, band_bits),
                                  F.lit(0), lambda acc, x: acc + x),
        )
        return (
            _corpus(spark, sf_dir).select("vec_id", bits.alias("bits"))
            .select("vec_id", F.posexplode(sigs).alias("band", "sig"))
        )

    return session_persist(
        spark, f"lsh_bands:{sf_dir}:{n_bands}x{band_bits}", build)


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH ANN: candidate pairs share at least one band signature,
    then exact cosine re-rank over the deduplicated candidate set. Recall is
    probabilistic by design (tests assert recall ≥ threshold vs brute
    force), but the operator itself is deterministic and oracle-checked."""
    bands = lsh_bands(spark, sf_dir)
    qb = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("band").alias("qband"),
        F.col("sig").alias("qsig"),
    )
    # Candidate ids only; dedup (q_id, vec_id) BEFORE scoring so each pair
    # is cosined once even when several bands collide.
    cand = (
        F.broadcast(qb)
        .join(
            bands,
            (F.col("qband") == F.col("band"))
            & (F.col("qsig") == F.col("sig"))
            & (F.col("q_id") != F.col("vec_id")),
        )
        .select("q_id", "vec_id")
        .distinct()
    )
    e = _corpus(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    sim = dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    scored = (
        cand.join(e, "vec_id")
        .join(F.broadcast(q), "q_id")
        .select("q_id", F.col("vec_id").alias("neighbor_id"), sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "neighbor_id", "rank", "cosine_sim")
    )


# DuckDB replica of the whole LSH pipeline: the hyperplanes are md5-derived
# (functions/vectors.py:plane_weights), so the oracle regenerates them from the
# same formula — weight(p, d) = (md5_long(p || '_' || d) % 2001 - 1000)/1000 —
# and reproduces signatures, candidate set, and re-rank exactly.
_SQL_PLANE = (
    "list_transform(range(0, {dim}), d -> "
    "CAST(CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) "
    "% 2001 - 1000 AS DOUBLE) / 1000.0)"
).format(dim=EMBED_DIM)

ANN_LSH_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
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
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
),
scored AS (
  SELECT cand.q_id, cand.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine_sim
  FROM cand
  JOIN e c ON c.vec_id = cand.vec_id
  JOIN e q ON q.vec_id = cand.q_id
)
SELECT q_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_sim
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


N_CELLS = 16  # IVF coarse-quantizer cells
NPROBE = 4    # cells probed per query


def _ivf_assignments(e: DataFrame, centroids: DataFrame, n_best: int,
                     id_col: str) -> DataFrame:
    """Top-`n_best` centroid cells per vector by cosine (ties → cell_id).

    n_best == 1 (the corpus-sized call sites) is an argmax, computed as ONE
    min(struct(-sim, cell_id)) hash aggregate: map-side
    partials shuffle ≤1 row per id per partition instead of sorting the
    full id×cell scored stream through a rank window. Sims are never
    NULL/NaN here (finite vectors, non-zero norms — ANSI division would
    have raised), so struct-min ordering ≡ (sim DESC, cell_id ASC) rank 1.
    The n_best > 1 form (query-side probes, a bounded relation) keeps the
    rank window."""
    sim = dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))
    scored = (
        e.crossJoin(F.broadcast(centroids))
        .select(id_col, "cell_id", sim.alias("cell_sim"))
    )
    if n_best == 1:
        return (
            scored.groupBy(id_col)
            .agg(F.min(F.struct((-F.col("cell_sim")).alias("ns"),
                                F.col("cell_id"))).alias("mn"))
            .select(id_col, F.col("mn.cell_id").alias("cell_id"))
        )
    w = Window.partitionBy(id_col).orderBy(F.desc("cell_sim"), F.asc("cell_id"))
    return (
        scored
        .withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= n_best)
        .select(id_col, "cell_id")
    )


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: corpus vectors are bucketed to their nearest coarse-quantizer
    cell; each query probes its NPROBE closest cells and exact-re-ranks only
    those cells' members.

    The quantizer here is deterministic (cells = corpus vectors
    N_QUERIES..N_QUERIES+N_CELLS as centroids — k-means with 0 iterations),
    which keeps the whole operator oracle-checkable; at scale the centroids
    come from a few k-means|| iterations (same assignment plan per
    iteration) and the cell assignment is the partitioning key, so each
    query's probe touches NPROBE/N_CELLS of the corpus.
    """
    e = _corpus(spark, sf_dir)
    centroids = (
        e.filter(F.col("vec_id").between(N_QUERIES, N_QUERIES + N_CELLS - 1))
        .select(F.col("vec_id").alias("cell_id"), F.col("v").alias("cv"),
                F.col("nrm").alias("cn"))
    )
    corpus_cells = _ivf_assignments(e, centroids, 1, "vec_id")
    queries = e.filter(F.col("vec_id") < N_QUERIES)
    probe_cells = _ivf_assignments(
        queries.select(F.col("vec_id").alias("q_id"), "v", "nrm"),
        centroids, NPROBE, "q_id",
    )
    cand = (
        F.broadcast(probe_cells)
        .join(corpus_cells, "cell_id")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    q = queries.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
                       F.col("nrm").alias("qn"))
    sim = dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    scored = (
        cand.join(e, "vec_id")
        .join(F.broadcast(q), "q_id")
        .select("q_id", F.col("vec_id").alias("neighbor_id"),
                sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine_sim"),
                                           F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "neighbor_id", "rank", "cosine_sim")
    )


ANN_IVF_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM e
  WHERE vec_id BETWEEN {N_QUERIES} AND {N_QUERIES + N_CELLS - 1}
),
corpus_cells AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, cent.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, cent.cv) / (e.nrm * cent.cn) DESC,
                      cent.cell_id) AS crn
    FROM e, cent
  ) WHERE crn <= 1
),
probe_cells AS (
  SELECT q_id, cell_id FROM (
    SELECT e.vec_id AS q_id, cent.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, cent.cv) / (e.nrm * cent.cn) DESC,
                      cent.cell_id) AS crn
    FROM e, cent WHERE e.vec_id < {N_QUERIES}
  ) WHERE crn <= {NPROBE}
),
cand AS (
  SELECT DISTINCT p.q_id, c.vec_id
  FROM probe_cells p JOIN corpus_cells c USING (cell_id)
  WHERE p.q_id <> c.vec_id
),
scored AS (
  SELECT cand.q_id, cand.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine_sim
  FROM cand
  JOIN e c ON c.vec_id = cand.vec_id
  JOIN e q ON q.vec_id = cand.q_id
)
SELECT q_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_sim
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# vector aggregation: per-label centroids + one Lloyd assignment step
# ---------------------------------------------------------------------------

# centroid components are discretized to 6-dp fixed point so the arrays are
# bit-identical across engines before any distance math happens on them
_CENT_SCALE = 1_000_000.0


def _centroid_frame(e: DataFrame):
    """(label, n_vecs, c: array<double>) — 64 avg aggregates in one
    hash-aggregate pass (no explode: the shuffle carries one 64-double
    partial buffer per (partition, label), not 64 rows per vector — the
    k-means-training aggregation you want when the corpus is 100 TB)."""
    aggs = [
        F.avg(F.element_at("v", i + 1)).alias(f"c{i}") for i in range(EMBED_DIM)
    ]
    g = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"), *aggs)
    comps = [
        F.floor(F.col(f"c{i}") * _CENT_SCALE + F.lit(0.5)) / _CENT_SCALE
        for i in range(EMBED_DIM)
    ]
    return g.select("label", "n_vecs", F.array(*comps).alias("c"))


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid summary — the training half of IVF/k-means."""
    e = table(spark, sf_dir, "embeddings").select(
        "label", as_double(F.col("embedding")).alias("v")
    )
    cent = _centroid_frame(e)
    vec_norms = e.groupBy("label").agg(
        ftrunc(F.avg(F.sqrt(dot(F.col("v"), F.col("v")))), 6).alias(
            "mean_vec_norm"
        )
    )
    return (
        cent.join(vec_norms, "label")
        .select(
            "label",
            "n_vecs",
            ftrunc(F.sqrt(dot(F.col("c"), F.col("c"))), 6).alias(
                "centroid_norm"
            ),
            "mean_vec_norm",
        )
    )


_SQL_CENT_COMPS = ", ".join(
    f"FLOOR(avg(v[{i + 1}]) * {_CENT_SCALE} + 0.5) / {_CENT_SCALE}"
    for i in range(EMBED_DIM)
)

EMBEDDING_CENTROIDS_SQL = f"""
WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
g AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         [{_SQL_CENT_COMPS}] AS c,
         {sql_ftrunc('avg(sqrt(list_dot_product(v, v)))', 6)} AS mean_vec_norm
  FROM e GROUP BY label
)
SELECT label, n_vecs,
       {sql_ftrunc('sqrt(list_dot_product(c, c))', 6)} AS centroid_norm,
       mean_vec_norm
FROM g
"""


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration: every vector → nearest per-label centroid
    (squared L2 via the dot-product identity), reported as a
    (label, assigned_label) confusion matrix with mean distance.

    The argmin is ONE rank-1 row_number window over the scored rows (the
    former decorrelated groupBy-min + equality
    join-back evaluated the N×K scored relation twice and shuffled it
    twice; rn=1 with ordering (dist, cent_label) is the same semantics —
    min dist, ties to the smaller label — and Spark's WindowGroupLimit
    rewrite turns it into a partial per-partition top-1 BEFORE the
    exchange, so the shuffle carries ≤1 row per vector per map partition.
    Measured on this shape against both the join-back and a
    min(struct(dist, label)) SortAggregate: window 1.19 s vs 1.58 vs
    4.84 s at sf0.1) — and the centroid
    side is broadcast: the canonical cluster plan where the only full
    shuffle is the per-vector rank-1 window."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    cent = _centroid_frame(e).select(
        F.col("label").alias("cent_label"),
        "c",
        dot(F.col("c"), F.col("c")).alias("cdot"),
    )
    scored = (
        e.withColumn("vdot", dot(F.col("v"), F.col("v")))
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "label",
            "cent_label",
            (
                F.col("vdot")
                - 2.0 * dot(F.col("v"), F.col("c"))
                + F.col("cdot")
            ).alias("dist"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.asc("dist"), F.asc("cent_label"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "label",
            F.col("cent_label").alias("assigned_label"),
            F.col("dist").alias("min_dist"),
        )
    )
    return best.groupBy("label", "assigned_label").agg(
        F.count(F.lit(1)).alias("n"),
        ftrunc(F.avg("min_dist"), 6).alias("mean_sq_dist"),
    )


KMEANS_ASSIGN_SQL = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
g AS (
  SELECT label AS cent_label, [{_SQL_CENT_COMPS}] AS c
  FROM e GROUP BY label
),
cc AS (SELECT cent_label, c, list_dot_product(c, c) AS cdot FROM g),
scored AS (
  SELECT e.vec_id, e.label, cc.cent_label,
         list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, cc.c)
           + cc.cdot AS dist
  FROM e, cc
),
m AS (SELECT vec_id, MIN(dist) AS min_dist FROM scored GROUP BY vec_id),
best AS (
  SELECT s.vec_id, s.label,
         MIN(s.cent_label) AS assigned_label,
         MIN(m.min_dist) AS min_dist
  FROM scored s JOIN m ON s.vec_id = m.vec_id AND s.dist = m.min_dist
  GROUP BY s.vec_id, s.label
)
SELECT label, assigned_label, CAST(COUNT(*) AS BIGINT) AS n,
       {sql_ftrunc('AVG(min_dist)', 6)} AS mean_sq_dist
FROM best GROUP BY label, assigned_label
"""


def _assignments(e: DataFrame) -> DataFrame:
    """(vec_id, v, assigned_label): nearest-centroid assignment — the shared
    first half of a Lloyd iteration (see kmeans_assign for the plan: one
    broadcast of the centroids + ONE rank-1 window with the
    WindowGroupLimit partial top-1; the decorrelated join-back it replaced
    evaluated and shuffled the N×K scored relation twice)."""
    cent = _centroid_frame(e).select(
        F.col("label").alias("cent_label"),
        "c",
        dot(F.col("c"), F.col("c")).alias("cdot"),
    )
    scored = (
        e.withColumn("vdot", dot(F.col("v"), F.col("v")))
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "v",
            "cent_label",
            (
                F.col("vdot")
                - 2.0 * dot(F.col("v"), F.col("c"))
                + F.col("cdot")
            ).alias("dist"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.asc("dist"), F.asc("cent_label"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cent_label").alias("assigned_label"), "v")
    )


def kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The update half of a Lloyd iteration: recompute each cluster's
    centroid from its newly-assigned members and report the centroid SHIFT
    (L2 distance old→new, the convergence measure a k-means loop tests
    against epsilon). Same aggregate shape as the training pass — 64 avgs in
    one hash aggregate over the assignment relation — plus one broadcast
    join back to the old centroids; shift² = |old|² − 2·old·new + |new|²
    on fixed-point arrays, so it is bit-deterministic cross-engine."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    old = _centroid_frame(e).select(
        F.col("label").alias("cl"), F.col("c").alias("c_old")
    )
    assigned = _assignments(e).select(
        F.col("assigned_label").alias("label"), "v"
    )
    new = _centroid_frame(assigned).select(
        "label", F.col("n_vecs").alias("n_members"), F.col("c").alias("c_new")
    )
    shift_sq = (
        dot(F.col("c_old"), F.col("c_old"))
        - 2.0 * dot(F.col("c_old"), F.col("c_new"))
        + dot(F.col("c_new"), F.col("c_new"))
    )
    return new.join(F.broadcast(old), new["label"] == old["cl"]).select(
        "label",
        "n_members",
        ftrunc(F.sqrt(F.greatest(shift_sq, F.lit(0.0))), 6).alias(
            "centroid_shift"
        ),
        ftrunc(F.sqrt(dot(F.col("c_new"), F.col("c_new"))), 6).alias(
            "new_norm"
        ),
    )


def _sql_cent_comps_over(rel_comps: str) -> str:
    return ", ".join(
        f"FLOOR(avg({rel_comps}[{i + 1}]) * {_CENT_SCALE} + 0.5) / {_CENT_SCALE}"
        for i in range(EMBED_DIM)
    )


KMEANS_UPDATE_SQL = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
g AS (
  SELECT label AS cent_label, [{_SQL_CENT_COMPS}] AS c
  FROM e GROUP BY label
),
cc AS (SELECT cent_label, c, list_dot_product(c, c) AS cdot FROM g),
scored AS (
  SELECT e.vec_id, e.v, cc.cent_label,
         list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, cc.c)
           + cc.cdot AS dist
  FROM e, cc
),
m AS (SELECT vec_id, MIN(dist) AS min_dist FROM scored GROUP BY vec_id),
assigned AS (
  SELECT s.vec_id, MIN(s.cent_label) AS label
  FROM scored s JOIN m ON s.vec_id = m.vec_id AND s.dist = m.min_dist
  GROUP BY s.vec_id
),
members AS (
  SELECT a.label, e.v FROM assigned a JOIN e ON a.vec_id = e.vec_id
),
new_c AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
         [{_sql_cent_comps_over('v')}] AS c_new
  FROM members GROUP BY label
)
SELECT n.label, n.n_members,
       FLOOR(sqrt(GREATEST(
         list_dot_product(o.c, o.c) - 2.0 * list_dot_product(o.c, n.c_new)
           + list_dot_product(n.c_new, n.c_new), 0.0)) * 1000000.0)
         / 1000000.0 AS centroid_shift,
       FLOOR(sqrt(list_dot_product(n.c_new, n.c_new)) * 1000000.0)
         / 1000000.0 AS new_norm
FROM new_c n JOIN g o ON n.label = o.cent_label
"""


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-norm + symmetric int8 quantization of the embedding column —
    the compression step before an ANN index ships to serving (4× smaller
    than float32, 8× than the double compute form). Per row: L2 norm via
    the sequential-fold dot product (bit-identical to DuckDB's
    list_dot_product, see functions/vectors.py), then each component maps
    to round(127·x/‖v‖) with the floor(+0.5) convention both engines
    share. Output is the quantized vector serialized as a comma-joined
    int string (exact integers → bit-safe string compare; the driver's
    canonicalizer cannot sort raw array columns) plus the double scale
    needed to dequantize. Narrow scan→project: no shuffle, no UDF —
    100 TB of vectors quantize at full scan bandwidth.
    """
    e = table(spark, sf_dir, "embeddings")
    # hoist the norm to a named column FIRST: a HOF lambda re-evaluates
    # every inner expression per element, so referencing the norm fold
    # inline would recompute the full 64-element dot product 64 times
    # per row (Catalyst never constant-folds a HOF lambda; hoisting this
    # norm took the stage from 1.1 s to 0.06 s)
    base = e.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    ).withColumn("scale", norm(F.col("v")))
    q = F.transform(
        F.col("v"),
        lambda x: F.floor(x * 127.0 / F.col("scale") + 0.5)
        .cast("int")
        .cast("string"),
    )
    return base.select("vec_id", "scale", F.array_join(q, ",").alias("q8"))


EMBEDDING_QUANTIZE_SQL = """
SELECT vec_id,
       sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS scale,
       array_to_string(list_transform(
         embedding::DOUBLE[],
         x -> CAST(FLOOR(x * 127.0 /
                sqrt(list_dot_product(embedding::DOUBLE[],
                                      embedding::DOUBLE[])) + 0.5)
              AS INTEGER)
       ), ',') AS q8
FROM embeddings
"""


GRAM_Q = 10_000  # embedding quantization: q = floor(x·10⁴ + 0.5), |q| ≤ ~10⁴


def gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gram/second-moment matrix of the embedding corpus in ONE
    pass — the 64×64 summary PCA, whitening, and covariance-based
    drift detection all start from. Embeddings quantize to integers
    (×10⁴), each exploded (dim i, qᵢ) row carries the FULL vector
    alongside, and 64 sum-aggregates per i build row Gᵢ — so the
    shuffle moves 64-long partial buffers per (partition, i), never the
    64× self-join of exploded pairs (that plan is 64× bigger and its
    float sums would be order-dependent; integer sums are exact and
    mergeable across shards/days like every sufficient statistic in
    this engine). Overflow headroom documented: |Σqᵢqⱼ| ≤ 10⁸·rows →
    int64-safe to ~10¹⁰ vectors. Output per dimension: the diagonal
    (energy), the unnormalized first power-iteration step v₁ = G·1
    (exact ints — further iterations are driver-side math on this
    64×64 metadata), and the strongest off-diagonal coupling."""
    e = table(spark, sf_dir, "embeddings")

    def q(col):
        # float32 storage → double BEFORE the scale, or the float multiply
        # rounds differently than the oracle's double path
        return F.floor(col.cast("double") * GRAM_Q + 0.5).cast("long")

    rows = e.select(
        F.posexplode(F.col("embedding")).alias("i", "xi"),
        F.col("embedding").alias("emb"),
    ).select("i", q(F.col("xi")).alias("qi"), "emb")
    sums = [
        F.sum(F.col("qi") * q(F.element_at(F.col("emb"), j + 1))).alias(f"g{j}")
        for j in range(EMBED_DIM)
    ]
    g = rows.groupBy("i").agg(*sums)
    gcols = [F.col(f"g{j}") for j in range(EMBED_DIM)]
    v1 = sum(gcols[1:], gcols[0])
    off = F.array_max(
        F.array(
            *[
                F.when(F.lit(j) != F.col("i"), F.abs(F.col(f"g{j}")))
                for j in range(EMBED_DIM)
            ]
        )
    )
    return g.select(
        F.col("i").alias("dim"),
        F.element_at(
            F.array(*gcols), F.col("i").cast("int") + 1
        ).alias("g_diag"),
        v1.alias("v1"),
        off.alias("g_max_off"),
    )


def _gram_sql() -> str:
    qx = "CAST(FLOOR(CAST(x AS DOUBLE) * {q} + 0.5) AS BIGINT)".format(
        q=GRAM_Q
    )
    qj = (
        "CAST(FLOOR(CAST(emb[{j}] AS DOUBLE) * "
        + str(GRAM_Q)
        + " + 0.5) AS BIGINT)"
    )
    sums = ",\n         ".join(
        f"CAST(SUM({qx.replace('x', 'xi')} * {qj.format(j=j + 1)}) AS BIGINT)"
        f" AS g{j}"
        for j in range(EMBED_DIM)
    )
    gl = [f"g{j}" for j in range(EMBED_DIM)]
    v1 = " + ".join(gl)
    off = ", ".join(
        f"CASE WHEN {j} <> i THEN abs(g{j}) END" for j in range(EMBED_DIM)
    )
    diag = ", ".join(gl)
    return f"""
WITH rows_ AS (
  SELECT i - 1 AS i, emb[i] AS xi, emb
  FROM (SELECT embedding AS emb FROM embeddings),
       LATERAL (SELECT unnest(range(1, {EMBED_DIM + 1})) AS i)
),
g AS (
  SELECT i,
         {sums}
  FROM rows_ GROUP BY i
)
SELECT CAST(i AS INTEGER) AS dim,
       [{diag}][CAST(i AS INTEGER) + 1] AS g_diag,
       CAST({v1} AS BIGINT) AS v1,
       CAST(list_max([{off}]) AS BIGINT) AS g_max_off
FROM g
"""


GRAM_MATRIX_SQL = _gram_sql()


DRIFT_THRESHOLD_Q = 500  # flag when |mean_a − mean_b| > 0.05 in raw units


def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between two corpus slices (reference
    vs candidate batch, here split by vec_id parity) — the monitoring
    gate that catches a broken encoder or a shifted upstream corpus
    before it poisons retrieval/nearest-neighbor serving. Per dimension:
    exact integer sums and counts per slice, and the drift verdict
    |mean_a − mean_b| > τ decided by CROSS-MULTIPLICATION
    (|Σa·n_b − Σb·n_a| > τ·n_a·n_b) so no division ever happens —
    exact, replayable, mergeable (the per-slice sums add across shards
    like every sufficient statistic here). One posexplode pass + one
    64×2-group aggregate; at 100 TB this is the cheap daily job next to
    `gram_matrix`'s weekly one."""
    e = table(spark, sf_dir, "embeddings")
    rows = e.select(
        (F.col("vec_id") % 2 == 0).alias("slice_a"),
        F.posexplode(F.col("embedding")).alias("dim", "x"),
    ).select(
        "slice_a",
        "dim",
        F.floor(F.col("x").cast("double") * GRAM_Q + 0.5)
        .cast("long")
        .alias("q"),
    )
    agg = rows.groupBy("dim").agg(
        F.sum(F.when(F.col("slice_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("slice_a"), 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("slice_a"), F.col("q")).otherwise(0)).alias("sum_a"),
        F.sum(F.when(~F.col("slice_a"), F.col("q")).otherwise(0)).alias("sum_b"),
    )
    cross = F.abs(
        F.col("sum_a") * F.col("n_b") - F.col("sum_b") * F.col("n_a")
    )
    return agg.select(
        "dim",
        "n_a",
        "n_b",
        "sum_a",
        "sum_b",
        (cross > F.lit(DRIFT_THRESHOLD_Q) * F.col("n_a") * F.col("n_b")).alias(
            "drifted"
        ),
    )


EMBEDDING_DRIFT_SQL = f"""
WITH rows_ AS (
  SELECT vec_id % 2 = 0 AS slice_a, i - 1 AS dim,
         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {GRAM_Q} + 0.5) AS BIGINT)
             AS q
  FROM embeddings, LATERAL (SELECT unnest(range(1, {EMBED_DIM + 1})) AS i)
)
SELECT CAST(dim AS INTEGER) AS dim,
       CAST(SUM(CASE WHEN slice_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       CAST(SUM(CASE WHEN NOT slice_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       CAST(SUM(CASE WHEN slice_a THEN q ELSE 0 END) AS BIGINT) AS sum_a,
       CAST(SUM(CASE WHEN NOT slice_a THEN q ELSE 0 END) AS BIGINT) AS sum_b,
       abs(SUM(CASE WHEN slice_a THEN q ELSE 0 END)
           * SUM(CASE WHEN NOT slice_a THEN 1 ELSE 0 END)
           - SUM(CASE WHEN NOT slice_a THEN q ELSE 0 END)
             * SUM(CASE WHEN slice_a THEN 1 ELSE 0 END))
         > {DRIFT_THRESHOLD_Q}
           * SUM(CASE WHEN slice_a THEN 1 ELSE 0 END)
           * SUM(CASE WHEN NOT slice_a THEN 1 ELSE 0 END) AS drifted
FROM rows_ GROUP BY dim
"""


N_ANCHORS = 20  # vec_id < 20 serve as the mining anchor set


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data mining over the labeled embedding corpus:
    for each anchor, the hardest POSITIVE (lowest-cosine same-label vector
    — the stretch the encoder must still pull together) and the hardest
    NEGATIVE (highest-cosine different-label vector — the imposter it must
    push apart), plus the margin between them. This is the triplet-mining
    pass that turns a labeled embedding table into training pairs; margin
    < 0 flags anchors whose nearest imposter already beats their farthest
    in-class mate (the examples worth training on first).

    Plan: the anchor set broadcasts (fixed, tiny) against one corpus scan;
    per anchor the two extremes come from ONE conditional min_by/max_by
    hash aggregate on zero-padded sortable keys (cosine quantized to
    integer millionths so the key sort is exact and engine-independent) —
    never a rank window over the anchor×corpus pair stream. At 100 TB the
    corpus side streams; anchors scale by batching (each batch is another
    broadcast)."""
    e = _corpus(spark, sf_dir)
    lab = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    ev = e.join(lab, "vec_id")
    anchors = ev.filter(F.col("vec_id") < N_ANCHORS).select(
        F.col("vec_id").alias("a_id"), F.col("label").alias("a_label"),
        F.col("v").alias("av"), F.col("nrm").alias("an"),
    )
    sim = dot(F.col("av"), F.col("v")) / (F.col("an") * F.col("nrm"))
    # integer-millionths cosine for exact zero-padded sort keys; +2e6
    # offset keeps the value positive for %07d
    simq = F.floor(sim * F.lit(1_000_000.0) + F.lit(2_000_000.5)).cast("long")
    pairs = (
        F.broadcast(anchors)
        .join(ev, F.col("a_id") != F.col("vec_id"))
        .select(
            "a_id", "a_label",
            F.col("vec_id").alias("c_id"),
            (F.col("label") == F.col("a_label")).alias("same"),
            simq.alias("sq"),
        )
    )
    # packed BIGINT sort key: (sq, c_id DESC) lexicographic order as
    # sq·2^40 + (2^40−1−c_id) — same ordering as the former
    # printf('%07d:%010d', sq, 9999999999−c_id) string key without a
    # per-pair string allocation. Bounds: 0 < sq ≤ 3·10^6 < 2^22 and
    # c_id < 2^40, so the key fits int64 with room to spare.
    key = (
        F.col("sq") * F.lit(1 << 40)
        + (F.lit((1 << 40) - 1) - F.col("c_id"))
    )
    mined = pairs.groupBy("a_id", "a_label").agg(
        F.min_by("c_id", F.when(F.col("same"), key)).alias("hard_pos"),
        F.min(F.when(F.col("same"), F.col("sq"))).alias("pos_sq"),
        F.max_by("c_id", F.when(~F.col("same"), key)).alias("hard_neg"),
        F.max(F.when(~F.col("same"), F.col("sq"))).alias("neg_sq"),
    )
    return mined.select(
        "a_id", "a_label", "hard_pos", "hard_neg",
        (F.col("pos_sq") - F.lit(2_000_000)).alias("pos_sim_micro"),
        (F.col("neg_sq") - F.lit(2_000_000)).alias("neg_sim_micro"),
        (F.col("pos_sq") - F.col("neg_sq")).alias("margin_micro"),
    )


HARD_NEGATIVE_MINING_SQL = f"""
WITH e AS (
  SELECT emb.vec_id, emb.label, emb.embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(emb.embedding::DOUBLE[],
                               emb.embedding::DOUBLE[])) AS nrm
  FROM embeddings emb
),
pairs AS (
  SELECT a.vec_id AS a_id, a.label AS a_label, c.vec_id AS c_id,
         c.label = a.label AS same,
         CAST(FLOOR(list_dot_product(a.v, c.v) / (a.nrm * c.nrm)
                    * 1000000.0 + 2000000.5) AS BIGINT) AS sq
  FROM e a JOIN e c ON a.vec_id < {N_ANCHORS} AND a.vec_id <> c.vec_id
),
keyed AS (
  SELECT *, printf('%07d:%010d', sq, 9999999999 - c_id) AS k FROM pairs
)
SELECT a_id, a_label,
       arg_min(c_id, k) FILTER (same) AS hard_pos,
       arg_max(c_id, k) FILTER (NOT same) AS hard_neg,
       MIN(sq) FILTER (same) - 2000000 AS pos_sim_micro,
       MAX(sq) FILTER (NOT same) - 2000000 AS neg_sim_micro,
       MIN(sq) FILTER (same) - MAX(sq) FILTER (NOT same) AS margin_micro
FROM keyed GROUP BY a_id, a_label
"""


SEMDEDUP_THRESHOLD = 0.35
# SemDeDup cell count DERIVES FROM CORPUS SIZE (per-cell pair-scan cost is
# (n/C)²·C = n²/C; with C fixed it grows quadratically in n).
# C = max(MIN_CELLS, n // TARGET_CELL) keeps expected cell size ≈ TARGET_CELL
# regardless of corpus scale, so per-cell cost stays ~TARGET_CELL² and total
# cost is linear in n. Both engines compute C from the data itself (Spark: a
# 1-row count; DuckDB: a scalar subquery), so the oracle is parameterized
# identically by construction. At the test SFs (≤2000 vectors) this resolves
# to MIN_CELLS=16 — the same quantizer as before. TARGET_CELL was cut
# 512 -> 256: the sf3 wall (42.1 s) was the per-cell pair scan whose
# per-row constant is ~TARGET_CELL/2 cosines; halving it trades ~128
# pair-scan cosines/row for ~+9 assignment cosines/row (C doubles, so the
# two-level N·2√C term grows √2×) — a measured net win at sf1/sf3.
SEMDEDUP_TARGET_CELL = 256
SEMDEDUP_MIN_CELLS = 16
# Ceiling on the coarse-group search: the oracle's
# MIN-over-range subquery scans range(2, CAP+1) and would yield NULL past
# CAP² fine cells (~2.1 B vectors at CAP=2048) while the unbounded Python
# search kept going — a silent cross-engine divergence. Both sides now
# saturate at the SAME cap (Python stops the linear search, SQL wraps the
# subquery in COALESCE(..., CAP)), mirroring the dedup_band_bits pattern.
SEMDEDUP_COARSE_CAP = 2048
# Above this many fine cells the quantizer goes TWO-LEVEL (the sf3
# measurement found the flat assignment's N×C cosine pass is the next
# quadratic path: C ∝ N makes assignment N²/512; at N=60 k that is 7 M
# cosines and growing with the square). Two-level: vectors pick a coarse
# group first (N×√C), then rank only that group's fine cells (N×~√C) —
# O(N^1.5/√512) total, the standard IVF shape. C1 = 1 below the threshold
# degenerates to EXACTLY the flat ranking, so small corpora keep the
# historical assignment bit-for-bit.
SEMDEDUP_FLAT_MAX_CELLS = 64


def semdedup_n_cells(n: int) -> int:
    return max(SEMDEDUP_MIN_CELLS, n // SEMDEDUP_TARGET_CELL)


def semdedup_coarse_cells(c: int) -> int:
    """Coarse-group count: 1 (flat) up to SEMDEDUP_FLAT_MAX_CELLS fine
    cells, else ceil(sqrt(c)) by pure-integer search (mirrored in the
    oracle as MIN-over-range — no float sqrt boundary risk), saturating
    at SEMDEDUP_COARSE_CAP exactly where the oracle's range() ends."""
    if c <= SEMDEDUP_FLAT_MAX_CELLS:
        return 1
    k = 2
    while k * k < c and k < SEMDEDUP_COARSE_CAP:
        k += 1
    return k


def _two_level_cells(e: DataFrame, centroids: DataFrame,
                     n_coarse: int) -> DataFrame:
    """Two-level IVF assignment: fine cells and vectors each pick their
    nearest coarse group (coarse = the first n_coarse quantizer vectors),
    then a vector ranks only its group's fine cells — N·2√C cosines
    instead of the flat N·C. With n_coarse == 1 this reduces to the flat
    global ranking (every fine cell and vector in the one group); the
    caller dispatches to _ivf_assignments there for the cheaper plan."""
    coarse = (
        centroids.filter(
            F.col("cell_id") < N_QUERIES + n_coarse)
        .select(F.col("cell_id").alias("g_id"), F.col("cv").alias("gv"),
                F.col("cn").alias("gn"))
    )
    gsim = dot(F.col("cv"), F.col("gv")) / (F.col("cn") * F.col("gn"))
    # All three nearest-of picks below are argmaxes computed as ONE
    # min(struct(-sim, id)) hash aggregate each (they were
    # rank-1 row_number windows, i.e. a full sort of every scored stream;
    # the aggregate folds map-side and shuffles ≤1 row per key per
    # partition). Sims are never NULL/NaN (finite vectors, non-zero norms),
    # so struct-min ≡ (sim DESC, id ASC) rank 1 exactly.
    # Coarse cells map to THEMSELVES by construction: ranking
    # a coarse cell against the groups can, under float rounding on
    # near-parallel vectors, tie cosine(g, h) with cosine(g, g)=1 for a
    # lower-id group h and steal cell g — leaving group g empty, so any
    # vector whose v2c pick is g would join zero fine cells and silently
    # vanish from the output. Pinning the identity rows guarantees every
    # coarse group owns at least one fine cell; only the non-coarse cells
    # are ranked. The oracle's f2c CTE mirrors the same UNION ALL split.
    fine2coarse = coarse.select(
        F.col("g_id").alias("cell_id"), "g_id"
    ).unionByName(
        centroids.filter(F.col("cell_id") >= N_QUERIES + n_coarse)
        .crossJoin(F.broadcast(coarse))
        .select("cell_id", "g_id", gsim.alias("gs"))
        .groupBy("cell_id")
        .agg(F.min(F.struct((-F.col("gs")).alias("ns"),
                            F.col("g_id"))).alias("mn"))
        .select("cell_id", F.col("mn.g_id").alias("g_id"))
    )
    vsim = dot(F.col("v"), F.col("gv")) / (F.col("nrm") * F.col("gn"))
    vec2coarse = (
        e.crossJoin(F.broadcast(coarse))
        .select("vec_id", "g_id", vsim.alias("vs"))
        .groupBy("vec_id")
        .agg(F.min(F.struct((-F.col("vs")).alias("ns"),
                            F.col("g_id"))).alias("mn"))
        .select("vec_id", F.col("mn.g_id").alias("g_id"))
    )
    fsim = dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))
    return (
        e.join(vec2coarse, "vec_id")
        .join(F.broadcast(fine2coarse), "g_id")
        .join(F.broadcast(centroids), "cell_id")
        .select("vec_id", "cell_id", fsim.alias("fs"))
        .groupBy("vec_id")
        .agg(F.min(F.struct((-F.col("fs")).alias("ns"),
                            F.col("cell_id"))).alias("mn"))
        .select("vec_id", F.col("mn.cell_id").alias("cell_id"))
    )


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (public recipe: cluster the
    embedding space, deduplicate only WITHIN clusters): every vector is
    assigned to a quantizer cell (deterministic so the oracle replays it;
    k-means|| at scale), and the cosine pair scan runs per cell — cost
    n²/C for balanced cells instead of n², and C grows with the corpus.
    The assignment itself is two-level past SEMDEDUP_FLAT_MAX_CELLS fine
    cells (see the constant's note — flat N×C assignment is N²/512 once
    C ∝ N; measured 5.1× on 3× rows at sf3), identical to the flat
    ranking below it. A vector is dropped when a
    LOWER-id vector in its cell clears the similarity threshold, so
    survivors are unique, deterministic, and independent of evaluation
    order. Output: per vector, its cell, cell size, number of lower-id
    near-duplicates, and the keep verdict — `WHERE keep` is the pruned
    corpus. Complements `dedup_embedding_cosine` (banded LSH pairs): LSH
    answers "which pairs", SemDeDup answers "which copies to train on"
    with bounded per-cell cost."""
    e = _corpus(spark, sf_dir)
    n_cells = semdedup_n_cells(session_scalar(
        spark, f"embeddings_count:{sf_dir}",
        lambda: table(spark, sf_dir, "embeddings").count(),
    ))
    n_coarse = semdedup_coarse_cells(n_cells)
    centroids = (
        e.filter(F.col("vec_id").between(N_QUERIES, N_QUERIES + n_cells - 1))
        .select(F.col("vec_id").alias("cell_id"), F.col("v").alias("cv"),
                F.col("nrm").alias("cn"))
    )
    # two-level IVF assignment (degenerates to the flat global ranking when
    # n_coarse == 1): fine cells and vectors each pick their nearest coarse
    # group, then a vector ranks only its group's fine cells — N·2√C
    # cosines instead of the flat N·C (quadratic once C ∝ N). The flat
    # branch keeps the direct single-ranking plan: with one coarse group
    # the two-level machinery returns the identical assignment (so the
    # unified oracle SQL covers both) but pays two pointless extra window
    # passes (~0.7 s at sf0.1).
    if n_coarse == 1:
        cells = _ivf_assignments(e, centroids, 1, "vec_id")
    else:
        cells = _two_level_cells(e, centroids, n_coarse)
    # vectors are attached ONLY where the pair scan needs them (shuffle
    # keys and metadata, not payloads) — cell sizes and the
    # final id-level report run on the bare (vec_id, cell_id) assignment,
    # so the e-join with its 64-double payload is evaluated once (its two
    # pair-scan sides share one exchange), not in four branches, and the
    # sizes relation shrinks to C rows BEFORE it joins (AQE broadcasts it
    # at small scale; at 100 TB it stays an equi-join on cell_id).
    members = cells.join(e, "vec_id")
    sizes = cells.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("cell_size")
    )
    a = members.select(
        "cell_id", F.col("vec_id").alias("a_id"), F.col("v").alias("av"),
        F.col("nrm").alias("an"),
    )
    b = members.select(
        "cell_id", F.col("vec_id").alias("b_id"), F.col("v").alias("bv"),
        F.col("nrm").alias("bn"),
    )
    sim = dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))
    dup_of_bigger = (
        a.join(b, "cell_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("b_id", sim.alias("s"))
        .filter(F.col("s") >= SEMDEDUP_THRESHOLD)
        .groupBy("b_id")
        .agg(F.count(F.lit(1)).alias("n_dup_lower"))
    )
    return (
        cells.join(sizes, "cell_id")
        .join(
            dup_of_bigger.withColumnRenamed("b_id", "vec_id"), "vec_id",
            "left",
        )
        .select(
            "vec_id",
            "cell_id",
            "cell_size",
            F.coalesce("n_dup_lower", F.lit(0)).alias("n_dup_lower"),
            (F.coalesce("n_dup_lower", F.lit(0)) == 0).alias("keep"),
        )
    )


SEMDEDUP_PRUNE_SQL = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
nc AS (  -- cell count derived from corpus size, same formula as Spark side
  SELECT GREATEST({SEMDEDUP_MIN_CELLS},
                  CAST(COUNT(*) AS BIGINT) // {SEMDEDUP_TARGET_CELL}) AS n
  FROM embeddings
),
ncg AS (  -- coarse-group count: 1 (flat) small, else ceil-sqrt by integer
          -- search — same derivation as semdedup_coarse_cells, saturating
          -- at the shared cap instead of NULLing past range()
  SELECT CASE WHEN (SELECT n FROM nc) <= {SEMDEDUP_FLAT_MAX_CELLS} THEN 1
         ELSE COALESCE(
               (SELECT MIN(k)
                FROM range(2, {SEMDEDUP_COARSE_CAP} + 1) t(k)
                WHERE k * k >= (SELECT n FROM nc)),
               {SEMDEDUP_COARSE_CAP}) END AS g
),
cent AS MATERIALIZED (
  SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM e
  WHERE vec_id BETWEEN {N_QUERIES} AND {N_QUERIES} + (SELECT n FROM nc) - 1
),
grp AS (
  SELECT vec_id AS g_id, v AS gv, nrm AS gn FROM e
  WHERE vec_id BETWEEN {N_QUERIES} AND {N_QUERIES} + (SELECT g FROM ncg) - 1
),
f2c AS MATERIALIZED (  -- fine cell -> coarse group (C x sqrt(C), tiny);
                       -- coarse cells self-map so no group is empty
  SELECT g_id AS cell_id, g_id FROM grp
  UNION ALL
  SELECT cell_id, g_id FROM (
    SELECT cent.cell_id, grp.g_id,
           ROW_NUMBER() OVER (
             PARTITION BY cent.cell_id
             ORDER BY list_dot_product(cent.cv, grp.gv) / (cent.cn * grp.gn)
                        DESC, grp.g_id) AS grn
    FROM cent, grp
    WHERE cent.cell_id >= {N_QUERIES} + (SELECT g FROM ncg)
  ) WHERE grn <= 1
),
v2c AS MATERIALIZED (  -- vector -> coarse group (N x sqrt(C))
  SELECT vec_id, g_id FROM (
    SELECT e.vec_id, grp.g_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, grp.gv) / (e.nrm * grp.gn) DESC,
                      grp.g_id) AS vrn
    FROM e, grp
  ) WHERE vrn <= 1
),
cells AS (  -- vector ranks only its coarse group's fine cells
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, cent.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, cent.cv) / (e.nrm * cent.cn) DESC,
                      cent.cell_id) AS crn
    FROM e JOIN v2c USING (vec_id)
           JOIN f2c ON f2c.g_id = v2c.g_id
           JOIN cent ON cent.cell_id = f2c.cell_id
  ) WHERE crn <= 1
),
members AS MATERIALIZED (
  SELECT c.cell_id, e.vec_id, e.v, e.nrm FROM cells c JOIN e USING (vec_id)
),
sizes AS (
  SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS cell_size
  FROM members GROUP BY cell_id
),
dup_of_bigger AS (
  SELECT b.vec_id AS b_id, CAST(COUNT(*) AS BIGINT) AS n_dup_lower
  FROM members a JOIN members b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
          >= {SEMDEDUP_THRESHOLD}
  GROUP BY b.vec_id
)
SELECT m.vec_id, m.cell_id, s.cell_size,
       COALESCE(d.n_dup_lower, 0) AS n_dup_lower,
       COALESCE(d.n_dup_lower, 0) = 0 AS keep
FROM members m
JOIN sizes s ON s.cell_id = m.cell_id
LEFT JOIN dup_of_bigger d ON d.b_id = m.vec_id
"""


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation as a first-class operator: per-query recall@k of the
    banded-LSH ANN against the brute-force exact top-k. Both pipelines
    are deterministic (md5-derived hyperplanes, total-order tie-breaks),
    so the recall numbers themselves are oracle-checkable — the DuckDB
    replay recomputes BOTH pipelines and the same join. This is the
    measurement a production ANN deployment gates index-parameter changes
    on (bands/bits vs recall); here it runs as one left join between two
    k·|queries|-row results — evaluation cost is negligible next to
    either pipeline."""
    truth = ann_brute_force(spark, sf_dir).select("q_id", "neighbor_id")
    approx = ann_lsh(spark, sf_dir).select(
        "q_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        truth.join(approx, ["q_id", "neighbor_id"], "left")
        .groupBy("q_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"))
        .select(
            "q_id",
            "n_hits",
            (F.col("n_hits").cast("double") / float(TOP_K)).alias("recall"),
        )
    )


ANN_RECALL_REPORT_SQL = f"""
WITH truth AS (
  SELECT q_id, neighbor_id FROM ({ANN_BRUTE_FORCE_SQL}) b
),
approx AS (
  SELECT q_id, neighbor_id, 1 AS hit FROM ({ANN_LSH_SQL}) l
)
SELECT t.q_id,
       CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS n_hits,
       CAST(SUM(COALESCE(a.hit, 0)) AS DOUBLE) / {float(TOP_K)!r} AS recall
FROM truth t
LEFT JOIN approx a ON t.q_id = a.q_id AND t.neighbor_id = a.neighbor_id
GROUP BY t.q_id
"""


QUERIES: dict[str, QuerySpec] = {
    "ann_recall_report": QuerySpec(
        ann_recall_report, ANN_RECALL_REPORT_SQL,
        "per-query recall@k of banded LSH vs brute-force truth",
    ),
    "semdedup_prune": QuerySpec(
        semdedup_prune, SEMDEDUP_PRUNE_SQL,
        "within-cell semantic dedup pruning (SemDeDup recipe)",
    ),
    "hard_negative_mining": QuerySpec(
        hard_negative_mining, HARD_NEGATIVE_MINING_SQL,
        "per-anchor hardest in-batch positive/negative by cosine",
    ),
    "embedding_drift": QuerySpec(
        embedding_drift,
        EMBEDDING_DRIFT_SQL,
        "per-dim drift verdicts via cross-multiplied exact sums",
    ),
    "gram_matrix": QuerySpec(
        gram_matrix,
        GRAM_MATRIX_SQL,
        "one-pass exact 64×64 embedding Gram matrix + power step",
    ),
    "embedding_quantize": QuerySpec(
        embedding_quantize,
        EMBEDDING_QUANTIZE_SQL,
        "unit-norm int8 vector quantization, exact integer output",
    ),
    "ann_brute_force": QuerySpec(ann_brute_force, ANN_BRUTE_FORCE_SQL, "exact cosine top-k per query"),
    "ann_lsh": QuerySpec(ann_lsh, ANN_LSH_SQL, "sign-LSH bucketed ANN (oracle replays md5 hyperplanes)"),
    "ann_ivf": QuerySpec(ann_ivf, ANN_IVF_SQL, "IVF cell-probe ANN with deterministic quantizer"),
    "embedding_centroids": QuerySpec(
        embedding_centroids,
        EMBEDDING_CENTROIDS_SQL,
        "per-label centroid summary (64 avg aggs, no explode)",
    ),
    "kmeans_assign": QuerySpec(
        kmeans_assign,
        KMEANS_ASSIGN_SQL,
        "one Lloyd step: broadcast centroids, decorrelated argmin",
    ),
    "kmeans_update": QuerySpec(
        kmeans_update,
        KMEANS_UPDATE_SQL,
        "Lloyd update half-step: recomputed centroids + shift metric",
    ),
}
