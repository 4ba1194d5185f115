"""Product-quantization (PQ) tier over `embeddings`
(registered in `registry.MODULES`).

The compression stage of an IVF-PQ vector index (Jégou et al. 2011,
"Product Quantization for Nearest Neighbor Search" — the FAISS standard):
split each 64-dim embedding into M=8 subvectors of 8 dims, pick K=16
codewords per subspace, encode every vector as 8 nibble codes (4 bits ×
8 = one BIGINT), and serve approximate queries with asymmetric-distance
(ADC) lookup tables. Everything is exact integer arithmetic: components
quantize to q = floor(x·10⁴ + 0.5) first (the gram_matrix discipline,
similarity.py), so squared distances are exact BIGINTs and the oracle
replay is bit-identical with no float-order hazard anywhere.

Codebook selection is deterministic data-derived (not trained): the K
vectors with the smallest md5-seeded hash per corpus seed the codewords,
rank order assigning the code id — the same replay-stable seeding used
for the LSH hyperplanes and kmeans labels. The per-(vector, subspace)
argmin uses a composite MIN key `dist·16 + code` (dist ≤ 8·(3·10⁴)² ≪
2⁶³/16): one plain MIN aggregate is deterministic in both engines —
no arg_min tie ambiguity, no groupBy-min + join-back second pass.

- pq_encode: every vector's packed 32-bit PQ code (Σ code_m << 4m) plus
  its total quantization distortion — the compressed index payload.
- pq_codebook_report: per (subspace, code): population and exact total /
  mean distortion — the "is any codeword dead or overloaded" audit.
- pq_distortion_report: per subspace: total and per-vector mean
  distortion, worst vector — where the recall loss concentrates.
- pq_ann_probe: ADC search for 5 md5-chosen probe vectors — per-query
  lookup tables (5 × 8 × 16 rows, broadcast) joined to the code table,
  top-10 by exact integer ADC distance with a total tie-break order.

Scale: the component explode is a narrow scan (64 rows per vector); the
codebook side is ≤ M·K·D = 1024 rows — always broadcast; assignment is
ONE partial+final aggregate keyed (vec_id, m, code) (map-side combine
collapses the ×K fanout before the exchange) feeding a second bounded
aggregate keyed (vec_id, m); the session-cached code table is what every
query (and the ADC probe) reuses. LUT builds touch only the probe rows.
No corpus self-join, no cartesian, no collect, no floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import md5_long_seeded, sql_md5_long_seeded
from ..session import session_persist
from ..spec import QuerySpec

PQ_M = 8       # subspaces
PQ_D = 8       # dims per subspace (8 × 8 = the 64-dim embedding)
PQ_K = 16      # codewords per subspace (4-bit codes)
PQ_Q = 10_000  # component quantization: q = floor(x·10⁴ + 0.5)
CB_SEED = 271  # codebook seeding hash
PROBE_SEED = 653
N_PROBES = 5
TOP_K = 10


def _comps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, j, q): quantized component explode, 64 rows per vector."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", F.col("embedding").alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M * PQ_D - 1))).alias("d"),
    )
    return ex.select(
        "vec_id",
        (F.col("d") / PQ_D).cast("int").alias("m"),
        (F.col("d") % PQ_D + 1).alias("j"),
        F.floor(
            F.element_at("v", F.col("d") + 1).cast("double") * PQ_Q + 0.5
        ).alias("q"),
    )


def _cb_comps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(m, code, j, cq): the exploded codebook — ≤ M·K·D = 1024 rows."""
    def build() -> DataFrame:
        e = table(spark, sf_dir, "embeddings")
        h = md5_long_seeded(CB_SEED, F.col("vec_id").cast("string"))
        # orderBy+limit plans as TakeOrdered (per-partition heap), so the
        # global rank is only ever computed over the K surviving rows —
        # never a single-partition sort of the corpus
        seeds = (
            e.select("vec_id", h.alias("h"))
            .orderBy("h", "vec_id")
            .limit(PQ_K)
            .withColumn(
                "code",
                F.row_number().over(Window.orderBy("h", "vec_id")) - 1,
            )
            .select("vec_id", "code")
        )
        return (
            _comps(spark, sf_dir)
            .join(seeds, "vec_id")
            .select("m", "code", "j", F.col("q").alias("cq"))
        )

    return session_persist(spark, f"pq_codebook:{sf_dir}", build)


def _assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, code, dist): nearest codeword per (vector, subspace).

    Composite-key argmin: MIN(dist·K + code) then decode — one aggregate,
    deterministic on distance ties (lowest code wins) in both engines.
    """
    def build() -> DataFrame:
        scored = (
            _comps(spark, sf_dir)
            .join(F.broadcast(_cb_comps(spark, sf_dir)), ["m", "j"])
            .groupBy("vec_id", "m", "code")
            .agg(
                F.sum(
                    (F.col("q") - F.col("cq"))
                    * (F.col("q") - F.col("cq"))
                ).alias("dist")
            )
        )
        return argmin_code(scored, PQ_K)

    return session_persist(spark, f"pq_assign:{sf_dir}", build)


def argmin_code(scored: DataFrame, k: int = PQ_K) -> DataFrame:
    """(vec_id, m, code, dist) candidates → the per-(vec_id, m) argmin.

    One plain MIN over the composite key dist·k + code: deterministic on
    distance ties (lowest code wins) with no arg_min ambiguity and no
    groupBy-min + join-back second pass. Requires 0 ≤ code < k and
    dist·k + k ≤ 2⁶³. Property-tested against a pure-Python model
    (tests/test_properties.py)."""
    best = scored.groupBy("vec_id", "m").agg(
        F.min(F.col("dist") * k + F.col("code")).alias("key")
    )
    return best.select(
        "vec_id", "m",
        (F.col("key") % k).cast("int").alias("code"),
        F.expr(f"key div {k}").alias("dist"),
    )


# shared oracle CTEs: quantized components → seeded codebook → scored →
# composite-key argmin. DuckDB `//` ↔ Spark `div`; every count/sum carries
# an explicit BIGINT cast (DuckDB SUM(int) → HUGEINT).
_SQL_PQ_CTES = f"""
comps AS (
  SELECT vec_id,
         CAST(u.d // {PQ_D} AS INTEGER) AS m,
         u.d % {PQ_D} + 1 AS j,
         CAST(FLOOR(embedding[u.d + 1]::DOUBLE * {PQ_Q} + 0.5) AS BIGINT)
             AS q
  FROM embeddings, UNNEST(range(0, {PQ_M * PQ_D})) AS u(d)
),
seeds AS (
  SELECT vec_id, code FROM (
    SELECT vec_id,
           ROW_NUMBER() OVER (
             ORDER BY {sql_md5_long_seeded(CB_SEED, "CAST(vec_id AS VARCHAR)")},
                      vec_id
           ) - 1 AS code
    FROM embeddings
  ) WHERE code < {PQ_K}
),
cb AS (
  SELECT c.m, s.code, c.j, c.q AS cq
  FROM comps c JOIN seeds s ON c.vec_id = s.vec_id
),
scored AS (
  SELECT c.vec_id, c.m, cb.code,
         CAST(SUM((c.q - cb.cq) * (c.q - cb.cq)) AS BIGINT) AS dist
  FROM comps c JOIN cb ON c.m = cb.m AND c.j = cb.j
  GROUP BY c.vec_id, c.m, cb.code
),
assign AS (
  SELECT vec_id, m,
         CAST(k % {PQ_K} AS INTEGER) AS code,
         k // {PQ_K} AS dist
  FROM (
    SELECT vec_id, m, MIN(dist * {PQ_K} + code) AS k
    FROM scored GROUP BY vec_id, m
  )
)"""


def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _assignments(spark, sf_dir)
    return a.groupBy("vec_id").agg(
        F.sum(F.expr("shiftleft(cast(code as bigint), m * 4)"))
        .alias("pq_code"),
        F.sum("dist").alias("total_dist"),
    )


PQ_ENCODE_SQL = f"""
WITH {_SQL_PQ_CTES}
SELECT vec_id,
       CAST(SUM(CAST(code AS BIGINT) << (m * 4)) AS BIGINT) AS pq_code,
       CAST(SUM(dist) AS BIGINT) AS total_dist
FROM assign GROUP BY vec_id
"""


def pq_codebook_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _assignments(spark, sf_dir)
    return a.groupBy("m", "code").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.sum("dist").alias("sum_dist"),
    ).withColumn("mean_dist", F.expr("sum_dist div n_assigned"))


PQ_CODEBOOK_REPORT_SQL = f"""
WITH {_SQL_PQ_CTES}
SELECT m, code,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       CAST(SUM(dist) AS BIGINT) AS sum_dist,
       CAST(SUM(dist) AS BIGINT) // COUNT(*) AS mean_dist
FROM assign GROUP BY m, code
"""


def pq_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _assignments(spark, sf_dir)
    return a.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("dist").alias("sum_dist"),
        F.max("dist").alias("worst_dist"),
    ).withColumn("mean_dist", F.expr("sum_dist div n_vectors"))


PQ_DISTORTION_REPORT_SQL = f"""
WITH {_SQL_PQ_CTES}
SELECT m,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(dist) AS BIGINT) AS sum_dist,
       CAST(MAX(dist) AS BIGINT) AS worst_dist,
       CAST(SUM(dist) AS BIGINT) // COUNT(*) AS mean_dist
FROM assign GROUP BY m
"""


def pq_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k: per probe vector, the asymmetric lookup table (exact
    query-to-codeword distances) summed along each stored vector's codes."""
    e = table(spark, sf_dir, "embeddings")
    h = md5_long_seeded(PROBE_SEED, F.col("vec_id").cast("string"))
    probes = (
        e.select("vec_id", h.alias("h"))
        .orderBy("h", "vec_id")
        .limit(N_PROBES)
        .select(F.col("vec_id").alias("query_id"))
    )
    lut = (
        _comps(spark, sf_dir)
        .join(F.broadcast(probes),
              F.col("vec_id") == F.col("query_id"))
        .join(F.broadcast(_cb_comps(spark, sf_dir)), ["m", "j"])
        .groupBy("query_id", "m", "code")
        .agg(
            F.sum(
                (F.col("q") - F.col("cq"))
                * (F.col("q") - F.col("cq"))
            ).alias("ldist")
        )
    )
    adc = (
        _assignments(spark, sf_dir)
        .join(F.broadcast(lut), ["m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("ldist").alias("adc_dist"))
    )
    ranked = adc.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
        ),
    )
    return ranked.filter(F.col("rank") <= TOP_K).select(
        "query_id", "vec_id", "adc_dist", "rank"
    )


PQ_ANN_PROBE_SQL = f"""
WITH {_SQL_PQ_CTES},
probes AS (
  SELECT vec_id AS query_id FROM (
    SELECT vec_id,
           ROW_NUMBER() OVER (
             ORDER BY {sql_md5_long_seeded(PROBE_SEED,
                                           "CAST(vec_id AS VARCHAR)")},
                      vec_id
           ) AS rn
    FROM embeddings
  ) WHERE rn <= {N_PROBES}
),
lut AS (
  SELECT p.query_id, cb.m, cb.code,
         CAST(SUM((c.q - cb.cq) * (c.q - cb.cq)) AS BIGINT) AS ldist
  FROM probes p
  JOIN comps c ON c.vec_id = p.query_id
  JOIN cb ON c.m = cb.m AND c.j = cb.j
  GROUP BY p.query_id, cb.m, cb.code
),
adc AS (
  SELECT l.query_id, a.vec_id, CAST(SUM(l.ldist) AS BIGINT) AS adc_dist
  FROM assign a JOIN lut l ON a.m = l.m AND a.code = l.code
  GROUP BY l.query_id, a.vec_id
)
SELECT query_id, vec_id, adc_dist, rank FROM (
  SELECT query_id, vec_id, adc_dist,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc_dist, vec_id
         ) AS INTEGER) AS rank
  FROM adc
) WHERE rank <= {TOP_K}
"""


def queries() -> dict[str, QuerySpec]:
    return {
        "pq_encode": QuerySpec(
            pq_encode, PQ_ENCODE_SQL,
            "packed 32-bit PQ code + exact distortion per vector",
        ),
        "pq_codebook_report": QuerySpec(
            pq_codebook_report, PQ_CODEBOOK_REPORT_SQL,
            "per-(subspace, code) population and distortion audit",
        ),
        "pq_distortion_report": QuerySpec(
            pq_distortion_report, PQ_DISTORTION_REPORT_SQL,
            "per-subspace distortion totals, means, worst vector",
        ),
        "pq_ann_probe": QuerySpec(
            pq_ann_probe, PQ_ANN_PROBE_SQL,
            "ADC top-10 for 5 md5-chosen probes, exact integer distances",
        ),
    }
