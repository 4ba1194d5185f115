"""Privacy-release tier over the customer dimension
(registered in `registry.MODULES`).

Completes the privacy workflow that `etl.py::pii_mask` (the transform),
`quality.py::pii_scan` (the detector) and `quality.py::k_anonymity_audit`
(the risk audit) started — the four release-decision operators a data team
runs before shipping a dataset outside the trusted zone:

- dp_count_release: ε-differentially-private histogram release (Laplace
  mechanism, ε=1, sensitivity 1 for disjoint count buckets).  The noise is
  DETERMINISTIC — a seeded md5-uniform draw pushed through the Laplace
  inverse CDF — which is the testing harness a DP pipeline needs (replay
  the release bit-for-bit; swap the seeded uniform for a CSPRNG at launch,
  the documented production delta).  One hash aggregate + per-row closed
  form; ln() outputs truncated to 6 dp (the tfidf/lm_score cross-engine
  policy).

- l_diversity_audit: distinct-sensitive-value diversity per
  quasi-identifier group — the follow-up to k-anonymity (a k-large group
  whose members all share one sensitive value still leaks it).  One
  two-level aggregate, exact integers.

- generalization_ladder: pick the release granularity — walk the fixed
  generalization lattice from most to least specific and flag the FIRST
  level whose minimum QI-group size clears k.  Three tiny aggregates
  unioned; the chosen flag is a broadcast join against the 1-row argmin —
  no driver-side decision.

- pii_redact_digest: certification of the masked extract — per-segment
  row count and bit_xor digest of md5 over the canonical redacted tuple
  (pseudonym, digit-suppressed name, balance band).  Proves a distributed
  redaction byte-for-byte without collecting the extract (the
  `table_checksum` pattern applied to `pii_mask`'s output contract).

Scale: every operator is scan → one (or two chained) bounded hash
aggregates; no windows, no joins except the 1-row broadcast argmin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import md5_long_seeded, sql_md5_long_seeded
from ..functions.numeric import ftrunc, sql_ftrunc
from ..spec import QuerySpec

# ---------------------------------------------------------------------------
# dp_count_release
# ---------------------------------------------------------------------------

DP_EPSILON = 1.0  # release budget; b = sensitivity/ε = 1.0 for counts
DP_SEED = 71
# u = (h % m + 1)/(m + 1) ∈ (0,1); u = 0.5 IS attainable (k = (m+1)/2) and
# maps to noise exactly 0.0 — the Laplace median — identically in both
# engines (sign(0)·ln(1) = 0)
_DP_MOD = 999_983


def dp_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism release of the per-nation customer histogram with
    a seeded deterministic noise draw (see module docstring).  noise =
    -b·sign(u−½)·ln(1−2|u−½|), b=1/ε; 6-dp truncated so the ln() is
    cross-engine stable."""
    c = table(spark, sf_dir, "customer")
    counts = c.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("exact_n"))
    h = md5_long_seeded(DP_SEED, F.col("c_nationkey").cast("string"))
    u = ((h % _DP_MOD) + 1).cast("double") / float(_DP_MOD + 1)
    centered = u - 0.5
    noise = ftrunc(
        -F.signum(centered)
        * F.log(1.0 - 2.0 * F.abs(centered))
        / F.lit(DP_EPSILON),
        6,
    )
    return counts.select(
        "c_nationkey",
        "exact_n",
        noise.alias("noise"),
        ftrunc(F.col("exact_n") + noise, 6).alias("released_n"),
    ).orderBy("c_nationkey")


_SQL_U = (
    f"(CAST(({sql_md5_long_seeded(DP_SEED, 'CAST(c_nationkey AS VARCHAR)')})"
    f" % {_DP_MOD} + 1 AS DOUBLE) / {_DP_MOD + 1}.0)"
)
_SQL_NOISE = sql_ftrunc(
    f"-sign({_SQL_U} - 0.5) * ln(1.0 - 2.0 * abs({_SQL_U} - 0.5))"
    f" / {DP_EPSILON}",
    6,
)

DP_COUNT_RELEASE_SQL = f"""
WITH counts AS (
  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM customer GROUP BY c_nationkey
)
SELECT c_nationkey, exact_n,
       {_SQL_NOISE} AS noise,
       {sql_ftrunc(f'exact_n + ({_SQL_NOISE})', 6)} AS released_n
FROM counts
ORDER BY c_nationkey
"""


# ---------------------------------------------------------------------------
# l_diversity_audit
# ---------------------------------------------------------------------------

L_DIVERSITY = 3  # each QI group must span >= 3 distinct sensitive values
_BAL_BAND = "CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) div 100000"
_SQL_BAL_BAND = (
    "CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) // 100000"
)


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-sensitive diversity per QI group (nation, segment);
    sensitive attribute = exact-thousand balance band (integer-cents div,
    the k_anonymity_audit convention).  Reports group counts, the
    under-diverse groups, and their exposed row mass — exact integers."""
    c = table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", F.expr(_BAL_BAND).alias("sens")
    )
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("sens").alias("l"),
    )
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum((F.col("l") < L_DIVERSITY).cast("long")).alias("n_under_diverse"),
        F.sum(
            F.when(F.col("l") < L_DIVERSITY, F.col("n_rows")).otherwise(0)
        ).alias("n_exposed_rows"),
        F.min("l").alias("min_l"),
        F.max("l").alias("max_l"),
    )


L_DIVERSITY_AUDIT_SQL = f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT {_SQL_BAL_BAND}) AS BIGINT) AS l
  FROM customer
  GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN l < {L_DIVERSITY} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_under_diverse,
       CAST(SUM(CASE WHEN l < {L_DIVERSITY} THEN n_rows ELSE 0 END) AS BIGINT)
         AS n_exposed_rows,
       CAST(MIN(l) AS BIGINT) AS min_l,
       CAST(MAX(l) AS BIGINT) AS max_l
FROM g
"""


# ---------------------------------------------------------------------------
# generalization_ladder
# ---------------------------------------------------------------------------

K_RELEASE = 5  # required minimum QI-group size for release

# lattice, most specific first: rank, name, QI column exprs
_LADDER: tuple[tuple[int, str, tuple[str, ...]], ...] = (
    (1, "nation+segment+balance_band",
     ("c_nationkey", "c_mktsegment", _BAL_BAND)),
    (2, "nation+segment", ("c_nationkey", "c_mktsegment")),
    (3, "nation", ("c_nationkey",)),
)


def generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-granularity decision: per lattice level, QI-group stats and
    a `chosen` flag on the MOST SPECIFIC level whose min group size clears
    K_RELEASE.  The argmin over passing levels is a 1-row aggregate joined
    back broadcast — the decision stays in the plan, not on the driver."""
    c = table(spark, sf_dir, "customer")
    levels = []
    for rank, name, cols in _LADDER:
        g = c.groupBy(*[F.expr(x) for x in cols]).agg(
            F.count(F.lit(1)).alias("n")
        )
        levels.append(
            g.agg(
                F.lit(rank).alias("rank"),
                F.lit(name).alias("level"),
                F.count(F.lit(1)).alias("n_groups"),
                F.min("n").alias("min_group_size"),
                F.sum((F.col("n") < K_RELEASE).cast("long")).alias(
                    "n_violating"
                ),
            )
        )
    all_levels = levels[0].unionByName(levels[1]).unionByName(levels[2])
    best = all_levels.filter(
        F.col("min_group_size") >= K_RELEASE
    ).agg(F.min("rank").alias("best_rank"))
    return (
        all_levels.join(F.broadcast(best))
        .select(
            "rank",
            "level",
            "n_groups",
            "min_group_size",
            "n_violating",
            F.coalesce(
                F.col("rank") == F.col("best_rank"), F.lit(False)
            ).alias("chosen"),
        )
        .orderBy("rank")
    )


def _ladder_sql() -> str:
    lvls = []
    for rank, name, cols in _LADDER:
        sql_cols = ", ".join(
            c.replace(" div ", " // ") for c in cols
        )
        lvls.append(f"""
  SELECT {rank} AS rank, '{name}' AS level,
         CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(MIN(n) AS BIGINT) AS min_group_size,
         CAST(SUM(CASE WHEN n < {K_RELEASE} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating
  FROM (SELECT {sql_cols}, COUNT(*) AS n FROM customer
        GROUP BY {sql_cols})""")
    union = "\n  UNION ALL\n".join(lvls)
    return f"""
WITH all_levels AS ({union}
),
best AS (
  SELECT MIN(rank) AS best_rank FROM all_levels
  WHERE min_group_size >= {K_RELEASE}
)
SELECT rank, level, n_groups, min_group_size, n_violating,
       COALESCE(rank = (SELECT best_rank FROM best), FALSE) AS chosen
FROM all_levels
ORDER BY rank
"""


GENERALIZATION_LADDER_SQL = _ladder_sql()


# ---------------------------------------------------------------------------
# pii_redact_digest
# ---------------------------------------------------------------------------

_REDACT_SEED = 13


def pii_redact_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-for-byte certification of the masked extract: per segment, row
    count plus a bit_xor digest of md5 over the canonical redacted tuple —
    `pii_mask`'s output contract (pseudonym, digit-suppressed name,
    balance band) — so two independent runs of the redaction (or the
    redaction on two clusters) can be compared without moving the extract.
    Order-insensitive by construction (xor), one hash aggregate."""
    c = table(spark, sf_dir, "customer")
    tup = F.concat_ws(
        "|",
        F.substring(F.md5(F.col("c_name")), 1, 12),
        F.regexp_replace(F.col("c_name"), "[0-9]", "#"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").cast("string"),
    )
    return (
        c.select(
            "c_mktsegment", md5_long_seeded(_REDACT_SEED, tup).alias("d")
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(d)").alias("redaction_digest"),
        )
        .orderBy("c_mktsegment")
    )


_SQL_TUP = (
    "substr(md5(c_name), 1, 12) || '|' || "
    "regexp_replace(c_name, '[0-9]', '#', 'g') || '|' || "
    "CAST(CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS VARCHAR)"
)

PII_REDACT_DIGEST_SQL = f"""
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor({sql_md5_long_seeded(_REDACT_SEED, _SQL_TUP)}) AS BIGINT)
         AS redaction_digest
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def queries() -> dict[str, QuerySpec]:
    return {
        "dp_count_release": QuerySpec(
            dp_count_release,
            DP_COUNT_RELEASE_SQL,
            "Laplace DP histogram release, seeded deterministic noise",
        ),
        "l_diversity_audit": QuerySpec(
            l_diversity_audit,
            L_DIVERSITY_AUDIT_SQL,
            "distinct-sensitive diversity per QI group (l-diversity)",
        ),
        "generalization_ladder": QuerySpec(
            generalization_ladder,
            GENERALIZATION_LADDER_SQL,
            "pick release granularity: first lattice level clearing k",
        ),
        "pii_redact_digest": QuerySpec(
            pii_redact_digest,
            PII_REDACT_DIGEST_SQL,
            "bit_xor md5 certification of the masked extract per segment",
        ),
    }
