"""Skew- and layout-aware join strategies (scale path).

AQE's skew-join splitting (on in session.py) handles most runtime skew, but
two levers need explicit code at 100 TB and are provided here:

- `salted_join` — when BOTH sides are too large to broadcast and the key is
  pathologically hot, pre-split every hot key into `n_salt` sub-keys: the
  large side derives its salt deterministically from a unique column, the
  small side replicates each row across all salts. Semantics-preserving for
  equi-joins, so the oracle is the plain join.
- `write_bucketed` / bucketed tables — co-locate both sides of a recurring
  join at WRITE time (`bucketBy` on the join key): every later join on that
  key is exchange-free (tests/test_plans.py asserts the absence of the
  shuffle).

The registered `skew_salted_join` query runs the salted plan over a
deliberately hot key (o_orderpriority: 5 values across 15k orders at sf0.01)
and must produce exactly the plain-join aggregate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.hashing import sql_md5_long
from ..functions.numeric import cents, ftrunc
from ..session import session_persist
from ..spec import QuerySpec


def salted_join(large: DataFrame, small: DataFrame, key: str,
                salt_src: Column, n_salt: int = 16,
                how: str = "inner") -> DataFrame:
    """Equi-join with the hot key split `n_salt` ways.

    `salt_src` must be an expression over `large` that varies within a key
    group (any unique-ish column); the salt is derived by hash, so the plan
    stays deterministic (no rand()) and re-runs identically — important for
    retried tasks, which is also why rand() salting is a correctness bug on
    speculative execution.
    """
    salted_large = large.withColumn("_salt", F.pmod(F.xxhash64(salt_src), n_salt))
    salts = F.explode(F.array(*[F.lit(i).cast("long") for i in range(n_salt)]))
    salted_small = small.withColumn("_salt", salts)
    return (
        salted_large.join(salted_small, [key, "_salt"], how).drop("_salt")
    )


def write_bucketed(df: DataFrame, name: str, bucket_cols: Sequence[str],
                   n_buckets: int, sort_cols: Sequence[str] = (),
                   fmt: str = "parquet") -> None:
    """Persist as a bucketed (+ optionally sorted) table: joins/aggregations
    on `bucket_cols` against another table bucketed the same way need no
    exchange, and sorted buckets also skip the sort of a sort-merge join."""
    writer = df.write.format(fmt).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.mode("overwrite").saveAsTable(name)


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders joined to a tiny priority-level dim on a 5-value hot key via
    salting, then aggregated. Oracle = the plain join (salting must not
    change semantics)."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    # derive the dim from the data itself so the query is self-contained
    dim = (
        table(spark, sf_dir, "orders")
        .select("o_orderpriority")
        .distinct()
        .withColumn("priority_rank",
                    F.split(F.col("o_orderpriority"), "-").getItem(0).cast("int"))
    )
    joined = salted_join(orders, dim, "o_orderpriority",
                         F.col("o_orderkey"), n_salt=8)
    return (
        joined.groupBy("priority_rank")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents(F.col("o_totalprice"))).cast("double") / F.lit(100.0))
            .alias("sum_price"),
        )
        .orderBy("priority_rank")
    )


SKEW_SALTED_JOIN_SQL = """
WITH dim AS (
  SELECT DISTINCT o_orderpriority,
         CAST(string_split(o_orderpriority, '-')[1] AS INTEGER) AS priority_rank
  FROM orders
)
SELECT d.priority_rank,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / 100.0 AS sum_price
FROM orders o JOIN dim d ON o.o_orderpriority = d.o_orderpriority
GROUP BY d.priority_rank
ORDER BY d.priority_rank
"""


def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx-count-distinct with its exact counterpart and an
    in-tolerance flag. The oracle computes the exact count and asserts the
    flag TRUE — so the hash comparison verifies the sketch lands within the
    configured rsd without requiring DuckDB to reproduce the sketch.

    Plan note: countDistinct + approx_count_distinct in ONE agg makes
    Catalyst plan an Expand (each input row duplicated per distinct-agg
    group), doubling the pre-shuffle volume. HLL registers are a max over
    hashed values — duplicate-insensitive — so both aggregates run over a
    pre-distincted column instead: partial distinct map-side, one shuffle
    of unique keys, identical estimate, ~7x faster at sf0.1."""
    li = table(spark, sf_dir, "lineitem")
    # count the COLUMN, not '*': after distinct() a NULL key would survive
    # as one row, and count(*) would diverge from the oracle's
    # COUNT(DISTINCT l_orderkey) (NULL-excluding) if the key ever nulled
    agg = li.select("l_orderkey").distinct().agg(
        F.count("l_orderkey").alias("exact_distinct"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
    )
    return agg.select(
        "exact_distinct",
        # guard the 0/0 on an empty table (ANSI division throws): the
        # oracle's verdict on zero distinct keys is vacuously TRUE
        F.when(
            F.col("exact_distinct") > 0,
            F.abs(F.col("approx") - F.col("exact_distinct"))
            / F.col("exact_distinct") <= 0.06,
        ).otherwise(F.lit(True)).alias("approx_within_tolerance"),
    )


APPROX_DISTINCT_SQL = """
SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
       TRUE AS approx_within_tolerance
FROM lineitem
"""


# ---------------------------------------------------------------------------
# Count-Min Sketch (deterministic, md5-derived rows) + accuracy report
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_PROBE_K = 25  # exact top-k tokens probed against the sketch


def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus token-frequency table (token, exact_n), session-
    persisted once (vocabulary-sized). Shared by cms_topk (sketch build +
    probe ground truth) and sampling.heavy_hitters (the two keys
    used to rebuild the same aggregate; one materialization, two
    consumers, the `similarity.lsh_bands` precedent)."""
    d = table(spark, sf_dir, "documents")
    return session_persist(spark, f"cms_tf:{sf_dir}", lambda: d.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).groupBy("token").agg(F.count(F.lit(1)).alias("exact_n")))


def cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch over the corpus token stream, probed with the exact
    top-25 tokens: reports exact vs estimated count per token (estimate =
    min over the sketch's 4 rows; CMS guarantees estimate >= exact).

    Built entirely as DataFrame composition: explode tokens → count per
    token → explode 4 seeded md5 hash rows over the VOCABULARY → groupBy
    (row, cell) sum-of-frequencies is THE sketch (4096 cells regardless of
    input size — the fixed-size summary you ship to the driver or merge
    across 100 TB shards by cell-wise addition). Aggregating BEFORE hashing
    (aggregate before you shuffle) is exact: a token's 4
    cells depend only on the token, so summing its frequency into those
    cells yields bit-identically the occurrence-count sketch while the
    md5 + explode work drops from 4 per occurrence to 4 per distinct token
    and the frequency aggregate itself folds map-side. The probe joins
    each heavy hitter's 4 cells against the sketch and takes min().
    Hashing is md5-derived, so the DuckDB oracle rebuilds the identical
    sketch bit-for-bit."""
    from ..functions.hashing import md5_long

    tf = token_frequencies(spark, sf_dir)
    cells = tf.select(
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        (
                            md5_long(
                                F.concat(F.lit(f"cms{j}:"), F.col("token"))
                            )
                            % CMS_WIDTH
                        ).alias("cell"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("rc"),
    ).select(F.col("rc.row").alias("row"), F.col("rc.cell").alias("cell"),
             "exact_n")
    sketch = cells.groupBy("row", "cell").agg(F.sum("exact_n").alias("c"))

    exact = (
        tf.orderBy(F.desc("exact_n"), F.asc("token"))
        .limit(CMS_PROBE_K)
    )
    probe = exact.select(
        "token",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        (
                            md5_long(
                                F.concat(F.lit(f"cms{j}:"), F.col("token"))
                            )
                            % CMS_WIDTH
                        ).alias("cell"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("rc"),
    ).select(
        "token", "exact_n",
        F.col("rc.row").alias("row"), F.col("rc.cell").alias("cell"),
    )
    return (
        probe.join(F.broadcast(sketch), ["row", "cell"])
        .groupBy("token", "exact_n")
        .agg(F.min("c").alias("cms_estimate"))
    )


def _sql_cms_cells(token_expr: str) -> str:
    from ..functions.hashing import sql_md5_long

    parts = []
    for j in range(CMS_DEPTH):
        hashed = sql_md5_long(f"'cms{j}:' || {token_expr}")
        parts.append(f"{{'row': {j}, 'cell': {hashed} % {CMS_WIDTH}}}")
    return "unnest([" + ", ".join(parts) + "])"


CMS_TOPK_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
cells AS (
  SELECT token, {_sql_cms_cells('token')} AS rc FROM toks
),
sketch AS (
  SELECT rc.row AS row, rc.cell AS cell, CAST(COUNT(*) AS BIGINT) AS c
  FROM cells GROUP BY rc.row, rc.cell
),
exact AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM toks GROUP BY token
  ORDER BY exact_n DESC, token ASC LIMIT {CMS_PROBE_K}
),
probe AS (
  SELECT token, exact_n, {_sql_cms_cells('token')} AS rc FROM exact
)
SELECT p.token, p.exact_n, MIN(s.c) AS cms_estimate
FROM probe p JOIN sketch s ON p.rc.row = s.row AND p.rc.cell = s.cell
GROUP BY p.token, p.exact_n
"""


# ---------------------------------------------------------------------------
# HyperLogLog by hand (md5 registers, bit-identical cross-engine)
# ---------------------------------------------------------------------------

HLL_M = 256  # registers (2^8)
HLL_SHIFT = 8  # log2(HLL_M): exact integer >>8 == DuckDB hv // 256 (float "/" can
# drift for h > 2^53, where a double cannot hold h exactly)
assert (1 << HLL_SHIFT) == HLL_M
HLL_HASH_BITS = 52  # md5_long is 60-bit; use 8 for the bucket, 52 for rho
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)  # same literal in both engines


def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw HyperLogLog distinct-token estimate next to the exact count.

    Unlike `approx_distinct` (Spark's built-in HLL++, oracle-checked only
    via its error bound), this one is built from column algebra on
    md5-derived registers, so the DuckDB oracle reproduces the estimate
    BIT-FOR-BIT: bucket = low 8 hash bits; rho = leading-zero count of the
    remaining 52 bits + 1 via integer bit-length (binary-string length —
    exact, no float log); and the 2^-rho register sum is a sum of exact
    binary fractions, so it is order-independent in IEEE double and safe
    across any partitioning. One groupBy(bucket) over the token stream →
    256 rows → single-row estimate: the mergeable cardinality summary you'd
    AGG per shard at 100 TB (register-wise MAX merges shards)."""
    d = table(spark, sf_dir, "documents")
    from ..functions.hashing import md5_long

    h = md5_long(F.concat(F.lit("hll:"), F.col("token")))
    toks = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).select(
        (h % HLL_M).alias("bucket"),
        F.shiftright(h, HLL_SHIFT).cast("long").alias("rest"),
    )
    # bit_length via binary-string length: exact in both engines
    bitlen = F.when(F.col("rest") > 0, F.length(F.bin(F.col("rest")))).otherwise(0)
    rho = (F.lit(HLL_HASH_BITS) - bitlen + 1).cast("int")
    regs = toks.groupBy("bucket").agg(F.max(rho).alias("m_rho"))
    z = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m_rho"))).alias("z"),
        F.count(F.lit(1)).alias("nonzero_buckets"),
    )
    exact = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).agg(F.count_distinct("token").alias("n_exact"))
    est_raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / (
        F.col("z") + (HLL_M - F.col("nonzero_buckets"))
    )
    # small-range (linear counting) correction — the standard HLL regime
    # switch: with zero registers present and a small raw estimate, count
    # occupancy instead (this corpus's tiny vocab exercises exactly this)
    zero_buckets = F.lit(HLL_M) - F.col("nonzero_buckets")
    est = F.when(
        (est_raw <= 2.5 * HLL_M) & (zero_buckets > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zero_buckets),
    ).otherwise(est_raw)
    return (
        z.crossJoin(F.broadcast(exact))
        .select(
            F.lit(HLL_M).alias("m"),
            "nonzero_buckets",
            "n_exact",
            ftrunc(est, 4).alias("hll_estimate"),
        )
    )


HLL_DISTINCT_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
h AS (
  SELECT {sql_md5_long("'hll:' || token")} AS hv FROM toks
),
b AS (
  SELECT hv % {HLL_M} AS bucket, hv // {HLL_M} AS rest FROM h
),
regs AS (
  SELECT bucket,
         MAX(CAST({HLL_HASH_BITS} -
             (CASE WHEN rest > 0 THEN length(bin(rest)) ELSE 0 END)
             + 1 AS INTEGER)) AS m_rho
  FROM b GROUP BY bucket
),
z AS (
  SELECT SUM(POWER(2.0, -m_rho)) AS z,
         CAST(COUNT(*) AS BIGINT) AS nonzero_buckets
  FROM regs
),
exact AS (
  SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS n_exact FROM toks
),
est AS (
  SELECT nonzero_buckets, n_exact,
         {HLL_ALPHA * HLL_M * HLL_M!r} / (z + ({HLL_M} - nonzero_buckets))
             AS est_raw
  FROM z CROSS JOIN exact
)
SELECT {HLL_M} AS m, nonzero_buckets, n_exact,
       FLOOR(CASE WHEN est_raw <= {2.5 * HLL_M} AND nonzero_buckets < {HLL_M}
             THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / ({HLL_M} - nonzero_buckets))
             ELSE est_raw END * 10000.0) / 10000.0 AS hll_estimate
FROM est
"""


# ---------------------------------------------------------------------------
# Bloom filter (membership sketch → runtime join-filter story)
# ---------------------------------------------------------------------------

BLOOM_K = 7        # hash functions
BLOOM_M = 131_072  # bits (2^17): m/n ≈ 9 at sf0.1 → ~1% theoretical FPR
BLOOM_SHIFT = 10_000_000  # offsets probe keys out of the key domain


def bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a Bloom filter over the customer key set, probe it with (a) the
    members themselves and (b) a disjoint shifted key set; report the
    zero-false-negative check and the measured false-positive rate.

    The filter is the DISTINCT set of k·md5 bit positions — a relation, not
    a bitmap, so it merges across shards by union and ships cross-system
    (this is Spark's runtime bloom-join filter made explicit: at 100 TB you
    build this on the dim side and semi-join the fact scan against it
    before the real join, turning a shuffle of non-matching fact rows into
    a scan-side drop). Probe = k-row explode per key, equi-join on
    position, HAVING count(*) = k."""
    from ..functions.hashing import md5_long

    keys = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key")
    ).distinct()

    def positions(key_col):
        return F.explode(
            F.array(
                *[
                    (
                        md5_long(
                            F.concat(F.lit(f"bloom{j}:"), key_col.cast("string"))
                        )
                        % BLOOM_M
                    ).alias(f"p{j}")
                    for j in range(BLOOM_K)
                ]
            )
        )

    # the filter relation is probed twice (members + non-members); one
    # session-scoped materialization ≙ the built-once shipped bloom filter
    bits = session_persist(
        spark, f"bloom_bits:{sf_dir}",
        lambda: keys.select(positions(F.col("key")).alias("pos")).distinct(),
    )

    def probe(probe_keys: DataFrame) -> DataFrame:
        cells = probe_keys.select("key", positions(F.col("key")).alias("pos"))
        # bits is bounded by BLOOM_M (2^17 positions) at ANY corpus size —
        # broadcast it explicitly (the probe side must
        # never shuffle for this join; AQE happened to pick broadcast from
        # size estimates already, this pins the scale-safe strategy)
        hits = (
            cells.join(F.broadcast(bits), "pos")
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("n_hit"))
            .filter(F.col("n_hit") == BLOOM_K)
        )
        return hits

    nonmembers = keys.select((F.col("key") + BLOOM_SHIFT).alias("key"))
    n_keys = keys.agg(F.count(F.lit(1)).alias("n_keys"))
    member_pass = probe(keys).agg(F.count(F.lit(1)).alias("members_passed"))
    nonmember_pass = probe(nonmembers).agg(
        F.count(F.lit(1)).alias("nonmembers_passed")
    )
    return (
        n_keys.crossJoin(F.broadcast(member_pass))
        .crossJoin(F.broadcast(nonmember_pass))
        .select(
            "n_keys",
            "members_passed",
            "nonmembers_passed",
            # n_keys = 0 (empty table) must yield NULL like the oracle's
            # x/0, not an ANSI divide-by-zero error
            ftrunc(
                F.when(
                    F.col("n_keys") > 0,
                    F.col("nonmembers_passed").cast("double")
                    / F.col("n_keys"),
                ), 6
            ).alias("fpr"),
        )
    )


def _sql_bloom_positions(key_expr: str) -> str:
    parts = ", ".join(
        sql_md5_long(f"'bloom{j}:' || CAST({key_expr} AS VARCHAR)")
        + f" % {BLOOM_M}"
        for j in range(BLOOM_K)
    )
    return f"unnest([{parts}])"


BLOOM_FILTER_PROBE_SQL = f"""
WITH keys AS (SELECT DISTINCT c_custkey AS key FROM customer),
bits AS (
  SELECT DISTINCT {_sql_bloom_positions('key')} AS pos FROM keys
),
member_cells AS (
  SELECT key, {_sql_bloom_positions('key')} AS pos FROM keys
),
member_pass AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS members_passed FROM (
    SELECT c.key FROM member_cells c JOIN bits b ON c.pos = b.pos
    GROUP BY c.key HAVING COUNT(*) = {BLOOM_K}
  )
),
nonkeys AS (SELECT key + {BLOOM_SHIFT} AS key FROM keys),
nonmember_cells AS (
  SELECT key, {_sql_bloom_positions('key')} AS pos FROM nonkeys
),
nonmember_pass AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nonmembers_passed FROM (
    SELECT c.key FROM nonmember_cells c JOIN bits b ON c.pos = b.pos
    GROUP BY c.key HAVING COUNT(*) = {BLOOM_K}
  )
),
nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys FROM keys)
SELECT n_keys, members_passed, nonmembers_passed,
       FLOOR(CAST(nonmembers_passed AS DOUBLE) / n_keys * 1000000.0)
         / 1000000.0 AS fpr
FROM nk CROSS JOIN member_pass CROSS JOIN nonmember_pass
"""


def hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL MERGE LAW, proven cross-engine: per-source shard sketches
    (groupBy(source, bucket) max rho) merged by register-wise MAX must
    equal the single-pass global sketch — max is associative, so the
    merged registers are IDENTICAL, not approximately equal. Spark runs
    the sharded+merge path; the DuckDB oracle runs the direct path; the
    hash compare is the proof. This is what makes HLL the 100 TB distinct
    counter: each of 1000 executors reduces its shard to 256 bytes of
    registers, the merge is a 256-row max — cardinality of any union of
    shards/days/sources without ever re-touching raw data."""
    d = table(spark, sf_dir, "documents")
    from ..functions.hashing import md5_long

    h = md5_long(F.concat(F.lit("hll:"), F.col("token")))
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).select(
        "source",
        (h % HLL_M).alias("bucket"),
        F.shiftright(h, HLL_SHIFT).cast("long").alias("rest"),
    )
    bitlen = (
        F.when(F.col("rest") > 0, F.length(F.bin(F.col("rest")))).otherwise(0)
    )
    rho = (F.lit(HLL_HASH_BITS) - bitlen + 1).cast("int")
    shard = toks.groupBy("source", "bucket").agg(F.max(rho).alias("m_rho"))
    merged = shard.groupBy("bucket").agg(F.max("m_rho").alias("m_rho"))
    z = merged.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m_rho"))).alias("z"),
        F.count(F.lit(1)).alias("nonzero_buckets"),
    )
    est_raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / (
        F.col("z") + (HLL_M - F.col("nonzero_buckets"))
    )
    zero_buckets = F.lit(HLL_M) - F.col("nonzero_buckets")
    est = F.when(
        (est_raw <= 2.5 * HLL_M) & (zero_buckets > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zero_buckets),
    ).otherwise(est_raw)
    return z.select(
        F.lit(HLL_M).alias("m"),
        "nonzero_buckets",
        ftrunc(est, 4).alias("hll_estimate"),
    )


HLL_MERGE_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
h AS (
  SELECT {sql_md5_long("'hll:' || token")} AS hv FROM toks
),
b AS (
  SELECT hv % {HLL_M} AS bucket, hv // {HLL_M} AS rest FROM h
),
regs AS (
  SELECT bucket,
         MAX(CAST({HLL_HASH_BITS} -
             (CASE WHEN rest > 0 THEN length(bin(rest)) ELSE 0 END)
             + 1 AS INTEGER)) AS m_rho
  FROM b GROUP BY bucket
),
z AS (
  SELECT SUM(POWER(2.0, -m_rho)) AS z,
         CAST(COUNT(*) AS BIGINT) AS nonzero_buckets
  FROM regs
),
est AS (
  SELECT nonzero_buckets,
         {HLL_ALPHA * HLL_M * HLL_M!r} / (z + ({HLL_M} - nonzero_buckets))
             AS est_raw
  FROM z
)
SELECT {HLL_M} AS m, nonzero_buckets,
       FLOOR(CASE WHEN est_raw <= {2.5 * HLL_M} AND nonzero_buckets < {HLL_M}
             THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / ({HLL_M} - nonzero_buckets))
             ELSE est_raw END * 10000.0) / 10000.0 AS hll_estimate
FROM est
"""


def rolling_hll_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users from MERGED PER-DAY HLL SKETCHES,
    next to the exact WAU — the scale path `rolling_active_users`'s
    offset-explode cannot take to 90-day windows. One pass over raw
    events reduces each day to ≤256 register rows (groupBy(day, bucket)
    max rho); the window merge then operates on SKETCHES, not users:
    each day's registers contribute to report days d..d+6 and a
    register-wise MAX per (report_day, bucket) is the merged sketch —
    the HLL merge law over a sliding window. Work after the first
    aggregate is (days × 256 × 7) rows — independent of user count and
    event volume, where the exact path's explode carries
    |users|·|active days|·7. Everything is md5-register algebra (exact
    integers; z is a sum of exact binary fractions), so the DuckDB
    oracle reproduces the estimates bit-for-bit, and the exact WAU
    column rides along to show the approximation error in-band."""
    e = table(spark, sf_dir, "events")
    from ..functions.hashing import md5_long

    h = md5_long(F.concat(F.lit("wau:"), F.col("user_id").cast("string")))
    base = e.select(
        F.unix_date(F.col("ts").cast("date")).cast("long").alias("dayn"),
        "user_id",
        (h % HLL_M).alias("bucket"),
        F.shiftright(h, HLL_SHIFT).cast("long").alias("rest"),
    )
    bitlen = (
        F.when(F.col("rest") > 0, F.length(F.bin(F.col("rest")))).otherwise(0)
    )
    rho = (F.lit(HLL_HASH_BITS) - bitlen + 1).cast("int")
    daily = base.groupBy("dayn", "bucket").agg(F.max(rho).alias("m_rho"))
    active = base.select("dayn").distinct().withColumnRenamed(
        "dayn", "report_day"
    )
    contrib = daily.select(
        "bucket",
        "m_rho",
        F.explode(F.sequence(F.col("dayn"), F.col("dayn") + 6)).alias(
            "report_day"
        ),
    ).join(F.broadcast(active), "report_day", "semi")
    merged = contrib.groupBy("report_day", "bucket").agg(
        F.max("m_rho").alias("m_rho")
    )
    z = merged.groupBy("report_day").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m_rho"))).alias("z"),
        F.count(F.lit(1)).alias("nonzero_buckets"),
    )
    exact = (
        base.select("dayn", "user_id")
        .distinct()
        .select(
            "user_id",
            F.explode(F.sequence(F.col("dayn"), F.col("dayn") + 6)).alias(
                "report_day"
            ),
        )
        .join(F.broadcast(active), "report_day", "semi")
        .groupBy("report_day")
        .agg(F.count_distinct("user_id").alias("wau_exact"))
    )
    est_raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / (
        F.col("z") + (HLL_M - F.col("nonzero_buckets"))
    )
    zero_buckets = F.lit(HLL_M) - F.col("nonzero_buckets")
    est = F.when(
        (est_raw <= 2.5 * HLL_M) & (zero_buckets > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zero_buckets),
    ).otherwise(est_raw)
    return (
        z.join(exact, "report_day")
        .select(
            F.date_from_unix_date(F.col("report_day").cast("int")).alias("day"),
            "nonzero_buckets",
            "wau_exact",
            ftrunc(est, 4).alias("hll_wau"),
        )
    )


ROLLING_HLL_WAU_SQL = f"""
WITH base AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dayn,
         user_id,
         {sql_md5_long("'wau:' || CAST(user_id AS VARCHAR)")} AS hv
  FROM events
),
b AS (
  SELECT dayn, hv % {HLL_M} AS bucket, hv // {HLL_M} AS rest FROM base
),
daily AS (
  SELECT dayn, bucket,
         MAX(CAST({HLL_HASH_BITS} -
             (CASE WHEN rest > 0 THEN length(bin(rest)) ELSE 0 END)
             + 1 AS INTEGER)) AS m_rho
  FROM b GROUP BY dayn, bucket
),
active AS (SELECT DISTINCT dayn FROM base),
contrib AS (
  SELECT bucket, m_rho,
         unnest(generate_series(dayn, dayn + 6)) AS report_day
  FROM daily
),
merged AS (
  SELECT report_day, bucket, MAX(m_rho) AS m_rho
  FROM contrib
  WHERE report_day IN (SELECT dayn FROM active)
  GROUP BY report_day, bucket
),
z AS (
  SELECT report_day, SUM(POWER(2.0, -m_rho)) AS z,
         CAST(COUNT(*) AS BIGINT) AS nonzero_buckets
  FROM merged GROUP BY report_day
),
exact AS (
  SELECT report_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau_exact
  FROM (
    SELECT user_id,
           unnest(generate_series(dayn, dayn + 6)) AS report_day
    FROM (SELECT DISTINCT dayn, user_id FROM base)
  )
  WHERE report_day IN (SELECT dayn FROM active)
  GROUP BY report_day
),
est AS (
  SELECT report_day, nonzero_buckets,
         {HLL_ALPHA * HLL_M * HLL_M!r} / (z + ({HLL_M} - nonzero_buckets))
             AS est_raw
  FROM z
)
SELECT DATE '1970-01-01' + CAST(e.report_day AS INTEGER) AS day,
       e.nonzero_buckets, x.wau_exact,
       FLOOR(CASE WHEN est_raw <= {2.5 * HLL_M} AND e.nonzero_buckets < {HLL_M}
             THEN {float(HLL_M)!r} * ln({float(HLL_M)!r}
                                        / ({HLL_M} - e.nonzero_buckets))
             ELSE est_raw END * 10000.0) / 10000.0 AS hll_wau
FROM est e JOIN exact x ON e.report_day = x.report_day
"""


QS_BUCKETS = 1024
QS_QUANTILES = (50, 95, 99)  # percent


def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles from a MERGEABLE equi-width histogram — the
    fourth sketch (frequency=CMS, cardinality=HLL, membership=Bloom,
    now distribution=histogram): 1024 integer bucket counts fully
    describe the distribution's shape, shards combine by cell-wise
    addition exactly like CMS, and any quantile is a cumulative-sum walk
    + linear interpolation inside the crossing bucket. Error is bounded
    by one bucket width of the value RANGE — the trade Spark's own
    `approx_percentile` (GK sketch, rank-error bound) makes differently;
    this form is chosen because every step is integer-exact until a
    fixed-shape float epilogue, so the DuckDB oracle matches
    bit-for-bit, which no rank-sketch can promise. Plan: one min/max/n
    aggregate (broadcast back), one bucket hash-aggregate over the
    scan, then all quantiles read off ≤1024 rows."""
    li = table(spark, sf_dir, "lineitem")
    vals = li.select(cents(F.col("l_extendedprice")).alias("x"))
    rng = vals.agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    span = F.col("mx") - F.col("mn") + 1
    bucketed = vals.crossJoin(F.broadcast(rng)).select(
        F.floor((F.col("x") - F.col("mn")) * QS_BUCKETS / span).alias("bucket")
    )
    counts = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        counts.withColumn("cum", F.sum("cnt").over(wcum))
        .withColumn("prev", F.col("cum") - F.col("cnt"))
        .crossJoin(F.broadcast(rng))
    )
    qdf = rng.select(
        F.explode(F.array(*[F.lit(q) for q in QS_QUANTILES])).alias("q"),
        "n",
    ).select("q", F.floor((F.col("q") * F.col("n") + 99) / 100).alias("target"))
    width = span.cast("double") / QS_BUCKETS
    hit = cum.join(
        F.broadcast(qdf),
        (F.col("prev") < F.col("target")) & (F.col("cum") >= F.col("target")),
    )
    est = (
        F.col("mn")
        + F.col("bucket") * width
        + (F.col("target") - F.col("prev")).cast("double") / F.col("cnt") * width
    )
    return hit.select(
        "q",
        "target",
        "bucket",
        "cnt",
        ftrunc(est / 100.0, 4).alias("estimate"),
    )


QUANTILE_SKETCH_SQL = f"""
WITH vals AS (
  SELECT CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS x
  FROM lineitem
),
rng AS (
  SELECT MIN(x) AS mn, MAX(x) AS mx, CAST(COUNT(*) AS BIGINT) AS n FROM vals
),
bucketed AS (
  SELECT CAST(FLOOR((x - mn) * {QS_BUCKETS} / (mx - mn + 1)) AS BIGINT)
             AS bucket
  FROM vals CROSS JOIN rng
),
counts AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM bucketed GROUP BY bucket
),
cum AS (
  SELECT bucket, cnt,
         SUM(cnt) OVER (ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum
  FROM counts
),
qdf AS (
  SELECT q, CAST(FLOOR((q * n + 99) / 100) AS BIGINT) AS target
  FROM rng, LATERAL (SELECT unnest([{", ".join(str(q) for q in QS_QUANTILES)}]) AS q)
)
SELECT q, target, bucket, cnt,
       FLOOR((mn + bucket * (CAST(mx - mn + 1 AS DOUBLE) / {QS_BUCKETS})
              + CAST(target - (cum - cnt) AS DOUBLE) / cnt
                * (CAST(mx - mn + 1 AS DOUBLE) / {QS_BUCKETS}))
             / 100.0 * 10000.0) / 10000.0 AS estimate
FROM cum CROSS JOIN rng
JOIN qdf ON (cum - cnt) < target AND cum >= target
"""


def skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the measurement that decides between a
    plain shuffle join, AQE skew splitting, and explicit salting
    (`salted_join`): per candidate key column of lineitem, the key count,
    max per-key frequency, and the hot key itself. ONE scan feeds all
    three columns via a stack Expand (3× rows, all integers), then two
    bounded aggregates: (column, key) counts, then per-column max_by.
    At 100 TB this runs as a cheap side job on a sample partition set; the
    output is broadcast-sized and drives the salting factor (~max_freq /
    target_rows_per_task)."""
    li = table(spark, sf_dir, "lineitem")
    stacked = li.select(
        F.expr(
            "stack(3, 'l_orderkey', l_orderkey, "
            "'l_partkey', l_partkey, "
            "'l_suppkey', l_suppkey) AS (col_name, key)"
        )
    )
    per_key = stacked.groupBy("col_name", "key").agg(
        F.count(F.lit(1)).alias("freq")
    )
    return per_key.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("freq").alias("n_rows"),
        F.max("freq").alias("max_freq"),
        # sortable struct key (freq desc, key asc): struct max == (max
        # freq, then smallest key) — deterministic under ties, same winner
        # as the oracle's printf string key, without allocating a 40-char
        # string per distinct key (max_by accepts any orderable type,
        # and unlike a packed integer the struct cannot overflow at any
        # freq/key magnitude)
        F.max_by(
            "key",
            F.struct(F.col("freq"), (F.lit(10**18) - F.col("key")).alias("nk")),
        ).alias("hottest_key"),
    )


SKEW_REPORT_SQL = """
WITH stacked AS (
  SELECT 'l_orderkey' AS col_name, l_orderkey AS key FROM lineitem
  UNION ALL
  SELECT 'l_partkey', l_partkey FROM lineitem
  UNION ALL
  SELECT 'l_suppkey', l_suppkey FROM lineitem
),
per_key AS (
  SELECT col_name, key, CAST(COUNT(*) AS BIGINT) AS freq
  FROM stacked GROUP BY col_name, key
)
SELECT col_name,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(freq) AS BIGINT) AS n_rows,
       MAX(freq) AS max_freq,
       arg_max(key, printf('%019d:%019d', freq, 1000000000000000000 - key))
           AS hottest_key
FROM per_key
GROUP BY col_name
"""


QUERIES: dict[str, QuerySpec] = {
    "quantile_sketch": QuerySpec(
        quantile_sketch,
        QUANTILE_SKETCH_SQL,
        "mergeable 1024-bucket histogram quantiles, integer-exact to the epilogue",
    ),
    "rolling_hll_wau": QuerySpec(
        rolling_hll_wau,
        ROLLING_HLL_WAU_SQL,
        "7-day WAU from merged per-day HLL sketches, exact count in-band",
    ),
    "skew_report": QuerySpec(
        skew_report, SKEW_REPORT_SQL,
        "per-column key-skew diagnostic driving the salting factor",
    ),
    "hll_merge": QuerySpec(
        hll_merge, HLL_MERGE_SQL,
        "HLL merge law: sharded register-max path ≡ direct global sketch",
    ),
    "bloom_filter_probe": QuerySpec(
        bloom_filter_probe, BLOOM_FILTER_PROBE_SQL,
        "Bloom build+probe: zero false negatives, measured FPR",
    ),
    "hll_distinct": QuerySpec(
        hll_distinct, HLL_DISTINCT_SQL,
        "hand-built HyperLogLog, bit-identical estimate vs exact count",
    ),
    "cms_topk": QuerySpec(
        cms_topk, CMS_TOPK_SQL,
        "Count-Min Sketch build + probe, md5-derived, oracle-identical",
    ),
    "skew_salted_join": QuerySpec(
        skew_salted_join, SKEW_SALTED_JOIN_SQL,
        "deterministic salted join over a hot key, semantics-preserving",
    ),
    "approx_distinct": QuerySpec(
        approx_distinct, APPROX_DISTINCT_SQL,
        "HLL++ approx distinct verified against the exact count",
    ),
}
