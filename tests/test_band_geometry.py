"""Corpus-derived LSH band geometry for dedup_embedding_cosine (a fixed
width made the candidate count quadratic in N): the integer band_bits
derivation is pinned at its boundaries, proven bit-identical to the oracle's
MIN-over-range SQL across a value sweep, and the detector is oracle-parity
checked on a corpus large enough to actually trigger a wider-than-base
geometry (the path sf0.001/sf0.01 never exercises).
"""

from __future__ import annotations

import os

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from banking_etl_pipeline_spark.catalog import table
from banking_etl_pipeline_spark.operators.dedup import (
    DEDUP_MAX_BAND_BITS,
    DEDUP_TARGET_BUCKET,
    QUERIES as DEDUP_QUERIES,
    dedup_band_bits,
)
from tests.oracle_compare import compare, duck_connection


def test_dedup_band_bits_boundaries():
    base = 6  # similarity.BAND_BITS
    assert dedup_band_bits(0) == base
    assert dedup_band_bits(1) == base
    # exact fit at the base geometry: 2^6 * 32 = 2048
    assert dedup_band_bits((1 << base) * DEDUP_TARGET_BUCKET) == base
    assert dedup_band_bits((1 << base) * DEDUP_TARGET_BUCKET + 1) == base + 1
    # the measured SFs: 500/2000 stay on the historical geometry, 20k moves
    assert dedup_band_bits(500) == base
    assert dedup_band_bits(2000) == base
    assert dedup_band_bits(20000) == 10
    top = (1 << DEDUP_MAX_BAND_BITS) * DEDUP_TARGET_BUCKET
    assert dedup_band_bits(top) == DEDUP_MAX_BAND_BITS
    # beyond the cap the derivation saturates instead of failing
    assert dedup_band_bits(top * 100) == DEDUP_MAX_BAND_BITS


@given(st.integers(min_value=0, max_value=(1 << 26) * DEDUP_TARGET_BUCKET))
@settings(max_examples=300, deadline=None)
def test_dedup_band_bits_properties(n):
    """The sawtooth bound as a property over ARBITRARY corpus sizes, not
    just the hand-picked boundary cases: between the base-geometry floor
    and the saturation cap, expected bucket size
    n / 2^bb stays in (TARGET/2, TARGET] — the candidate budget per band
    is therefore Θ(n·TARGET) with a bounded power-of-two sawtooth on the
    constant, never growth in n — and the derivation is monotone
    non-decreasing, so growing a corpus can only widen the geometry."""
    from banking_etl_pipeline_spark.operators.similarity import BAND_BITS

    bb = dedup_band_bits(n)
    assert BAND_BITS <= bb <= DEDUP_MAX_BAND_BITS
    if n <= (1 << DEDUP_MAX_BAND_BITS) * DEDUP_TARGET_BUCKET:
        # below saturation the bucket target is honored...
        assert n <= (1 << bb) * DEDUP_TARGET_BUCKET
        if bb > BAND_BITS:
            # ...and bb is MINIMAL: one bit narrower would overfill, i.e.
            # expected bucket size exceeds TARGET/2 — the sawtooth floor
            assert n > (1 << (bb - 1)) * DEDUP_TARGET_BUCKET
    # local monotonicity at every generated point implies global
    assert dedup_band_bits(n + 1) >= bb


@given(st.integers(min_value=0, max_value=2048 * 2048 * 4))
@settings(max_examples=300, deadline=None)
def test_semdedup_coarse_cells_properties(c):
    """Same class of pin for the semdedup coarse-group search: strictly
    inside the flat floor / cap ceiling, g = ceil(sqrt(c)) exactly (so the
    two-level assignment cost is N·2√C by construction), and the search is
    monotone non-decreasing with saturation at the shared cap."""
    from banking_etl_pipeline_spark.operators.similarity import (
        SEMDEDUP_COARSE_CAP,
        SEMDEDUP_FLAT_MAX_CELLS,
        semdedup_coarse_cells,
    )

    g = semdedup_coarse_cells(c)
    if c <= SEMDEDUP_FLAT_MAX_CELLS:
        assert g == 1
    elif c <= SEMDEDUP_COARSE_CAP ** 2:
        assert g * g >= c and (g - 1) * (g - 1) < c  # exact ceil-sqrt
    else:
        assert g == SEMDEDUP_COARSE_CAP
    assert semdedup_coarse_cells(c + 1) >= g


def test_dedup_band_bits_sql_parity():
    """The oracle derives bb with the same integer formula — check the SQL
    fragment (COUNT replaced by a literal) against the Python derivation
    across boundaries, so a drift in either side fails loudly."""
    con = duckdb.connect()
    sweep = [0, 1, 31, 32, 2047, 2048, 2049, 4096, 4097, 20000,
             (1 << 24) * DEDUP_TARGET_BUCKET,
             (1 << 24) * DEDUP_TARGET_BUCKET + 1]
    for n in sweep:
        bb = con.execute(f"""
            SELECT COALESCE((
              SELECT MIN(b) FROM range(6, {DEDUP_MAX_BAND_BITS + 1}) t(b)
              WHERE (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
                      * {DEDUP_TARGET_BUCKET} >= {n}
            ), {DEDUP_MAX_BAND_BITS})
        """).fetchone()[0]
        assert bb == dedup_band_bits(n), (n, bb, dedup_band_bits(n))


@pytest.fixture(scope="module")
def wide_corpus_dir(spark, sf_dir, tmp_path_factory):
    """An embeddings corpus of ~2500 vectors (5x the sf0.001 set, each
    replica's first component nudged) — past the 2048 boundary, so the
    derived geometry is band_bits=7, not the base 6."""
    from pyspark.sql import functions as F

    e = table(spark, sf_dir, "embeddings")
    n = e.count()

    def nudge(delta):
        return lambda x, j: F.when(
            j == 0, (x + F.lit(delta)).cast("float")
        ).otherwise(x)

    parts = [e]
    for i in range(1, 5):
        parts.append(
            e.select(
                (F.col("vec_id") + i * n).alias("vec_id"),
                F.transform("embedding", nudge(0.001 * i)).alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    d = str(tmp_path_factory.mktemp("wide_corpus"))
    out.coalesce(1).write.parquet(os.path.join(d, "embeddings.parquet"))
    return d


def test_detector_widens_geometry_past_boundary(spark, wide_corpus_dir):
    from banking_etl_pipeline_spark.operators.similarity import (
        N_BANDS,
        lsh_bands,
    )

    n = table(spark, wide_corpus_dir, "embeddings").count()
    assert n > 2048 and dedup_band_bits(n) == 7
    bands = lsh_bands(spark, wide_corpus_dir, N_BANDS, 7)
    # 7-bit signatures actually occupy the wider space
    assert bands.agg({"sig": "max"}).first()[0] >= 64


def test_dedup_embedding_cosine_oracle_parity_at_wide_geometry(
    spark, wide_corpus_dir
):
    """Cross-engine parity on the band_bits=7 path — the derivation, plane
    indexing, and packing all agree between Spark and DuckDB at a geometry
    the driver's fixed SFs never reach."""
    spec = DEDUP_QUERIES["dedup_embedding_cosine"]
    # the oracle touches only `embeddings`; the fixture dir has no other
    # tables, so register just that view (duck_connection wants all ten)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{wide_corpus_dir}/embeddings.parquet/*.parquet'"
    )
    res = compare(spec.build(spark, wide_corpus_dir), con, spec.oracle)
    assert res["row_count_match"] and res["columns_match"] \
        and res["values_match"], res["detail"]
    # the planted replicas are near-identical -> the detector must catch
    # the cross-replica pairs for vec 0 (cosine ~ 1 >> 0.35)
    got = {(r["vec_a"], r["vec_b"])
           for r in spec.build(spark, wide_corpus_dir).collect()}
    n0 = table(spark, wide_corpus_dir, "embeddings").count() // 5
    assert (0, n0) in got


def test_scaled_band_bits_boundaries_and_sql_parity():
    """The scaled detector's geometry (the fixed 24x12 banding
    spilled ~45 GB at sf10's 200 k vectors): same derivation as
    dedup_band_bits but floored at SCALED_BITS, so every corpus up to
    2^12*32 = 131 k vectors keeps the historical 12-bit geometry
    bit-for-bit, and larger corpora pin buckets at ~32 rows. The SQL
    fragment starts its MIN-over-range AT the floor, which the sweep
    proves equivalent to the Python max()."""
    from banking_etl_pipeline_spark.operators.lshscale import (
        SCALED_BITS,
        scaled_band_bits,
    )

    top = (1 << 12) * DEDUP_TARGET_BUCKET  # 131072
    assert scaled_band_bits(0) == SCALED_BITS
    assert scaled_band_bits(2000) == SCALED_BITS      # every driver SF
    assert scaled_band_bits(60000) == SCALED_BITS     # sf3
    assert scaled_band_bits(top) == SCALED_BITS
    assert scaled_band_bits(top + 1) == SCALED_BITS + 1
    assert scaled_band_bits(200000) == 13             # sf10
    cap = (1 << DEDUP_MAX_BAND_BITS) * DEDUP_TARGET_BUCKET
    assert scaled_band_bits(cap * 100) == DEDUP_MAX_BAND_BITS

    con = duckdb.connect()
    for n in [0, 2000, 60000, top, top + 1, 200000, cap, cap + 1]:
        bb = con.execute(f"""
            SELECT COALESCE((
              SELECT MIN(b)
              FROM range({SCALED_BITS}, {DEDUP_MAX_BAND_BITS + 1}) t(b)
              WHERE (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
                      * {DEDUP_TARGET_BUCKET} >= {n}
            ), {DEDUP_MAX_BAND_BITS})
        """).fetchone()[0]
        assert bb == scaled_band_bits(n), (n, bb, scaled_band_bits(n))


@given(st.integers(min_value=0, max_value=(1 << 26) * DEDUP_TARGET_BUCKET))
@settings(max_examples=300, deadline=None)
def test_scaled_band_bits_properties(n):
    """scaled_band_bits over ARBITRARY corpus sizes: always the max of the
    base derivation and the SCALED_BITS floor — so it inherits
    dedup_band_bits' bucket bound wherever the floor is not binding, is
    monotone non-decreasing, and never narrows below the production
    geometry (the invariant the scaled geometry relies on for ≤131 k-vector
    bit-identity)."""
    from banking_etl_pipeline_spark.operators.dedup import dedup_band_bits
    from banking_etl_pipeline_spark.operators.lshscale import (
        SCALED_BITS,
        scaled_band_bits,
    )

    bb = scaled_band_bits(n)
    assert bb == max(SCALED_BITS, dedup_band_bits(n))
    assert SCALED_BITS <= bb <= DEDUP_MAX_BAND_BITS
    assert scaled_band_bits(n + 1) >= bb  # monotone
    # floor not binding and below saturation -> bucket target honored
    if bb > SCALED_BITS and n <= (1 << DEDUP_MAX_BAND_BITS) * DEDUP_TARGET_BUCKET:
        assert (1 << bb) * DEDUP_TARGET_BUCKET >= n
        assert (1 << (bb - 1)) * DEDUP_TARGET_BUCKET < n


# ---------------------------------------------------------------------------
# semdedup two-level quantizer (the flat N×C assignment, measured at sf3, is
# quadratic once C grows with N)
# ---------------------------------------------------------------------------


def test_semdedup_coarse_cells_boundaries():
    from banking_etl_pipeline_spark.operators.similarity import (
        SEMDEDUP_FLAT_MAX_CELLS,
        semdedup_coarse_cells,
    )

    from banking_etl_pipeline_spark.operators.similarity import (
        SEMDEDUP_COARSE_CAP,
    )

    assert semdedup_coarse_cells(16) == 1
    assert semdedup_coarse_cells(SEMDEDUP_FLAT_MAX_CELLS) == 1
    # first two-level corpus: ceil(sqrt(65)) = 9
    assert semdedup_coarse_cells(SEMDEDUP_FLAT_MAX_CELLS + 1) == 9
    assert semdedup_coarse_cells(117) == 11
    assert semdedup_coarse_cells(121) == 11   # perfect square
    assert semdedup_coarse_cells(122) == 12
    assert semdedup_coarse_cells(234) == 16   # the sf3 corpus (N=60k @ 256)
    # saturation: past CAP^2 fine cells both engines stop at CAP, so the
    # coarse grouping stays bounded however large the corpus grows
    assert semdedup_coarse_cells(SEMDEDUP_COARSE_CAP ** 2) \
        == SEMDEDUP_COARSE_CAP
    assert semdedup_coarse_cells(SEMDEDUP_COARSE_CAP ** 2 + 1) \
        == SEMDEDUP_COARSE_CAP
    assert semdedup_coarse_cells(SEMDEDUP_COARSE_CAP ** 2 * 50) \
        == SEMDEDUP_COARSE_CAP


def test_semdedup_coarse_cells_sql_parity():
    """The oracle derives the coarse count with the same integer search —
    sweep the CASE/MIN-over-range fragment against the Python formula."""
    from banking_etl_pipeline_spark.operators.similarity import (
        SEMDEDUP_COARSE_CAP,
        SEMDEDUP_FLAT_MAX_CELLS,
        semdedup_coarse_cells,
    )

    con = duckdb.connect()
    cap = SEMDEDUP_COARSE_CAP
    for c in [16, 63, 64, 65, 100, 117, 121, 122, 234, 4096, 4097,
              (cap - 1) * cap, cap * cap, cap * cap + 1, cap * cap * 7]:
        g = con.execute(f"""
            SELECT CASE WHEN {c} <= {SEMDEDUP_FLAT_MAX_CELLS} THEN 1
                   ELSE COALESCE((SELECT MIN(k)
                                  FROM range(2, {cap} + 1) t(k)
                                  WHERE k * k >= {c}), {cap}) END
        """).fetchone()[0]
        assert g == semdedup_coarse_cells(c), (c, g, semdedup_coarse_cells(c))


@pytest.fixture(scope="module")
def twolevel_corpus_dir(spark, sf_dir, tmp_path_factory):
    """~34k vectors (68 nudged replicas of the sf0.001 set) — past the
    64-fine-cell boundary (34000 // 256 = 132 cells -> 12 coarse groups), so
    semdedup takes the two-level assignment path no fixed test SF reaches."""
    from pyspark.sql import functions as F

    e = table(spark, sf_dir, "embeddings")
    n = e.count()

    def nudge(delta):
        return lambda x, j: F.when(
            j == 0, (x + F.lit(delta)).cast("float")
        ).otherwise(x)

    parts = [e]
    for i in range(1, 68):
        parts.append(
            e.select(
                (F.col("vec_id") + i * n).alias("vec_id"),
                F.transform("embedding", nudge(0.002 * i)).alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    d = str(tmp_path_factory.mktemp("twolevel_corpus"))
    out.coalesce(2).write.parquet(os.path.join(d, "embeddings.parquet"))
    return d


def test_semdedup_two_level_oracle_parity(spark, twolevel_corpus_dir):
    """Cross-engine parity on the two-level quantizer path: coarse-count
    derivation, fine->coarse and vector->coarse rankings, and the
    restricted fine ranking all agree between Spark and DuckDB."""
    from banking_etl_pipeline_spark.operators.similarity import (
        QUERIES as SIM_QUERIES,
        semdedup_coarse_cells,
        semdedup_n_cells,
    )

    n = table(spark, twolevel_corpus_dir, "embeddings").count()
    assert semdedup_coarse_cells(semdedup_n_cells(n)) > 1
    spec = SIM_QUERIES["semdedup_prune"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{twolevel_corpus_dir}/embeddings.parquet/*.parquet'"
    )
    res = compare(spec.build(spark, twolevel_corpus_dir), con, spec.oracle)
    assert res["row_count_match"] and res["columns_match"] \
        and res["values_match"], res["detail"]
    # row conservation: every input vector must appear in the
    # output exactly once — the failure mode was a vector whose coarse
    # group owned zero fine cells vanishing with BOTH engines agreeing, so
    # parity alone can't catch it; the f2c self-map rows guarantee it.
    assert spec.build(spark, twolevel_corpus_dir).count() == n
