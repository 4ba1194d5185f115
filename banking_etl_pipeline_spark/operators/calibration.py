"""Probability-calibration tier over the weak-label model's scores
(registered in `registry.MODULES`).

A label model emits confidences; before anyone thresholds them, a
calibration audit answers "does conf = 0.8 actually mean 80%?". Ground
truth uses the injected-known-signal discipline: y is drawn
Bernoulli(conf) by a seeded md5 gate (y = 1 iff md5(seed, doc_id) % 1e6
< confidence6), which makes the scorer PERFECTLY CALIBRATED by
construction — so the expected ECE is ~0 up to binomial noise, an
invariant the suite pins, while every reported number is still an exact
deterministic integer both engines agree on.

- calibration_bins: the reliability diagram — per confidence decile:
  volume, exact mean confidence, exact empirical accuracy.
- ece_report: expected calibration error in one exact integer form —
  Σ_b |n_pos_b·1e6 − Σconf6_b| is literally n_b·1e6·|acc_b − conf_b|,
  summed in BIGINT and divided once by N.
- brier_score: mean squared error of the probabilities; the per-row
  square (y·1e6 − conf6)² is divided by 1e6 BEFORE summation so the
  running sum stays ≤ rows·1e6 (int64-safe to ~9e12 rows).

Scale: one corpus scan through the label-model projection (no joins, no
windows — see weaklabel.py), then a ≤10-row bin aggregate / 1-row
reports. The md5 gate adds one hash per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long_seeded, sql_md5_long_seeded
from ..spec import QuerySpec
from .weaklabel import LABEL_MODEL_VOTE_SQL, label_model_vote

CAL_SEED = 193
N_BINS = 10


def _graded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, confidence6, bin, y): scored docs with the Bernoulli(conf)
    synthetic outcome; abstains (den == 0 → NULL confidence) drop out."""
    v = label_model_vote(spark, sf_dir).filter(F.col("confidence6").isNotNull())
    gate = md5_long_seeded(CAL_SEED, F.col("doc_id").cast("string")) % 1_000_000
    return v.select(
        "doc_id",
        "confidence6",
        F.least(
            F.expr(f"confidence6 div {1_000_000 // N_BINS}"),
            F.lit(N_BINS - 1).cast("long"),
        ).alias("bin"),
        (gate < F.col("confidence6")).cast("long").alias("y"),
    )


_SQL_GRADED = f"""
graded AS (
  SELECT doc_id, confidence6,
         LEAST(confidence6 // {1_000_000 // N_BINS}, {N_BINS - 1}) AS bin,
         CASE WHEN {sql_md5_long_seeded(CAL_SEED, "CAST(doc_id AS VARCHAR)")}
                   % 1000000 < confidence6
              THEN 1 ELSE 0 END AS y
  FROM ({LABEL_MODEL_VOTE_SQL})
  WHERE confidence6 IS NOT NULL
)"""


def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _graded(spark, sf_dir)
    return (
        g.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("confidence6").cast("long").alias("sum_conf6"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .selectExpr(
            "bin",
            "n",
            "sum_conf6",
            "n_pos",
            "sum_conf6 div greatest(n, 1) AS mean_conf6",
            "n_pos * 1000000 div greatest(n, 1) AS acc_x1e6",
        )
    )


CALIBRATION_BINS_SQL = f"""
WITH {_SQL_GRADED}
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(confidence6) AS BIGINT) AS sum_conf6,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(confidence6) AS BIGINT) // GREATEST(CAST(COUNT(*) AS BIGINT), 1)
           AS mean_conf6,
       CAST(SUM(y) AS BIGINT) * 1000000 // GREATEST(CAST(COUNT(*) AS BIGINT), 1)
           AS acc_x1e6
FROM graded GROUP BY bin
"""


def ece_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    bins = calibration_bins(spark, sf_dir)
    return bins.agg(
        F.coalesce(F.sum("n"), F.lit(0).cast("long")).cast("long").alias("n_total"),
        F.coalesce(
            F.sum(F.abs(F.col("n_pos") * 1_000_000 - F.col("sum_conf6"))),
            F.lit(0).cast("long"),
        ).cast("long").alias("abs_gap_sum"),
    ).selectExpr(
        "n_total",
        "abs_gap_sum",
        "abs_gap_sum div greatest(n_total, 1) AS ece_x1e6",
    )


ECE_REPORT_SQL = f"""
WITH {_SQL_GRADED},
b AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(confidence6) AS BIGINT) AS sum_conf6,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM graded GROUP BY bin
)
SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_total,
       CAST(COALESCE(SUM(ABS(n_pos * 1000000 - sum_conf6)), 0) AS BIGINT)
           AS abs_gap_sum,
       CAST(COALESCE(SUM(ABS(n_pos * 1000000 - sum_conf6)), 0) AS BIGINT)
           // GREATEST(CAST(COALESCE(SUM(n), 0) AS BIGINT), 1) AS ece_x1e6
FROM b
"""


def brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _graded(spark, sf_dir)
    term = F.expr(
        "((y * 1000000 - confidence6) * (y * 1000000 - confidence6))"
        " div 1000000"
    )
    return g.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(term), F.lit(0).cast("long")).cast("long")
        .alias("sq_sum_x1e6"),
    ).selectExpr(
        "n",
        "sq_sum_x1e6",
        "sq_sum_x1e6 div greatest(n, 1) AS brier_x1e6",
    )


BRIER_SCORE_SQL = f"""
WITH {_SQL_GRADED}
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COALESCE(SUM(((y * 1000000 - confidence6)
                          * (y * 1000000 - confidence6)) // 1000000), 0)
            AS BIGINT) AS sq_sum_x1e6,
       CAST(COALESCE(SUM(((y * 1000000 - confidence6)
                          * (y * 1000000 - confidence6)) // 1000000), 0)
            AS BIGINT)
           // GREATEST(CAST(COUNT(*) AS BIGINT), 1) AS brier_x1e6
FROM graded
"""


QUERIES: dict[str, QuerySpec] = {
    "calibration_bins": QuerySpec(
        calibration_bins,
        CALIBRATION_BINS_SQL,
        "reliability diagram: per-decile volume, mean conf, accuracy",
    ),
    "ece_report": QuerySpec(
        ece_report,
        ECE_REPORT_SQL,
        "expected calibration error as one exact integer ratio",
    ),
    "brier_score": QuerySpec(
        brier_score,
        BRIER_SCORE_SQL,
        "Brier score with int64-safe per-row fixed-point squares",
    ),
}
