"""Multimodal-column plumbing (engine extension
beyond reference parity).

Images/audio/video are opaque `binary` columns with typed metadata, processed
by Arrow-batched `mapInPandas` operators. The image/audio decode libraries
are not in this container, so the decode kernel is STUBBED: if PIL/librosa
import fails (it does here), a clearly-marked deterministic fake produces
metadata from the raw bytes. Everything Spark-side — binary schema, batch
iterator shape, UDF signature, partitioning — is real and tested.

The test corpus has no binary column, so `multimodal_decode` synthesizes one
(utf-8 bytes of documents.text) before running the decode operator; the
DuckDB oracle reproduces the deterministic fake arithmetic from byte lengths.

At scale: mapInPandas streams Arrow batches — constant memory per task, no
row-at-a-time serde; decode parallelism is the file-partition count.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..spec import QuerySpec

DECODE_SCHEMA = (
    "doc_id long, n_bytes int, width int, height int, n_channels int, ok boolean"
)


def _try_real_decode(data: bytes):  # pragma: no cover - libs absent here
    """Real decode path — requires pillow; absent in this environment."""
    try:
        import io

        from PIL import Image  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "image decode requires pillow; install PIL or rely on the "
            "deterministic stub"
        ) from exc
    img = Image.open(io.BytesIO(data))
    return img.width, img.height, len(img.getbands())


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: bytes → image metadata (stub: deterministic fake
    derived from byte length, same formula as the oracle SQL)."""
    for pdf in batches:
        n_bytes = pdf["image_bytes"].map(len)
        try:
            widths, heights, chans, ok = [], [], [], []
            for data in pdf["image_bytes"]:
                w, h, c = _try_real_decode(bytes(data))
                widths.append(w)
                heights.append(h)
                chans.append(c)
                ok.append(True)
        except NotImplementedError:
            # STUB: deterministic fake decode
            widths = (n_bytes % 640 + 1).tolist()
            heights = (n_bytes % 480 + 1).tolist()
            chans = [3] * len(pdf)
            ok = [False] * len(pdf)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes.astype("int32"),
                "width": pd.Series(widths, index=pdf.index).astype("int32"),
                "height": pd.Series(heights, index=pdf.index).astype("int32"),
                "n_channels": pd.Series(chans, index=pdf.index).astype("int32"),
                "ok": ok,
            }
        )


def with_binary_column(df: DataFrame) -> DataFrame:
    """Synthesize the opaque binary modality column (utf-8 of text)."""
    return df.withColumn("image_bytes", F.encode(F.col("text"), "utf-8"))


def decode_images(df: DataFrame) -> DataFrame:
    """The multimodal decode operator: binary column in, metadata out."""
    return df.select("doc_id", "image_bytes").mapInPandas(
        _decode_batches, schema=DECODE_SCHEMA
    )


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_binary_column(table(spark, sf_dir, "documents"))
    return decode_images(d)


# Oracle reproduces the stub arithmetic from text byte length (ascii corpus →
# octet_length == n_bytes of the utf-8 encoding).
MULTIMODAL_DECODE_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
       CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       FALSE AS ok
FROM documents
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling shape for video-like columns: explode a deterministic
    per-row frame index list (every 1000th byte offset) — the partition/
    explode plumbing of a real frame sampler, minus the codec."""
    d = with_binary_column(table(spark, sf_dir, "documents"))
    n = F.length(F.col("image_bytes"))
    # ~1 frame per 100 bytes
    frames = F.sequence(F.lit(0), F.floor((n - 1) / 100).cast("int"))
    return (
        d.select("doc_id", F.explode(frames).alias("f"))
        .select(
            "doc_id",
            F.col("f").cast("long").alias("frame_idx"),
            (F.col("f").cast("long") * 100).alias("byte_offset"),
        )
    )


MULTIMODAL_FRAME_SAMPLE_SQL = """
SELECT doc_id,
       CAST(unnest(range(0, CAST(FLOOR((octet_length(encode(text)) - 1) / 100) AS BIGINT) + 1))
            AS BIGINT) AS frame_idx,
       CAST(unnest(range(0, CAST(FLOOR((octet_length(encode(text)) - 1) / 100) AS BIGINT) + 1)) * 100
            AS BIGINT) AS byte_offset
FROM documents
"""


RESIZE_SCHEMA = (
    "doc_id long, src_width int, src_height int, dst_width int, dst_height int,"
    " scale double, resized_bytes_est long"
)

TARGET_W, TARGET_H = 224, 224  # standard vision-model input


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: aspect-preserving shortest-side resize planning.
    The geometry (real in any deployment) runs on the stub decode dims here;
    only the pixel resample itself would need PIL."""
    for pdf in batches:
        n_bytes = pdf["image_bytes"].map(len)
        src_w = (n_bytes % 640 + 1).astype("int64")
        src_h = (n_bytes % 480 + 1).astype("int64")
        scale = pd.concat(
            [TARGET_W / src_w, TARGET_H / src_h], axis=1).max(axis=1)
        dst_w = (src_w * scale + 0.5).astype("int64").clip(lower=1)
        dst_h = (src_h * scale + 0.5).astype("int64").clip(lower=1)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "src_width": src_w.astype("int32"),
                "src_height": src_h.astype("int32"),
                "dst_width": dst_w.astype("int32"),
                "dst_height": dst_h.astype("int32"),
                "scale": scale.astype("float64"),
                "resized_bytes_est": (dst_w * dst_h * 3).astype("int64"),
            }
        )


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_binary_column(table(spark, sf_dir, "documents"))
    return d.select("doc_id", "image_bytes").mapInPandas(
        _resize_batches, schema=RESIZE_SCHEMA
    )


MULTIMODAL_RESIZE_SQL = f"""
WITH dims AS (
  SELECT doc_id,
         octet_length(encode(text)) % 640 + 1 AS src_w,
         octet_length(encode(text)) % 480 + 1 AS src_h
  FROM documents
),
scaled AS (
  SELECT *, GREATEST({TARGET_W}.0 / src_w, {TARGET_H}.0 / src_h) AS scale
  FROM dims
)
SELECT doc_id,
       CAST(src_w AS INTEGER) AS src_width,
       CAST(src_h AS INTEGER) AS src_height,
       CAST(GREATEST(CAST(FLOOR(src_w * scale + 0.5) AS BIGINT), 1) AS INTEGER) AS dst_width,
       CAST(GREATEST(CAST(FLOOR(src_h * scale + 0.5) AS BIGINT), 1) AS INTEGER) AS dst_height,
       CAST(scale AS DOUBLE) AS scale,
       CAST(GREATEST(CAST(FLOOR(src_w * scale + 0.5) AS BIGINT), 1)
            * GREATEST(CAST(FLOOR(src_h * scale + 0.5) AS BIGINT), 1) * 3 AS BIGINT)
           AS resized_bytes_est
FROM scaled
"""


FEATURES_SCHEMA = "doc_id long, feature string, feat_norm double"
N_FEATURES = 8
FEATURE_FP = 1e8  # fixed-point scale for the serialized feature vector


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: bytes → fixed-width feature vector. STUB features
    are per-bucket byte-value histograms (a real, deterministic computation
    over the raw bytes — the shape a CNN/CLIP embedding step would fill).
    The vector ships as a comma-joined fixed-point string (floor(v·1e8+0.5)
    of each normalized double — exact, because both engines derive v from
    the same integer counts): the driver's canonicalizer cannot sort raw
    array columns, and fixed-point keeps the string compare bit-safe."""
    import numpy as np

    for pdf in batches:
        feats, norms = [], []
        for data in pdf["image_bytes"]:
            arr = np.frombuffer(bytes(data), dtype=np.uint8)
            hist = np.bincount(arr // (256 // N_FEATURES),
                               minlength=N_FEATURES).astype("float64")
            total = hist.sum()
            vec = hist / total if total else hist
            qvec = np.floor(vec * FEATURE_FP + 0.5).astype(np.int64)
            feats.append(",".join(str(int(x)) for x in qvec))
            norms.append(float(np.sqrt((vec * vec).sum())))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "feature": feats, "feat_norm": norms}
        )


# Oracle replays the byte-histogram arithmetic in SQL. The corpus is ASCII
# (octet_length == length — same assumption as MULTIMODAL_DECODE_SQL), so
# byte-value buckets (code // 32) are countable with character-class
# regexes; buckets 4-7 (codes >= 128) are structurally zero. Normalized
# values and the norm are plain double division/addition in the same order
# as the numpy kernel → bit-identical.
MULTIMODAL_FEATURES_SQL = """
WITH raw AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS total,
         CAST(length(text) - length(regexp_replace(text, '[\\x00-\\x1f]', '', 'g')) AS DOUBLE) AS c0,
         CAST(length(text) - length(regexp_replace(text, '[\\x20-\\x3f]', '', 'g')) AS DOUBLE) AS c1,
         CAST(length(text) - length(regexp_replace(text, '[\\x40-\\x5f]', '', 'g')) AS DOUBLE) AS c2,
         CAST(length(text) - length(regexp_replace(text, '[\\x60-\\x7f]', '', 'g')) AS DOUBLE) AS c3
  FROM documents
),
v AS (
  SELECT doc_id,
         CASE WHEN total > 0 THEN c0 / total ELSE c0 END AS v0,
         CASE WHEN total > 0 THEN c1 / total ELSE c1 END AS v1,
         CASE WHEN total > 0 THEN c2 / total ELSE c2 END AS v2,
         CASE WHEN total > 0 THEN c3 / total ELSE c3 END AS v3
  FROM raw
)
SELECT doc_id,
       concat_ws(',',
         CAST(FLOOR(v0 * 1e8 + 0.5) AS BIGINT),
         CAST(FLOOR(v1 * 1e8 + 0.5) AS BIGINT),
         CAST(FLOOR(v2 * 1e8 + 0.5) AS BIGINT),
         CAST(FLOOR(v3 * 1e8 + 0.5) AS BIGINT),
         0, 0, 0, 0) AS feature,
       sqrt(v0*v0 + v1*v1 + v2*v2 + v3*v3) AS feat_norm
FROM v
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_binary_column(table(spark, sf_dir, "documents"))
    return d.select("doc_id", "image_bytes").mapInPandas(
        _feature_batches, schema=FEATURES_SCHEMA
    )


AUDIO_SR = 8_000   # declared sample rate (Hz) for the byte-PCM modality
AUDIO_FRAME = 400  # samples per analysis window (50 ms @ 8 kHz)
AUDIO_HOP = 200    # hop (50% overlap)

AUDIO_SCHEMA = (
    "doc_id long, window_idx int, start_ms int, n_samples int,"
    " energy_sum long, peak_amp int"
)


def _audio_window_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: byte-PCM → overlapping analysis windows with
    integer energy (Σ(s−128)²) and peak amplitude — the VAD/silence-trim
    primitive of an audio curation pipeline. The windowing math is REAL
    (what a librosa front-end does before the model); only the codec that
    would produce the PCM is the declared stub. All outputs are exact
    integers, so the oracle replay is bit-for-bit."""
    import numpy as np

    for pdf in batches:
        rows = {k: [] for k in
                ("doc_id", "window_idx", "start_ms", "n_samples",
                 "energy_sum", "peak_amp")}
        for doc_id, data in zip(pdf["doc_id"], pdf["audio_bytes"]):
            arr = np.frombuffer(bytes(data), dtype=np.uint8).astype(
                np.int64) - 128
            n = len(arr)
            n_windows = (n + AUDIO_HOP - 1) // AUDIO_HOP if n else 0
            for k in range(n_windows):
                seg = arr[k * AUDIO_HOP: k * AUDIO_HOP + AUDIO_FRAME]
                rows["doc_id"].append(doc_id)
                rows["window_idx"].append(k)
                rows["start_ms"].append(k * AUDIO_HOP * 1000 // AUDIO_SR)
                rows["n_samples"].append(len(seg))
                rows["energy_sum"].append(int((seg * seg).sum()))
                rows["peak_amp"].append(int(np.abs(seg).max()))
        yield pd.DataFrame(rows)


def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").withColumn(
        "audio_bytes", F.encode(F.col("text"), "utf-8")
    )
    return d.select("doc_id", "audio_bytes").mapInPandas(
        _audio_window_batches, schema=AUDIO_SCHEMA
    )


# Oracle replays the windowing over character codes (ASCII corpus →
# ascii(substr) == byte value, same assumption as the other multimodal
# oracles); energy/peak are integer list folds.
MULTIMODAL_AUDIO_WINDOWS_SQL = f"""
WITH base AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
),
w AS (
  SELECT doc_id, text, n,
         unnest(range(0, (n + {AUDIO_HOP} - 1) // {AUDIO_HOP})) AS k
  FROM base WHERE n > 0
),
seg AS (
  SELECT doc_id, CAST(k AS INTEGER) AS window_idx,
         CAST(k * {AUDIO_HOP} * 1000 // {AUDIO_SR} AS INTEGER) AS start_ms,
         CAST(least({AUDIO_FRAME}, n - k * {AUDIO_HOP}) AS INTEGER)
             AS n_samples,
         list_transform(
           range(1, CAST(least({AUDIO_FRAME}, n - k * {AUDIO_HOP}) AS BIGINT)
                    + 1),
           i -> ascii(substr(text, CAST(k * {AUDIO_HOP} + i AS INTEGER), 1))
                - 128) AS s
  FROM w
)
SELECT doc_id, window_idx, start_ms, n_samples,
       CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS energy_sum,
       CAST(list_max(list_transform(s, x -> abs(x))) AS INTEGER) AS peak_amp
FROM seg
"""


QUERIES: dict[str, QuerySpec] = {
    "multimodal_audio_windows": QuerySpec(
        multimodal_audio_windows, MULTIMODAL_AUDIO_WINDOWS_SQL,
        "byte-PCM overlapping analysis windows: integer energy + peak",
    ),
    "multimodal_decode": QuerySpec(
        multimodal_decode, MULTIMODAL_DECODE_SQL,
        "binary column → Arrow-batched decode (stub kernel)",
    ),
    "multimodal_resize": QuerySpec(
        multimodal_resize, MULTIMODAL_RESIZE_SQL,
        "aspect-preserving resize planning over binary columns",
    ),
    "multimodal_features": QuerySpec(
        multimodal_features, MULTIMODAL_FEATURES_SQL,
        "byte-histogram feature extraction (array<double> output)",
    ),
    "multimodal_frame_sample": QuerySpec(
        multimodal_frame_sample, MULTIMODAL_FRAME_SAMPLE_SQL,
        "frame-index sampling over binary columns",
    ),
}
