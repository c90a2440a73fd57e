"""Multimodal (binary) column plumbing.

Design: image/audio/video payloads are opaque ``binary`` columns with a
typed metadata struct beside them. The Spark-side plumbing — schema,
Arrow batching, ``mapInPandas`` signature, partition sizing — is real and
tested; the actual codec decode is STUBBED (``decode_image`` raises
``NotImplementedError``: no image/audio libraries in this container) with
a deterministic byte-level feature extractor standing in, so the pipeline
shape is exercised end-to-end.

Scale notes: payloads stay columnar (parquet binary) end to end; the
Pandas UDF path transfers Arrow batches (zero-copy-ish), so the Python
hop costs per-batch, not per-row. Partition sizing for binary-heavy
tables wants `spark.sql.files.maxPartitionBytes` tuned down so a
partition of payloads still fits executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes int, byte_entropy_bin int, byte_histogram array<double>"
)

# segment_audio's framing in samples: 4 s windows with a 2 s hop (50%
# overlap) at the 16 kHz rate attach_fake_audio_meta declares. The
# multimodal_audio_segments twin spells the same 64000 / 32000.
AUDIO_WINDOW = 64_000
AUDIO_HOP = 32_000


def attach_fake_payload(df: DataFrame) -> DataFrame:
    """Simulate a multimodal table: binary payload (utf-8 of the text — a
    deterministic stand-in for image bytes) + typed metadata struct."""
    return df.withColumn("payload", F.encode(F.col("text"), "UTF-8")).withColumn(
        "media_meta",
        F.struct(
            F.lit("fake/png").alias("format"),
            (F.col("doc_id") % 640 + 64).cast("int").alias("width"),
            (F.col("doc_id") % 480 + 48).cast("int").alias("height"),
        ),
    )


def decode_image(payload: bytes):  # pragma: no cover - intentional stub
    """Real codec decode — STUB. Image/audio libraries are not available
    in this environment; a production build plugs Pillow/ffmpeg in here
    without touching the Spark plumbing around it."""
    raise NotImplementedError(
        "codec decode not available in this environment; use extract_byte_features"
    )


def _byte_features(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: per Arrow batch, compute deterministic byte
    features (length, 16-bin byte histogram, coarse entropy bin). This is
    the stand-in 'decode'; its shape (batch-in, batch-out, stable schema)
    is exactly what a real decoder uses."""
    import numpy as np

    for pdf in pdf_iter:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = np.frombuffer(bytes(payload), dtype=np.uint8)
            n = max(len(b), 1)
            hist = np.bincount(b >> 4, minlength=16).astype(np.float64) / n
            # coarse "entropy" proxy: number of non-empty bins
            ent_bin = int(np.count_nonzero(hist))
            rows.append((int(doc_id), len(b), ent_bin, hist.tolist()))
        yield pd.DataFrame(
            rows, columns=["doc_id", "n_bytes", "byte_entropy_bin", "byte_histogram"]
        )


def extract_byte_features(df_with_payload: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the payload column."""
    return df_with_payload.select("doc_id", "payload").mapInPandas(
        _byte_features, schema=FEATURE_SCHEMA
    )


def payload_metadata(df_with_payload: DataFrame) -> DataFrame:
    """Pure-JVM metadata pass (no Python): sizes + digests — the cheap
    prefilter that runs before any expensive decode at scale."""
    return df_with_payload.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.col("media_meta.format").alias("format"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
    )


def resize_dims(df_with_meta: DataFrame, *, max_side: int = 224) -> DataFrame:
    """Aspect-preserving resize planning over the metadata struct: target
    dimensions fitting ``max_side`` on the longer edge, computed with
    exact integer math (scaled = short * max_side div long, floored to
    >= 1). This is the half of 'resize' that runs at metadata speed —
    at 100 TB you plan every target shape (and can histogram/batch by
    it) BEFORE the stubbed pixel decode touches payload bytes, exactly
    like frame sampling plans indices before decode. Upscaling is not
    clamped: small images scale up to max_side (the common
    fixed-input-size model prep).
    """
    w, h = F.col("media_meta.width"), F.col("media_meta.height")
    landscape = w >= h
    new_w = F.when(landscape, F.lit(max_side)).otherwise(
        F.greatest(F.lit(1), F.expr(f"(media_meta.width * {max_side}) div media_meta.height"))
    )
    new_h = F.when(landscape,
        F.greatest(F.lit(1), F.expr(f"(media_meta.height * {max_side}) div media_meta.width"))
    ).otherwise(F.lit(max_side))
    return df_with_meta.select(
        "doc_id",
        w.alias("width"),
        h.alias("height"),
        new_w.cast("int").alias("target_w"),
        new_h.cast("int").alias("target_h"),
    )


def attach_fake_video_meta(df: DataFrame) -> DataFrame:
    """Simulate video metadata: a deterministic per-doc frame count
    (1..300, derived from the id — a stand-in for container-header
    probing, which at scale is a cheap ranged read of the first KB of
    each payload, never a full decode)."""
    return df.withColumn("n_frames", (F.col("doc_id") % 300 + 1).cast("bigint"))


def attach_fake_audio_meta(df: DataFrame) -> DataFrame:
    """Simulate audio metadata: per-doc sample count (0.5..10.5 s at a
    16 kHz rate, derived from the id) — like the video twin, the
    stand-in for header probing."""
    # id % 160 scaled by 1000 so small-id corpora still sweep the full
    # 0.5..10.5 s duration range (and thus the multi-window path)
    return df.withColumn(
        "n_samples", ((F.col("doc_id") % 160) * 1_000 + 8_000).cast("bigint")
    ).withColumn("sample_rate", F.lit(16_000))


def segment_audio(df: DataFrame, *, max_segments: int = 8) -> DataFrame:
    """Overlapping fixed-window audio segmentation of ``(doc_id,
    n_samples)`` rows: segment ``i`` covers samples ``[i*hop, min(i*hop +
    window, n_samples))`` (``AUDIO_WINDOW``, ``AUDIO_HOP``), for
    ``i < min(max_segments, ceil(max(n - window, 0) / hop) + 1)`` — the
    framing step every speech/audio featurizer runs before the (stubbed)
    decode. Pure integer column math; ``max_segments`` bounds output to
    k rows per clip at 100 TB exactly like frame sampling. The last
    window is truncated at the clip edge, never padded (padding policy
    belongs to the decoder)."""
    window, hop = AUDIO_WINDOW, AUDIO_HOP
    n = F.col("n_samples")
    n_seg = F.least(
        F.lit(max_segments),
        F.expr(f"(greatest(n_samples - {window}, 0) + {hop} - 1) div {hop} + 1"),
    )
    return (
        df.select("doc_id", "n_samples")
        .withColumn("_ns", n_seg)
        .select(
            "doc_id",
            "n_samples",
            F.explode(F.sequence(F.lit(0), F.col("_ns") - 1)).alias("seg_ord"),
        )
        .select(
            "doc_id",
            "n_samples",
            "seg_ord",
            (F.col("seg_ord") * hop).alias("seg_start"),
            F.least(F.col("seg_ord") * hop + window, n).alias("seg_end"),
        )
    )


def sample_frames(df: DataFrame, *, k: int = 8) -> DataFrame:
    """Uniform-stride frame sampling of ``(doc_id, n_frames)`` rows: for
    each video pick
    ``m = min(k, n_frames)`` frame indices ``(i * n_frames) div m`` for
    ``i in [0, m)`` — the standard keyframe-ish subsample a video
    pipeline feeds to the (stubbed) decoder. Pure integer column math:
    exact on any engine, no Python, and the explode emits at most k rows
    per video regardless of clip length, so output size is bounded by
    k * |videos| at 100 TB.

    Frameless clips (``n_frames <= 0``) are filtered out BEFORE the
    explode: without the guard, ``sequence(0, m-1)`` yields a descending
    [0, -1] and ``div _m`` divides by zero — a hard error under Spark 4
    ANSI mode. Zero samples for a zero-frame clip is also the right
    semantics."""
    m = F.least(F.lit(k), F.col("n_frames"))
    return (
        df.select("doc_id", "n_frames")
        .where(F.col("n_frames") >= 1)
        .withColumn("_m", m)
        .select(
            "doc_id",
            "n_frames",
            "_m",
            F.explode(F.sequence(F.lit(0), F.col("_m") - 1)).alias("sample_ord"),
        )
        .selectExpr(
            "doc_id",
            "n_frames",
            "sample_ord",
            "(sample_ord * n_frames) div _m AS frame_idx",
        )
    )
