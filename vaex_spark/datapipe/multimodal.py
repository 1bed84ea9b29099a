"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The Spark-side design is real and tested — schema conventions, Arrow-
batched mapInPandas pipelines, partition sizing — while the actual
codec calls are stubbed (decode libs are not in this container) behind
``DecoderNotAvailable`` or a deterministic fake, clearly marked.

Schema convention (one struct per asset):
    content      binary        -- raw bytes (or null if externalized)
    uri          string        -- source locator when bytes are external
    media_type   string        -- 'image/png', 'audio/wav', ...
    width/height int           -- typed metadata (images)
    duration_ms  bigint        -- (audio/video)

Scale notes: binary payloads dominate partition size — mapInPandas
batches are capped by ``maxRecordsPerBatch`` and partitions should be
sized by bytes (spark.sql.files.maxPartitionBytes), not rows.  Feature
extraction emits small fixed-size arrays, so the shuffle after decode
carries features only; never re-shuffle raw bytes.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType,
    StringType, StructField, StructType,
)

from ..dataframe import _sdf

IMAGE_SCHEMA = StructType([
    StructField("content", BinaryType()),
    StructField("uri", StringType()),
    StructField("media_type", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
])

AUDIO_SCHEMA = StructType([
    StructField("content", BinaryType()),
    StructField("uri", StringType()),
    StructField("media_type", StringType()),
    StructField("duration_ms", LongType()),
    StructField("sample_rate", IntegerType()),
])

VIDEO_SCHEMA = StructType([
    StructField("content", BinaryType()),
    StructField("uri", StringType()),
    StructField("media_type", StringType()),
    StructField("duration_ms", LongType()),
    StructField("fps", IntegerType()),
])


class DecoderNotAvailable(NotImplementedError):
    """Raised where a real image/audio codec would be called; the
    container has no decode libraries.  Swap `_decode_image_real` in
    deployments that ship Pillow/ffmpeg."""


def _decode_image_real(content: bytes) -> np.ndarray:
    raise DecoderNotAvailable(
        "image decode requires Pillow/opencv (not in this container); "
        "use deterministic_fake=True for pipeline testing")


def _decode_image_fake(content: bytes, width: int, height: int) -> np.ndarray:
    """STUB: deterministic fake decode — pixels derived from a content
    hash so tests are reproducible without a codec."""
    seed = int(np.frombuffer(content[:8].ljust(8, b"\0"), dtype="<u8")[0]) % (2 ** 32)
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(height or 4, width or 4, 3), dtype=np.uint8)


def image_features(df, image_col: str = "image", deterministic_fake: bool = True,
                   n_features: int = 8) -> SparkDataFrame:
    """Decode -> pool features, as an Arrow-batched mapInPandas pipeline.

    Output schema: input columns (minus the binary payload) + a fixed
    array<double> feature column — the shape every downstream op
    (dedup, ANN) consumes."""
    sdf = _sdf(df)
    out_fields = [f for f in sdf.schema.fields if f.name != image_col]
    out_schema = StructType(out_fields + [StructField("features", ArrayType(DoubleType()))])
    keep = [f.name for f in out_fields]

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for asset in pdf[image_col]:
                if asset is None:
                    feats.append(None)
                    continue
                content = asset["content"] if isinstance(asset, dict) else asset
                w = (asset.get("width") if isinstance(asset, dict) else None) or 4
                h = (asset.get("height") if isinstance(asset, dict) else None) or 4
                if deterministic_fake:
                    img = _decode_image_fake(bytes(content or b""), w, h)
                else:
                    img = _decode_image_real(bytes(content or b""))
                # mean-pool per channel + simple moments -> fixed vector
                flat = img.astype("float64")
                v = [flat.mean(), flat.std(), flat[..., 0].mean(), flat[..., 1].mean(),
                     flat[..., 2].mean(), float(flat.min()), float(flat.max()), float(np.median(flat))]
                feats.append(v[:n_features])
            out = pdf[keep].copy()
            out["features"] = feats
            yield out

    return sdf.mapInPandas(extract, schema=out_schema)


def resize_stub(df, image_col: str = "image", width: int = 64, height: int = 64) -> SparkDataFrame:
    """Resize plumbing: passes metadata through, marks the operation.
    Real codec would rewrite `content`; the stub updates width/height
    metadata only (clearly-marked fake)."""
    sdf = _sdf(df)
    return (sdf
            .withColumn(image_col, F.struct(
                F.col(f"{image_col}.content").alias("content"),
                F.col(f"{image_col}.uri").alias("uri"),
                F.col(f"{image_col}.media_type").alias("media_type"),
                F.lit(width).alias("width"),
                F.lit(height).alias("height"))))


def frame_sample_stub(df, video_col: str = "video", every_ms: int = 1000) -> SparkDataFrame:
    """Frame sampling plumbing: emits (video_id, frame_index, ts_ms) rows
    via a generator expression on duration metadata; the decode of each
    frame is the stubbed step."""
    sdf = _sdf(df)
    n_frames = F.greatest(F.try_divide(F.col(f"{video_col}.duration_ms"), F.lit(every_ms)).cast("int"), F.lit(1))
    return (sdf.withColumn("frame_index", F.explode(F.sequence(F.lit(0), n_frames - 1)))
            .withColumn("frame_ts_ms", F.col("frame_index") * every_ms))


def make_fake_image_table(spark, n: int = 100, seed: int = 42):
    """Deterministic fake multimodal table for tests."""
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        content = rng.bytes(64)
        rows.append((i, {"content": bytearray(content), "uri": f"mem://img/{i}",
                         "media_type": "image/fake", "width": 8, "height": 8}))
    schema = StructType([StructField("img_id", LongType()), StructField("image", IMAGE_SCHEMA)])
    return spark.createDataFrame(rows, schema)


def _decode_audio_fake(content: bytes, n_samples: int = 1024) -> np.ndarray:
    """STUB: deterministic fake PCM decode — waveform derived from a
    content hash so tests are reproducible without a codec (swap in
    soundfile/ffmpeg where available)."""
    seed = int(np.frombuffer(content[:8].ljust(8, b"\0"), dtype="<u8")[0]) % (2 ** 32)
    rng = np.random.RandomState(seed)
    return rng.uniform(-1.0, 1.0, size=n_samples)


def audio_features(df, audio_col: str = "audio", deterministic_fake: bool = True,
                   n_samples: int = 1024) -> SparkDataFrame:
    """Decode -> waveform summary features (RMS, peak, zero-crossing
    rate, spectral-ish moments) as an Arrow-batched mapInPandas
    pipeline.  The decode step is the clearly-marked stub; the feature
    math and the Spark plumbing (schema, batching, binary-stays-put
    shuffle discipline) are real."""
    sdf = _sdf(df)
    out_fields = [f for f in sdf.schema.fields if f.name != audio_col]
    out_schema = StructType(out_fields + [StructField("features", ArrayType(DoubleType()))])
    keep = [f.name for f in out_fields]

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for asset in pdf[audio_col]:
                if asset is None:
                    feats.append(None)
                    continue
                content = asset["content"] if isinstance(asset, dict) else asset
                if deterministic_fake:
                    wav = _decode_audio_fake(bytes(content or b""), n_samples)
                else:
                    raise DecoderNotAvailable(
                        "audio decode requires soundfile/ffmpeg (not in this container)")
                zc = float(np.mean(np.abs(np.diff(np.signbit(wav).astype(np.int8)))))
                feats.append([float(np.sqrt(np.mean(wav ** 2))),
                              float(np.abs(wav).max()), zc,
                              float(wav.mean()), float(wav.std()),
                              float(np.percentile(wav, 90))])
            out = pdf[keep].copy()
            out["features"] = feats
            yield out

    return sdf.mapInPandas(extract, schema=out_schema)


def make_fake_audio_table(spark, n: int = 100, seed: int = 7):
    """Deterministic fake audio table: (audio_id, audio struct) with an
    opaque binary payload + typed metadata, the brief's multimodal
    column model."""
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        content = rng.bytes(64)
        rows.append((i, {"content": bytearray(content), "uri": f"mem://wav/{i}",
                         "media_type": "audio/wav",
                         "sample_rate": 16000, "duration_ms": int(rng.randint(200, 5000))}))
    schema = StructType([
        StructField("audio_id", LongType()),
        StructField("audio", StructType([
            StructField("content", BinaryType()),
            StructField("uri", StringType()),
            StructField("media_type", StringType()),
            StructField("sample_rate", LongType()),
            StructField("duration_ms", LongType()),
        ])),
    ])
    return spark.createDataFrame(rows, schema=schema)


def make_fake_video_table(spark, n: int = 20, seed: int = 11):
    """Deterministic fake video table (metadata-real, content stubbed)."""
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        rows.append((i, {"content": bytearray(rng.bytes(32)),
                         "uri": f"mem://vid/{i}", "media_type": "video/fake",
                         "duration_ms": int(1000 + rng.randint(0, 9000)),
                         "fps": 30}))
    schema = StructType([StructField("video_id", LongType()),
                         StructField("video", VIDEO_SCHEMA)])
    return spark.createDataFrame(rows, schema)
