"""Multimodal (image/audio/video) column plumbing (SURVEY.md §2.11).

Media travels as opaque ``binary`` columns with typed metadata — the
only schema that works at 100 TB (decode happens where the compute
is, never at the driver; bytes never round-trip through Python rows,
only Arrow batches).

The actual codecs (PIL/ffmpeg/librosa) are NOT in this container, so
the decode kernels are stubbed: ``decode_image``/``decode_audio``
raise NotImplementedError unless the library import succeeds, and the
pipeline entry points accept ``fake=True`` to run a clearly-marked
deterministic fake decode (byte-hash features) that keeps every piece
of Spark plumbing — schema, mapInPandas batching, Arrow transfer,
partitioning — real and testable.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 8

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def decode_image(content: bytes) -> "np.ndarray":
    """Real decode kernel — requires PIL (not in this container)."""
    try:
        from PIL import Image  # noqa: F401
        import io

        return np.asarray(Image.open(io.BytesIO(content)))
    except ImportError as e:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "image decode requires PIL; run with fake=True for the "
            "deterministic stub"
        ) from e


def decode_audio(content: bytes) -> "np.ndarray":
    """Real decode kernel — requires an audio lib (not in this
    container)."""
    raise NotImplementedError(
        "audio decode requires soundfile/librosa; run with fake=True"
    )


def _fake_features(content: bytes) -> np.ndarray:
    """DETERMINISTIC FAKE decode: FEATURE_DIM floats derived from byte
    statistics. Stands in for a real embedding so downstream plumbing
    (similarity, dedup) is exercised end-to-end."""
    if content is None or len(content) == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    arr = np.frombuffer(content, dtype=np.uint8)
    chunks = np.array_split(arr, FEATURE_DIM)
    return np.array(
        [float(c.sum() % 997) / 997.0 if len(c) else 0.0 for c in chunks],
        dtype=np.float32,
    )


def extract_features(media: DataFrame, fake: bool = False) -> DataFrame:
    """Per-item feature extraction over Arrow batches (mapInPandas).

    Each partition streams pandas batches through the kernel — bytes
    stay columnar in Arrow end-to-end; output is (media_id, kind,
    n_bytes, features[FEATURE_DIM])."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for content in pdf["content"]:
                if fake:
                    feats.append(_fake_features(content).tolist())
                else:
                    feats.append(decode_image(content).ravel()[:FEATURE_DIM].tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [0 if c is None else len(c) for c in pdf["content"]],
                    "features": feats,
                }
            )

    return media.select("media_id", "kind", "content").mapInPandas(
        kernel, schema=_FEATURES_SCHEMA
    )


def frame_sample(media: DataFrame, every_n_bytes: int = 1024, fake: bool = True) -> DataFrame:
    """Video frame-sampling stub: emits one row per sampled "frame"
    (every_n_bytes stride over the byte stream in the fake path; a
    real implementation would demux keyframes). Output: (media_id,
    frame_idx, frame_bytes)."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_bytes", T.BinaryType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                if not fake:
                    raise NotImplementedError("real demux requires ffmpeg")
                if content is None:
                    continue
                for i, off in enumerate(range(0, len(content), every_n_bytes)):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(bytes(content[off : off + every_n_bytes]))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_bytes": frames}
            )

    return media.filter(F.col("kind") == "video").select("media_id", "content").mapInPandas(
        kernel, schema=schema
    )


def synth_media_from_documents(docs: DataFrame, kind: str = "image") -> DataFrame:
    """Deterministic media table derived from the documents testdata
    (text bytes as fake content) — lets the multimodal plumbing run
    against driver-provided inputs without shipping binary fixtures."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.lit(None).cast("int").alias("sample_rate"),
    )


def resize_image(
    media: DataFrame, width: int = 8, height: int = 8, fake: bool = True
) -> DataFrame:
    """Image resize plumbing (the brief's decode/feature/resize/
    frame-sample quartet): emits a (height*width)-element uint8
    thumbnail per image. fake=True (env default — no codec libs here)
    pools the RAW BYTES into height*width equal buckets (mean byte
    value per bucket, deterministic); the real branch decodes via
    decode_image and would area-pool pixels the same way. Arrow
    mapInPandas batches, same scale shape as extract_features: pure
    per-row kernel, no shuffle."""
    n_cells = width * height
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("thumbnail", T.ArrayType(T.IntegerType())),
        ]
    )

    def pool(buf: bytes) -> list[int]:
        if not buf:
            return [0] * n_cells
        arr = np.frombuffer(buf, dtype=np.uint8)
        # pad so the byte stream splits into n_cells equal buckets
        pad = (-len(arr)) % n_cells
        if pad:
            arr = np.concatenate([arr, np.zeros(pad, dtype=np.uint8)])
        return (
            arr.reshape(n_cells, -1).mean(axis=1).astype(np.int64).tolist()
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = []
            for content in pdf["content"]:
                if fake:
                    thumbs.append(pool(content))
                else:
                    px = decode_image(content)
                    thumbs.append(pool(px.tobytes()))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "thumbnail": thumbs,
                }
            )

    return (
        media.filter(F.col("kind") == "image")
        .select("media_id", "content")
        .mapInPandas(kernel, schema=schema)
    )
