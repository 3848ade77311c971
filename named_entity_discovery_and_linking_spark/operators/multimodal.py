"""Multimodal column operators: opaque binary payloads + typed metadata.

The task brief requires the Spark-side plumbing for image/audio/video
columns to be real (schema, partitioning, Arrow batch shapes, UDF
signatures) while the actual codec work is stubbed — the decode libraries
(PIL/ffmpeg/torchaudio) are not in this container.

Design: media rows are ``(media_id, kind, payload binary, meta struct)``.
Every operator is a ``mapInPandas`` over Arrow batches; the decode core is
``_decode_stub``, which either raises NotImplementedError (strict mode) or
produces a deterministic fake derived from the payload bytes (test mode),
behind the SAME signature a real decoder would use.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:int, codec:string>"
)

FEATURE_DIM = 16


def _decode_stub(payload: bytes, kind: str, strict: bool = False) -> np.ndarray:
    """Decode stand-in.  A real implementation returns HxWxC pixels or PCM
    samples; libraries are absent here, so:
      strict=True  -> NotImplementedError (marks the integration point)
      strict=False -> deterministic fake: sha256-seeded float array, so all
                      downstream plumbing is testable and reproducible.
    """
    if strict:
        raise NotImplementedError(
            f"media decode for kind={kind}: codec libraries not available in this environment"
        )
    digest = hashlib.sha256(payload or b"").digest()
    seed = np.frombuffer(digest, dtype=np.uint8).astype(np.float64)
    reps = int(np.ceil(FEATURE_DIM / len(seed)))
    return np.tile(seed, reps)[:FEATURE_DIM] / 255.0


def extract_features(media: DataFrame, strict: bool = False) -> DataFrame:
    """(media_id, kind, feature array<double>) via Arrow-batched decode +
    pooled feature vector.  The batch shape is the real contract: a pandas
    DataFrame per Arrow batch, one ndarray per row, pooled to FEATURE_DIM."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode_stub(p, k, strict).tolist()
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "kind": pdf["kind"], "feature": feats}
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        run, schema="media_id string, kind string, feature array<double>"
    )


def resize_images(media: DataFrame, width: int, height: int, strict: bool = False) -> DataFrame:
    """Image resize plumbing: filters kind='image', rewrites meta dims; the
    payload transform is the stub (deterministic truncation in test mode)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payload = []
            for p, k in zip(pdf["payload"], pdf["kind"]):
                _decode_stub(p, k, strict)  # would decode+resize+encode
                h = hashlib.sha256((p or b"") + f"{width}x{height}".encode()).digest()
                out_payload.append(h)
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": out_payload,
                 "width": [width] * len(pdf), "height": [height] * len(pdf)}
            )

    return media.filter(F.col("kind") == "image").select("media_id", "payload", "kind").mapInPandas(
        run, schema="media_id string, payload binary, width int, height int"
    )


def sample_timestamps(media: DataFrame, every_ms: int = 1000,
                      extra_cols: tuple = ("payload",)) -> DataFrame:
    """The sampling-grid plan of ``sample_frames``: one row per sampled
    timestamp 0, every_ms, 2*every_ms, ... < meta.duration_ms.  Pure Column
    expressions (sequence + explode) — the DISTRIBUTED part of video
    sampling, split out so the correctness gate can oracle-check it
    (q_frame_sample) independently of the stubbed frame decode."""
    return media.filter(F.col("kind") == "video").select(
        "media_id", *extra_cols,
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.coalesce(F.col("meta.duration_ms"), F.lit(0)) - 1, F.lit(0)), F.lit(every_ms))
        ).alias("ts_ms"),
    )


def sample_frames(media: DataFrame, every_ms: int = 1000, strict: bool = False) -> DataFrame:
    """Video frame sampling plumbing: one output row per sampled timestamp,
    count derived from meta.duration_ms — the explode shape is real, the
    frame decode is the stub."""
    timed = sample_timestamps(media, every_ms)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = [
                hashlib.sha256((p or b"") + int(t).to_bytes(8, "little")).digest()
                for p, t in zip(pdf["payload"], pdf["ts_ms"])
            ]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "ts_ms": pdf["ts_ms"], "frame": frames}
            )

    return timed.mapInPandas(run, schema="media_id string, ts_ms long, frame binary")


def media_fixture(spark, n: int = 20) -> DataFrame:
    """Deterministic media rows for tests (payload bytes from the id)."""
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        payload = hashlib.sha256(f"media{i}".encode()).digest() * 4
        meta = {
            "width": 64 if kind == "image" else None,
            "height": 48 if kind == "image" else None,
            "sample_rate": 16000 if kind == "audio" else None,
            "duration_ms": 3500 if kind == "video" else None,
            "codec": {"image": "png", "audio": "pcm", "video": "h264"}[kind],
        }
        rows.append((f"m{i:04d}", kind, payload, meta))
    return local_frame(spark, rows, MEDIA_SCHEMA).coalesce(2)
