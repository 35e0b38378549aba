"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing (schemas, Arrow batch shape, partitioning) is
real and tested; the actual codec step is STUBBED — image/audio
libraries are not in this container. `decode=\"real\"` raises
NotImplementedError at the exact seam where PIL/librosa/ffmpeg would
plug in; `decode=\"fake\"` (default) derives deterministic features from
the payload bytes so the distributed pipeline around the codec is fully
exercisable. At 100 TB the pattern is: binary column stays columnar in
parquet, decode runs vectorized per Arrow batch inside mapInPandas,
output is a fixed-width feature array column.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession


MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, fmt:string>"
)

FEATURE_DIM = 16


def synthesize_media(spark: SparkSession, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic opaque payloads with typed metadata (no codecs)."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                kind = ["image", "audio", "video"][mid % 3]
                payload = hashlib.sha256(f"{seed}:{mid}".encode()).digest() * (4 + mid % 5)
                meta = {
                    "width": 64 * (1 + mid % 4) if kind != "audio" else None,
                    "height": 64 * (1 + mid % 3) if kind != "audio" else None,
                    "sample_rate": 16000 if kind == "audio" else None,
                    "fmt": {"image": "png", "audio": "wav", "video": "mp4"}[kind],
                }
                rows.append((mid, kind, payload, meta))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)


def _fake_features(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in for a codec+encoder: bytes → features."""
    h = hashlib.sha256(payload).digest()
    seed = int.from_bytes(h[:8], "big")
    return np.random.default_rng(seed).standard_normal(dim).astype(np.float32)


def extract_features(media: DataFrame, decode: str = "fake",
                     dim: int = FEATURE_DIM) -> DataFrame:
    """media → (media_id, kind, n_bytes, features array<float>).

    decode="real" is the seam for an actual decoder (PIL image decode /
    librosa resample / ffmpeg frame sampling) — NotImplementedError here
    because those libraries are not available in this environment."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode == "real":
                raise NotImplementedError(
                    "real codec path: plug PIL/librosa/ffmpeg decode here; "
                    "not available in this container"
                )
            feats = [
                _fake_features(bytes(p), dim).tolist() for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "features": feats,
                }
            )

    return media.mapInPandas(
        run, schema="media_id long, kind string, n_bytes long, features array<float>"
    )
