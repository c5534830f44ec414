"""Multimodal columns: images as opaque BINARY + typed metadata.

The Spark-side plumbing (schema, partitioning, Arrow batch shape, UDF
signature) is real and tested; the codec kernel is a deterministic stub
because the package depends on no image codec library.

image decode -> (width, height, n_channels, features array<float>):
mapInPandas over binary batches; the stub derives deterministic
pseudo-features from the payload's md5 so tests have exact oracles.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

N_FEATURES = 8

IMAGE_META_SCHEMA = (
    "url string, width int, height int, n_channels int, "
    f"features array<float>"
)


def _fake_decode(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Deterministic pseudo-decode: dimensions + features from md5(payload).

    Stands in for a real image codec (PIL/cv2 unavailable); exact oracle
    = this same function run single-process.
    """
    d = hashlib.md5(payload).digest()
    width = 64 + d[0]
    height = 64 + d[1]
    n_channels = 1 + (d[2] % 4)
    feats = np.frombuffer(d[:N_FEATURES], dtype="uint8").astype("float32") / 255.0
    return width, height, n_channels, feats


def image_decode(df: DataFrame) -> DataFrame:
    """(url, html binary) -> typed metadata + feature vector via Arrow
    batches, decoded by the :func:`_fake_decode` stub (the UDF signature,
    schema and batch shape are what a real codec would keep)."""

    def decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for url, payload in zip(pdf["url"], pdf["html"]):
                w, h, c, f = _fake_decode(bytes(payload))
                rows.append((url, w, h, c, f.tolist()))
            yield pd.DataFrame(
                rows, columns=["url", "width", "height", "n_channels", "features"]
            )

    return df.select("url", "html").mapInPandas(
        decode, schema=IMAGE_META_SCHEMA
    )
