"""Multimodal columns: image/video as opaque BINARY + typed metadata.

Task-brief family: the Spark-side plumbing (schema, partitioning, Arrow
batch shape, UDF signatures) is real and tested; the codec kernel is
STUBBED behind a ``fake=True`` deterministic implementation because the
package depends on no image codec library (brief: "STUB the decode
step ... make the Spark-side plumbing real").

Shapes:
- html/text decode: JVM-side (F.decode + regexp) — real, not stubbed.
- image decode -> (width, height, n_channels, features array<float>):
  mapInPandas over binary batches; fake mode derives deterministic
  pseudo-features from the payload's md5 so tests have exact oracles.
- frame sampling (video analogue): explode N per-row frame descriptors.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

N_FEATURES = 8

IMAGE_META_SCHEMA = (
    "url string, width int, height int, n_channels int, "
    f"features array<float>"
)


def decode_html_text(pages: DataFrame) -> DataFrame:
    """Strip tags from the html BINARY column, JVM-side (real path)."""
    return pages.withColumn(
        "html_text",
        F.regexp_replace(F.decode(F.col("html"), "utf-8"), "<[^>]+>", ""),
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


def image_decode(df: DataFrame, binary_col: str = "html", fake: bool = True) -> DataFrame:
    """binary -> typed metadata + feature vector via Arrow batches.

    ``fake=False`` is the real-codec slot: NotImplementedError until an
    image library is provisioned (the UDF signature, schema and batch
    shape are what production code would keep).
    """

    def decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not fake:
                raise NotImplementedError(
                    "real image codec not available in this environment; "
                    "use fake=True (deterministic stub)"
                )
            rows = []
            for url, payload in zip(pdf["url"], pdf[binary_col]):
                w, h, c, f = _fake_decode(bytes(payload))
                rows.append((url, w, h, c, f.tolist()))
            yield pd.DataFrame(
                rows, columns=["url", "width", "height", "n_channels", "features"]
            )

    return df.select("url", binary_col).mapInPandas(
        decode, schema=IMAGE_META_SCHEMA
    )


def frame_sample(meta: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video-style frame sampling: N deterministic frame descriptors per
    row (explode; JVM-side)."""
    return meta.select(
        "url",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_frames - 1}), "
                "i -> struct(i * width AS offset, i AS frame_no))"
            )
        ).alias("idx", "frame"),
    ).select("url", F.col("frame.frame_no").alias("frame_no"),
             F.col("frame.offset").alias("byte_offset"))


def resize_features(meta: DataFrame, out_dim: int = 4) -> DataFrame:
    """'Resize' the feature vector by average-pooling pairs (pure Column
    ops over the array — the real resize kernel slot)."""
    return meta.select(
        "url",
        F.expr(
            f"transform(sequence(0, {out_dim - 1}), i -> "
            "(features[2*i] + features[2*i+1]) / CAST(2.0 AS FLOAT))"
        ).alias("pooled"),
    )
