"""Sinks: profile-driven table writes with overwrite guards + checksums.

Re-expresses the reference's output machinery (SURVEY §2.1 S1/S2/S16/S19):

- overwrite guard: ``OpenRaster(..., overwrite=False)`` raises on existing
  output (/root/reference/orthority/common.py:249-347) -> mode check here.
- ``create_profile``: driver/compression/tiling defaults by dtype
  (/root/reference/orthority/common.py:416-498) -> parquet/Iceberg write
  options chosen by payload type (binary-heavy tables get zstd, numeric
  tables snappy + dictionary).
- per-tile write + mask (ortho.py:394-399) -> partitioned parquet append
  with an order-independent checksum column instead of a mask band.

The Iceberg writeTo(...) path is gated on catalog availability (no
Iceberg jar in the sandbox); the parquet path has identical semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..functions import checksum


def create_profile(payload: str = "numeric") -> dict:
    """Write options by payload kind (the create_profile analogue)."""
    if payload == "binary":
        return {"compression": "zstd"}
    return {"compression": "snappy", "parquet.enable.dictionary": "true"}


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    overwrite: bool = False,
    payload: str = "numeric",
) -> None:
    """Guarded parquet write (FileExistsError unless overwrite=True)."""
    if os.path.exists(path) and not overwrite:
        raise FileExistsError(path)
    w = df.write.mode("overwrite" if overwrite else "errorifexists")
    for k, v in create_profile(payload).items():
        w = w.option(k, v)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_tiles_with_checksums(
    tiles: DataFrame,
    path: str,
    keys: list[str],
    hash_cols: list[str],
    overwrite: bool = False,
) -> DataFrame:
    """Write per-tile outputs plus a sidecar checksum table; returns the
    checksum DataFrame (the ortho-writer + mask analogue)."""
    write_table(tiles, path, partition_by=keys[:1], overwrite=overwrite)
    sums = checksum.tile_checksum(
        tiles, keys, checksum.row_hash_fast(*[F.col(c) for c in hash_cols])
    )
    write_table(sums, path + "_checksums", overwrite=overwrite)
    return sums
