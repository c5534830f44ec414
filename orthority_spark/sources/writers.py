"""Sinks: profile-driven table writes with overwrite guards.

Re-expresses the reference's output machinery (SURVEY §2.1 S1/S2/S16/S19):

- overwrite guard: ``OpenRaster(..., overwrite=False)`` raises on existing
  output (/root/reference/orthority/common.py:249-347) -> mode check here.
- ``create_profile``: driver/compression/tiling defaults by dtype
  (/root/reference/orthority/common.py:416-498) -> one parquet write
  profile, snappy + dictionary.

Per-tile outputs with order-independent checksums (the per-tile write +
mask, ortho.py:394-399) are the ledger's job (``plans/ledger.py``).

An Iceberg ``writeTo(...)`` sink would take the same guard; there is
no Iceberg jar here, so parquet is the only sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def create_profile() -> dict:
    """Parquet write options (the create_profile analogue)."""
    return {"compression": "snappy", "parquet.enable.dictionary": "true"}


def write_table(df: DataFrame, path: str, overwrite: bool = False) -> None:
    """Guarded parquet write (FileExistsError unless overwrite=True)."""
    if os.path.exists(path) and not overwrite:
        raise FileExistsError(path)
    w = df.write.mode("overwrite" if overwrite else "errorifexists")
    for k, v in create_profile().items():
        w = w.option(k, v)
    w.parquet(path)

