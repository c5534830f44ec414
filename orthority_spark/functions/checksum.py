"""Order-independent checksums (the engine's per-tile parity primitive).

The reference proves remap correctness by bit-identical per-band outputs
across block-parallel configurations (/root/reference/tests/test_ortho.py:
774-781). The distributed recast (SURVEY.md §7 step 5): a per-tile checksum
that is a SUM of per-row hashes — associative + commutative, so partition
count, salting, AQE re-plans, and shuffle order cannot change it. Required
parity: local[8] == local[32] == salted == unsalted (BASELINE.json:6).

Two hash families:

- md5-based (:func:`row_hash`) — cross-engine: Spark's md5 and DuckDB's md5
  agree byte-for-byte on UTF-8 input, and both can parse the 15-hex-char
  prefix into a BIGINT, so the DuckDB oracle can recompute the exact same
  checksum (used for every oracle-gated query).
- xxhash64-based (:func:`row_hash_fast`) — Spark-internal, cheaper; used
  for engine-vs-engine parity at bench scale.

Row hashes are reduced mod CHECKSUM_MOD before summing so int64 sums cannot
overflow below ~9e9 rows per tile; tiles at 100 TB hold far fewer rows than
that (and the modulus keeps the sum associative in exact integer space).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .. import config


def row_hash(*cols: Column) -> Column:
    """60-bit md5-prefix hash of '|'-joined string casts, mod CHECKSUM_MOD.

    NULL in any input nulls the hash (|| semantics, matching DuckDB).
    Only pass int/string columns — float formatting differs across engines.
    """
    parts: list[Column] = []
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit("|"))
        parts.append(c.cast("string"))
    h = F.conv(F.substring(F.md5(F.concat(*parts)), 1, config.MD5_PREFIX_LEN), 16, 10)
    return (h.cast("long") % F.lit(config.CHECKSUM_MOD)).alias("row_hash")


def row_hash_sql(cols: list[str]) -> str:
    """DuckDB SQL computing the identical hash for the same columns."""
    joined = " || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    return (
        f"(('0x' || substr(md5({joined}), 1, {config.MD5_PREFIX_LEN}))::BIGINT"
        f" % {config.CHECKSUM_MOD})"
    )


def row_hash_fast(*cols: Column) -> Column:
    """xxhash64-based row hash (Spark-internal parity; no oracle twin)."""
    return F.pmod(F.xxhash64(*cols), F.lit(config.CHECKSUM_MOD))


def tile_checksum(df: DataFrame, keys: list[str], hash_col: Column) -> DataFrame:
    """Per-tile (n_rows, checksum) aggregation — one map-side-combinable
    shuffle; the checksum is order-independent by construction."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(hash_col).alias("checksum"),
    )
