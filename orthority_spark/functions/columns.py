"""Small Column helpers mirroring reference scalar utilities.

- nan_equals (P15): null/NaN-safe equality, common.py:92-94 -> the
  engine uses eqNullSafe, which also treats NaN==NaN as true in Spark.
- convert_array_dtype (P17): round + clip + cast with overflow handling,
  common.py:501-529.
- nodata_mask (P16): all-band equality to nodata,
  camera.py:398 / pan_sharp.py:499-501 -> forall over the band array.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

_DTYPE_RANGE = {
    "tinyint": (-128, 127),
    "smallint": (-32768, 32767),
    "int": (-2147483648, 2147483647),
    "bigint": (-(2**63), 2**63 - 1),
}


def nan_equals(a: Column, b: Column) -> Column:
    """Null-safe (and NaN-safe) equality."""
    return a.eqNullSafe(b)


def convert_dtype(c: Column, dtype: str) -> Column:
    """round + clip to the target integral range + cast (P17).

    Float targets just cast; integral targets round half away from zero
    then clamp (the reference clips to the dtype's min/max before the
    cast so overflow cannot wrap)."""
    if dtype in ("float", "double"):
        return c.cast(dtype)
    lo, hi = _DTYPE_RANGE[dtype]
    return F.least(
        F.greatest(F.round(c, 0), F.lit(lo).cast("double")),
        F.lit(hi).cast("double"),
    ).cast(dtype)


def nodata_mask(band_array: Column, nodata) -> Column:
    """True where every band equals (null-safely) the nodata value."""
    return F.forall(band_array, lambda v: v.eqNullSafe(F.lit(nodata)))


#: Default nodata per output dtype (reference common.py:58-63, Spark type
#: names). The reference excludes int8/uint32/uint64-style dtypes because
#: cv2.remap cannot fill them; this engine's gather is numpy and has no
#: such limit, but the supported surface is kept identical so outputs are
#: interchangeable.
NODATA_VALS = {
    "tinyint": 0,         # uint8 analogue (Spark has no unsigned)
    "smallint": -32768,   # int16 min
    "int": 0,             # uint16 analogue carrier
    "float": float("nan"),
    "double": float("nan"),
}
