"""numpy <-> Arrow through raw buffers, for the executor-side kernels.

pyarrow's own conversions (``pa.array``, ``Array.to_numpy``) import
pandas, about 0.4 CPU-s in every Python worker that first runs them. The
kernels that run on the executors (the DEM gather, the remap, the ray
march, the ANN scans) move their columns through these helpers instead.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def bitmap(mask: np.ndarray) -> pa.Buffer:
    """An Arrow bitmap buffer (LSB first) of a bool array."""
    return pa.py_buffer(np.packbits(mask, bitorder="little"))


def float64_values(col: pa.Array) -> np.ndarray:
    """The values of an Arrow double array, NULL read as NaN."""
    valid, data = col.buffers()
    x = np.frombuffer(data, "float64", len(col), col.offset * 8)
    if col.null_count:
        bits = np.unpackbits(np.frombuffer(valid, "uint8"), bitorder="little")
        x = np.where(bits[col.offset:col.offset + len(col)] == 1, x, np.nan)
    return x


def values(col: pa.Array) -> np.ndarray:
    """A zero-copy view of the values of a NULL-free numeric Arrow array
    (int32/int64/float32/float64)."""
    kind = "float" if pa.types.is_floating(col.type) else "int"
    width = col.type.bit_width
    if not len(col):
        return np.empty(0, f"{kind}{width}")
    return np.frombuffer(col.buffers()[1], f"{kind}{width}", len(col),
                         col.offset * width // 8)


def list_offsets(col: pa.Array) -> np.ndarray:
    """The ``len(col) + 1`` offsets of an Arrow list array into its
    (unsliced) ``values``, as int64."""
    width = 64 if pa.types.is_large_list(col.type) else 32
    return np.frombuffer(col.buffers()[1], f"int{width}", len(col) + 1,
                         col.offset * width // 8).astype(np.int64)


def float64_array(x: np.ndarray, nan_is_null: bool) -> pa.Array:
    """An Arrow double array over the float64 values of ``x``; with
    ``nan_is_null`` every NaN becomes NULL, else NaN stays NaN."""
    x = np.ascontiguousarray(x, dtype="float64")
    valid = bitmap(~np.isnan(x)) if nan_is_null else None
    return pa.Array.from_buffers(pa.float64(), len(x), [valid, pa.py_buffer(x)])


def int32_array(x: np.ndarray) -> pa.Array:
    """An Arrow int32 array (no NULLs) over the values of ``x``."""
    x = np.ascontiguousarray(x, dtype="int32")
    return pa.Array.from_buffers(pa.int32(), len(x), [None, pa.py_buffer(x)])


def int64_array(x: np.ndarray) -> pa.Array:
    """An Arrow int64 array (no NULLs) over the values of ``x``."""
    x = np.ascontiguousarray(x, dtype="int64")
    return pa.Array.from_buffers(pa.int64(), len(x), [None, pa.py_buffer(x)])
