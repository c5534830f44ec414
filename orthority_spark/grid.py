"""oty-grid: deterministic H3-style tiling index.

No ``h3`` library ships in this sandbox, so the engine uses a deterministic
equal-angle quad grid (determinism > fidelity, SURVEY.md §7 step 2): at
resolution ``res`` the globe is split into 2^res x 2^res lon/lat cells and a
cell id packs (res, ix, iy) into one int64:

    ix   = clamp(floor((lon + 180) / 360 * 2^res), 0, 2^res - 1)
    iy   = clamp(floor((lat + 90) / 180 * 2^res), 0, 2^res - 1)
    cell = res * 2^52 + ix * 2^26 + iy          (res <= 26)

The SAME arithmetic is provided three ways so engine, numpy oracle and
DuckDB oracle agree bit-for-bit:

- :func:`cell_index` — numpy (oracle twin; non-finite lat/lon masked)
- :func:`cell_col`   — Spark Column expression (JVM-side, codegen'd; the
  hot-path tile assignment never leaves whole-stage codegen)
- :func:`cell_sql`   — ANSI-SQL text for the DuckDB oracle

Cell ids play the role H3 indexes play in the north rule: equi-join keys
for point-in-polygon prefilters, k-ring kNN candidates, and coarser-cell
rollups (the reference's overview pyramid, SURVEY.md §2 S17).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F

RES_FACTOR = 4503599627370496  # 2^52
IX_FACTOR = 67108864           # 2^26
MAX_RES = 26


# ---------------------------------------------------------------------------
# numpy twin (oracle)
# ---------------------------------------------------------------------------

def cell_index(lat, lon, res: int) -> np.ma.MaskedArray:
    """int64 cell ids for lat/lon arrays at ``res`` (numpy oracle twin).
    A row with a non-finite lat or lon has no cell: it is masked, the
    numpy form of the engine's NULL (``tile_join.assign_cells``)."""
    assert 0 <= res <= MAX_RES
    n = float(2**res)
    lat = np.asarray(lat, dtype="float64")
    lon = np.asarray(lon, dtype="float64")
    finite = np.isfinite(lat) & np.isfinite(lon)
    ix = np.floor((np.where(finite, lon, 0.0) + 180.0) / 360.0 * n)
    iy = np.floor((np.where(finite, lat, 0.0) + 90.0) / 180.0 * n)
    ix = np.minimum(np.maximum(ix, 0.0), n - 1).astype("int64")
    iy = np.minimum(np.maximum(iy, 0.0), n - 1).astype("int64")
    return np.ma.MaskedArray(res * RES_FACTOR + ix * IX_FACTOR + iy, mask=~finite)


def cell_decode(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell ids -> (res, ix, iy) int64 arrays."""
    cell = np.asarray(cell, dtype="int64")
    res = cell // RES_FACTOR
    rem = cell - res * RES_FACTOR
    ix = rem // IX_FACTOR
    iy = rem - ix * IX_FACTOR
    return res, ix, iy


def k_ring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (incl. self); lon wraps, lat
    clamps. kNN candidate generator (SURVEY.md §2.3 kNN row)."""
    res, ix, iy = (int(v[0]) for v in cell_decode(np.array([cell])))
    n = 2**res
    out = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            jx = (ix + dx) % n
            jy = iy + dy
            if 0 <= jy < n:
                out.append(res * RES_FACTOR + jx * IX_FACTOR + jy)
    return np.unique(np.array(out, dtype="int64"))


def cells_cover_bbox(
    xmin: float, ymin: float, xmax: float, ymax: float, res: int
) -> np.ndarray:
    """All cells intersecting a lat/lon bbox (lon=x, lat=y) — the covering /
    'polyfill' used to index footprint polygons (superset of exact PIP)."""
    c_min = int(cell_index(np.array([ymin]), np.array([xmin]), res)[0])
    c_max = int(cell_index(np.array([ymax]), np.array([xmax]), res)[0])
    _, ix0, iy0 = (int(v[0]) for v in cell_decode(np.array([c_min])))
    _, ix1, iy1 = (int(v[0]) for v in cell_decode(np.array([c_max])))
    xs = np.arange(ix0, ix1 + 1, dtype="int64")
    ys = np.arange(iy0, iy1 + 1, dtype="int64")
    gx, gy = np.meshgrid(xs, ys)
    return (res * RES_FACTOR + gx.ravel() * IX_FACTOR + gy.ravel()).astype("int64")


# ---------------------------------------------------------------------------
# Spark Column expression (JVM-side; stays inside whole-stage codegen)
# ---------------------------------------------------------------------------

def _axis_col(v: Column, offset: float, span: float, n: float) -> Column:
    idx = F.floor((v + F.lit(offset)) / F.lit(span) * F.lit(n)).cast("long")
    return F.least(F.greatest(idx, F.lit(0).cast("long")), F.lit(int(n) - 1).cast("long"))


def cell_col(lat: Column, lon: Column, res: int) -> Column:
    """Spark Column computing the cell id — pure built-in functions."""
    assert 0 <= res <= MAX_RES
    n = float(2**res)
    ix = _axis_col(lon, 180.0, 360.0, n)
    iy = _axis_col(lat, 90.0, 180.0, n)
    return (F.lit(res * RES_FACTOR) + ix * F.lit(IX_FACTOR) + iy).alias("cell")


# ---------------------------------------------------------------------------
# SQL text (DuckDB oracle) — byte-equivalent arithmetic
# ---------------------------------------------------------------------------

def _axis_sql(v: str, offset: str, span: str, n: float) -> str:
    return (
        f"LEAST(GREATEST(CAST(FLOOR(({v} + {offset}) / {span} * {n:.1f}) "
        f"AS BIGINT), 0), {int(n) - 1})"
    )


def cell_sql(lat: str, lon: str, res: int) -> str:
    """ANSI-SQL expression for the cell id (same arithmetic as cell_col)."""
    n = float(2**res)
    ix = _axis_sql(lon, "180.0", "360.0", n)
    iy = _axis_sql(lat, "90.0", "180.0", n)
    return f"({res} * {RES_FACTOR} + {ix} * {IX_FACTOR} + {iy})"
