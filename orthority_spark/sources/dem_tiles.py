"""DEM tile table: the raster side of raster<->vector joins.

Schema per FIXTURES.md §5 (mirrors the reference DEM fixture,
/root/reference/tests/conftest.py:45-50,67-77,92-111): 64x64 float32
blocks, 30 m resolution, UL-corner affine transform, NaN nodata; band 1 =
sinusoid (offset 825 / gain 25), band 2 = flat plane at 825 (closed-form
oracle); a 'partial' variant NaNs the upper triangle to exercise
nodata-mask semantics (conftest.py:635-655).

The table is rendered on the driver into a ``LocalRelation``: 12 tiles
of 16 KB are a small driver-side input, as Orthority's DEM window is
(ortho.py:144-190), so reading it back (``sample_dem_z``'s prepare
collects) runs no Spark job. A DEM at scale is a table produced from
source rasters (e.g. Iceberg) and read through the same schema.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..geom.dem import DEM_OFFSET, DEM_RES, dem_sinusoid
from ..session import prepared

TILE = 64

DEM_SCHEMA = (
    "dem_tile_id string, band int, row_off int, col_off int, "
    "height int, width int, transform array<double>, block array<float>"
)


def dem_transform(x0: float, y1: float) -> tuple:
    """UL-corner affine (a, b, c, d, e, f) at ``DEM_RES``: x = a*col + c,
    y = e*row + f."""
    return (DEM_RES, 0.0, x0, 0.0, -DEM_RES, y1)


def build_dem_tiles(
    spark: SparkSession,
    x0: float,
    y1: float,
    n_rows: int,
    n_cols: int,
    partial: bool = False,
) -> DataFrame:
    """DEM tile table of ``TILE`` x ``TILE`` blocks covering n_rows x
    n_cols cells from UL corner (x0, y1), rendered on the driver into a
    local relation. Nodata cells are float NaN, not NULL (an Arrow table
    built from numpy keeps NaN)."""
    transform = dem_transform(x0, y1)
    a, _, c0, _, e, f0 = transform
    meta = [
        (band, r, c, min(TILE, n_rows - r), min(TILE, n_cols - c))
        for band in (1, 2)
        for r in range(0, n_rows, TILE)
        for c in range(0, n_cols, TILE)
    ]
    blocks = []
    for band, row_off, col_off, height, width in meta:
        cols, rows = np.meshgrid(
            np.arange(col_off, col_off + width),
            np.arange(row_off, row_off + height),
        )
        # pixel-center sampling (+0.5, camera.py:123 convention)
        x = a * (cols + 0.5) + c0
        y = e * (rows + 0.5) + f0
        if band == 1:
            z = dem_sinusoid(x, y).astype("float32")
        else:
            z = np.full(x.shape, DEM_OFFSET, dtype="float32")
        if partial:
            # global upper triangle -> NaN (row + col in global grid)
            z = np.where(cols + rows < (width + height), np.nan, z)
        blocks.append(z.ravel())
    bands, row_offs, col_offs, heights, widths = zip(*meta)
    # createDataFrame casts each column to DEM_SCHEMA's type
    table = pa.table(
        {
            "dem_tile_id": [f"{r}:{c}" for r, c in zip(row_offs, col_offs)],
            "band": bands,
            "row_off": row_offs,
            "col_off": col_offs,
            "height": heights,
            "width": widths,
            "transform": [list(transform)] * len(meta),
            "block": blocks,
        }
    )
    return spark.createDataFrame(table, DEM_SCHEMA)


def fixture_dem(spark: SparkSession, partial: bool = False) -> DataFrame:
    """DEM covering the footprint fixture block with margin.

    One DataFrame object per application and ``partial`` (the tiles are
    a pure function of the arguments), so the DEM state ``sample_dem_z``
    prepares for it is reused across calls."""
    # footprint block spans ~(19850..20300, 29880..30250); cover generously
    # with a multi-tile grid (2x3 tiles per band) so tile pruning is real
    return prepared(
        spark, "fixture_dem", (), (partial,),
        lambda: build_dem_tiles(
            spark, x0=18000.0, y1=31500.0, n_rows=128, n_cols=160,
            partial=partial,
        ),
    )
