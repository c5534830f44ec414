"""DEM tile table: the raster side of raster<->vector joins.

Schema per FIXTURES.md §5 (mirrors the reference DEM fixture,
/root/reference/tests/conftest.py:45-50,67-77,92-111): 64x64 float32
blocks, 30 m resolution, UL-corner affine transform, NaN nodata; band 1 =
sinusoid (offset 825 / gain 25), band 2 = flat plane at 825 (closed-form
oracle); a 'partial' variant NaNs the upper triangle to exercise
nodata-mask semantics (conftest.py:635-655).

Tiles are generated DISTRIBUTED: the driver enumerates tile metadata
(cheap), executors evaluate the surface into blocks via an Arrow batch
kernel — at 100 TB the DEM would be an Iceberg table produced exactly
this way from source rasters.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..geom.dem import DEM_OFFSET, DEM_RES, dem_sinusoid
from ..session import prepared
from .local import local_table

TILE = 64

DEM_SCHEMA = (
    "dem_tile_id string, band int, row_off int, col_off int, "
    "height int, width int, transform array<double>, block array<float>"
)


def dem_transform(x0: float, y1: float, res: float = DEM_RES) -> tuple:
    """UL-corner affine (a, b, c, d, e, f): x = a*col + c, y = e*row + f."""
    return (res, 0.0, x0, 0.0, -res, y1)


def build_dem_tiles(
    spark: SparkSession,
    x0: float,
    y1: float,
    n_rows: int,
    n_cols: int,
    partial: bool = False,
    tile: int = TILE,
) -> DataFrame:
    """DEM tile table covering n_rows x n_cols cells from UL corner (x0, y1)."""
    transform = dem_transform(x0, y1)
    meta = [
        (f"{r}:{c}", band, r, c, min(tile, n_rows - r), min(tile, n_cols - c))
        for band in (1, 2)
        for r in range(0, n_rows, tile)
        for c in range(0, n_cols, tile)
    ]
    meta_df = local_table(
        spark,
        meta,
        "dem_tile_id string, band int, row_off int, col_off int, "
        "height int, width int",
    )
    a, b, c0, d, e, f0 = transform

    def render(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for t in pdf.itertuples():
                cols, rows = np.meshgrid(
                    np.arange(t.col_off, t.col_off + t.width),
                    np.arange(t.row_off, t.row_off + t.height),
                )
                # pixel-center sampling (+0.5, camera.py:123 convention)
                x = a * (cols + 0.5) + c0
                y = e * (rows + 0.5) + f0
                if t.band == 1:
                    z = dem_sinusoid(x, y).astype("float32")
                else:
                    z = np.full(x.shape, DEM_OFFSET, dtype="float32")
                if partial:
                    # global upper triangle -> NaN (row + col in global grid)
                    z = np.where(cols + rows < (t.width + t.height), np.nan, z)
                out.append(
                    {
                        "dem_tile_id": t.dem_tile_id,
                        "band": t.band,
                        "row_off": t.row_off,
                        "col_off": t.col_off,
                        "height": t.height,
                        "width": t.width,
                        "transform": list(transform),
                        "block": z.ravel(),
                    }
                )
            yield pd.DataFrame(out)

    return meta_df.repartition("dem_tile_id", "band").mapInPandas(
        render, schema=DEM_SCHEMA
    )


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
