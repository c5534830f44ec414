"""Tiling-grid tests: numpy twin == Spark Column == DuckDB SQL, plus
center/k-ring/covering semantics."""

from __future__ import annotations

import duckdb
import numpy as np
from pyspark.sql import functions as F

from orthority_spark import grid

from builders import cell_center

RNG = np.random.RandomState(7)
LAT = RNG.uniform(-89.9, 89.9, 500)
LON = RNG.uniform(-179.9, 179.9, 500)


def test_cell_roundtrip_decode():
    cells = grid.cell_index(LAT, LON, 15)
    res, ix, iy = grid.cell_decode(cells)
    assert (res == 15).all()
    recomposed = res * grid.RES_FACTOR + ix * grid.IX_FACTOR + iy
    np.testing.assert_array_equal(recomposed, cells)


def test_cell_center_within_cell():
    cells = grid.cell_index(LAT, LON, 15)
    clat, clon = cell_center(cells)
    assert np.abs(clat - LAT).max() < 180.0 / 2**15
    assert np.abs(clon - LON).max() < 360.0 / 2**15


def test_k_ring_counts_and_membership():
    c = int(grid.cell_index(np.array([10.0]), np.array([20.0]), 10)[0])
    ring = grid.k_ring(c, 1)
    assert len(ring) == 9 and c in ring
    ring2 = grid.k_ring(c, 2)
    assert len(ring2) == 25


def test_cover_bbox_superset():
    cells = grid.cells_cover_bbox(20.0, 10.0, 20.01, 10.01, 18)
    pts_lat = RNG.uniform(10.0, 10.01, 200)
    pts_lon = RNG.uniform(20.0, 20.01, 200)
    pt_cells = grid.cell_index(pts_lat, pts_lon, 18)
    assert np.isin(pt_cells, cells).all()


def test_spark_duckdb_numpy_parity(spark):
    import pandas as pd

    pdf = pd.DataFrame({"lat": LAT, "lon": LON})
    expected = grid.cell_index(LAT, LON, 20)

    sdf = spark.createDataFrame(pdf).select(
        grid.cell_col(F.col("lat"), F.col("lon"), 20).alias("cell")
    )
    got_spark = np.array([r.cell for r in sdf.collect()])
    np.testing.assert_array_equal(np.sort(got_spark), np.sort(expected))

    got_duck = duckdb.sql(
        f"SELECT {grid.cell_sql('lat', 'lon', 20)} AS cell FROM pdf"
    ).df()["cell"].to_numpy()
    np.testing.assert_array_equal(got_duck, expected)
