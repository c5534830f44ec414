"""PIP tile-join correctness: broadcast == salted == numpy oracle (join
output rows + tile assignments must match exactly, BASELINE.json:14),
plus per-tile checksum parity across paths. Both joins take the flat
footprint catalog."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orthority_spark import config, grid
from orthority_spark.functions import checksum
from orthority_spark.functions.geotag import with_geotag
from orthority_spark.geom.boundary import point_in_polygon
from orthority_spark.operators import tile_join
from orthority_spark.sources import footprints as fp
from orthority_spark.sources.pages import synthetic_pages

from builders import footprint_polygons, synthetic_pages_pandas

N = 3000


@pytest.fixture(scope="module")
def oracle_join():
    """Single-process numpy oracle: expected (url, filename) PIP hit set."""
    pages = synthetic_pages_pandas(N)
    # parse coords exactly as the engine does (from the %.6f text token)
    lat = pages.text.str.extract(r"geo:(-?\d+\.\d+),(-?\d+\.\d+)")[0].astype("float64")
    lon = pages.text.str.extract(r"geo:(-?\d+\.\d+),(-?\d+\.\d+)")[1].astype("float64")
    px = (lon - config.LON0) * config.M_PER_DEG
    py = (lat - config.LAT0) * config.M_PER_DEG
    cells = grid.cell_index(lat.to_numpy(), lon.to_numpy(), config.GRID_RES)
    hits = set()
    for name, poly in footprint_polygons().items():
        inside = point_in_polygon(px.to_numpy(), py.to_numpy(), poly)
        for u in pages.url[inside]:
            hits.add((u, name))
    return {
        "hits": hits,
        "cells": dict(zip(pages.url, cells)),
        "pages": pages,
    }


@pytest.fixture(scope="module")
def spark_inputs(spark):
    recs = fp.footprint_records()
    pages = tile_join.assign_cells(
        with_geotag(synthetic_pages(spark, N), token="float")
    )
    return {
        "pages": pages,
        "catalog": fp.footprint_catalog_flat_df(spark, recs),
        "edges_df": fp.footprint_edges_df(spark, recs),
        "cells_df": fp.footprint_cells_df(spark, recs),
    }


def _rowset(df):
    return {(r.url, r.filename) for r in df.select("url", "filename").collect()}


def test_cell_assignment_matches_oracle(spark, spark_inputs, oracle_join):
    got = {r.url: r.cell for r in spark_inputs["pages"].select("url", "cell").collect()}
    assert got == oracle_join["cells"]


def test_broadcast_pip_matches_oracle(spark, spark_inputs, oracle_join):
    out = tile_join.pip_join_broadcast(
        spark_inputs["pages"], spark_inputs["catalog"], spark_inputs["edges_df"]
    )
    assert _rowset(out) == oracle_join["hits"]
    assert len(oracle_join["hits"]) > 500  # non-trivial join


def test_salted_equals_broadcast(spark, spark_inputs, oracle_join):
    out = tile_join.pip_join_salted(
        spark_inputs["pages"], spark_inputs["catalog"], spark_inputs["edges_df"]
    )
    assert _rowset(out) == oracle_join["hits"]


def test_mega_cell_skew_present(spark_inputs):
    """The skew fixture really is skewed: the mega-cell dominates."""
    counts = (
        spark_inputs["pages"].groupBy("cell").count().orderBy(F.desc("count"))
    ).limit(2).collect()
    assert counts[0]["count"] > 5 * counts[1]["count"]


def test_tile_checksum_parity_across_paths(spark, spark_inputs):
    """Order-independent per-tile checksums identical across join paths and
    partition counts (the per-band remap-equivalence recast)."""
    pages = spark_inputs["pages"]

    def tiles(join_fn, parts):
        joined = join_fn(
            pages.repartition(parts),
            spark_inputs["catalog"],
            spark_inputs["edges_df"],
            keep=["cell"],
        )
        rows = checksum.tile_checksum(
            joined,
            ["cell"],
            checksum.row_hash(F.col("url"), F.col("filename")),
        ).collect()
        return {r.cell: (r.n_rows, r.checksum) for r in rows}

    t_b2 = tiles(tile_join.pip_join_broadcast, 2)
    t_b8 = tiles(tile_join.pip_join_broadcast, 8)
    t_s8 = tiles(tile_join.pip_join_salted, 8)
    assert t_b2 == t_b8 == t_s8
    assert len(t_b2) > 20


def test_pip_joins_reject_a_non_flat_catalog(spark_inputs):
    """Both joins raise on a catalog without the flat edge columns (the
    covering-cell index alone) and name the builder of the flat one."""
    for join in (tile_join.pip_join_broadcast, tile_join.pip_join_salted):
        with pytest.raises(ValueError, match="footprint_catalog_flat_df"):
            join(spark_inputs["pages"], spark_inputs["cells_df"],
                 spark_inputs["edges_df"])
