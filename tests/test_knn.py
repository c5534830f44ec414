"""kNN: k-ring candidate path must equal brute force when the ring covers
the catalog spacing (the scale path's correctness contract)."""

from __future__ import annotations

import numpy as np
import pytest

from orthority_spark import grid
from orthority_spark.functions.geotag import with_geotag
from orthority_spark.operators import knn, tile_join
from orthority_spark.operators.knn import _ring_cells, knn_bruteforce, knn_kring
from orthority_spark.sources import footprints as fp
from orthority_spark.sources.pages import synthetic_pages

N = 1500


@pytest.fixture(scope="module")
def inputs(spark):
    recs = fp.footprint_records()
    pages = tile_join.assign_cells(
        with_geotag(synthetic_pages(spark, N), token="float")
    ).where("lon < 24.3")  # keep points near the catalog (ring must reach)
    return pages, fp.footprint_cells_df(spark, recs), fp.footprint_summary_df(spark)


def _rows(df):
    return {(r.url, r.rank, r.filename) for r in df.select("url", "rank", "filename").collect()}


def test_kring_equals_bruteforce(spark, inputs):
    pages, cells, summary = inputs
    brute = _rows(knn_bruteforce(pages, summary, k=2))
    # footprints span ~25 cells across; ring 40 guarantees coverage of the
    # in-block pages for k=2 nearest of 4 centers
    ring = _rows(knn_kring(pages, cells, summary, k=2, ring=40))
    assert ring == brute
    assert len(brute) > 0


def test_empty_catalog_returns_no_rows(spark, inputs):
    """An empty footprint catalog gives zero rows, with the columns and
    types of a non-empty call, on both operators."""
    pages, cells, summary = inputs
    empty = summary.where("false")

    def fields(df):
        return [(f.name, f.dataType) for f in df.schema]

    for full, none in (
        (knn_bruteforce(pages, summary, k=2), knn_bruteforce(pages, empty, k=2)),
        (knn_kring(pages, cells, summary, k=2, ring=8),
         knn_kring(pages, cells, empty, k=2, ring=8)),
        (knn_kring(pages, cells, summary, k=2, ring=8),
         knn_kring(pages, cells.where("false"), empty, k=2, ring=8)),
    ):
        assert none.count() == 0
        assert fields(none) == fields(full)


def test_window_plans_equal_literal_plans(spark, inputs, monkeypatch):
    """With the literal ceiling below the 4-footprint catalog, both
    operators take their window plans (knn_bruteforce's broadcast cross
    join, knn_kring's broadcast expanded index) and return the literal
    plans' rows."""
    pages, cells, summary = inputs
    literal = (_rows(knn_bruteforce(pages, summary, k=2)),
               _rows(knn_kring(pages, cells, summary, k=2, ring=40)))
    monkeypatch.setattr(knn, "MAX_LITERAL_CATALOG", 3)
    brute, ring = (knn_bruteforce(pages, summary, k=2),
                   knn_kring(pages, cells, summary, k=2, ring=40))
    for df in (brute, ring):
        assert "Window" in df._jdf.queryExecution().executedPlan().toString()
    assert (_rows(brute), _rows(ring)) == literal
    assert len(literal[0]) > 0


def test_kring_broadcast_guard_withholds_hint(spark, inputs, monkeypatch):
    """When the (2*ring+1)^2 expansion estimate exceeds the broadcast
    guard, knn_kring must warn, withhold the explicit broadcast hint
    (Spark plans the equi-join itself), and return identical results."""
    import warnings

    pages, cells, summary = inputs
    want = _rows(knn_kring(pages, cells, summary, k=2, ring=40))
    monkeypatch.setattr(knn, "KRING_BROADCAST_MAX_ROWS", 10)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = _rows(knn_kring(pages, cells, summary, k=2, ring=40))
    assert any("broadcast guard" in str(x.message) for x in w)
    assert got == want


def test_kring_ring_too_small_never_invents_candidates(spark, inputs):
    pages, cells, summary = inputs
    # ranks renumber when candidates are missing, so compare pair sets:
    # every (url, filename) the small ring emits must be a real candidate
    # pair from the full catalog scoring (k=4 = all footprints)
    brute_pairs = {
        (u, f) for u, _r, f in _rows(knn_bruteforce(pages, summary, k=4))
    }
    small_pairs = {
        (u, f) for u, _r, f in _rows(knn_kring(pages, cells, summary, k=2, ring=1))
    }
    assert small_pairs <= brute_pairs


def test_kring_wraps_antimeridian(spark):
    """A footprint cell just west of +180 must reach a page just east of
    -180 through the wrapped ring (plain cell arithmetic misses it)."""
    res = 8
    page_cell = int(grid.cell_index(np.array([10.0]), np.array([-179.9]), res)[0])
    fp_cell = int(grid.cell_index(np.array([10.0]), np.array([179.9]), res)[0])
    pages = spark.createDataFrame(
        [("u1", -179.9, 10.0, page_cell)], "url string, px double, py double, cell long"
    )
    cells = spark.createDataFrame([("f1", fp_cell)], "filename string, cell long")
    summary = spark.createDataFrame(
        [("f1", 179.9, 10.0)], "filename string, cx double, cy double"
    )
    got = knn_kring(pages, cells, summary, k=1, ring=1).collect()
    assert len(got) == 1 and got[0].filename == "f1"


def test_kring_expansion_matches_grid_k_ring_at_edges(spark):
    """knn_kring's SQL ring expansion must match grid.k_ring exactly at the
    grid edges: a footprint in the TOP lat row near the +-180 seam reaches
    wrapped-lon neighbors and drops over-the-pole rows."""
    res, ring = 8, 2
    fp_cell = int(grid.cell_index(np.array([89.9]), np.array([179.9]), res)[0])
    expected = set(int(c) for c in grid.k_ring(fp_cell, ring))
    # one page per cell in a lon x lat patch spanning the seam and the pole
    pages_rows = []
    patch = []
    for lon in np.arange(176.0, 180.0, 1.4) .tolist() + np.arange(-180.0, -175.0, 1.4).tolist():
        for lat in np.arange(85.0, 90.0, 0.7).tolist():
            c = int(grid.cell_index(np.array([lat]), np.array([lon]), res)[0])
            patch.append(c)
    patch = sorted(set(patch))
    pages_rows = [(f"u{c}", 0.0, 0.0, c) for c in patch]
    pages = spark.createDataFrame(
        pages_rows, "url string, px double, py double, cell long"
    )
    cells = spark.createDataFrame([("f1", fp_cell)], "filename string, cell long")
    summary = spark.createDataFrame(
        [("f1", 0.0, 0.0)], "filename string, cx double, cy double"
    )
    got = {
        int(r.url[1:])
        for r in knn_kring(pages, cells, summary, k=1, ring=ring).collect()
    }
    assert got == (expected & set(patch))
    assert any(  # the patch really does cross the seam into wrapped cells
        c in expected for c in patch
        if grid.cell_decode(np.array([c]))[1][0] < 2  # ix 0/1 = just east of -180
    )


def test_ring_cells_match_grid_k_ring():
    """The driver-side ring expansion behind knn_kring's mask table equals
    grid.k_ring per cell: across the antimeridian, at both poles, and at
    a coarse resolution where the ring wraps the whole globe."""
    pts = [(8, 10.0, 0.0), (8, 10.0, 179.9), (8, 10.0, -179.9),
           (8, 89.9, 179.9), (8, -89.9, -179.9), (2, 0.0, 0.0)]
    cells = np.array([
        int(grid.cell_index(np.array([lat]), np.array([lon]), res)[0])
        for res, lat, lon in pts
    ])
    for ring in (1, 3):
        src, got = _ring_cells(cells, ring)
        for i, c in enumerate(cells):
            assert np.array_equal(
                np.unique(got[src == i]), grid.k_ring(int(c), ring)
            ), (pts[i], ring)
