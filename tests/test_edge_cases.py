"""Edge cases mirroring the reference suite's breadth (test_camera.py,
test_param_io.py, test_fit.py error paths): boundary pixels, horizon
poses, broadcast contracts, as-of ties/missing keys, grid seams."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from orthority_spark import grid
from orthority_spark.geom.camera import FrameModel
from orthority_spark.sources.footprints import fixture_models, records_for_models
from orthority_spark.sources.param_io import ParamFileError, read_int_param


# ---------------------------------------------------------------------------
# camera edges (reference test_camera.py patterns)
# ---------------------------------------------------------------------------

def test_roundtrip_holds_at_image_corners():
    """Distortion is worst at the corners — the 0.1 px round-trip contract
    must hold there, for every fixture model."""
    for name, m in fixture_models().items():
        w, h = m.im_size
        ji = np.array([[0.0, w - 1, 0.0, w - 1], [0.0, 0.0, h - 1, h - 1]])
        back = m.world_to_pixel(m.pixel_to_world_z(ji, 800.0))
        assert np.abs(back - ji).max() < 0.1, name


def test_horizon_fov_true_for_tilted_camera():
    m = FrameModel(cam_type="pinhole", im_size=(200, 150), focal_len=5.0,
                   sensor_size=(6.0, 4.5), xyz=(0.0, 0.0, 1000.0),
                   opk=(np.pi / 2, 0.0, 0.0), dist={})  # looking at horizon
    assert m.horizon_fov() is True
    nadir = FrameModel(cam_type="pinhole", im_size=(200, 150), focal_len=5.0,
                       sensor_size=(6.0, 4.5), xyz=(0.0, 0.0, 1000.0),
                       opk=(0.0, 0.0, 0.0), dist={})
    assert nadir.horizon_fov() is False


def test_footprint_of_a_camera_seeing_the_horizon_raises():
    """A camera whose view includes the horizon has no bounded ground
    footprint: the catalog build names the image (the reference's abort)
    instead of covering an unbounded box with grid cells."""
    m = FrameModel(cam_type="pinhole", im_size=(200, 150), focal_len=5.0,
                   sensor_size=(6.0, 4.5), xyz=(0.0, 0.0, 1000.0),
                   opk=(np.pi / 2, 0.0, 0.0), dist={})
    with pytest.raises(ValueError, match="img_horizon"):
        records_for_models({"img_horizon": m})


def test_pixel_to_world_broadcast_one_pixel_many_z():
    """Reference broadcast contract (camera.py:843-880): one pixel over a
    z vector broadcasts; each z lands on its own plane."""
    m = fixture_models()["img_0000"]
    ji = np.array([[100.0], [75.0]])
    zs = np.array([700.0, 800.0, 900.0])
    xyz = m.pixel_to_world_z(ji, zs)
    assert xyz.shape == (3, 3)
    np.testing.assert_allclose(xyz[2], zs, atol=1e-9)
    # all three on the same ray: collinear with the camera position
    v = xyz - np.array(m.xyz).reshape(3, 1)
    cross = np.cross(v[:, 0], v[:, 1]), np.cross(v[:, 0], v[:, 2])
    assert np.abs(np.array(cross)).max() < 1e-6


def test_focal_len_anisotropic_tuple():
    """A (fx, fy) focal tuple produces distinct K diagonal entries."""
    m = FrameModel(cam_type="pinhole", im_size=(200, 150),
                   focal_len=(5.0, 4.0), sensor_size=(6.0, 4.5),
                   xyz=(0.0, 0.0, 1000.0), opk=(0.0, 0.0, 0.0), dist={})
    assert m.K[0, 0] == pytest.approx(5.0 * 200 / 6.0)
    assert m.K[1, 1] == pytest.approx(4.0 * 150 / 4.5)


# ---------------------------------------------------------------------------
# param validation errors (reference test_param_io.py patterns)
# ---------------------------------------------------------------------------

def test_int_param_unknown_distortion_key(tmp_path):
    f = tmp_path / "bad.yaml"
    f.write_text(
        "cam-1:\n  type: pinhole\n  im_size: [10, 10]\n  focal_len: 5.0\n"
        "  bogus_coeff: 0.5\n"
    )
    with pytest.raises(ParamFileError):
        read_int_param(f)


def test_int_param_missing_required(tmp_path):
    f = tmp_path / "bad2.yaml"
    f.write_text("cam-1:\n  type: pinhole\n  im_size: [10, 10]\n")
    with pytest.raises(ParamFileError, match="focal_len"):
        read_int_param(f)


def test_int_param_unsupported_type(tmp_path):
    f = tmp_path / "bad3.yaml"
    f.write_text(
        "cam-1:\n  type: panoramic\n  im_size: [10, 10]\n  focal_len: 5.0\n"
    )
    with pytest.raises(ParamFileError):
        read_int_param(f)


# ---------------------------------------------------------------------------
# as-of edges
# ---------------------------------------------------------------------------

def _asof_inputs(spark, rows_l, rows_r):
    l = spark.createDataFrame(rows_l, "user_id long, ts timestamp, event_id long")
    r = spark.createDataFrame(
        rows_r, "user_id long, ts timestamp, view_event_id long"
    )
    return l, r


def test_asof_key_with_no_right_rows(spark):
    """A left key absent from the right side carries NULL (not dropped)."""
    import datetime as dt

    from orthority_spark.operators.asof import asof_join_window

    t = dt.datetime(2026, 1, 1)
    l, r = _asof_inputs(
        spark,
        [(1, t, 10), (2, t, 20)],
        [(1, t - dt.timedelta(minutes=1), 99)],
    )
    out = asof_join_window(l, r, "user_id", "ts", ["event_id"], "view_event_id")
    got = {row.event_id: row.view_event_id for row in out.collect()}
    assert got == {10: 99, 20: None}


def test_asof_exact_timestamp_tie_takes_right_row(spark):
    """A right row AT the left timestamp matches (<= semantics, same as
    DuckDB's ASOF JOIN on ts >=)."""
    import datetime as dt

    from orthority_spark.operators.asof import asof_join_window

    t = dt.datetime(2026, 1, 1)
    l, r = _asof_inputs(spark, [(1, t, 10)], [(1, t, 50), (1, t - dt.timedelta(1), 40)])
    (row,) = asof_join_window(
        l, r, "user_id", "ts", ["event_id"], "view_event_id"
    ).collect()
    assert row.view_event_id == 50


# ---------------------------------------------------------------------------
# grid seams
# ---------------------------------------------------------------------------

def test_k_ring_sizes_at_pole_and_interior():
    res = 6
    interior = int(grid.cell_index(np.array([0.0]), np.array([0.0]), res)[0])
    assert len(grid.k_ring(interior, 2)) == 25
    top = int(grid.cell_index(np.array([89.9]), np.array([0.0]), res)[0])
    assert len(grid.k_ring(top, 2)) == 15  # 2 lat rows clamped away


def test_cells_cover_bbox_is_superset_of_member_points():
    rng = np.random.RandomState(3)
    res = 10
    xmin, ymin, xmax, ymax = 10.0, -5.0, 12.5, -2.0
    cover = set(int(c) for c in grid.cells_cover_bbox(xmin, ymin, xmax, ymax, res))
    lons = rng.uniform(xmin, xmax, 200)
    lats = rng.uniform(ymin, ymax, 200)
    cells = grid.cell_index(lats, lons, res)
    assert {int(c) for c in cells} <= cover


def test_cell_index_clamps_out_of_range():
    c_hi = int(grid.cell_index(np.array([95.0]), np.array([190.0]), 4)[0])
    c_edge = int(grid.cell_index(np.array([89.99]), np.array([179.99]), 4)[0])
    assert c_hi == c_edge


# ---------------------------------------------------------------------------
# dedup edges
# ---------------------------------------------------------------------------

def test_shingles_short_doc_yields_nothing(spark):
    from orthority_spark.operators.dedup import shingle_set

    df = spark.createDataFrame(
        [(1, "only two"), (2, "a b c d")], "doc_id long, text string"
    )
    got = shingle_set(df, "doc_id", "text").collect()
    ids = {r.id for r in got}
    assert ids == {2} and len(got) == 2  # 'a b c', 'b c d'
