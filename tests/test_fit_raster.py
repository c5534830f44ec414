"""RPC refine (A9) recovers a known shift analytically; frame pose
solving; raster<->vector z-sampling."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from orthority_spark.geom.dem import DEM_OFFSET, dem_sinusoid
from orthority_spark.operators.fit import refine_per_image
from orthority_spark.operators import raster_join
from orthority_spark.operators.raster_join import sample_dem_z
from orthority_spark.sources.dem_tiles import fixture_dem


# --- fit -------------------------------------------------------------------

def _gcps_with_shift(spark, shift=(1.5, -2.25), n=20):
    rng = np.random.RandomState(5)
    rows = []
    for name in ("img_0000", "img_0001"):
        pred = rng.rand(2, n) * 100
        obs = pred + np.array(shift).reshape(2, 1)
        for k in range(n):
            rows.append((name, float(obs[0, k]), float(obs[1, k]),
                         float(pred[0, k]), float(pred[1, k])))
    return spark.createDataFrame(
        rows, "filename string, j_obs double, i_obs double, "
              "j_pred double, i_pred double")


def test_refine_shift_recovers_known_shift(spark):
    gcps = _gcps_with_shift(spark)
    out = {r.filename: (r.dj, r.di) for r in refine_per_image(gcps, "shift").collect()}
    for name in ("img_0000", "img_0001"):
        assert out[name][0] == pytest.approx(1.5, abs=1e-9)
        assert out[name][1] == pytest.approx(-2.25, abs=1e-9)


def test_refine_shift_drift_identity_plus_shift(spark):
    gcps = _gcps_with_shift(spark)
    out = {r.filename: r for r in refine_per_image(gcps, "shift-drift").collect()}
    r = out["img_0000"]
    assert r.aj == pytest.approx(1.0, abs=1e-9) and r.bj == pytest.approx(1.5, abs=1e-6)
    assert r.ai == pytest.approx(1.0, abs=1e-9) and r.bi == pytest.approx(-2.25, abs=1e-6)


# --- raster joins ----------------------------------------------------------


def test_sample_dem_z_matches_surface(spark):
    dem = fixture_dem(spark)
    rng = np.random.RandomState(9)
    px = rng.uniform(19900, 20200, 100)
    py = rng.uniform(29950, 30150, 100)
    pts = spark.createDataFrame(
        [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))],
        "url string, px double, py double")
    got = {r.url: r.z for r in sample_dem_z(pts, dem, band=1).collect()}
    exact = dem_sinusoid(px, py)
    assert len(got) == 100
    err = np.array([abs(got[f"p{i}"] - exact[i]) for i in range(100)])
    # bilinear on a 30 m grid of a smooth sinusoid: small interpolation err
    assert np.median(err) < 0.2 and err.max() < 2.0
    # plane band is exact
    got2 = {r.url: r.z for r in sample_dem_z(pts, dem, band=2).collect()}
    assert all(abs(v - DEM_OFFSET) < 1e-6 for v in got2.values())


def test_sample_dem_z_drops_out_of_extent(spark):
    """A point just outside the DEM grid must be DROPPED, not aliased to
    tile 0 by sign-keeping % and given a clamped-border z (the reference
    errors on outside-DEM sources, ortho.py:120; the SQL oracle drops)."""
    dem = fixture_dem(spark)
    # extent: x in [18000, 22800], y in [27660, 31500]
    pts = spark.createDataFrame(
        [
            ("in", 19000.0, 30000.0),
            ("left", 17990.0, 30000.0),    # gcol = -1 -> would hit tile 0
            ("above", 19000.0, 31710.0),   # grow = -7
            ("right", 22810.0, 30000.0),
            ("below", 19000.0, 27650.0),
        ],
        "url string, px double, py double",
    )
    got = {r.url for r in sample_dem_z(pts, dem, band=1).collect()}
    assert got == {"in"}


def test_sample_dem_z_drops_points_in_a_missing_tile(spark, monkeypatch):
    """A point inside the DEM grid whose tile the band does not hold is
    dropped by both plans (the broadcast gather once raised KeyError in
    its worker while the cogroup plan dropped the point)."""
    dem = fixture_dem(spark).where("dem_tile_id != '64:64'")
    pts = spark.createDataFrame(
        [("hole", 20220.0, 29280.0), ("held", 19000.0, 30000.0)],
        "url string, px double, py double",
    )
    for max_bytes in (256 << 20, 0):
        monkeypatch.setattr(raster_join, "DEM_BROADCAST_MAX_BYTES", max_bytes)
        got = sample_dem_z(pts, dem, band=1)
        assert {r.url for r in got.collect()} == {"held"}, max_bytes


#: per-module kernel calls that the pandas probe runs after the import
_KERNEL_PROBE = {"ann": """
from orthority_spark.operators.ann import _cosine, _ids, quantize_matrix
M = quantize_matrix(lists)
assert M.tolist() == [[2000000, 3000000, 4000000]]
cos = _cosine(np.array([3, 0]), np.array([1.0, 0.0]), np.array([2.0, 1.0]))
assert cos.to_pylist() == [1.5, None]
assert _ids(pa.chunked_array([ids])).tolist() == [7, -1, 2**40]
"""}


def _assert_imports_no_pandas(module: str) -> None:
    """A fresh interpreter imports ``orthority_spark.operators.<module>``
    and runs the Arrow buffer conversions its kernel uses (for ``ann``,
    the quantiser and the output columns too); neither loads pandas. The
    conversions read NULL as NaN and honour a sliced array's offset, as
    pyarrow's to_numpy does, and write NaN as NULL only when asked."""
    import os
    import subprocess
    import sys

    code = f"""
import sys
import numpy as np, pyarrow as pa
import orthority_spark.operators.{module}
from orthority_spark.arrow_buffers import (
    bitmap, float64_array, float64_values, int32_array, int64_array,
    list_offsets, values)
print('pandas' in sys.modules)
vals = np.arange(11, dtype='float64')
col = pa.Array.from_buffers(
    pa.float64(), 11, [bitmap(np.arange(11) % 3 != 0), pa.py_buffer(vals)]
).slice(2, 7)
x = float64_values(col)
nulls = float64_array(x, nan_is_null=True)
nans = float64_array(x, nan_is_null=False)
offs = int32_array(np.array([0, 2, 5]))
ids = int64_array(np.array([7, -1, 2**40]))
lists = pa.ListArray.from_arrays(offs, pa.Array.from_buffers(
    pa.float32(), 5, [None, pa.py_buffer(np.arange(5, dtype='float32'))])).slice(1)
got = (values(ids.slice(1)), values(lists.values), list_offsets(lists))
{_KERNEL_PROBE.get(module, "")}
print('pandas' in sys.modules)
assert np.array_equal(x, col.to_numpy(zero_copy_only=False), equal_nan=True)
assert np.isnan(x).sum() == 2
assert nulls.equals(col) and nulls.null_count == 2
assert nans.null_count == 0 and np.isnan(nans.to_numpy()).sum() == 2
assert offs.type == pa.int32() and offs.to_pylist() == [0, 2, 5]
assert ids.type == pa.int64() and ids.to_pylist() == [7, -1, 2**40]
assert got[0].tolist() == [-1, 2**40] and got[0].dtype == np.int64
assert got[1].tolist() == [0, 1, 2, 3, 4] and got[1].dtype == np.float32
assert got[2].tolist() == [2, 5]
"""
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        check=True, cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.stdout.split() == ["False", "False"]


def test_raster_join_imports_no_pandas():
    """The broadcast gather's Python workers import raster_join and run
    its Arrow buffer conversions without pandas (only the cogroup
    fallback imports it, when it plans)."""
    _assert_imports_no_pandas("raster_join")


@pytest.mark.parametrize("module", ["remap", "ray", "ann"])
def test_kernel_imports_no_pandas(module):
    """The remap, ray-march and ANN kernels' Python workers import their
    module and build their output columns without pandas."""
    _assert_imports_no_pandas(module)


@pytest.mark.parametrize("partial", [False, True])
def test_fixture_dem_equals_numpy_render(spark, partial):
    """The driver-rendered fixture DEM holds the 12 expected tiles, each
    equal bit for bit to a per-tile numpy render of the sinusoid (band 1)
    and the plane (band 2); the partial DEM's nodata cells are float NaN,
    not NULL."""
    from orthority_spark.sources.dem_tiles import dem_transform, TILE

    transform = dem_transform(18000.0, 31500.0)
    a, _, c, _, e, f0 = transform
    rows = fixture_dem(spark, partial=partial).collect()
    assert sorted((r.band, r.row_off, r.col_off) for r in rows) == [
        (b, ro, co) for b in (1, 2) for ro in (0, 64) for co in (0, 64, 128)
    ]
    n_nan = 0
    for r in rows:
        assert r.dem_tile_id == f"{r.row_off}:{r.col_off}"
        assert (r.height, r.width) == (TILE, min(TILE, 160 - r.col_off))
        assert tuple(r.transform) == transform
        assert None not in r.block
        cols, rws = np.meshgrid(
            np.arange(r.col_off, r.col_off + r.width),
            np.arange(r.row_off, r.row_off + r.height),
        )
        x, y = a * (cols + 0.5) + c, e * (rws + 0.5) + f0
        want = dem_sinusoid(x, y) if r.band == 1 else np.full(x.shape, DEM_OFFSET)
        want = want.astype("float32")
        if partial:
            want[cols + rws < r.width + r.height] = np.nan
        got = np.array(r.block, dtype="float32").reshape(r.height, r.width)
        np.testing.assert_array_equal(got, want)
        n_nan += int(np.isnan(got).sum())
    assert n_nan == (16_512 if partial else 0)


def test_sample_dem_z_rejects_mixed_transforms(spark):
    """sample_dem_z derives the (single) affine with first() in an
    unordered agg — sound only because every tile of a band shares one
    transform. A DEM whose tiles carry different affines must fail
    loudly instead of sampling against an arbitrary tile's transform
    (ADVICE r4)."""
    import pytest
    from pyspark.sql import functions as F

    dem = fixture_dem(spark)
    skewed = dem.withColumn(
        "transform",
        F.when(
            F.col("col_off") == 0,
            F.expr("transform(transform, v -> v * 2.0)"),
        ).otherwise(F.col("transform")),
    )
    pts = spark.createDataFrame(
        [("p", 19000.0, 30000.0)], "url string, px double, py double"
    )
    with pytest.raises(ValueError, match="distinct transforms"):
        sample_dem_z(pts, skewed, band=1).collect()


def test_sample_dem_z_matches_scalar_twin(spark):
    """Vectorized per-tile gather == per-point scalar arithmetic (bit
    parity), including border points that take the nearest-cell fallback."""
    from orthority_spark.sources.dem_tiles import dem_transform, TILE

    dem = fixture_dem(spark)
    a, _, c, _, e, f0 = dem_transform(18000.0, 31500.0)
    rng = np.random.RandomState(11)
    # cluster points NEAR tile borders so the fallback path is exercised
    base_x = 18000.0 + 64 * 30.0  # border between col tiles 0 and 64
    px = np.concatenate([
        rng.uniform(19900, 20200, 60),
        base_x + rng.uniform(-45, 45, 40),
    ])
    py = np.concatenate([
        rng.uniform(29950, 30150, 60),
        31500.0 - 64 * 30.0 + rng.uniform(-45, 45, 40),
    ])
    pts = spark.createDataFrame(
        [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))],
        "url string, px double, py double")
    got = {r.url: r.z for r in sample_dem_z(pts, dem, band=1).collect()}

    blocks = {
        (r.dem_tile_id, r.band): r
        for r in dem.where("band = 1").collect()
    }
    n_border = 0
    for i, (x, y) in enumerate(zip(px, py)):
        gc = int(np.floor((x - c) / a))
        gr = int(np.floor((y - f0) / e))
        t = blocks[(f"{gr - gr % TILE}:{gc - gc % TILE}", 1)]
        blk = np.asarray(t.block, dtype="float64").reshape(t.height, t.width)
        fc = (x - c) / a - 0.5 - t.col_off
        fr = (y - f0) / e - 0.5 - t.row_off
        c0, r0 = int(np.floor(fc)), int(np.floor(fr))
        if 0 <= c0 < t.width - 1 and 0 <= r0 < t.height - 1:
            wc, wr = fc - c0, fr - r0
            z = (blk[r0, c0] * (1 - wr) * (1 - wc)
                 + blk[r0, c0 + 1] * (1 - wr) * wc
                 + blk[r0 + 1, c0] * wr * (1 - wc)
                 + blk[r0 + 1, c0 + 1] * wr * wc)
        else:
            n_border += 1
            ci = min(max(int(np.floor(fc + 0.5)), 0), t.width - 1)
            ri = min(max(int(np.floor(fr + 0.5)), 0), t.height - 1)
            z = blk[ri, ci]
        assert got[f"p{i}"] == z, (i, got[f"p{i}"], z)
    assert n_border > 0  # the fixture really exercised the fallback


# ---------------------------------------------------------------------------
# frame pose solver (cv2.solvePnP recast)
# ---------------------------------------------------------------------------


def _int_params(m):
    return dict(cam_type=m.cam_type, im_size=m.im_size, focal_len=m.focal_len,
                sensor_size=m.sensor_size, cx=m.cx, cy=m.cy, dist=m.dist)


def test_solve_pnp_recovers_fixture_poses():
    """Reference exterior-fit tolerances (test_fit.py:343,392-393):
    xyz abs 1e-3, opk abs 1e-5 — across pinhole/brown/opencv/fisheye."""
    from orthority_spark.operators.fit import solve_pnp
    from orthority_spark.sources.footprints import fixture_models

    rng = np.random.RandomState(3)
    for name, m in fixture_models().items():
        ji = np.vstack([rng.uniform(10, m.im_size[0] - 10, 16),
                        rng.uniform(10, m.im_size[1] - 10, 16)])
        xyz = m.pixel_to_world_z(ji, 800.0)
        s = solve_pnp(_int_params(m), ji, xyz)
        np.testing.assert_allclose(s["xyz"], m.xyz, atol=1e-3)
        np.testing.assert_allclose(s["opk"], m.opk, atol=1e-5)
        assert s["rms"] < 1e-4


def test_solve_pnp_min_gcps():
    """The planar-homography init needs 4 points; 3 would give a
    degenerate DLT nullspace and a silently wrong pose."""
    from orthority_spark.operators.fit import solve_pnp
    from orthority_spark.sources.footprints import fixture_models

    m = fixture_models()["img_0000"]
    with pytest.raises(ValueError, match="four"):
        solve_pnp(_int_params(m), np.zeros((2, 3)), np.zeros((3, 3)))


def test_fit_exterior_per_image_spark(spark):
    """Distributed PnP recovers each image's true pose."""
    from orthority_spark.operators.fit import fit_exterior_per_image
    from orthority_spark.sources.footprints import fixture_models

    models = fixture_models()
    rng = np.random.RandomState(7)
    rows = []
    for name in ["img_0000", "img_0002"]:
        m = models[name]
        ji = np.vstack([rng.uniform(10, m.im_size[0] - 10, 10),
                        rng.uniform(10, m.im_size[1] - 10, 10)])
        xyz = m.pixel_to_world_z(ji, 810.0)
        for k in range(10):
            rows.append((name, float(ji[0, k]), float(ji[1, k]),
                         float(xyz[0, k]), float(xyz[1, k]), float(xyz[2, k])))
    df = spark.createDataFrame(
        rows, "filename string, j double, i double, x double, y double, z double"
    )
    # each image solves with its OWN interior parameters, in one call
    int_by_name = {n: _int_params(models[n]) for n in ["img_0000", "img_0002"]}
    poses = fit_exterior_per_image(df, int_by_name).collect()
    assert sorted(p.filename for p in poses) == sorted(int_by_name)
    for got in poses:
        m = models[got.filename]
        np.testing.assert_allclose((got.x, got.y, got.z), m.xyz, atol=1e-3)
        np.testing.assert_allclose(
            (got.omega, got.phi, got.kappa), m.opk, atol=1e-5
        )
        assert got.rms_px < 1e-4


def test_sample_dem_z_broadcast_equals_cogroup(spark, monkeypatch):
    """r6: the broadcast-gather default and the cogroup fallback (forced
    by a 0-byte broadcast guard) must return the identical point->z map,
    bit for bit — including border-stencil fallback and out-of-extent
    drops. Both drop NaN, infinite and NULL points (Spark's floor maps
    NaN to 0, which once put a NaN point on tile 0 in the cogroup
    plan)."""
    dem = fixture_dem(spark)
    rng = np.random.RandomState(11)
    # mix of interior, tile-border-straddling and out-of-extent points
    px = np.concatenate([
        rng.uniform(18000, 23000, 200), [17999.0, 22800.5, 19919.99]
    ])
    py = np.concatenate([
        rng.uniform(27500, 31500, 200), [31501.0, 27600.5, 29579.99]
    ])
    nan, inf = float("nan"), float("inf")
    bad = [("nan_x", nan, 30000.0), ("nan_y", 19000.0, nan),
           ("inf_x", inf, 30000.0), ("ninf_y", 19000.0, -inf),
           ("null_x", None, 30000.0), ("null_y", 19000.0, None)]
    pts = spark.createDataFrame(
        [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))]
        + bad,
        "url string, px double, py double")
    fast = {r.url: r.z for r in sample_dem_z(pts, dem, band=1).collect()}
    monkeypatch.setattr(raster_join, "DEM_BROADCAST_MAX_BYTES", 0)
    slow = {r.url: r.z for r in sample_dem_z(pts, dem, band=1).collect()}
    assert fast == slow
    assert len(fast) > 100  # in-extent points actually sampled
    assert not set(fast) & {u for u, _, _ in bad}
