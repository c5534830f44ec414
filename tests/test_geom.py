"""Geometry kernel tests — the reference's analytic invariants (SURVEY §5.2).

- round-trip pixel_to_world_z ∘ world_to_pixel ≈ id to 0.1 px over 1000
  random points (/root/reference/tests/test_camera.py:190-205)
- zero-coefficient distortion ≡ pinhole (test_camera.py:325)
- brown ≡ opencv on shared coefficients (test_camera.py:341)
- rotation round trips; RPC forward/inverse consistency
- shoelace area / GSD closed forms
"""

from __future__ import annotations

import numpy as np
import pytest

from orthority_spark.geom import (
    FrameModel,
    RpcModel,
    opk_to_rotation,
    rotation_to_opk,
    rpy_to_rotation,
    aa_to_rotation,
    pixel_boundary,
    polygon_area,
    gsd,
    point_in_polygon,
)
from orthority_spark.geom.dem import dem_sinusoid, dem_plane
from orthority_spark.sources.footprints import fixture_models

from builders import ray_dem_intersect

RNG = np.random.RandomState(42)


def _rand_ji(model, n=1000):
    return RNG.rand(2, n) * np.array(
        [[model.im_size[0] - 1], [model.im_size[1] - 1]]
    )


@pytest.mark.parametrize("name", ["img_0000", "img_0001", "img_0002", "img_0003"])
def test_roundtrip_within_tenth_pixel(name):
    model = fixture_models()[name]
    ji = _rand_ji(model)
    xyz = model.pixel_to_world_z(ji, 825.0)
    ji2 = model.world_to_pixel(xyz)
    assert np.abs(ji2 - ji).max() < 0.1


def test_zero_coeff_equals_pinhole():
    kw = dict(im_size=(200, 150), focal_len=5.0, sensor_size=(6.0, 4.5),
              cx=-0.01, cy=0.02, xyz=(2e4, 3e4, 1e3),
              opk=(np.radians(-3), np.radians(2), np.radians(10)))
    pin = FrameModel(cam_type="pinhole", dist={}, **kw)
    brown0 = FrameModel(cam_type="brown",
                        dist=dict(k1=0, k2=0, p1=0, p2=0, k3=0), **kw)
    cv0 = FrameModel(cam_type="opencv",
                     dist=dict(k1=0, k2=0, p1=0, p2=0, k3=0), **kw)
    xyz = np.vstack([
        2e4 + RNG.randn(500) * 100, 3e4 + RNG.randn(500) * 100,
        825 + RNG.randn(500),
    ])
    np.testing.assert_allclose(pin.world_to_pixel(xyz), brown0.world_to_pixel(xyz),
                               atol=1e-9)
    np.testing.assert_allclose(pin.world_to_pixel(xyz), cv0.world_to_pixel(xyz),
                               atol=1e-9)


def test_brown_equals_opencv_on_shared_coeffs():
    kw = dict(im_size=(200, 150), focal_len=5.0, sensor_size=(6.0, 4.5),
              cx=-0.01, cy=0.02, xyz=(2e4, 3e4, 1e3),
              opk=(np.radians(-3), np.radians(2), np.radians(10)))
    d = dict(k1=-0.1, k2=0.05, p1=0.005, p2=-0.005, k3=-0.01)
    brown = FrameModel(cam_type="brown", dist=d, **kw)
    ocv = FrameModel(cam_type="opencv", dist=d, **kw)
    xyz = np.vstack([
        2e4 + RNG.randn(500) * 50, 3e4 + RNG.randn(500) * 50,
        825 + RNG.randn(500),
    ])
    np.testing.assert_allclose(brown.world_to_pixel(xyz), ocv.world_to_pixel(xyz),
                               atol=1e-9)


def test_rotation_roundtrip():
    opk = (np.radians(-3), np.radians(2), np.radians(10))
    R = opk_to_rotation(opk)
    np.testing.assert_allclose(R @ R.T, np.eye(3), atol=1e-12)
    np.testing.assert_allclose(rotation_to_opk(R), opk, atol=1e-12)


def test_rpy_rotation_orthonormal():
    R = rpy_to_rotation((0.1, -0.2, 0.3))
    np.testing.assert_allclose(R @ R.T, np.eye(3), atol=1e-12)


def test_rodrigues_matches_small_angle():
    aa = (1e-8, 0, 0)
    np.testing.assert_allclose(aa_to_rotation(aa), np.eye(3), atol=1e-7)
    # quarter turn about z
    R = aa_to_rotation((0, 0, np.pi / 2))
    np.testing.assert_allclose(R @ np.array([1.0, 0, 0]), [0, 1, 0], atol=1e-12)


def test_rpc_forward_inverse_roundtrip():
    # synthetic RPC per /root/reference/tests/conftest.py:212-244
    z = np.zeros(20)
    line_num = z.copy(); line_num[:5] = [-0.005, -0.033, -1.042, 0.008, -0.001]
    line_den = z.copy(); line_den[:3] = [1.0, -0.001, -0.002]
    samp_num = z.copy(); samp_num[:5] = [0.008, 1.016, 0.002, 0.013, 0.001]
    samp_den = z.copy(); samp_den[:3] = [1.0, -0.002, -0.001]
    rpc = RpcModel(
        im_size=(1024, 768),
        lat_off=-33.7, lat_scale=0.05, long_off=24.2, long_scale=0.05,
        height_off=500.0, height_scale=500.0,
        line_off=383.5, line_scale=384.0, samp_off=511.5, samp_scale=512.0,
        line_num_coeff=line_num, line_den_coeff=line_den,
        samp_num_coeff=samp_num, samp_den_coeff=samp_den,
    )
    ji = RNG.rand(2, 500) * np.array([[1023], [767]])
    xyz = rpc.pixel_to_world_z(ji, 400.0)
    ji2 = rpc.world_to_pixel(xyz)
    assert np.abs(ji2 - ji).max() < 1e-6


def test_shoelace_and_gsd():
    square = np.array([[0.0, 2, 2, 0], [0.0, 0, 2, 2]])
    assert polygon_area(square) == pytest.approx(4.0)
    px = np.array([[0.0, 1, 1, 0], [0.0, 0, 1, 1]])
    assert gsd(square, px) == pytest.approx(2.0)


def test_pixel_boundary_shapes():
    b = pixel_boundary((200, 150))
    assert b.shape == (2, 8)
    b2 = pixel_boundary((200, 150), num_pts=20)
    assert b2.shape[0] == 2 and b2.shape[1] >= 16
    assert b2[0].max() == pytest.approx(199, abs=20)


def test_point_in_polygon_square():
    sq = np.array([[0.0, 10, 10, 0], [0.0, 0, 10, 10]])
    px = np.array([5.0, 15.0, -1.0, 9.999])
    py = np.array([5.0, 5.0, 5.0, 0.001])
    np.testing.assert_array_equal(
        point_in_polygon(px, py, sq), [True, False, False, True]
    )


def test_ray_dem_intersect_plane_matches_pixel_to_world_z():
    model = fixture_models()["img_0000"]
    ji = _rand_ji(model, 50)
    hit = ray_dem_intersect(model, ji, dem_plane, 700.0, 950.0)
    direct = model.pixel_to_world_z(ji, 825.0)
    np.testing.assert_allclose(hit, direct, atol=1e-3)


def test_ray_dem_intersect_sinusoid_on_surface():
    model = fixture_models()["img_0000"]
    ji = _rand_ji(model, 50)
    hit = ray_dem_intersect(model, ji, dem_sinusoid, 750.0, 900.0)
    # intersection points lie on the DEM surface
    np.testing.assert_allclose(hit[2], dem_sinusoid(hit[0], hit[1]), atol=1e-3)
    # and reproject to the original pixels
    ji2 = model.world_to_pixel(hit)
    assert np.abs(ji2 - ji).max() < 0.1


def test_horizon_fov_predicate():
    m = fixture_models()["img_0000"]
    assert m.horizon_fov() is False
    tilted = FrameModel(cam_type="pinhole", im_size=(200, 150), focal_len=5.0,
                        sensor_size=(6.0, 4.5), xyz=(0, 0, 1000),
                        opk=(np.radians(90), 0.0, 0.0), dist={})
    assert tilted.horizon_fov() is True


def test_ray_dem_first_intersection_semantics():
    """A wavy surface crossed obliquely: the march must return the FIRST
    (highest-z) crossing per ray — verified against a dense brute-force
    march (the reference's first-sample-below rule, camera.py:158-164)."""
    model = FrameModel(cam_type="pinhole", im_size=(200, 150), focal_len=5.0,
                       sensor_size=(6.0, 4.5), xyz=(0.0, 0.0, 1500.0),
                       opk=(np.radians(35.0), 0.0, 0.0), dist={})

    def wavy(x, y):
        return 800.0 + 40.0 * np.sin(np.asarray(y) / 40.0)

    ji = np.vstack([np.linspace(20, 180, 9), np.linspace(15, 135, 9)])
    hit = ray_dem_intersect(model, ji, wavy, 700.0, 900.0, step=1.0)
    for k in range(ji.shape[1]):
        zs = np.linspace(900.0, 700.0, 8001)
        pts = model.pixel_to_world_z(ji[:, k:k + 1], zs)
        below = pts[2] <= wavy(pts[0], pts[1])
        assert below.any(), "fixture must intersect"
        first = int(np.argmax(below))
        # march + bisection must land inside the brute bracket
        lo, hi = zs[first], zs[max(first - 1, 0)]
        assert lo - 1e-6 <= hit[2, k] <= hi + 1e-6, (k, hit[2, k], lo, hi)
        # and on the surface
        assert abs(hit[2, k] - wavy(hit[0, k], hit[1, k])) < 1e-3
