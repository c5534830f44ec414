"""North-aligned RPY->OPK (P10), OpenSfM reader (S6/S12)."""

from __future__ import annotations

import json

import numpy as np

from orthority_spark.geom.camera import FrameModel
from orthority_spark.geom.rotation import rpy_to_opk, aa_to_rotation
from orthority_spark.sources.param_io import read_osfm


def test_rpy_zero_is_nadir():
    opk = rpy_to_opk((0.0, 0.0, 0.0))
    m = FrameModel(cam_type="pinhole", im_size=(200, 150), focal_len=5.0,
                   sensor_size=(6.0, 4.5), xyz=(0.0, 0.0, 1000.0),
                   opk=opk, dist={})
    # a point straight below the camera projects to the principal point
    ji = m.world_to_pixel(np.array([[0.0], [0.0], [0.0]]))
    np.testing.assert_allclose(ji.ravel(), [m.K[0, 2], m.K[1, 2]], atol=1e-9)
    assert m.horizon_fov() is False


def test_rpy_zero_is_identity_opk():
    """rpy == 0 must give opk == (0, 0, 0): nadir view with image-top
    facing north (reference C_En @ C_nb @ C_bB at param_io.py:833 reduces
    to identity for a north-aligned frame)."""
    np.testing.assert_allclose(rpy_to_opk((0.0, 0.0, 0.0)), (0.0, 0.0, 0.0),
                               atol=1e-12)


def test_rpy_to_opk_reference_parity():
    """Parity vs the reference composition C_En @ C_nb @ C_bB
    (/root/reference/orthority/param_io.py:753-835) with the exact
    north-aligned C_En, over a grid of non-trivial rpy."""
    from orthority_spark.geom.rotation import (
        opk_to_rotation, rpy_to_rotation,
    )

    C_En = np.array([[0.0, 1.0, 0.0], [1.0, 0.0, 0.0], [0.0, 0.0, -1.0]])
    C_bB = np.array([[0.0, 1.0, 0.0], [1.0, 0.0, 0.0], [0.0, 0.0, -1.0]])
    for rpy in [(0.1, -0.2, 0.7), (-0.4, 0.3, 2.5), (0.0, 0.0, 1.5708),
                (0.9, -0.8, -2.9)]:
        expected = C_En @ rpy_to_rotation(rpy) @ C_bB
        got = opk_to_rotation(rpy_to_opk(rpy))
        np.testing.assert_allclose(got, expected, atol=1e-12)


def test_rpy_image_top_faces_north():
    """At rpy = 0 a world point due NORTH of the camera projects ABOVE the
    principal point (smaller i) — the kappa=+90deg bug this guards against
    put north to the image LEFT instead."""
    opk = rpy_to_opk((0.0, 0.0, 0.0))
    m = FrameModel(cam_type="pinhole", im_size=(200, 150), focal_len=5.0,
                   sensor_size=(6.0, 4.5), xyz=(0.0, 0.0, 1000.0),
                   opk=opk, dist={})
    north = m.world_to_pixel(np.array([[0.0], [100.0], [0.0]]))
    assert north[1, 0] < m.K[1, 2] - 1.0          # above centre
    assert abs(north[0, 0] - m.K[0, 2]) < 1e-6    # not left/right


def test_read_osfm(tmp_path):
    aa = [0.1, -0.05, 0.2]
    t = [100.0, 200.0, 950.0]
    recon = [{
        "cameras": {
            "cam1": {"projection_type": "perspective", "width": 1368,
                     "height": 912, "focal": 0.85, "k1": -0.1, "k2": 0.02,
                     "c_x": 0.001, "c_y": -0.002},
        },
        "shots": {
            "img_a.jpg": {"camera": "cam1", "rotation": aa, "translation": t},
        },
        "reference_lla": {"latitude": -33.7, "longitude": 24.2, "altitude": 0},
    }]
    f = tmp_path / "reconstruction.json"
    f.write_text(json.dumps(recon))
    int_p, ext_p = read_osfm(f)
    assert int_p["cam1"]["type"] == "brown"
    assert int_p["cam1"]["im_size"] == [1368, 912]
    assert int_p["cam1"]["k1"] == -0.1
    shot = ext_p["img_a.jpg"]
    R = aa_to_rotation(aa)
    np.testing.assert_allclose(shot["xyz"], (-R.T @ np.array(t)), rtol=1e-12)
    assert len(shot["opk"]) == 3
    assert shot["ref_lla"][0] == -33.7
