"""Param-file I/O: round trips, schema validation, CSV format dispatch,
auto-zone rule (SURVEY §2.1 S5/S11/S14/S15)."""

from __future__ import annotations

import pytest

from orthority_spark.sources.param_io import (
    ParamFileError,
    validate_collection,
    read_int_param,
    write_int_param,
    read_ext_param_csv,
    write_ext_param_csv,
    read_ext_param_geojson,
    mean_latlon_zone,
)

from builders import write_ext_param_geojson

INT_PARAMS = {
    "pinhole-1": {
        "type": "pinhole", "im_size": [200, 150], "focal_len": 5.0,
        "sensor_size": [6.0, 4.5], "cx": -0.01, "cy": 0.02,
    },
    "brown-1": {
        "type": "brown", "im_size": [200, 150], "focal_len": 5.0,
        "k1": -0.25, "k2": 0.2, "p1": 0.01, "p2": 0.01, "k3": -0.1,
    },
}


def test_int_param_roundtrip(tmp_path):
    f = tmp_path / "int.yaml"
    write_int_param(f, INT_PARAMS)
    assert read_int_param(f) == INT_PARAMS
    with pytest.raises(FileExistsError):
        write_int_param(f, INT_PARAMS)
    write_int_param(f, INT_PARAMS, overwrite=True)


def test_int_param_validation(tmp_path):
    f = tmp_path / "bad.yaml"
    bad = {"cam": {"type": "nope", "im_size": [1, 2], "focal_len": 1.0}}
    write_int_param(f, bad)
    with pytest.raises(ParamFileError, match="unknown camera type"):
        read_int_param(f)


def test_csv_header_dispatch(tmp_path):
    f = tmp_path / "ext.csv"
    recs = [
        {"filename": "img_0000", "x": 2e4, "y": 3e4, "z": 1e3,
         "omega": -0.05, "phi": 0.03, "kappa": 0.17, "camera": "pinhole-1"},
        {"filename": "img_0001", "x": 2.01e4, "y": 3e4, "z": 1e3,
         "omega": 0.0, "phi": 0.0, "kappa": 0.0, "camera": "brown-1"},
    ]
    write_ext_param_csv(f, recs)
    got, fmt = read_ext_param_csv(f)
    assert fmt == "xyz_opk"
    assert got[0]["x"] == 2e4 and got[1]["filename"] == "img_0001"


def test_csv_legacy_headerless(tmp_path):
    f = tmp_path / "legacy.csv"
    f.write_text("img_0000 20000 30000 1000 -0.05 0.03 0.17\n")
    got, fmt = read_ext_param_csv(f)
    assert fmt == "xyz_opk"
    assert got[0]["filename"] == "img_0000" and got[0]["kappa"] == 0.17


def test_csv_lla_rpy_and_zone(tmp_path):
    f = tmp_path / "lla.csv"
    recs = [
        {"filename": "a", "latitude": -33.7, "longitude": 24.2,
         "altitude": 1000.0, "roll": 0.0, "pitch": 0.0, "yaw": 0.1},
        {"filename": "b", "latitude": -33.71, "longitude": 24.21,
         "altitude": 1000.0, "roll": 0.0, "pitch": 0.0, "yaw": 0.2},
    ]
    write_ext_param_csv(f, recs)
    got, fmt = read_ext_param_csv(f)
    assert fmt == "lla_rpy"
    # lon 24.2 -> UTM zone 35; southern hemisphere -> negative
    assert mean_latlon_zone(got) == -35


def test_geojson_roundtrip(tmp_path):
    f = tmp_path / "ext.geojson"
    recs = [
        {"filename": "img_0000", "lon": 24.2, "lat": -33.7, "z": 1000.0,
         "omega": -0.05, "phi": 0.03, "kappa": 0.17, "camera": "pinhole-1"},
    ]
    write_ext_param_geojson(f, recs, world_crs="EPSG:32735")
    got, crs = read_ext_param_geojson(f)
    assert crs == "EPSG:32735"
    assert got[0]["lon"] == 24.2 and got[0]["camera"] == "pinhole-1"


def test_validate_collection_shapes():
    validate_collection({"a": [int], str: float}, {"a": [1, 2], "b": 1.5})
    with pytest.raises(ParamFileError, match="missing key"):
        validate_collection({"a": int}, {})
    with pytest.raises(ParamFileError, match="expected list"):
        validate_collection({"a": [int]}, {"a": 3})
    with pytest.raises(ParamFileError, match="expected int"):
        validate_collection({"a": [int]}, {"a": ["x"]})


def test_csv_extra_string_column_passes_through(tmp_path):
    f = tmp_path / "ext.csv"
    f.write_text(
        "filename,x,y,z,omega,phi,kappa,notes\n"
        "img_1.tif,1.0,2.0,3.0,0.1,0.2,0.3,first flight\n"
    )
    recs, fmt = read_ext_param_csv(f)
    assert fmt == "xyz_opk"
    assert recs[0]["x"] == 1.0 and recs[0]["notes"] == "first flight"


def test_csv_empty_file_raises_param_error(tmp_path):
    f = tmp_path / "empty.csv"
    f.write_text("")
    with pytest.raises(ParamFileError):
        read_ext_param_csv(f)


def test_csv_lla_rpy_poses_match_xyz_opk(tmp_path):
    """The same physical geometry expressed as lla_rpy and as xyz_opk must
    produce IDENTICAL world poses and footprints (the CsvReader._convert
    wiring, reference param_io.py:1061-1157)."""
    import numpy as np

    from orthority_spark import config
    from orthority_spark.geom.boundary import world_footprint
    from orthority_spark.geom.camera import FrameModel
    from orthority_spark.geom.rotation import rpy_to_opk
    from orthority_spark.sources.param_io import read_ext_param_csv_poses

    lla = (-33.7002, 24.2003, 830.0)
    rpy_deg = (2.0, -4.0, 25.0)
    xyz = ((lla[1] - config.LON0) * config.M_PER_DEG,
           (lla[0] - config.LAT0) * config.M_PER_DEG, lla[2])
    opk = rpy_to_opk(tuple(np.radians(rpy_deg)))

    f1 = tmp_path / "lla_rpy.csv"
    f1.write_text(
        "filename,latitude,longitude,altitude,roll,pitch,yaw\n"
        f"img.tif,{lla[0]!r},{lla[1]!r},{lla[2]!r},"
        f"{rpy_deg[0]!r},{rpy_deg[1]!r},{rpy_deg[2]!r}\n"
    )
    f2 = tmp_path / "xyz_opk.csv"
    f2.write_text(
        "filename,x,y,z,omega,phi,kappa\n"
        f"img.tif,{xyz[0]!r},{xyz[1]!r},{xyz[2]!r},"
        f"{np.degrees(opk[0])!r},{np.degrees(opk[1])!r},{np.degrees(opk[2])!r}\n"
    )
    (p1,) = read_ext_param_csv_poses(f1)
    (p2,) = read_ext_param_csv_poses(f2)
    np.testing.assert_allclose(p1["xyz"], p2["xyz"], rtol=1e-12)
    np.testing.assert_allclose(p1["opk"], p2["opk"], atol=1e-12)

    cam = dict(cam_type="pinhole", im_size=(200, 150), focal_len=5.0,
               sensor_size=(6.0, 4.5), dist={})
    m1 = FrameModel(**cam, xyz=p1["xyz"], opk=p1["opk"])
    m2 = FrameModel(**cam, xyz=p2["xyz"], opk=p2["opk"])
    np.testing.assert_allclose(
        world_footprint(m1, 750.0), world_footprint(m2, 750.0), atol=1e-9
    )


def test_csv_xyz_rpy_poses(tmp_path):
    import numpy as np

    from orthority_spark.geom.rotation import rpy_to_opk
    from orthority_spark.sources.param_io import read_ext_param_csv_poses

    f = tmp_path / "xyz_rpy.csv"
    f.write_text(
        "filename,x,y,z,roll,pitch,yaw,camera\n"
        "img.tif,100.0,200.0,900.0,0.0,0.0,90.0,camA\n"
    )
    (p,) = read_ext_param_csv_poses(f)
    assert p["xyz"] == (100.0, 200.0, 900.0)
    np.testing.assert_allclose(
        p["opk"], rpy_to_opk((0.0, 0.0, np.pi / 2)), atol=1e-12
    )
    assert p["camera"] == "camA"


def test_factory_models_from_files(tmp_path):
    """FrameCameras factory analogue (reference factory.py:205-234): oty
    interior YAML + exterior GeoJSON reassemble the fixture model —
    identical pose and pixel projections; single-camera shortcut binds a
    pose without a camera id; unknown id raises."""
    import numpy as np

    from orthority_spark.sources.factory import models_from_files
    from orthority_spark.sources.footprints import fixture_models, world_to_lonlat
    from builders import write_ext_param_geojson
    from orthority_spark.sources.param_io import write_int_param

    m = fixture_models()["img_0001"]  # brown distortion
    yml = tmp_path / "int.yaml"
    write_int_param(yml, {"cam-1": {
        "type": m.cam_type, "im_size": list(m.im_size),
        "focal_len": m.focal_len, "sensor_size": list(m.sensor_size),
        "cx": m.cx, "cy": m.cy, **{k: float(v) for k, v in m.dist.items()},
    }})
    lon, lat = world_to_lonlat(m.xyz[0], m.xyz[1])
    gj = tmp_path / "ext.geojson"
    write_ext_param_geojson(gj, [{
        "filename": "img_0001", "lon": float(lon), "lat": float(lat),
        "z": m.xyz[2],
        "omega": float(np.degrees(m.opk[0])),
        "phi": float(np.degrees(m.opk[1])),
        "kappa": float(np.degrees(m.opk[2])),
    }])
    got = models_from_files(yml, gj)["img_0001"]
    np.testing.assert_allclose(got.xyz, m.xyz, atol=1e-9)
    np.testing.assert_allclose(got.opk, m.opk, atol=1e-12)
    pts = np.array([[20000.0, 20050.0], [30000.0, 29950.0], [825.0, 830.0]])
    np.testing.assert_allclose(
        got.world_to_pixel(pts), m.world_to_pixel(pts), atol=1e-9
    )

    from orthority_spark.sources.factory import models_from_params

    # unknown camera id errors
    with pytest.raises(ParamFileError):
        models_from_params(
            {"cam-1": {"type": "pinhole", "im_size": [10, 10], "focal_len": 5.0}},
            [{"filename": "f", "xyz": (0, 0, 100), "opk": (0, 0, 0),
              "camera": "nope"}],
        )
