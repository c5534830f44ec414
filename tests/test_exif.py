"""Pure-python EXIF/XMP parser (S7/S13): write -> parse round trips,
interior/exterior param derivation branches, footprint parity between an
EXIF-built camera and the same camera defined directly, distributed scan."""

from __future__ import annotations

import numpy as np
import pytest

from orthority_spark import config
from orthority_spark.geom.boundary import world_footprint
from orthority_spark.geom.camera import FrameModel
from orthority_spark.geom.rotation import rpy_to_opk
from orthority_spark.sources.exif import (
    exif_ext_param,
    exif_int_param,
    exif_scan,
    parse_exif,
)
from orthority_spark.sources.param_io import ParamFileError

from builders import build_exif_bytes

LLA = (-33.7001, 24.2001, 825.0)
RPY = (3.0, -5.0, 35.0)


def test_exif_roundtrip_full():
    data = build_exif_bytes(
        im_size=(200, 150), focal_len_mm=5.0, sensor_size_mm=(6.0, 4.5),
        focal_35=30, lla=LLA, rpy_deg=RPY, make="ACME", model="Cam-1",
    )
    t = parse_exif(data)
    assert t.make == "acme" and t.model == "cam-1"
    assert t.im_size == (200, 150) and t.tag_im_size == (200, 150)
    assert t.focal_len == pytest.approx(5.0, rel=1e-6)
    assert t.focal_len_35 == 30
    assert t.sensor_size == pytest.approx((6.0, 4.5), rel=1e-6)
    assert t.lla == pytest.approx(LLA, abs=1e-8)
    assert t.rpy == pytest.approx(RPY, abs=1e-12)


def test_exif_southern_western_negative_altitude():
    data = build_exif_bytes(
        im_size=(10, 10), lla=(-12.25, -67.125, -41.5)
    )
    t = parse_exif(data)
    assert t.lla == pytest.approx((-12.25, -67.125, -41.5), abs=1e-8)


def test_exif_int_param_branches():
    # focal + sensor -> pinhole
    d1 = build_exif_bytes((200, 150), focal_len_mm=5.0, sensor_size_mm=(6.0, 4.5))
    (p1,) = exif_int_param(parse_exif(d1)).values()
    assert p1["type"] == "pinhole" and p1["focal_len"] == pytest.approx(5.0, rel=1e-6)
    # 35mm fallback without sensor size (param_io.py:180-186)
    d2 = build_exif_bytes((200, 150), focal_35=36)
    (p2,) = exif_int_param(parse_exif(d2)).values()
    assert p2["focal_len"] == pytest.approx(1.0) and "sensor_size" not in p2
    # DJI dewarp -> brown (param_io.py:145-162)
    dw = [166.7, 166.7, 1.5, -2.0, -0.1, 0.05, 0.005, -0.003, 0.0]
    d3 = build_exif_bytes((200, 150), dewarp=dw)
    (p3,) = exif_int_param(parse_exif(d3)).values()
    assert p3["type"] == "brown"
    assert p3["focal_len"] == pytest.approx([166.7, 166.7], rel=1e-9)
    assert p3["cx"] == pytest.approx(1.5 / 200, rel=1e-9)
    assert p3["k1"] == pytest.approx(-0.1, rel=1e-9)
    # nothing usable -> error
    d4 = build_exif_bytes((200, 150))
    with pytest.raises(ParamFileError, match="focal"):
        exif_int_param(parse_exif(d4))


def test_exif_footprint_matches_direct_model():
    """A camera built from EXIF bytes produces the SAME world footprint as
    the same camera defined directly (the S7/S13 'genuine' check)."""
    data = build_exif_bytes(
        im_size=(200, 150), focal_len_mm=5.0, sensor_size_mm=(6.0, 4.5),
        lla=LLA, rpy_deg=RPY,
    )
    t = parse_exif(data)
    (ip,) = exif_int_param(t).values()
    ep = exif_ext_param(t)
    m_exif = FrameModel(
        cam_type=ip["type"], im_size=tuple(ip["im_size"]),
        focal_len=ip["focal_len"], sensor_size=tuple(ip["sensor_size"]),
        dist={}, xyz=ep["xyz"], opk=ep["opk"],
    )
    xyz_direct = (
        (LLA[1] - config.LON0) * config.M_PER_DEG,
        (LLA[0] - config.LAT0) * config.M_PER_DEG,
        LLA[2],
    )
    m_direct = FrameModel(
        cam_type="pinhole", im_size=(200, 150), focal_len=5.0,
        sensor_size=(6.0, 4.5), dist={},
        xyz=xyz_direct, opk=rpy_to_opk(tuple(np.radians(RPY))),
    )
    fp_exif = world_footprint(m_exif, 750.0)
    fp_direct = world_footprint(m_direct, 750.0)
    # rational-encoding noise in the GPS tags is the only difference
    np.testing.assert_allclose(fp_exif, fp_direct, atol=1e-3)
    assert ep["camera"] == "oty spark"


def test_exif_missing_pose_tags_raise():
    t = parse_exif(build_exif_bytes((10, 10), focal_len_mm=5.0,
                                    sensor_size_mm=(6.0, 4.5)))
    with pytest.raises(ParamFileError, match="latitude"):
        exif_ext_param(t)
    t2 = parse_exif(build_exif_bytes((10, 10), lla=LLA))
    with pytest.raises(ParamFileError, match="roll"):
        exif_ext_param(t2)


def test_exif_scan_distributed(spark):
    rows = [
        (
            f"img_{k}.tif",
            bytearray(
                build_exif_bytes(
                    im_size=(200, 150), focal_len_mm=5.0,
                    sensor_size_mm=(6.0, 4.5),
                    lla=(LLA[0] + k * 1e-4, LLA[1], 820.0 + k),
                    rpy_deg=(0.0, 0.0, 10.0 * k),
                )
            ),
        )
        for k in range(6)
    ]
    df = spark.createDataFrame(rows, "filename string, data binary")
    got = {r.filename: r for r in exif_scan(df).collect()}
    assert len(got) == 6
    for k in range(6):
        r = got[f"img_{k}.tif"]
        assert r.camera == "oty spark"
        assert r.focal_len == pytest.approx(5.0, rel=1e-6)
        assert r.lat == pytest.approx(LLA[0] + k * 1e-4, abs=1e-8)
        assert r.alt == pytest.approx(820.0 + k, abs=1e-6)
        assert r.yaw == pytest.approx(10.0 * k, abs=1e-12)


def test_exif_scan_isolates_corrupt_blobs(spark):
    """One corrupt blob must not kill the distributed scan: it yields a
    null row (camera None) and every other file still parses."""
    good = build_exif_bytes((200, 150), focal_len_mm=5.0,
                            sensor_size_mm=(6.0, 4.5))
    rows = [
        ("good.tif", bytearray(good)),
        ("trunc.tif", bytearray(good[:30])),       # truncated mid-IFD
        ("junk.bin", bytearray(b"NOTATIFF....")),  # not TIFF at all
    ]
    df = spark.createDataFrame(rows, "filename string, data binary")
    got = {r.filename: r for r in exif_scan(df).collect()}
    assert len(got) == 3
    assert got["good.tif"].focal_len == pytest.approx(5.0, rel=1e-6)
    assert got["trunc.tif"].camera is None
    assert got["junk.bin"].camera is None


def test_exif_int_param_exif_ifd_dims_fallback():
    """Real camera EXIF often omits IFD0 ImageWidth/Length — the EXIF
    PixelX/YDimension tags must stand in."""
    import struct as _struct

    from orthority_spark.sources.exif import (
        TAG_IMAGE_LENGTH, TAG_IMAGE_WIDTH, parse_tiff_tags,
    )

    data = bytearray(build_exif_bytes((200, 150), focal_len_mm=5.0,
                                      sensor_size_mm=(6.0, 4.5)))
    # overwrite the IFD0 width/length tag ids with a harmless unknown id
    for tag in (TAG_IMAGE_WIDTH, TAG_IMAGE_LENGTH):
        idx = bytes(data).find(_struct.pack("<HHI", tag, 4, 1))
        assert idx > 0
        data[idx:idx + 2] = _struct.pack("<H", 0xEE00 + tag)
    t = parse_exif(bytes(data))
    assert t.im_size is None and t.tag_im_size == (200, 150)
    (p,) = exif_int_param(t).values()
    assert p["im_size"] == [200, 150]


def test_exif_to_pip_join_journey(spark):
    """The full user journey: EXIF blobs -> distributed scan -> interior/
    exterior params -> frame models -> footprint catalog -> broadcast PIP
    join against pages — every matched page verified inside its polygon
    by the numpy ray-caster, and points planted inside/outside land where
    they must."""
    from orthority_spark.functions.geotag import with_geotag
    from orthority_spark.geom.boundary import point_in_polygon
    from orthority_spark.operators.tile_join import (
        assign_cells,
        pip_join_broadcast,
    )
    from orthority_spark.sources import footprints as fpm
    from orthority_spark.sources.exif import exif_scan
    from orthority_spark.sources.param_io import ParamFileError

    # two cameras over the fixture block, poses carried ONLY in EXIF tags
    blobs = [
        ("cam_a.tif", (-33.7005, 24.2000, 1100.0), (0.0, 0.0, 0.0)),
        ("cam_b.tif", (-33.6990, 24.2020, 1100.0), (2.0, -3.0, 40.0)),
    ]
    df = spark.createDataFrame(
        [
            (fn, bytearray(build_exif_bytes(
                im_size=(200, 150), focal_len_mm=5.0,
                sensor_size_mm=(6.0, 4.5), lla=lla, rpy_deg=rpy)))
            for fn, lla, rpy in blobs
        ],
        "filename string, data binary",
    )
    models = {}
    for fn, blob in [(r[0], r[1]) for r in df.collect()]:
        t = parse_exif(bytes(blob))
        (ip,) = exif_int_param(t).values()
        ep = exif_ext_param(t)
        models[fn] = FrameModel(
            cam_type=ip["type"], im_size=tuple(ip["im_size"]),
            focal_len=ip["focal_len"], sensor_size=tuple(ip["sensor_size"]),
            dist={}, xyz=ep["xyz"], opk=ep["opk"],
        )
    # the distributed scan agrees with the driver-side parse
    scanned = {r.filename: r for r in exif_scan(df).collect()}
    assert scanned["cam_a.tif"].alt == pytest.approx(1100.0, abs=1e-6)

    recs = fpm.records_for_models(models)
    polys = recs["polygons"]
    # plant pages: centers of both footprints (inside) + one far point
    rows = []
    for k, (fn, poly) in enumerate(sorted(polys.items())):
        lon = poly[0].mean() / config.M_PER_DEG + config.LON0
        lat = poly[1].mean() / config.M_PER_DEG + config.LAT0
        rows.append((f"in_{fn}", f"x geo:{lat:.6f},{lon:.6f} y"))
    rows.append(("out_far", "x geo:-33.200000,24.900000 y"))
    pages = assign_cells(with_geotag(
        spark.createDataFrame(rows, "url string, text string")
    ))
    got = pip_join_broadcast(
        pages,
        fpm.footprint_catalog_flat_df(spark, recs),
        fpm.footprint_edges_df(spark, recs),
    ).select("url", "filename").collect()
    matched = {(r.url, r.filename) for r in got}
    assert ("out_far", "cam_a.tif") not in matched
    for fn in polys:
        assert (f"in_{fn}", fn) in matched
    # every match verified by the numpy ray-caster
    pc = {r.url: (r.px, r.py) for r in pages.collect()}
    for url, fn in matched:
        px, py = pc[url]
        assert point_in_polygon(
            np.array([px]), np.array([py]), polys[fn]
        )[0], (url, fn)


def test_exif_roundtrip_property():
    """Write->parse round trip holds for ANY lat/lon/alt/rpy (hypothesis
    over the coordinate space; rational-tag encoding error bounded)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        st.floats(min_value=-89.9, max_value=89.9),
        st.floats(min_value=-179.9, max_value=179.9),
        st.floats(min_value=-400.0, max_value=9000.0),
        st.floats(min_value=-180.0, max_value=180.0),
        st.floats(min_value=-120.0, max_value=60.0),
        st.floats(min_value=-180.0, max_value=180.0),
    )
    def check(lat, lon, alt, roll, pitch, yaw):
        t = parse_exif(build_exif_bytes(
            im_size=(200, 150), lla=(lat, lon, alt),
            rpy_deg=(roll, pitch, yaw)))
        assert t.lla == pytest.approx((lat, lon, alt), abs=1e-5)
        assert t.rpy == pytest.approx((roll, pitch, yaw), abs=1e-9)

    check()


def test_dms_ref_strict_and_rat_bounds():
    """A truncated GPS ref must raise, not silently read as northern
    hemisphere ('' in "NE" is True); _rat must reject values that cannot
    be an unsigned TIFF RATIONAL instead of failing in struct.pack."""
    from builders import _rat
    from orthority_spark.sources.exif import _dms_to_decimal

    assert _dms_to_decimal((10.0, 30.0, 0.0), "S") == -10.5
    assert _dms_to_decimal((10.0, 30.0, 0.0), "w") == -10.5  # case-folded
    assert _dms_to_decimal((10.0, 30.0, 0.0), "N ") == 10.5
    for bad in ("", "NE", "X"):
        with pytest.raises(ParamFileError):
            _dms_to_decimal((1.0, 0.0, 0.0), bad)
    assert _rat(2.5, 1_000_000) == (2_500_000, 1_000_000)
    for bad_v in (-1.0, 5e9):
        with pytest.raises(ParamFileError):
            _rat(bad_v)


# First 2351 bytes (IFD/EXIF/GPS/XMP region; strip data truncated) of the
# reference's real DJI capture tests/data/odm/images/100_0005_0142.tif —
# bytes this repo's writer did NOT produce, so writer-blind-spot bugs in
# the parser can't hide behind a write->parse round trip.
_DJI_TIFF_HEAD_B64 = (
    "eNqVlEtw20QYgH8/Euc5hZJOQ8dpXAWmlESyXpYlEzctNqZhYug4ZXDgJFtrW40seSQldnLK"
    "dLj0AMMRDgwcGI5cO9OWgSM36CXD4wIH4MgV6Azhl604TqzwkGa1/+7//Y/9d1erq8/DGAA8"
    "CRCKQAil8giKvvxeBCCMMnbwPbaIPx/DNurLo9jO+bLHxX3Zay/6svfJDcj5UBRmUbyG8ku+"
    "/CO2dT/Wxzj/VigG76K8j/LZcATCKIfxnQmPdGN+ivMPwyH4dR5AQ+XeJ2GQzwCsUdB9xrrv"
    "9nWAL/MAP+cAOtj/dA3Aehbg3gqAqACw2G6lAO4g9/AKwOcSwIgAUMT+CRngKxrgwzmAb7CV"
    "MFIBU905jzr0MXIO4G0O4E8b4P49gI8eA5zHJf2+F4I6pnfxlxDahOFOOQz774Sh/DVm/0cY"
    "HiUjsF+JwMIHERAeReDxXxF4Px6FRiYK9zeiAHYUdu5G4e5nUSxWqFe17vfA7/f+ZXzw7cEP"
    "kIOx0dHY6MhYLBYbHx+bmJqZnpqcnHr67FNnZuYuzF+cuxCPJ55hLieopYV4/Ln0lSWWE0Vx"
    "/rKSlfllRhB5z0lofHx8anJqdnp6lr8Uv8T/7+fgu07TyJSLN7PLK52WWt0kbqJC6rqZpX57"
    "8AWV0LUs9UaqyBZbOdLQb+zaZH331VvV3c2qolErVyeWO5lOs9UkrppAR6aT6WQpVbMqJIOy"
    "N52krk4klm2tlinlCz6DoyzVcN1WJplst9tMW2Asu57kFEVJsnyS52kkaGfHdNUObToLnoue"
    "jzxxqrbecnXLTHhjtWJtuVkq/8pqoujlkFddlUI44Udy9dpRKNNhuqkxVauZ9DRJjmGTgzjp"
    "6KfgnmYIx5UH0x21FQQXi/+MN5vHLLRqH29t2Ua3Rlo1SQzSJKbroAl3jK/aTrD/qtoktkrb"
    "apt2iOvqZt0ZSk+zLZPQ2m392M7guOuhrz2yw/Vkipam13aw6CRL8Syn0KxIc1xfnbMJqgLV"
    "XvkzRXWTdDdvYMrSiJGlCjlJ4NhSd16rZmqW3VRxn/WmWifJ2616T3GYVOZ6xbGMLZdcN1zd"
    "3dLQ6SInS4wonuBKxFBdfXuQUxRGVk5gL7ecNfWQ4EVGSiuypIjpAMwy64cgx7OMkuKEFK+k"
    "TpJ6s6IaJcsw8qRuEy8uy7BsILWhtg8hmme4YOim7lYbfUwKcFYw9HrDHQxJK4wUTA2EXOQZ"
    "JRg6HjLNpIKx8nqLEPxpLKYZ8ZRohwQ7vLoe8eYRMbSunNoskW1iO5hFcG1OVa8To+b9ILLU"
    "66ZGarpJtCHnhl6x8bxqBauqGmsEd7eRpQRJkhhsKVY81eA1/CmhSQ5vJrHLeGzSgoTZe89/"
    "s9nAEyTjYQu0KbmbBUOtZ6lUgGbd1fAc4nrRVhk+8z3Auz4eIMtyIHCj3gN4fuiQ5ElbtVu9"
    "yiXwHss0i1c5/YIgpdJowPafJZxhGWlwhsYFCQNjXsBNH9SzDC+lWUX2x3gmOE5Jp/tD/Cq8"
    "KMtcf4hL4NmU1DNmBYGTOLFXs78B4lZc4w=="
)


def test_parse_real_dji_exif_bytes():
    import base64
    import zlib

    data = zlib.decompress(base64.b64decode(_DJI_TIFF_HEAD_B64))
    t = parse_exif(data)
    assert t.im_size == (1368, 912)
    # GPS IFD (DMS + refs) - cross-checked against the dataset's opensfm
    # reconstruction reference_lla (24.6809, 120.9506)
    assert t.lla == pytest.approx((24.67986947, 120.95135295, 186.44), abs=1e-6)
    # DJI XMP gimbal RPY with the +90 pitch read offset applied
    assert t.rpy == pytest.approx((0.0, 30.0, -2.1), abs=1e-9)
    # DJI DewarpData -> brown coefficients (fx, fy, cx, cy, k1..p2..k3)
    assert t.dewarp == pytest.approx(
        [3657.02, 3650.62, -4.03, 23.1, -0.267098, 0.111977,
         0.000924881, 8.82056e-05, -0.0331614]
    )
