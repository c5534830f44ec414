"""GCP GeoJSON round trip feeding the refine pipeline end-to-end."""

from __future__ import annotations

import numpy as np
import pytest

from orthority_spark.operators.fit import refine_per_image
from orthority_spark.sources.footprints import fixture_models
from orthority_spark.sources.param_io import read_gcps_geojson

from builders import write_gcps_geojson


def test_gcp_roundtrip_feeds_refine(spark, tmp_path):
    """GCPs written/read as GeoJSON, projected through the camera model,
    refined: recovers the planted pixel shift (A9 end-to-end)."""
    m = fixture_models()["img_0000"]
    rng = np.random.RandomState(17)
    ji_pred = rng.rand(2, 12) * np.array([[199], [149]])
    xyz = m.pixel_to_world_z(ji_pred, 825.0)
    shift = np.array([[2.0], [-1.0]])
    ji_obs = ji_pred + shift
    recs = [
        {
            "filename": "img_0000",
            "j": float(ji_obs[0, k]),
            "i": float(ji_obs[1, k]),
            "x": float(xyz[0, k]),
            "y": float(xyz[1, k]),
            "z": float(xyz[2, k]),
            "id": f"g{k}",
            "info": None,
        }
        for k in range(12)
    ]
    f = tmp_path / "gcps.geojson"
    write_gcps_geojson(f, recs)
    back = read_gcps_geojson(f)
    assert len(back) == 12 and back[0]["filename"] == "img_0000"

    # re-project world->pixel with the model, refine against observed
    rows = []
    for r in back:
        pred = m.world_to_pixel(np.array([[r["x"]], [r["y"]], [r["z"]]]))
        rows.append(
            ("img_0000", r["j"], r["i"], float(pred[0, 0]), float(pred[1, 0]))
        )
    gcps_df = spark.createDataFrame(
        rows,
        "filename string, j_obs double, i_obs double, j_pred double, i_pred double",
    )
    out = refine_per_image(gcps_df, "shift").collect()[0]
    assert out.dj == pytest.approx(2.0, abs=1e-6)
    assert out.di == pytest.approx(-1.0, abs=1e-6)
