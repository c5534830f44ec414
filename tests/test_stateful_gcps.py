"""Stateful streaming sessionizer == batch sessionization; GCP GeoJSON
round trip feeding the refine pipeline end-to-end."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from orthority_spark.operators.fit import refine_per_image
from orthority_spark.sources.footprints import fixture_models
from orthority_spark.sources.param_io import read_gcps_geojson, write_gcps_geojson
from orthority_spark.streaming.stateful import sessionize_stream

SF = "/root/testdata/sf0.01"


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    events = spark.read.parquet(f"{SF}/events.parquet").where(
        F.col("user_id") < 20
    )
    src = str(tmp_path / "ev")
    events.write.parquet(src)

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(src)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.event_id): r.session_id
        for r in spark.sql("SELECT * FROM sess").collect()
    }

    from gates.queries_rel import q_sessionize

    batch = {
        (r.user_id, r.event_id): r.session_id
        for r in q_sessionize(spark, SF).where(F.col("user_id") < 20).collect()
    }
    assert len(got) == len(batch) > 0
    # stream numbers sessions from 1, batch from 0 within each user —
    # compare structure: same session boundaries per user
    assert {
        k: v - min(u for (uu, _), u in got.items() if uu == k[0])
        for k, v in got.items()
    } == {
        k: v - min(u for (uu, _), u in batch.items() if uu == k[0])
        for k, v in batch.items()
    }


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
