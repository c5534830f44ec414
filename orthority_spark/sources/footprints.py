"""Camera-footprint fixtures and their Spark-side tables.

The fixture block mirrors FIXTURES.md §2-3 / the reference conftest
(/root/reference/tests/conftest.py:176-294): four frame cameras (pinhole,
brown, opencv, fisheye) with im_size 200x150, focal 5 mm, sensor 6x4.5 mm,
cx=-0.01, cy=0.02, flown as a 2x2 overlapping block from the base pose
(2e4, 3e4, 1e3) with opk = (-3deg, 2deg, 10deg) + per-image jitter.

Footprint polygon = 8-point pixel boundary projected to the ground plane at
z = DEM_OFFSET via pixel_to_world_z (conftest ortho_bounds pattern,
/root/reference/tests/conftest.py:80-89; camera.py:200-243, 843-880).

Everything here is driver-side, tiny, and broadcastable: the footprint side
of every join is a handful of rows (covering cells + polygon edges), so the
pages-side join is a broadcast hash join with no shuffle of the big table.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from .. import config, grid
from ..geom.camera import FrameModel
from ..geom.boundary import (
    world_footprint,
    polygon_bbox,
    polygon_edges,
    pixel_boundary,
    gsd,
)
from ..geom.dem import DEM_OFFSET
from .local import local_table

D2R = np.pi / 180.0

# interior parameter sets (FIXTURES.md §2; conftest.py:176-294)
_INT_PARAMS = {
    "pinhole-1": dict(cam_type="pinhole", dist={}),
    "brown-1": dict(
        cam_type="brown", dist=dict(k1=-0.25, k2=0.2, p1=0.01, p2=0.01, k3=-0.1)
    ),
    "opencv-1": dict(
        cam_type="opencv",
        dist=dict(
            k1=-0.25, k2=0.2, p1=0.01, p2=0.01, k3=-0.1,
            k4=0.001, k5=0.001, k6=-0.001,
        ),
    ),
    "fisheye-1": dict(
        cam_type="fisheye", dist=dict(k1=-0.25, k2=0.1, k3=0.01, k4=-0.01)
    ),
}

# exterior 2x2 block: (filename, cam_id, dx, dy, d_opk_deg)
_EXT_PARAMS = [
    ("img_0000", "pinhole-1", 0.0, 0.0, (0.0, 0.0, 0.0)),
    ("img_0001", "brown-1", 120.0, 0.0, (0.5, -0.4, 2.0)),
    ("img_0002", "opencv-1", 0.0, 90.0, (-0.6, 0.3, -3.0)),
    ("img_0003", "fisheye-1", 120.0, 90.0, (0.2, 0.6, 5.0)),
]

BASE_XYZ = (2.0e4, 3.0e4, 1.0e3)
BASE_OPK_DEG = (-3.0, 2.0, 10.0)


def fixture_models() -> dict[str, FrameModel]:
    """filename -> FrameModel for the 4-image fixture block."""
    out = {}
    for filename, cam_id, dx, dy, dopk in _EXT_PARAMS:
        p = _INT_PARAMS[cam_id]
        out[filename] = FrameModel(
            cam_type=p["cam_type"],
            im_size=(200, 150),
            focal_len=5.0,
            sensor_size=(6.0, 4.5),
            cx=-0.01,
            cy=0.02,
            dist=p["dist"],
            xyz=(BASE_XYZ[0] + dx, BASE_XYZ[1] + dy, BASE_XYZ[2]),
            opk=tuple((b + d) * D2R for b, d in zip(BASE_OPK_DEG, dopk)),
        )
    return out


def world_to_lonlat(x, y):
    """Inverse of the config equirectangular world map."""
    return config.LON0 + np.asarray(x) / config.M_PER_DEG, config.LAT0 + np.asarray(
        y
    ) / config.M_PER_DEG


def footprint_records(res: int = config.GRID_RES) -> dict:
    """Driver-side footprint catalog: polygons, edges, bboxes, covering
    cells, centers, gsd. Tiny (4 images); broadcast to every join."""
    return records_for_models(fixture_models(), res=res)


def records_for_models(
    models: dict, res: int = config.GRID_RES, z: float = DEM_OFFSET,
    ztrans=None,
) -> dict:
    """Catalog records for ARBITRARY frame models — e.g. cameras built
    from an EXIF scan or a CSV pose file — in the same edges/cells/
    summary shape every join strategy consumes.

    ``ztrans``: optional :class:`orthority_spark.geom.vdatum.ZTransform`
    when ``z`` is a vertical-datum height rather than world z (the
    reference's per-job z_scale probe, ortho.py:144-151) — applied ONCE
    here on the driver; the broadcast catalog downstream is unchanged.

    Raises ``ValueError`` naming the image when a camera's field of view
    includes the horizon: its footprint on a plane is unbounded (the
    reference's abort, camera.py:722-734)."""
    for name, m in models.items():
        if m.horizon_fov():
            raise ValueError(
                f"{name}: the camera's field of view includes the horizon, "
                "so its ground footprint is unbounded")
    if ztrans is not None:
        z = ztrans.to_world(z)
    polys = {name: world_footprint(m, z) for name, m in models.items()}
    edges, cells, summary = [], [], []
    for name, poly in polys.items():
        for x1, y1, x2, y2 in polygon_edges(poly):
            edges.append((name, float(x1), float(y1), float(x2), float(y2)))
        bbox = polygon_bbox(poly)
        lon_min, lat_min = world_to_lonlat(bbox[0], bbox[1])
        lon_max, lat_max = world_to_lonlat(bbox[2], bbox[3])
        for c in grid.cells_cover_bbox(
            float(lon_min), float(lat_min), float(lon_max), float(lat_max), res
        ):
            cells.append((name, int(c)))
        m = models[name]
        cx = float(poly[0].mean())
        cy = float(poly[1].mean())
        summary.append(
            (
                name,
                m.cam_type,
                *(float(b) for b in bbox),
                cx,
                cy,
                gsd(poly, pixel_boundary(m.im_size)),
            )
        )
    return {"edges": edges, "cells": cells, "summary": summary, "polygons": polys}


def footprint_edges_df(spark: SparkSession, recs: dict | None = None) -> DataFrame:
    recs = recs or footprint_records()
    return local_table(
        spark,
        recs["edges"],
        "filename string, x1 double, y1 double, x2 double, y2 double",
    )


def footprint_cells_df(spark: SparkSession, recs: dict | None = None) -> DataFrame:
    recs = recs or footprint_records()
    return local_table(spark, recs["cells"], "filename string, cell long")


N_EDGES = 8  # fixed boundary size (corners + midpoints, camera.py:200-243)


def footprint_catalog_flat_df(
    spark: SparkSession, recs: dict | None = None
) -> DataFrame:
    """(filename, cell, ex1_0..ey2_7) — the covering-cell index with the
    polygon's edges UNROLLED into flat double columns: the catalog both
    PIP joins take (:mod:`orthority_spark.operators.tile_join`).

    The PIP vote over it is a pure whole-stage-codegen expression over
    flat columns. Fixed-size boundaries only: every footprint must have
    exactly ``N_EDGES`` edges (asserted)."""
    recs = recs or footprint_records()
    eb: dict[str, list] = {}
    for n, x1, y1, x2, y2 in recs["edges"]:
        eb.setdefault(n, []).append((x1, y1, x2, y2))
    rows = []
    for n, c in recs["cells"]:
        edges = sorted(eb[n])
        assert len(edges) == N_EDGES, (n, len(edges))
        flat: list[float] = []
        for e in edges:
            flat.extend(e)
        rows.append((n, c, *flat))
    schema = "filename string, cell long, " + ", ".join(
        f"e{k}_{i} double" for i in range(N_EDGES)
        for k in ("x1", "y1", "x2", "y2")
    )
    return local_table(spark, rows, schema)


def footprint_summary_df(spark: SparkSession, recs: dict | None = None) -> DataFrame:
    recs = recs or footprint_records()
    return local_table(
        spark,
        recs["summary"],
        "filename string, cam_type string, xmin double, ymin double, "
        "xmax double, ymax double, cx double, cy double, gsd double",
    )


# ---------------------------------------------------------------------------
# RPC camera fixture (satellite-style footprint over the same block)
# ---------------------------------------------------------------------------

def fixture_rpc_model():
    """Synthetic RPC camera over the fixture block (coefficient pattern
    mirrors /root/reference/tests/conftest.py:212-244: linear terms + small
    cross terms, denominators ~1)."""
    import numpy as np

    from ..geom.camera import RpcModel

    z = np.zeros(20)
    line_num = z.copy(); line_num[:5] = [-0.005, -0.033, -1.042, 0.008, -0.001]
    line_den = z.copy(); line_den[:3] = [1.0, -0.001, -0.002]
    samp_num = z.copy(); samp_num[:5] = [0.008, 1.016, 0.002, 0.013, 0.001]
    samp_den = z.copy(); samp_den[:3] = [1.0, -0.002, -0.001]
    return RpcModel(
        im_size=(1024, 768),
        lat_off=-33.6995, lat_scale=0.0015,
        long_off=24.2005, long_scale=0.002,
        height_off=825.0, height_scale=500.0,
        line_off=383.5, line_scale=384.0,
        samp_off=511.5, samp_scale=512.0,
        line_num_coeff=line_num, line_den_coeff=line_den,
        samp_num_coeff=samp_num, samp_den_coeff=samp_den,
    )


def rpc_footprint_records() -> dict:
    """Catalog records (edges/cells/polygon) for the RPC footprint
    ``rpc_0000`` at the ground plane z = DEM_OFFSET, in world-metre
    coordinates, covered at ``config.GRID_RES``."""
    name = "rpc_0000"
    model = fixture_rpc_model()
    ji = pixel_boundary(model.im_size)
    lonlat = model.pixel_to_world_z(ji, DEM_OFFSET)
    poly = np.vstack(
        [
            (lonlat[0] - config.LON0) * config.M_PER_DEG,
            (lonlat[1] - config.LAT0) * config.M_PER_DEG,
        ]
    )
    edges = [
        (name, float(x1), float(y1), float(x2), float(y2))
        for x1, y1, x2, y2 in polygon_edges(poly)
    ]
    xmin, ymin, xmax, ymax = polygon_bbox(poly)
    lon0, lat0 = world_to_lonlat(xmin, ymin)
    lon1, lat1 = world_to_lonlat(xmax, ymax)
    cells = [
        (name, int(c))
        for c in grid.cells_cover_bbox(
            float(lon0), float(lat0), float(lon1), float(lat1), config.GRID_RES
        )
    ]
    return {"edges": edges, "cells": cells, "polygons": {name: poly},
            "summary": []}
