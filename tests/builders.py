"""Test-data builders and single-process twins that only the tests call:
the TIFF/EXIF fixture writer, the exterior-parameter and GCP GeoJSON
writers, the fixture footprint polygons, the batched pixel-ray DEM
intersection, the pandas twin of the synthetic pages generator, the
grid-cell centers and an OrthoJob's per-tile checksums without a write."""

from __future__ import annotations

import json
import math
import struct
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from orthority_spark import config, grid
from orthority_spark.functions import checksum
from orthority_spark.geom.dem import DEM_OFFSET, DEM_RES, ray_march_params
from orthority_spark.sources.exif import (
    TAG_EXIF_IFD,
    TAG_FOCAL,
    TAG_FOCAL_35,
    TAG_GPS_ALT,
    TAG_GPS_ALT_REF,
    TAG_GPS_IFD,
    TAG_GPS_LAT,
    TAG_GPS_LAT_REF,
    TAG_GPS_LON,
    TAG_GPS_LON_REF,
    TAG_IMAGE_LENGTH,
    TAG_IMAGE_WIDTH,
    TAG_MAKE,
    TAG_MODEL,
    TAG_PIXEL_X,
    TAG_PIXEL_Y,
    TAG_PLANE_UNIT,
    TAG_PLANE_XRES,
    TAG_PLANE_YRES,
    TAG_XMP,
)
from orthority_spark.sources.footprints import fixture_models, world_footprint
from orthority_spark.sources.pages import _ADD2, _MUL1, _MUL2, LANGS
from orthority_spark.sources.param_io import ParamFileError


def _rat(v: float, den: int = 1_000_000) -> tuple[int, int]:
    """Unsigned TIFF RATIONAL; the denominator backs off so the numerator
    fits 32 bits (a 9000 m altitude at 1e-6 precision would overflow)."""
    v = float(v)
    while den > 1 and v * den > 4_294_967_295:
        den //= 10
    num = int(round(v * den))
    if not 0 <= num <= 4_294_967_295:
        # den backoff stops at 1; a negative or > 2^32-1 value cannot be
        # an unsigned RATIONAL — fail here, not in struct.pack
        raise ParamFileError(f"value {v!r} does not fit a TIFF RATIONAL")
    return num, den


def build_exif_bytes(
    im_size: tuple[int, int],
    focal_len_mm: float | None = None,
    sensor_size_mm: tuple[float, float] | None = None,
    focal_35: int | None = None,
    lla: tuple[float, float, float] | None = None,
    rpy_deg: tuple[float, float, float] | None = None,
    dewarp: list[float] | None = None,
    make: str = "oty",
    model: str = "spark",
) -> bytes:
    """Minimal little-endian TIFF with IFD0 + EXIF + GPS IFDs + XMP."""
    e = "<"
    heap = bytearray()
    heap_base = [0]  # patched once layout is known

    def defer(payload: bytes) -> int:
        off = len(heap)
        heap.extend(payload)
        if len(payload) % 2:
            heap.extend(b"\x00")
        return off

    def entry(tag: int, typ: int, cnt: int, payload: bytes) -> tuple:
        return (tag, typ, cnt, payload)

    def pack_ifd(entries: list[tuple], ifd_off: int) -> bytes:
        out = struct.pack(e + "H", len(entries))
        for tag, typ, cnt, payload in sorted(entries):
            if len(payload) <= 4:
                out += struct.pack(e + "HHI", tag, typ, cnt) + payload.ljust(4, b"\x00")
            else:
                off = defer(payload) + heap_base[0]
                out += struct.pack(e + "HHII", tag, typ, cnt, off)
        return out + struct.pack(e + "I", 0)

    def rat_payload(vals) -> bytes:
        out = b""
        for v in vals:
            n, d = _rat(float(v))
            out += struct.pack(e + "II", n, d)
        return out

    exif_entries = []
    if focal_len_mm is not None:
        exif_entries.append(entry(TAG_FOCAL, 5, 1, rat_payload([focal_len_mm])))
    if focal_35 is not None:
        exif_entries.append(entry(TAG_FOCAL_35, 3, 1, struct.pack(e + "H", focal_35)))
    exif_entries.append(entry(TAG_PIXEL_X, 4, 1, struct.pack(e + "I", im_size[0])))
    exif_entries.append(entry(TAG_PIXEL_Y, 4, 1, struct.pack(e + "I", im_size[1])))
    if sensor_size_mm is not None:
        xres = im_size[0] / sensor_size_mm[0]  # pixels per mm (unit 4)
        yres = im_size[1] / sensor_size_mm[1]
        exif_entries += [
            entry(TAG_PLANE_XRES, 5, 1, rat_payload([xres])),
            entry(TAG_PLANE_YRES, 5, 1, rat_payload([yres])),
            entry(TAG_PLANE_UNIT, 3, 1, struct.pack(e + "H", 4)),
        ]

    gps_entries = []
    if lla is not None:
        lat, lon, alt = lla

        def dms(v: float) -> list[float]:
            v = abs(v)
            d = math.floor(v)
            m = math.floor((v - d) * 60)
            s = (v - d - m / 60) * 3600
            return [d, m, s]

        gps_entries = [
            entry(TAG_GPS_LAT_REF, 2, 2, (b"N" if lat >= 0 else b"S") + b"\x00"),
            entry(TAG_GPS_LAT, 5, 3, rat_payload(dms(lat))),
            entry(TAG_GPS_LON_REF, 2, 2, (b"E" if lon >= 0 else b"W") + b"\x00"),
            entry(TAG_GPS_LON, 5, 3, rat_payload(dms(lon))),
            entry(TAG_GPS_ALT_REF, 1, 1, bytes([0 if alt >= 0 else 1])),
            entry(TAG_GPS_ALT, 5, 1, rat_payload([abs(alt)])),
        ]

    ifd0_entries = [
        entry(TAG_IMAGE_WIDTH, 4, 1, struct.pack(e + "I", im_size[0])),
        entry(TAG_IMAGE_LENGTH, 4, 1, struct.pack(e + "I", im_size[1])),
        entry(TAG_MAKE, 2, len(make) + 1, make.encode() + b"\x00"),
        entry(TAG_MODEL, 2, len(model) + 1, model.encode() + b"\x00"),
    ]
    xmp_parts = []
    if rpy_deg is not None:
        r, p, y = rpy_deg
        xmp_parts += [
            f'drone-dji:GimbalRollDegree="{r!r}"',
            f'drone-dji:GimbalPitchDegree="{p - 90.0!r}"',  # writer inverts the +90 read offset
            f'drone-dji:GimbalYawDegree="{y!r}"',
        ]
    if dewarp is not None:
        xmp_parts.append(
            'drone-dji:DewarpData="2000-01-01;' + ",".join(repr(v) for v in dewarp) + '"'
        )
    if xmp_parts:
        xmp = ("<x:xmpmeta><rdf:Description " + " ".join(xmp_parts) + "/></x:xmpmeta>").encode()
        ifd0_entries.append(entry(TAG_XMP, 1, len(xmp), xmp))

    # layout: header(8) | ifd0 | exif ifd | gps ifd | heap
    n0 = len(ifd0_entries) + (1 if exif_entries else 0) + (1 if gps_entries else 0)
    ifd0_size = 2 + 12 * n0 + 4
    exif_off = 8 + ifd0_size
    exif_size = (2 + 12 * len(exif_entries) + 4) if exif_entries else 0
    gps_off = exif_off + exif_size
    gps_size = (2 + 12 * len(gps_entries) + 4) if gps_entries else 0
    heap_base[0] = gps_off + gps_size

    if exif_entries:
        ifd0_entries.append(
            entry(TAG_EXIF_IFD, 4, 1, struct.pack(e + "I", exif_off))
        )
    if gps_entries:
        ifd0_entries.append(entry(TAG_GPS_IFD, 4, 1, struct.pack(e + "I", gps_off)))

    # all deferred payloads share one heap placed after the last IFD, so
    # packing order does not affect the offsets
    exif_blob = pack_ifd(exif_entries, exif_off) if exif_entries else b""
    gps_blob = pack_ifd(gps_entries, gps_off) if gps_entries else b""
    ifd0_blob = pack_ifd(ifd0_entries, 8)
    assert len(ifd0_blob) == ifd0_size
    header = b"II" + struct.pack(e + "HI", 42, 8)
    return bytes(header + ifd0_blob + exif_blob + gps_blob + heap)


def write_ext_param_geojson(file: str | Path, records: list[dict],
                            world_crs: str | None = None,
                            overwrite: bool = False) -> None:
    p = Path(file)
    if p.exists() and not overwrite:
        raise FileExistsError(p)
    feats = []
    for r in records:
        props = {k: v for k, v in r.items() if k not in ("lon", "lat", "z")}
        feats.append(
            {
                "type": "Feature",
                "properties": props,
                "geometry": {
                    "type": "Point",
                    "coordinates": [r["lon"], r["lat"]]
                    + ([r["z"]] if r.get("z") is not None else []),
                },
            }
        )
    doc = {"type": "FeatureCollection", "features": feats}
    if world_crs:
        doc["world_crs"] = world_crs
    with open(p, "w") as f:
        json.dump(doc, f, indent=2)


def write_gcps_geojson(file: str | Path, records: list[dict],
                       overwrite: bool = False) -> None:
    p = Path(file)
    if p.exists() and not overwrite:
        raise FileExistsError(p)
    feats = [
        {
            "type": "Feature",
            "properties": {
                "filename": r["filename"],
                "ji": [r["j"], r["i"]],
                "id": r.get("id"),
                "info": r.get("info"),
            },
            "geometry": {
                "type": "Point",
                "coordinates": [r["x"], r["y"]]
                + ([r["z"]] if r.get("z") is not None else []),
            },
        }
        for r in records
    ]
    with open(p, "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f, indent=2)


def footprint_polygons(z: float = DEM_OFFSET) -> dict[str, np.ndarray]:
    """filename -> (2,8) world (x,y) ground footprint polygon."""
    return {
        name: world_footprint(model, z) for name, model in fixture_models().items()
    }


def ray_dem_intersect(
    model,
    ji: np.ndarray,
    dem_fn,
    min_z: float,
    max_z: float,
    step: float = DEM_RES / 2,
) -> np.ndarray:
    """Intersect pixel rays with an analytic DEM surface, batched: pixel
    boundary -> camera rays (dir = R @ pixel_to_camera, origin = T), then
    ``ray_march_params``."""
    ji = np.asarray(ji, dtype="float64")
    dirs = model.R @ model._pixel_to_camera(ji)
    origins = np.broadcast_to(model.T, (3, ji.shape[1]))
    return ray_march_params(dirs, origins, dem_fn, min_z, max_z, step)


def synthetic_pages_pandas(n: int) -> pd.DataFrame:
    """Single-process oracle twin of
    :func:`orthority_spark.sources.pages.synthetic_pages`."""
    i = np.arange(n, dtype="int64")
    u1 = (i * _MUL1) % 1000000
    u2 = (i * _MUL2 + _ADD2) % 1000000
    base_lat = config.LAT_MIN_UDEG + (u1 * config.LAT_SPAN_UDEG) // 1000000
    base_lon = config.LON_MIN_UDEG + (u2 * config.LON_SPAN_UDEG) // 1000000
    mega = (i % 5) == 1
    outside = (i % 5) == 4
    lat_udeg = np.where(mega, config.MEGA_LAT_UDEG, base_lat)
    lon_udeg = np.where(
        mega,
        config.MEGA_LON_UDEG,
        np.where(outside, base_lon + config.OUTSIDE_SHIFT_UDEG, base_lon),
    )
    lat = lat_udeg / 1e6
    lon = lon_udeg / 1e6
    lang = np.array(LANGS)[i % 6]
    text = [
        f"Deterministic page {k} mentions location geo:{la:.6f},{lo:.6f} in "
        f"{lg} words w{(k * 31) % 997} w{(k * 17) % 991}."
        for k, la, lo, lg in zip(i, lat, lon, lang)
    ]
    return pd.DataFrame(
        {
            "url": [f"https://site{k % 1000}.example/p/{k}" for k in i],
            "warc_ts": pd.to_datetime(1735689600 + i * 137, unit="s"),
            "html": [f"<html><body>{t}</body></html>".encode() for t in text],
            "text": text,
            "lang": lang,
            "lat": lat,
            "lon": lon,
        }
    )


def cell_center(cell) -> tuple[np.ndarray, np.ndarray]:
    """cell ids -> (lat, lon) of cell centers."""
    res, ix, iy = grid.cell_decode(cell)
    n = (2.0**res.astype("float64"))
    lon = (ix.astype("float64") + 0.5) / n * 360.0 - 180.0
    lat = (iy.astype("float64") + 0.5) / n * 180.0 - 90.0
    return lat, lon


def job_tiles(job, pages):
    """Per-tile (cell, n_rows, checksum) of an OrthoJob's join, with the
    hash its ledger records, computed without writing anything."""
    return checksum.tile_checksum(
        job.joined(pages), ["cell"],
        checksum.row_hash_fast(F.col("url"), F.col("filename")),
    )
