"""Pure-python TIFF/EXIF/XMP tag reader (S7/S13 made genuine).

The reference extracts camera tags through GDAL/rasterio
(/root/reference/orthority/exif.py:101-363: focal length, 35mm fallback,
sensor size from focal-plane resolution, DMS GPS lat/lon, XMP
roll/pitch/yaw and DJI dewarp) and converts them to interior/exterior
parameters (/root/reference/orthority/param_io.py:141-203). No GDAL is
assumed on executors here, so this module parses the TIFF container
itself: header, IFD0, the EXIF and GPS sub-IFDs, and the XMP packet —
enough of the spec (types BYTE/ASCII/SHORT/LONG/RATIONAL/SRATIONAL,
both byte orders) for every tag the reference reads. The tests build
their fixture files with a matching writer (``tests/builders.py``), so
no binary blobs live in the repo.

The distributed shape is ``exif_scan``: a binary `(filename, data)`
DataFrame mapped through an Arrow batch parser — the engine twin of the
reference's threaded ExifReader (param_io.py:520-560).
"""

from __future__ import annotations

import math
import re
import struct
from dataclasses import dataclass

from .param_io import ParamFileError

# TIFF value types: (struct code, size in bytes)
_TYPES = {1: ("B", 1), 2: ("c", 1), 3: ("H", 2), 4: ("I", 4), 5: ("II", 8),
          6: ("b", 1), 8: ("h", 2), 9: ("i", 4), 10: ("ii", 8),
          11: ("f", 4), 12: ("d", 8)}

# tag ids (https://exiftool.org/TagNames/EXIF.html)
TAG_IMAGE_WIDTH = 0x0100
TAG_IMAGE_LENGTH = 0x0101
TAG_MAKE = 0x010F
TAG_MODEL = 0x0110
TAG_ORIENTATION = 0x0112
TAG_XMP = 0x02BC
TAG_EXIF_IFD = 0x8769
TAG_GPS_IFD = 0x8825
TAG_FOCAL = 0x920A
TAG_PIXEL_X = 0xA002
TAG_PIXEL_Y = 0xA003
TAG_PLANE_XRES = 0xA20E
TAG_PLANE_YRES = 0xA20F
TAG_PLANE_UNIT = 0xA210
TAG_FOCAL_35 = 0xA405
TAG_SERIAL = 0xA431
TAG_GPS_LAT_REF = 0x0001
TAG_GPS_LAT = 0x0002
TAG_GPS_LON_REF = 0x0003
TAG_GPS_LON = 0x0004
TAG_GPS_ALT_REF = 0x0005
TAG_GPS_ALT = 0x0006

# mm per focal-plane resolution unit (exif.py:268-275)
_MM_PER_UNIT = {2: 25.4, 3: 10.0, 4: 1.0, 5: 0.001}

# XMP attribute names by schema; DJI gimbal pitch is offset +90 so that
# pitch -90 (nadir gimbal) maps to rpy pitch 0 (exif.py:34-75)
_XMP_SCHEMAS = [
    dict(prefix="drone-dji",
         lla=("GpsLatitude", "GpsLongtitude", "AbsoluteAltitude"),
         rpy=("GimbalRollDegree", "GimbalPitchDegree", "GimbalYawDegree"),
         dewarp="DewarpData", rpy_offsets=(0.0, 90.0, 0.0)),
    dict(prefix="Camera", lla=None, rpy=("Roll", "Pitch", "Yaw"),
         dewarp=None, rpy_offsets=(0.0, 0.0, 0.0)),
]


# ---------------------------------------------------------------------------
# low-level TIFF IFD parsing
# ---------------------------------------------------------------------------

def _read_ifd(data: bytes, off: int, e: str) -> dict[int, object]:
    """One IFD -> {tag: decoded value}."""
    out: dict[int, object] = {}
    if off + 2 > len(data):
        raise ParamFileError("truncated IFD")
    (n,) = struct.unpack_from(e + "H", data, off)
    for k in range(n):
        base = off + 2 + 12 * k
        tag, typ, cnt = struct.unpack_from(e + "HHI", data, base)
        if typ not in _TYPES:
            continue
        code, size = _TYPES[typ]
        nbytes = size * cnt
        voff = base + 8 if nbytes <= 4 else struct.unpack_from(e + "I", data, base + 8)[0]
        raw = data[voff : voff + nbytes]
        if typ == 2:  # ASCII
            out[tag] = raw.split(b"\x00")[0].decode("ascii", "replace")
        elif typ in (1, 6):  # BYTE blobs (XMP packets use BYTE)
            out[tag] = raw
        elif typ in (5, 10):  # (S)RATIONAL pairs
            vals = struct.unpack_from(e + code * cnt, raw)
            rats = [vals[i] / vals[i + 1] if vals[i + 1] else math.nan
                    for i in range(0, 2 * cnt, 2)]
            out[tag] = tuple(rats) if cnt > 1 else rats[0]
        else:
            vals = struct.unpack_from(e + code * cnt, raw)
            out[tag] = tuple(vals) if cnt > 1 else vals[0]
    return out


def parse_tiff_tags(data: bytes) -> tuple[dict[int, object], dict[int, object]]:
    """TIFF bytes -> (merged IFD0+EXIF tags, GPS tags). Any truncated or
    malformed structure raises ParamFileError (never a raw struct.error)."""
    if len(data) < 8 or data[:2] not in (b"II", b"MM"):
        raise ParamFileError("not a TIFF/EXIF byte stream")
    e = "<" if data[:2] == b"II" else ">"
    try:
        magic, ifd0_off = struct.unpack_from(e + "HI", data, 2)
        if magic != 42:
            raise ParamFileError("bad TIFF magic")
        ifd0 = _read_ifd(data, ifd0_off, e)
        tags = dict(ifd0)
        if TAG_EXIF_IFD in ifd0:
            tags.update(_read_ifd(data, int(ifd0[TAG_EXIF_IFD]), e))
        gps = (
            _read_ifd(data, int(ifd0[TAG_GPS_IFD]), e)
            if TAG_GPS_IFD in ifd0
            else {}
        )
    except (struct.error, IndexError, ValueError) as ex:
        raise ParamFileError(f"truncated/malformed TIFF structure: {ex}") from ex
    return tags, gps


# ---------------------------------------------------------------------------
# tag -> camera values (reference exif.py derivations)
# ---------------------------------------------------------------------------

def _xmp_flat(xmp: str) -> dict[str, str]:
    """XMP packet -> {prefix:Name -> value} from attribute AND element
    syntax (the reference flattens namespaced XML the same way)."""
    out = {}
    for m in re.finditer(r'([\w-]+):([\w]+)="([^"]*)"', xmp):
        out[f"{m.group(1)}:{m.group(2)}"] = m.group(3)
    for m in re.finditer(r"<([\w-]+):([\w]+)>([^<]*)</\1:\2>", xmp):
        out[f"{m.group(1)}:{m.group(2)}"] = m.group(3)
    return out


def _dms_to_decimal(dms, ref: str) -> float:
    # match the ref letter explicitly: a truncated/empty GPS ref must not
    # silently resolve to the positive hemisphere ('' in "NE" is True)
    r = ref.strip().upper()
    if r in ("N", "E"):
        sign = 1.0
    elif r in ("S", "W"):
        sign = -1.0
    else:
        raise ParamFileError(f"unknown GPS hemisphere ref: {ref!r}")
    return ((dms[2] / 60 + dms[1]) / 60 + dms[0]) * sign


@dataclass
class ExifTags:
    """Camera-relevant values decoded from one image's EXIF/XMP."""

    make: str | None = None
    model: str | None = None
    serial: str | None = None
    im_size: tuple[int, int] | None = None
    tag_im_size: tuple[int, int] | None = None
    focal_len: float | None = None
    focal_len_35: float | None = None
    sensor_size: tuple[float, float] | None = None
    orientation: int | None = None
    lla: tuple[float, float, float] | None = None
    rpy: tuple[float, float, float] | None = None
    dewarp: list[float] | None = None


def parse_exif(data: bytes) -> ExifTags:
    """TIFF/EXIF bytes -> decoded camera values (exif.py:101-363 recast)."""
    tags, gps = parse_tiff_tags(data)
    t = ExifTags()
    t.make = str(tags[TAG_MAKE]).lower() if TAG_MAKE in tags else None
    t.model = str(tags[TAG_MODEL]).lower() if TAG_MODEL in tags else None
    t.serial = str(tags[TAG_SERIAL]) if TAG_SERIAL in tags else None
    t.orientation = int(tags[TAG_ORIENTATION]) if TAG_ORIENTATION in tags else None
    if TAG_IMAGE_WIDTH in tags and TAG_IMAGE_LENGTH in tags:
        t.im_size = (int(tags[TAG_IMAGE_WIDTH]), int(tags[TAG_IMAGE_LENGTH]))
    if TAG_PIXEL_X in tags and TAG_PIXEL_Y in tags:
        t.tag_im_size = (int(tags[TAG_PIXEL_X]), int(tags[TAG_PIXEL_Y]))
    if TAG_FOCAL in tags:
        t.focal_len = float(tags[TAG_FOCAL])
    if TAG_FOCAL_35 in tags:
        t.focal_len_35 = float(tags[TAG_FOCAL_35])
    # sensor size from focal plane resolution (exif.py:254-287); image
    # dims fall back to the EXIF pixel-dimension tags like exif_int_param
    im = t.im_size or t.tag_im_size
    if (
        im
        and TAG_PLANE_UNIT in tags
        and TAG_PLANE_XRES in tags
        and TAG_PLANE_YRES in tags
    ):
        mm = _MM_PER_UNIT.get(int(tags[TAG_PLANE_UNIT]))
        if mm:
            t.sensor_size = (
                mm * im[0] / float(tags[TAG_PLANE_XRES]),
                mm * im[1] / float(tags[TAG_PLANE_YRES]),
            )
    # GPS DMS -> decimal (exif.py:303-330)
    if all(k in gps for k in (TAG_GPS_LAT_REF, TAG_GPS_LON_REF, TAG_GPS_LAT, TAG_GPS_LON)):
        lat = _dms_to_decimal(gps[TAG_GPS_LAT], str(gps[TAG_GPS_LAT_REF]))
        lon = _dms_to_decimal(gps[TAG_GPS_LON], str(gps[TAG_GPS_LON_REF]))
        alt = float(gps.get(TAG_GPS_ALT, 0.0))
        if int(gps.get(TAG_GPS_ALT_REF, b"\x00")[0] if isinstance(gps.get(TAG_GPS_ALT_REF), bytes) else gps.get(TAG_GPS_ALT_REF, 0)) == 1:
            alt = -alt
        t.lla = (lat, lon, alt)
    # XMP packet: lla override, rpy, dewarp (exif.py:332-360)
    if TAG_XMP in tags:
        raw = tags[TAG_XMP]
        xmp = _xmp_flat(raw.decode("utf-8", "replace") if isinstance(raw, bytes) else str(raw))
        for sch in _XMP_SCHEMAS:
            p = sch["prefix"]
            if sch["lla"] and all(f"{p}:{k}" in xmp for k in sch["lla"]):
                t.lla = tuple(float(xmp[f"{p}:{k}"]) for k in sch["lla"])
            if sch["rpy"] and all(f"{p}:{k}" in xmp for k in sch["rpy"]):
                vals = [float(xmp[f"{p}:{k}"]) for k in sch["rpy"]]
                t.rpy = tuple(v + o for v, o in zip(vals, sch["rpy_offsets"]))
            if sch["dewarp"] and f"{p}:{sch['dewarp']}" in xmp:
                t.dewarp = [
                    float(v)
                    for v in xmp[f"{p}:{sch['dewarp']}"].split(";")[-1].split(",")
                ]
    return t


# ---------------------------------------------------------------------------
# EXIF -> oty interior / exterior params (param_io.py:141-203 recast)
# ---------------------------------------------------------------------------

def exif_cam_id(t: ExifTags) -> str:
    parts = [p for p in (t.make, t.model, t.serial) if p]
    return " ".join(parts) or "unknown"


def exif_int_param(t: ExifTags) -> dict:
    """Interior parameters: DJI dewarp -> brown; else pinhole with focal +
    sensor size, falling back to the 35mm-equivalent focal. IFD0 image
    dimensions fall back to the EXIF PixelX/YDimension tags (real camera
    EXIF often omits ImageWidth/Length from IFD0)."""
    im_size = t.im_size or t.tag_im_size
    if im_size is None:
        raise ParamFileError("No image size tags (IFD0 or EXIF pixel dims).")
    if t.dewarp:
        if len(t.dewarp) == 9 and any(t.dewarp) and t.tag_im_size:
            p = dict(
                type="brown", im_size=list(im_size),
                focal_len=list(t.dewarp[:2]),
                sensor_size=[float(t.tag_im_size[0]), float(t.tag_im_size[1])],
                cx=t.dewarp[2] / max(t.tag_im_size),
                cy=t.dewarp[3] / max(t.tag_im_size),
            )
            p.update(dict(zip(["k1", "k2", "p1", "p2", "k3"], t.dewarp[-5:])))
            return {exif_cam_id(t): p}
    p = dict(type="pinhole", im_size=list(im_size))
    if t.focal_len and t.sensor_size:
        p["focal_len"] = t.focal_len
        p["sensor_size"] = list(t.sensor_size)
    elif t.focal_len_35:
        if t.sensor_size:
            p["focal_len"] = max(t.sensor_size) * t.focal_len_35 / 36.0
            p["sensor_size"] = list(t.sensor_size)
        else:
            p["focal_len"] = t.focal_len_35 / 36.0
    else:
        raise ParamFileError(
            "No focal length & sensor size, or 35mm focal length tags."
        )
    return {exif_cam_id(t): p}


def exif_ext_param(t: ExifTags) -> dict:
    """Exterior parameters on the engine's linear world frame: xyz from
    lla, opk from gimbal rpy (reference transforms through the job CRS,
    param_io.py:195-203)."""
    from .. import config
    from ..geom.rotation import rpy_to_opk

    if not t.lla:
        raise ParamFileError("No latitude, longitude & altitude tags.")
    if not t.rpy:
        raise ParamFileError("No camera / gimbal roll, pitch & yaw tags.")
    lat, lon, alt = t.lla
    xyz = (
        (lon - config.LON0) * config.M_PER_DEG,
        (lat - config.LAT0) * config.M_PER_DEG,
        alt,
    )
    opk = rpy_to_opk(tuple(math.radians(v) for v in t.rpy))
    return dict(xyz=xyz, opk=opk, camera=exif_cam_id(t))


# ---------------------------------------------------------------------------
# distributed scan (ExifReader twin)
# ---------------------------------------------------------------------------

EXIF_SCAN_SCHEMA = (
    "filename string, camera string, im_w int, im_h int, "
    "focal_len double, sensor_w double, sensor_h double, "
    "lat double, lon double, alt double, "
    "roll double, pitch double, yaw double"
)


def exif_scan(files):
    """(filename, data binary) DataFrame -> parsed camera rows.

    Arrow batch kernel; one parse per blob, no GDAL. The reference scans
    files with a thread pool on one host (param_io.py:520-560) — here the
    scan is a distributed map over however many executors hold the blobs."""
    import pandas as pd

    def scan(it):
        for pdf in it:
            rows = []
            for fn, blob in zip(pdf["filename"], pdf["data"]):
                try:
                    t = parse_exif(bytes(blob))
                except ParamFileError:
                    # per-file isolation: one corrupt blob must not kill a
                    # scan of millions — emit a null row (camera=None) so
                    # downstream can count/inspect failures
                    rows.append(
                        {
                            "filename": fn, "camera": None, "im_w": None,
                            "im_h": None, "focal_len": None, "sensor_w": None,
                            "sensor_h": None, "lat": None, "lon": None,
                            "alt": None, "roll": None, "pitch": None,
                            "yaw": None,
                        }
                    )
                    continue
                rows.append(
                    {
                        "filename": fn,
                        "camera": exif_cam_id(t),
                        "im_w": t.im_size[0] if t.im_size else None,
                        "im_h": t.im_size[1] if t.im_size else None,
                        "focal_len": t.focal_len,
                        "sensor_w": t.sensor_size[0] if t.sensor_size else None,
                        "sensor_h": t.sensor_size[1] if t.sensor_size else None,
                        "lat": t.lla[0] if t.lla else None,
                        "lon": t.lla[1] if t.lla else None,
                        "alt": t.lla[2] if t.lla else None,
                        "roll": t.rpy[0] if t.rpy else None,
                        "pitch": t.rpy[1] if t.rpy else None,
                        "yaw": t.rpy[2] if t.rpy else None,
                    }
                )
            yield pd.DataFrame(rows)

    return files.mapInPandas(scan, schema=EXIF_SCAN_SCHEMA)
