"""Camera parameter I/O: oty-style YAML / CSV / GeoJSON readers + writers.

Driver-side (the catalogs are metadata, broadcast to joins — SURVEY §3.1
stage 2). Mirrors the reference's formats:

- interior YAML      /root/reference/orthority/param_io.py:206-283
- exterior CSV       /root/reference/orthority/param_io.py:906-1157
  (dialect sniff + header detect + format dispatch + auto-UTM from mean
   lat/lon — here the 4-way CsvFormat enum becomes a column-presence
   check, and auto-"zone" is the mean-coordinate rule common.py:156-161)
- exterior GeoJSON   /root/reference/orthority/param_io.py:1365-1425
- writers            /root/reference/orthority/param_io.py:570-700
- validate_collection-style recursive schema checking
  /root/reference/orthority/common.py:164-220
"""

from __future__ import annotations

import csv
import json
import math
from pathlib import Path

import yaml


class ParamFileError(ValueError):
    pass


# ---------------------------------------------------------------------------
# validate_collection analogue
# ---------------------------------------------------------------------------

def validate_collection(template, coll, path="$") -> None:
    """Recursively validate ``coll`` against ``template``:

    - dict template: every key must exist (keys that are types match any
      key of that type); values validate recursively
    - list template of one item: every element validates against it
    - type template: isinstance check
    - value template: equality check
    """
    if isinstance(template, dict):
        if not isinstance(coll, dict):
            raise ParamFileError(f"{path}: expected mapping, got {type(coll).__name__}")
        explicit = {k for k in template if not isinstance(k, type)}
        for k, v in template.items():
            if isinstance(k, type):
                matches = [
                    ck for ck in coll if isinstance(ck, k) and ck not in explicit
                ]
                if not matches:
                    raise ParamFileError(f"{path}: no key of type {k.__name__}")
                for ck in matches:
                    validate_collection(v, coll[ck], f"{path}.{ck}")
            else:
                if k not in coll:
                    raise ParamFileError(f"{path}: missing key '{k}'")
                validate_collection(v, coll[k], f"{path}.{k}")
    elif isinstance(template, list):
        if not isinstance(coll, list):
            raise ParamFileError(f"{path}: expected list")
        for i, item in enumerate(coll):
            validate_collection(template[0], item, f"{path}[{i}]")
    elif isinstance(template, type):
        if template is float and isinstance(coll, int):
            return  # ints are acceptable floats
        if not isinstance(coll, template):
            raise ParamFileError(
                f"{path}: expected {template.__name__}, got {type(coll).__name__}"
            )
    else:
        if coll != template:
            raise ParamFileError(f"{path}: expected {template!r}, got {coll!r}")


# ---------------------------------------------------------------------------
# interior params (YAML)
# ---------------------------------------------------------------------------

_INT_TEMPLATE = {
    str: {
        "type": str,
        "im_size": [int],
        "focal_len": float,
    }
}

VALID_CAM_TYPES = {"pinhole", "brown", "opencv", "fisheye", "rpc"}

# optional parameter names per frame camera type (the reference's
# _opt_frame_schema, /root/reference/orthority/param_io.py:60-77): any
# other key is an error, not silently carried
_COMMON_OPT = {"sensor_size", "cx", "cy"}
OPT_FRAME_KEYS = {
    "pinhole": _COMMON_OPT,
    "brown": _COMMON_OPT | {"k1", "k2", "p1", "p2", "k3"},
    "opencv": _COMMON_OPT
    | {"k1", "k2", "k3", "k4", "k5", "k6", "p1", "p2",
       "s1", "s2", "s3", "s4", "tx", "ty"},
    "fisheye": _COMMON_OPT | {"k1", "k2", "k3", "k4"},
}


def read_int_param(file: str | Path) -> dict:
    """oty interior-parameter YAML -> {cam_id: params dict}."""
    with open(file) as f:
        data = yaml.safe_load(f)
    validate_collection(_INT_TEMPLATE, data)
    for cam_id, p in data.items():
        if p["type"] not in VALID_CAM_TYPES:
            raise ParamFileError(f"{cam_id}: unknown camera type '{p['type']}'")
        if len(p["im_size"]) != 2:
            raise ParamFileError(f"{cam_id}: im_size must have 2 values")
        if p["type"] in OPT_FRAME_KEYS:
            extras = (
                set(p) - {"type", "im_size", "focal_len"} - OPT_FRAME_KEYS[p["type"]]
            )
            if extras:
                raise ParamFileError(
                    f"{cam_id}: unsupported parameter(s) {sorted(extras)} "
                    f"for camera type '{p['type']}'"
                )
    return data


def write_int_param(file: str | Path, params: dict, overwrite: bool = False) -> None:
    p = Path(file)
    if p.exists() and not overwrite:
        raise FileExistsError(p)
    with open(p, "w") as f:
        yaml.safe_dump(params, f)


# ---------------------------------------------------------------------------
# exterior params (CSV with dialect sniffing + format dispatch)
# ---------------------------------------------------------------------------

LEGACY_FIELDS = ["filename", "x", "y", "z", "omega", "phi", "kappa"]
CSV_FORMATS = {
    "xyz_opk": {"x", "y", "z", "omega", "phi", "kappa"},
    "xyz_rpy": {"x", "y", "z", "roll", "pitch", "yaw"},
    "lla_opk": {"latitude", "longitude", "altitude", "omega", "phi", "kappa"},
    "lla_rpy": {"latitude", "longitude", "altitude", "roll", "pitch", "yaw"},
}


def read_ext_param_csv(file: str | Path) -> tuple[list[dict], str]:
    """Exterior-parameter CSV -> (records, format_name).

    Dialect is sniffed; a header is detected by non-numeric first row;
    headerless files fall back to the legacy 7-column layout
    (param_io.py:959). Format dispatch = column-presence check (the
    CsvFormat enum, enums.py:123-143)."""
    text = Path(file).read_text()
    lines = [ln for ln in text.splitlines() if ln.strip()]
    if not lines:
        raise ParamFileError(f"empty exterior parameter CSV: {file}")
    try:
        dialect = csv.Sniffer().sniff(lines[0])
    except csv.Error:
        dialect = csv.excel
    rows = list(csv.reader(lines, dialect))
    header = rows[0]

    def _is_number(s: str) -> bool:
        try:
            float(s)
            return True
        except ValueError:
            return False

    has_header = not any(_is_number(c) for c in header[1:])
    if has_header:
        fields = [c.strip().lower() for c in header]
        data_rows = rows[1:]
    else:
        fields = LEGACY_FIELDS[: len(header)]
        data_rows = rows
    fieldset = set(fields)
    fmt = next(
        (name for name, req in CSV_FORMATS.items() if req <= fieldset), None
    )
    if fmt is None:
        raise ParamFileError(f"unrecognised CSV fields: {fields}")
    # only the known numeric fields are cast; any extra column (which the
    # reference CsvReader tolerates through its type schema) passes
    # through as a string instead of raising ValueError
    numeric = set().union(*CSV_FORMATS.values())
    out = []
    for r in data_rows:
        if not r:
            continue
        rec = dict(zip(fields, r))
        for k in fieldset & numeric:
            rec[k] = float(rec[k])
        out.append(rec)
    return out, fmt


def ext_records_to_poses(records: list[dict], fmt: str) -> list[dict]:
    """CSV exterior records (any of the 4 formats) -> world poses
    (filename, xyz, opk[, camera]) on the engine's linear world frame.

    The reference converts per row in CsvReader._convert
    (param_io.py:1119-1154): angles are in degrees, lla projects
    through the job CRS (here the exact equirectangular frame,
    config.py:16), and rpy converts via _rpy_to_opk (param_io.py:753-835
    — geom/rotation.rpy_to_opk here, the north-aligned exact case)."""
    from .. import config
    from ..geom.rotation import rpy_to_opk

    out = []
    for rec in records:
        if fmt.startswith("xyz"):
            xyz = (rec["x"], rec["y"], rec["z"])
        else:
            xyz = (
                (rec["longitude"] - config.LON0) * config.M_PER_DEG,
                (rec["latitude"] - config.LAT0) * config.M_PER_DEG,
                rec["altitude"],
            )
        if fmt.endswith("opk"):
            opk = tuple(math.radians(rec[k]) for k in ("omega", "phi", "kappa"))
        else:
            opk = rpy_to_opk(
                tuple(math.radians(rec[k]) for k in ("roll", "pitch", "yaw")))
        pose = {"filename": rec["filename"], "xyz": xyz, "opk": tuple(opk)}
        if "camera" in rec:
            pose["camera"] = rec["camera"]
        out.append(pose)
    return out


def read_ext_param_csv_poses(file: str | Path) -> list[dict]:
    """Exterior CSV -> world poses in one step (read + dispatch + convert)."""
    return ext_records_to_poses(*read_ext_param_csv(file))


def write_ext_param_csv(file: str | Path, records: list[dict],
                        overwrite: bool = False) -> None:
    p = Path(file)
    if p.exists() and not overwrite:
        raise FileExistsError(p)
    fields = list(records[0].keys())
    with open(p, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=fields)
        w.writeheader()
        w.writerows(records)


def mean_latlon_zone(records: list[dict]) -> int:
    """Auto-UTM-zone rule from mean lat/lon (common.py:156-161)."""
    lat = sum(r["latitude"] for r in records) / len(records)
    lon = sum(r["longitude"] for r in records) / len(records)
    zone = int(math.floor((lon + 180) / 6) % 60) + 1
    return zone if lat >= 0 else -zone


# ---------------------------------------------------------------------------
# exterior params (GeoJSON) — S14
# ---------------------------------------------------------------------------

_GEOJSON_TEMPLATE = {
    "type": "FeatureCollection",
    "features": [
        {
            "type": "Feature",
            "properties": {"filename": str},
            "geometry": {"type": "Point", "coordinates": [float]},
        }
    ],
}


def read_ext_param_geojson(file: str | Path) -> tuple[list[dict], dict | None]:
    """oty exterior GeoJSON -> (records, world_crs)."""
    with open(file) as f:
        data = json.load(f)
    validate_collection(_GEOJSON_TEMPLATE, data)
    records = []
    for feat in data["features"]:
        props = feat["properties"]
        coords = feat["geometry"]["coordinates"]
        rec = {"filename": props["filename"],
               "lon": coords[0], "lat": coords[1],
               "z": coords[2] if len(coords) > 2 else None}
        for k in ("omega", "phi", "kappa", "camera"):
            if k in props:
                rec[k] = props[k]
        records.append(rec)
    return records, data.get("world_crs")


# ---------------------------------------------------------------------------
# OpenSfM / ODM reconstruction.json — S6/S12
# ---------------------------------------------------------------------------

_OSFM_CAM_TYPES = {
    "perspective": "brown",
    "brown": "brown",
    "fisheye": "fisheye",
    "spherical": None,
}


def read_osfm(file: str | Path) -> tuple[dict, dict]:
    """OpenSfM reconstruction.json -> (interior params, exterior params).

    Mirrors /root/reference/orthority/param_io.py:71-129 (interior) and
    1160-1263 (exterior): camera pose xyz = -R^T t from the shot's
    angle-axis rotation + translation; orientation via aa_to_opk (PATB).
    reference_lla offsets are applied when present.
    """
    import numpy as np

    from ..geom.rotation import aa_to_rotation, aa_to_opk

    with open(file) as f:
        data = json.load(f)
    recon = data[0] if isinstance(data, list) else data
    validate_collection({"cameras": dict, "shots": dict}, recon)

    int_params = {}
    for cam_id, cam in recon["cameras"].items():
        cam_type = _OSFM_CAM_TYPES.get(cam.get("projection_type", "perspective"))
        if cam_type is None:
            raise ParamFileError(
                f"{cam_id}: unsupported projection type "
                f"'{cam.get('projection_type')}'"
            )
        p = {
            "type": cam_type,
            "im_size": [cam["width"], cam["height"]],
            "focal_len": float(cam.get("focal", cam.get("focal_x", 0.0))),
        }
        for k_src, k_dst in (
            ("c_x", "cx"), ("c_y", "cy"), ("k1", "k1"), ("k2", "k2"),
            ("k3", "k3"), ("p1", "p1"), ("p2", "p2"),
        ):
            if k_src in cam:
                p[k_dst] = float(cam[k_src])
        int_params[cam_id] = p

    ref = recon.get("reference_lla", {})
    ext_params = {}
    for filename, shot in recon["shots"].items():
        aa = np.array(shot["rotation"], dtype="float64")
        t = np.array(shot["translation"], dtype="float64")
        R = aa_to_rotation(aa)
        xyz = -R.T @ t
        ext_params[filename] = {
            "xyz": tuple(float(v) for v in xyz),
            "opk": aa_to_opk(aa),
            "camera": shot["camera"],
            "ref_lla": (
                ref.get("latitude"), ref.get("longitude"), ref.get("altitude")
            ),
        }
    return int_params, ext_params


def osfm_world_poses(ext_params: dict) -> list[dict]:
    """OpenSfM shot poses -> engine-world poses.

    Shot xyz is TOPOCENTRIC metres about ``reference_lla``; the reference
    projects the lla reference into the world CRS and adds it to every
    shot (param_io.py:1240-1259 ``ref_xyz``). Same here through the
    exact linear frame (config.py): world(ref) + local. A reconstruction
    without a reference (some test rigs) keeps raw local coordinates."""
    from .. import config

    out = []
    for fn, e in sorted(ext_params.items()):
        x, y, z = e["xyz"]
        lat, lon, alt = e.get("ref_lla", (None, None, None))
        if lat is not None and lon is not None:
            x += (lon - config.LON0) * config.M_PER_DEG
            y += (lat - config.LAT0) * config.M_PER_DEG
            z += float(alt or 0.0)
        out.append(
            {"filename": fn, "xyz": (x, y, z), "opk": e["opk"],
             "camera": e["camera"]}
        )
    return out


# ---------------------------------------------------------------------------
# GCPs (GeoJSON) — S10
# ---------------------------------------------------------------------------

_GCP_TEMPLATE = {
    "type": "FeatureCollection",
    "features": [
        {
            "type": "Feature",
            "properties": {"filename": str, "ji": [float]},
            "geometry": {"type": "Point", "coordinates": [float]},
        }
    ],
}


def read_gcps_geojson(file: str | Path) -> list[dict]:
    """oty GCP GeoJSON -> flat records (filename, j, i, x, y, z, id, info).

    Schema mirrors /root/reference/orthority/param_io.py:538-551: pixel
    (j, i) in the feature properties (center-pixel convention,
    param_io.py:487-493), world (x, y, z) as the Point geometry.
    """
    with open(file) as f:
        data = json.load(f)
    validate_collection(_GCP_TEMPLATE, data)
    out = []
    for feat in data["features"]:
        props = feat["properties"]
        coords = feat["geometry"]["coordinates"]
        out.append(
            {
                "filename": props["filename"],
                "j": float(props["ji"][0]),
                "i": float(props["ji"][1]),
                "x": float(coords[0]),
                "y": float(coords[1]),
                "z": float(coords[2]) if len(coords) > 2 else None,
                "id": props.get("id"),
                "info": props.get("info"),
            }
        )
    return out
