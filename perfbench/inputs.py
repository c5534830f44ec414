"""Seeded benchmark inputs and their single-process reference results.

Everything here runs without Spark: the pages table is written with
pyarrow, and the expected join / kNN / DEM rows come from the package's
numpy twins (``grid.cell_index``, ``boundary.point_in_polygon``,
``grid.k_ring``) plus a numpy top-k and a numpy bilinear sampler. Inputs
and references are cached per (workload size, seed) under the work
directory; only the newest few entries are kept.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from orthority_spark import config, grid
from orthority_spark.geom.boundary import point_in_polygon
from orthority_spark.sources import footprints as fp
from orthority_spark.sources import pages as pages_src

KEY_SPAN = 1_000_000  # seeds choose a key window starting in [0, KEY_SPAN)
CACHE_KEEP = 3        # cached input sets kept per work directory
N_FILES = 8           # parquet files per pages table


def key_offset(seed: int) -> int:
    return int(np.random.default_rng(seed).integers(0, KEY_SPAN))


def page_geo(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lat_udeg, lon_udeg) int64 for page keys — the integer geotag spec
    of ``sources.pages`` evaluated for an arbitrary key window (the
    package twin ``synthetic_pages_pandas`` only covers keys 0..n-1)."""
    i = keys.astype("int64")
    u1 = (i * pages_src._MUL1) % 1000000
    u2 = (i * pages_src._MUL2 + pages_src._ADD2) % 1000000
    base_lat = config.LAT_MIN_UDEG + (u1 * config.LAT_SPAN_UDEG) // 1000000
    base_lon = config.LON_MIN_UDEG + (u2 * config.LON_SPAN_UDEG) // 1000000
    mega = (i % 5) == 1
    outside = (i % 5) == 4
    lat_u = np.where(mega, config.MEGA_LAT_UDEG, base_lat)
    lon_u = np.where(
        mega,
        config.MEGA_LON_UDEG,
        np.where(outside, base_lon + config.OUTSIDE_SHIFT_UDEG, base_lon),
    )
    return lat_u, lon_u


def pages_frame(keys: np.ndarray) -> pd.DataFrame:
    """Pages rows for ``keys`` in the shape of ``synthetic_pages_pandas``
    (url, warc_ts, html, text, lang) — no lat/lon: the program derives
    them from ``text`` with its geotag parser."""
    lat_u, lon_u = page_geo(keys)
    lat, lon = lat_u / 1e6, lon_u / 1e6
    lang = np.array(pages_src.LANGS)[keys % 6]
    text = [
        f"Deterministic page {k} mentions location geo:{la:.6f},{lo:.6f} in "
        f"{lg} words w{(k * 31) % 997} w{(k * 17) % 991}."
        for k, la, lo, lg in zip(keys.tolist(), lat.tolist(), lon.tolist(), lang)
    ]
    return pd.DataFrame(
        {
            "url": [f"https://site{k % 1000}.example/p/{k}" for k in keys.tolist()],
            "warc_ts": pd.to_datetime(1735689600 + keys * 137, unit="s", utc=True),
            "html": [f"<html><body>{t}</body></html>".encode() for t in text],
            "text": text,
            "lang": lang,
        }
    )


def world_points(keys: np.ndarray, res: int = config.GRID_RES):
    """(lat, lon, px, py, cell) exactly as geotag + assign_cells derive them."""
    lat_u, lon_u = page_geo(keys)
    lat, lon = lat_u / 1e6, lon_u / 1e6
    px = (lon - config.LON0) * config.M_PER_DEG
    py = (lat - config.LAT0) * config.M_PER_DEG
    return lat, lon, px, py, grid.cell_index(lat, lon, res)


def _urls(keys: np.ndarray) -> list[str]:
    return [f"https://site{k % 1000}.example/p/{k}" for k in keys.tolist()]


def pip_pairs(keys: np.ndarray, recs: dict, res: int) -> pd.DataFrame:
    """Expected (url, filename, cell) rows of the cell-prefiltered PIP join."""
    _lat, _lon, px, py, cell = world_points(keys, res)
    out = []
    for name, poly in recs["polygons"].items():
        cells = np.array([c for n, c in recs["cells"] if n == name], dtype="int64")
        hit = np.isin(cell, cells) & point_in_polygon(px, py, poly)
        out.append(pd.DataFrame({"k": keys[hit], "filename": name, "cell": cell[hit]}))
    df = pd.concat(out, ignore_index=True)
    df.insert(0, "url", _urls(df.pop("k").to_numpy()))
    return df


def knn_rows(keys: np.ndarray, recs: dict, k: int, ring: int) -> pd.DataFrame:
    """Expected (url, rank, filename) rows of ``knn_kring``: candidates are
    the footprints whose covering cells' k-ring holds the page's cell,
    ranked by squared distance to the footprint centre, then filename."""
    _lat, _lon, px, py, cell = world_points(keys)
    names, masks, dists = [], [], []
    for row in recs["summary"]:
        name, cx, cy = row[0], row[6], row[7]
        cover = [c for n, c in recs["cells"] if n == name]
        ring_cells = np.unique(np.concatenate([grid.k_ring(c, ring) for c in cover]))
        names.append(name)
        masks.append(np.isin(cell, ring_cells))
        dists.append((px - cx) * (px - cx) + (py - cy) * (py - cy))
    out = []
    for i, ni in enumerate(names):
        rank = np.ones(len(keys), dtype="int64")
        for j, nj in enumerate(names):
            if i != j:
                closer = (dists[j] < dists[i]) | ((dists[j] == dists[i]) & (nj < ni))
                rank += masks[j] & closer
        sel = masks[i] & (rank <= k)
        out.append(pd.DataFrame({"k": keys[sel], "rank": rank[sel], "filename": ni}))
    df = pd.concat(out, ignore_index=True)
    df.insert(0, "url", _urls(df.pop("k").to_numpy()))
    return df


def dem_rows(keys: np.ndarray, dem_grid: np.ndarray, transform, tile: int) -> pd.DataFrame:
    """Expected (url, z) of ``sample_dem_z``: bilinear inside a DEM tile,
    nearest cell where the 2x2 stencil would cross a tile border — the
    same operation order as the operator's gather kernel."""
    a, _b, c, _d, e, f0 = transform
    nrows, ncols = dem_grid.shape
    _lat, _lon, px, py, _cell = world_points(keys)
    gcol = np.floor((px - c) / a)
    grow = np.floor((py - f0) / e)
    m = (gcol >= 0) & (gcol < ncols) & (grow >= 0) & (grow < nrows)
    px, py, keys = px[m], py[m], keys[m]
    gci, gri = gcol[m].astype("int64"), grow[m].astype("int64")
    co, ro = gci - gci % tile, gri - gri % tile
    w = np.minimum(tile, ncols - co)
    h = np.minimum(tile, nrows - ro)
    fc = (px - c) / a - 0.5 - co
    fr = (py - f0) / e - 0.5 - ro
    c0 = np.floor(fc).astype("int64")
    r0 = np.floor(fr).astype("int64")
    interior = (c0 >= 0) & (c0 < w - 1) & (r0 >= 0) & (r0 < h - 1)
    cc = np.clip(c0, 0, w - 2)
    rc = np.clip(r0, 0, h - 2)
    wc, wr = fc - c0, fr - r0
    g = dem_grid
    z_bi = (
        g[ro + rc, co + cc] * (1 - wr) * (1 - wc)
        + g[ro + rc, co + cc + 1] * (1 - wr) * wc
        + g[ro + rc + 1, co + cc] * wr * (1 - wc)
        + g[ro + rc + 1, co + cc + 1] * wr * wc
    )
    ci = np.clip(np.floor(fc + 0.5).astype("int64"), 0, w - 1)
    ri = np.clip(np.floor(fr + 0.5).astype("int64"), 0, h - 1)
    z = np.where(interior, z_bi, g[ro + ri, co + ci])
    return pd.DataFrame({"url": _urls(keys), "z": z})


def write_parquet(df: pd.DataFrame, path: str, n_files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        table = pa.Table.from_pandas(df.iloc[part], preserve_index=False)
        pq.write_table(
            table, os.path.join(path, f"part-{i:05d}.parquet"), coerce_timestamps="us"
        )


def cached(work: str, tag: str, build) -> str:
    """Directory holding the inputs for ``tag``, built by ``build(dir)``
    on a miss. Builds into a temporary name and renames, so an
    interrupted build is never mistaken for a finished one."""
    root = os.path.join(work, "inputs")
    final = os.path.join(root, tag)
    if os.path.exists(os.path.join(final, "DONE")):
        os.utime(final)
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        json.dump({"tag": tag}, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    entries = sorted(
        (e for e in os.listdir(root) if not e.endswith(".tmp") and e != tag),
        key=lambda e: os.path.getmtime(os.path.join(root, e)),
    )
    for old in entries[: max(0, len(entries) - (CACHE_KEEP - 1))]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return final


def pages_inputs(work: str, seed: int, n: int, res: int, knn: tuple | None = None) -> dict:
    """Pages parquet + expected PIP pairs at grid ``res`` (and, given
    ``knn=(k, ring)``, expected kNN rows) for one seed."""
    keys = np.arange(key_offset(seed), key_offset(seed) + n, dtype="int64")

    def build(d):
        recs = fp.footprint_records(res)
        write_parquet(pages_frame(keys), os.path.join(d, "pages"), N_FILES)
        write_parquet(pip_pairs(keys, recs, res), os.path.join(d, "pip_expected"))
        if knn:
            write_parquet(knn_rows(keys, recs, *knn), os.path.join(d, "knn_expected"))

    d = cached(work, f"pages_n{n}_r{res}_s{seed}", build)
    return {
        "dir": d,
        "keys": keys,
        "pages": os.path.join(d, "pages"),
        "pip_expected": os.path.join(d, "pip_expected"),
        "knn_expected": os.path.join(d, "knn_expected"),
    }
