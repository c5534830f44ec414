"""Raster <-> vector joins: bbox range join, two-phase window pruning,
coverage stats, per-point z sampling.

Re-expresses the reference's DEM machinery (SURVEY §2.3 J2, §4 O1/O2,
§2.4 A3/A4):

- J2: footprint bbox x DEM-tile bbox interval-overlap join; empty result
  for any footprint is the reference's "lies outside the DEM" error
  (/root/reference/orthority/ortho.py:154-190).
- O1: two-phase pruning — phase 1 intersects at a worst-case z range
  (EGM min/max -106.71..82.28 + Everest 8850, ortho.py:80-83), phase 2
  re-prunes with the ACTUAL z min/max aggregated from phase-1 tiles
  (ortho.py:180-190). On Iceberg, phase 2 is what file-level min/max
  stats give for free; here it is one cheap agg + refined join.
- A3/A4: DEM min/max/coverage aggregates; full-nodata -> error,
  partial coverage -> warning flag (ortho.py:318-329).
- z-sampling: per-point bilinear DEM lookup inside the owning tile
  (Arrow kernel) — the J6 gather against the raster side.
"""

from __future__ import annotations

import numpy as np
from pyspark import Broadcast
from pyspark.sql import DataFrame, functions as F

from ..session import prepared


class OutsideDemError(ValueError):
    """A footprint does not intersect the DEM (ortho.py:170 semantics)."""


def _tile_bounds(dem: DataFrame) -> DataFrame:
    """DEM tile table + world bbox columns from transform + offsets."""
    a = F.element_at("transform", 1)
    c = F.element_at("transform", 3)
    e = F.element_at("transform", 5)
    f0 = F.element_at("transform", 6)
    x0 = c + a * F.col("col_off")
    x1 = c + a * (F.col("col_off") + F.col("width"))
    yt = f0 + e * F.col("row_off")
    yb = f0 + e * (F.col("row_off") + F.col("height"))
    return (
        dem.withColumn("txmin", F.least(x0, x1))
        .withColumn("txmax", F.greatest(x0, x1))
        .withColumn("tymin", F.least(yt, yb))
        .withColumn("tymax", F.greatest(yt, yb))
    )


def bbox_range_join(footprints: DataFrame, dem: DataFrame) -> DataFrame:
    """Interval-overlap theta-join: footprint bbox x DEM tile bbox.

    The footprint side is tiny -> broadcast, so the range predicate is
    evaluated map-side over the DEM scan (no shuffle; with Iceberg the
    bbox predicate also prunes files via min/max column stats)."""
    d = _tile_bounds(dem)
    cond = (
        (F.col("xmin") <= F.col("txmax"))
        & (F.col("xmax") >= F.col("txmin"))
        & (F.col("ymin") <= F.col("tymax"))
        & (F.col("ymax") >= F.col("tymin"))
    )
    return d.join(F.broadcast(footprints), cond)


def check_dem_coverage(footprints: DataFrame, dem: DataFrame) -> DataFrame:
    """Per-footprint DEM intersection stats; raises OutsideDemError if any
    footprint has no intersecting tile (J2 error semantics)."""
    joined = bbox_range_join(footprints, dem.where(F.col("band") == 1))
    stats = joined.groupBy("filename").agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum(
            F.expr("aggregate(block, 0L, (acc, v) -> acc + CAST(isnotnull(v) AND NOT isnan(v) AS LONG))")
        ).alias("n_valid_cells"),
        F.sum(F.size("block")).alias("n_cells"),
    )
    missing = footprints.join(
        stats.select("filename"), "filename", "left_anti"
    ).collect()
    if missing:
        raise OutsideDemError(
            f"footprints outside DEM: {[r.filename for r in missing]}"
        )
    return stats.withColumn(
        "full_coverage", F.col("n_valid_cells") == F.col("n_cells")
    )


# worst-case z range: EGM96 min/max + Everest (ortho.py:80-83)
EGM_MIN, EGM_MAX, EVEREST = -106.71, 82.28, 8850.0


def two_phase_prune(
    footprints_at_z,  # callable: (z_min, z_max) -> footprint bbox DataFrame
    dem: DataFrame,
) -> tuple[DataFrame, float, float]:
    """O1: prune DEM tiles at worst-case z, aggregate actual z min/max
    from survivors, re-prune at the refined bounds. Returns
    (pruned tiles, z_min, z_max)."""
    coarse_fp = footprints_at_z(EGM_MIN, EGM_MAX + EVEREST)
    phase1 = bbox_range_join(coarse_fp, dem.where(F.col("band") == 1))
    zr = phase1.agg(
        F.min(F.expr("array_min(filter(block, v -> NOT isnan(v)))")).alias("zmin"),
        F.max(F.expr("array_max(filter(block, v -> NOT isnan(v)))")).alias("zmax"),
    ).collect()[0]
    z_min, z_max = float(zr.zmin), float(zr.zmax)
    fine_fp = footprints_at_z(z_min, z_max)
    phase2 = bbox_range_join(fine_fp, dem.where(F.col("band") == 1))
    return phase2, z_min, z_max


def sample_dem_z(
    points: DataFrame,
    dem: DataFrame,
    band: int = 1,
    max_broadcast_bytes: int = 256 << 20,
) -> DataFrame:
    """Per-point bilinear z sample from the owning DEM tile.

    Two plans with identical results (r6 optimization, guide §2.4/§3.1):

    - **broadcast gather** (default whenever the band's blocks fit in
      ``max_broadcast_bytes``): the tile blocks are collected once and
      broadcast; a single ``mapInArrow`` pass over the points computes
      the owning tile, the extent mask and the bilinear blend — ZERO
      shuffles and full scan-stage parallelism. A DEM raster is metadata
      next to a 10^12-point table, the classic broadcast side; the r5
      cogroup plan funnelled every point through an Exchange into one
      task per tile (6 tasks for the fixture DEM at local[32]) and its
      pushed-down extent filter re-evaluated the page-derivation regexp
      four times per row.
    - **cogroup gather** (fallback past the guard): the r5 plan — points
      equi-joined to their owning tile key, Arrow cogroup kernel per
      tile group; the 16 KB block crosses the shuffle once per tile.

    Both plans drop points outside the DEM grid, points in a grid tile
    the band does not hold, and points whose px or py is NaN, infinite
    or NULL.

    Prepare: one ``collect()`` of the band's tile metadata (no
    ``block`` column) gives the affine, the one-transform check, the
    extent and the cell count; the broadcast plan then collects the
    blocks once more and broadcasts them. Both are driver-side reads of
    O(tiles) rows, reduced in numpy; over a local DEM table such as
    ``fixture_dem`` they run no Spark job, and over a file-backed DEM
    they scan without a shuffle. They are prepared once per
    application, ``dem`` DataFrame object and band
    (:func:`orthority_spark.session.prepared`), so later calls with the
    same ``dem`` object build their plan without a Spark job.

    Points whose 2x2 bilinear stencil crosses a tile border fall back to
    nearest-cell within the tile (documented tolerance; halo-tiled DEM
    removes this at scale)."""
    d = dem.where(F.col("band") == band)
    spark = dem.sparkSession
    a, c, e, f0, tile, ncols, nrows, cells = prepared(
        spark, "dem_extent", (dem,), (band,), lambda: _dem_extent(d, band)
    )
    if cells * 8 <= max_broadcast_bytes:
        bc = prepared(
            spark, "dem_blocks", (dem,), (band,), lambda: _broadcast_blocks(d)
        )
        return _sample_dem_z_broadcast(
            points, bc, a, c, e, f0, tile, ncols, nrows
        )
    return _sample_dem_z_cogroup(points, d, a, c, e, f0, tile, ncols, nrows)


def _dem_extent(d: DataFrame, band: int) -> tuple:
    """(a, c, e, f0, tile, ncols, nrows, cells) of one DEM band, from ONE
    collect of its tile metadata (no blocks; O(tiles) rows on the
    driver). A mixed-transform DEM fails loudly instead of silently
    sampling against an arbitrary tile's affine (ADVICE r4)."""
    rows = d.select("transform", "row_off", "col_off", "height", "width").collect()
    transforms = {tuple(r.transform) for r in rows}
    if len(transforms) != 1:
        raise ValueError(
            f"sample_dem_z requires one shared affine transform per band; "
            f"band {band} has {len(transforms)} distinct transforms"
        )
    (a, _, c, _, e, f0), = transforms
    ro, co, h, w = np.array(
        [(r.row_off, r.col_off, r.height, r.width) for r in rows], dtype="int64"
    ).T
    return (
        a, c, e, f0, int(h.max()), int((co + w).max()), int((ro + h).max()),
        int((h * w).sum()),
    )


def _broadcast_blocks(d: DataFrame) -> Broadcast:
    """Broadcast {dem_tile_id: 2-D float64 block} of one DEM band."""
    rows = d.select(
        "dem_tile_id", "row_off", "col_off", "height", "width", "block"
    ).collect()
    blocks = {
        r.dem_tile_id: np.asarray(r.block, dtype="float64").reshape(
            r.height, r.width
        )
        for r in rows
    }
    return d.sparkSession.sparkContext.broadcast(blocks)


def _bilinear_in_tile(
    blk: np.ndarray, px: np.ndarray, py: np.ndarray,
    a: float, c: float, e: float, f0: float, ro: int, co: int,
) -> np.ndarray:
    """z at world (px, py) from one DEM tile ``blk`` whose top-left cell
    is (ro, co): bilinear over the 2x2 stencil, and nearest cell within
    the tile where the stencil crosses the tile border (half-up rounding
    = floor(x+0.5), identical in the SQL oracle). Both sample_dem_z
    plans call this, so they agree bit for bit."""
    h, w = blk.shape
    # fractional cell coords within tile (pixel-center)
    fc = (px - c) / a - 0.5 - co
    fr = (py - f0) / e - 0.5 - ro
    c0 = np.floor(fc).astype("int64")
    r0 = np.floor(fr).astype("int64")
    interior = (c0 >= 0) & (c0 < w - 1) & (r0 >= 0) & (r0 < h - 1)
    cc = np.clip(c0, 0, w - 2)
    rc = np.clip(r0, 0, h - 2)
    wc, wr = fc - c0, fr - r0
    z_bi = (
        blk[rc, cc] * (1 - wr) * (1 - wc)
        + blk[rc, cc + 1] * (1 - wr) * wc
        + blk[rc + 1, cc] * wr * (1 - wc)
        + blk[rc + 1, cc + 1] * wr * wc
    )
    ci = np.clip(np.floor(fc + 0.5).astype("int64"), 0, w - 1)
    ri = np.clip(np.floor(fr + 0.5).astype("int64"), 0, h - 1)
    return np.where(interior, z_bi, blk[ri, ci])


# The gather kernel moves numpy <-> Arrow through raw buffers: pyarrow's
# own conversions (pa.array, Array.to_numpy) import pandas, ~0.4 CPU-s in
# every Python worker that first runs the kernel.


def _bits(mask: np.ndarray):
    """An Arrow bitmap buffer (LSB first) of a bool array."""
    import pyarrow as pa

    return pa.py_buffer(np.packbits(mask, bitorder="little"))


def _float64(col) -> np.ndarray:
    """The values of an Arrow double array, NULL read as NaN."""
    valid, data = col.buffers()
    x = np.frombuffer(data, "float64", len(col), col.offset * 8)
    if col.null_count:
        bits = np.unpackbits(np.frombuffer(valid, "uint8"), bitorder="little")
        x = np.where(bits[col.offset:col.offset + len(col)] == 1, x, np.nan)
    return x


def _sample_dem_z_broadcast(
    points: DataFrame, bc: Broadcast,
    a: float, c: float, e: float, f0: float,
    tile: int, ncols: int, nrows: int,
) -> DataFrame:
    """Broadcast-DEM mapInArrow gather: no shuffle, no join; the extent
    mask and tile ownership are computed inside the kernel (keeping the
    bounds out of the Spark plan also stops predicate pushdown from
    re-inlining the upstream projection into a 4x-duplicated filter).
    A NaN or infinite px/py fails the extent mask."""

    def gather(it):
        import pyarrow as pa

        tiles = bc.value
        for b in it:
            if not b.num_rows:
                continue
            px = _float64(b.column(1))
            py = _float64(b.column(2))
            gcol = np.floor((px - c) / a)
            grow = np.floor((py - f0) / e)
            m = (gcol >= 0) & (gcol < ncols) & (grow >= 0) & (grow < nrows)
            if not m.any():
                continue
            px, py = px[m], py[m]
            gci = gcol[m].astype("int64")
            gri = grow[m].astype("int64")
            col_off = gci - gci % tile
            row_off = gri - gri % tile
            z = np.empty(len(px), dtype="float64")
            hit = np.zeros(len(px), dtype=bool)
            tkey = row_off * (ncols + tile) + col_off
            for k in np.unique(tkey):
                sel = tkey == k
                ro, co = int(row_off[sel][0]), int(col_off[sel][0])
                blk = tiles.get(f"{ro}:{co}")
                if blk is None:  # a grid tile the DEM does not hold
                    continue
                hit |= sel
                z[sel] = _bilinear_in_tile(
                    blk, px[sel], py[sel], a, c, e, f0, ro, co
                )
            m[m] = hit
            z = z[hit]
            # r6: the url strings stay an Arrow buffer end to end
            # (filter is an offsets-level op) — no pandas object arrays;
            # a NaN z (DEM nodata) crosses as NULL
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0).filter(
                        pa.Array.from_buffers(pa.bool_(), len(m), [None, _bits(m)])
                    ),
                    pa.Array.from_buffers(
                        pa.float64(), len(z), [_bits(~np.isnan(z)), pa.py_buffer(z)]
                    ),
                ],
                names=["url", "z"],
            )

    return points.select(
        "url", F.col("px").cast("double"), F.col("py").cast("double")
    ).mapInArrow(gather, schema="url string, z double")


def _sample_dem_z_cogroup(
    points: DataFrame, d: DataFrame,
    a: float, c: float, e: float, f0: float,
    tile: int, ncols: int, nrows: int,
) -> DataFrame:
    """The r5 cogroup plan, kept as the big-DEM fallback."""
    import pandas as pd

    # Spark's floor maps NaN to 0 (and the extent filter below would keep
    # it), so non-finite points are dropped first, as the broadcast
    # kernel's extent mask drops them; abs(NaN) < Inf fails (NaN sorts
    # above +Inf) and a NULL compares NULL
    inf = F.lit(float("inf"))
    points = points.where((F.abs("px") < inf) & (F.abs("py") < inf))
    col = F.floor((F.col("px") - F.lit(c)) / F.lit(a)).cast("long")
    row = F.floor((F.col("py") - F.lit(f0)) / F.lit(e)).cast("long")
    # drop points outside the DEM grid BEFORE deriving the tile key:
    # Spark's % keeps the dividend sign, so a point at gcol in [-tile, -1]
    # would otherwise alias to tile 0 and emit a clamped-border z (the
    # reference errors on outside-DEM sources, ortho.py:120; the oracle
    # drops them — same contract here, as a scan-stage pushdown filter)
    pts = (
        points.withColumn("_gcol", col)
        .withColumn("_grow", row)
        .where(
            (F.col("_gcol") >= 0) & (F.col("_gcol") < ncols)
            & (F.col("_grow") >= 0) & (F.col("_grow") < nrows)
        )
        .withColumn(
            "dem_tile_id",
            F.concat_ws(
                ":",
                (F.col("_grow") - F.col("_grow") % F.lit(tile)).cast("string"),
                (F.col("_gcol") - F.col("_gcol") % F.lit(tile)).cast("string"),
            ),
        )
        .drop("_gcol", "_grow")
    )
    # cogroup points-with-tile against the DEM on the tile key: the 16 KB
    # block crosses the shuffle ONCE PER TILE (a tile join would replicate
    # it onto every point row — 10^12 points x 16 KB is the difference
    # between a working plan and a dead one), and the kernel is one numpy
    # fancy-index gather per tile group
    def interp(_key, pts_pdf, dem_pdf):
        if not len(pts_pdf) or not len(dem_pdf):
            return pd.DataFrame({"url": pd.Series(dtype="object"),
                                 "z": pd.Series(dtype="float64")})
        t = dem_pdf.iloc[0]
        blk = np.asarray(t.block, dtype="float64").reshape(
            int(t.height), int(t.width)
        )
        z = _bilinear_in_tile(
            blk,
            pts_pdf["px"].to_numpy(dtype="float64"),
            pts_pdf["py"].to_numpy(dtype="float64"),
            a, c, e, f0, int(t.row_off), int(t.col_off),
        )
        return pd.DataFrame({"url": pts_pdf["url"].to_numpy(), "z": z})

    return (
        pts.select("dem_tile_id", "url", "px", "py")
        .groupBy("dem_tile_id")
        .cogroup(d.groupBy("dem_tile_id"))
        .applyInPandas(interp, schema="url string, z double")
    )
