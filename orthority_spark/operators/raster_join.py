"""Raster <-> vector join: per-point z sampling from a DEM tile table.

Re-expresses the reference's DEM lookup (SURVEY §2.3 J6, §2.4 A3): a
per-point bilinear DEM sample inside the owning tile (Arrow kernel) —
the J6 gather against the raster side. Points outside the DEM grid are
dropped, where the reference raises for a source outside the DEM
(/root/reference/orthority/ortho.py:154-190).
"""

from __future__ import annotations

import numpy as np
from pyspark import Broadcast
from pyspark.sql import DataFrame, functions as F

from ..arrow_buffers import bitmap, float64_array, float64_values
from ..session import prepared

#: sample_dem_z's broadcast guard on one band's float64 blocks: past it
#: the cogroup plan runs
DEM_BROADCAST_MAX_BYTES = 256 << 20


def sample_dem_z(points: DataFrame, dem: DataFrame, band: int = 1) -> DataFrame:
    """Per-point bilinear z sample from the owning DEM tile.

    Two plans with identical results (r6 optimization, guide §2.4/§3.1):

    - **broadcast gather** (default whenever the band's blocks fit in
      DEM_BROADCAST_MAX_BYTES): the tile blocks are collected once and
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
      ``tests/test_fit_raster.py::test_sample_dem_z_broadcast_equals_cogroup``
      forces it and checks it against the broadcast gather.

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
    if cells * 8 <= DEM_BROADCAST_MAX_BYTES:
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
            px = float64_values(b.column(1))
            py = float64_values(b.column(2))
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
                        pa.Array.from_buffers(pa.bool_(), len(m), [None, bitmap(m)])
                    ),
                    float64_array(z, nan_is_null=True),
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
