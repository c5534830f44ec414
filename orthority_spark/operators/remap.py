"""Distributed remap: the reference's core gather (J6) as a tiled
``mapInArrow`` kernel.

The reference remaps each ortho tile by (1) building the tile's world
(x, y) grid from the output transform, (2) sampling DEM z, (3) projecting
world -> source pixel via the camera model, and (4) gathering source
pixels with interpolation, under a thread pool with a write lock
(orthority/ortho.py:345-482, camera.py:368-395).

Spark restatement:
- the tile list is a DataFrame (tile_id, row_off, col_off, height, width)
  — pure metadata, generated by ``tile_windows`` (the block_windows S18
  analogue, orthority/common.py:568-583);
- each task builds its own grid from the broadcast transform + offsets
  (the reference's template-grid offset trick W2, ortho.py:362-376 —
  nothing but 6 affine coefficients ships to executors);
- the camera model + source image ride a closure broadcast;
- the kernel is Arrow in, Arrow out: it reads the tile windows from each
  record batch, gathers with flat-index ``take`` (nearest, bilinear,
  cubic or lanczos weights), and writes every tile's block of the batch
  into one float64 buffer that becomes the ``block`` list column — no
  pandas frame or per-tile row object crosses the boundary. NaN pixels
  (nodata, and any NaN the gather produced) leave as SQL NULL elements,
  never as NaN. The write lock disappears — each task owns its tile.

The stage keeps ``repartition("tile_id")`` and its Python task count,
since every extra Python task costs CPU. Measured on a 4-core host with
pyspark 4.1 (a no-op ``mapInArrow`` over 1 -> 8 tasks, median of 5):
0.50 -> 2.29 CPU-s, or 0.26 CPU-s per extra task, when the workers
import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``, because the
worker calls ``importlib.invalidate_caches()`` per task and each cached
zipimporter then re-reads the zip's directory. With a Spark home that
lacks the zip, so that the workers import the installed pyspark, the
same probe cost 0.23 -> 1.09 CPU-s, or 0.12 per extra task. Widening
the stage trades that CPU for wall time.

Nodata semantics follow the reference: out-of-frame pixels get NaN
nodata, and the nodata mask is dilated (camera.py:1102-1115, where the
kernel is sized from the GSD ratio; here by ``_DILATE`` pixels) —
dilation is done inside the tile with a halo apron so tiling cannot
change the result (SURVEY §7 hard part 5).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..arrow_buffers import float64_array, int32_array
from ..sources.local import local_table

TILE = 64  # analogue of the reference's 512x512 blocks, scaled to fixtures
#: nodata pixel value, and the nodata mask's dilation radius in pixels
_NODATA = float("nan")
_DILATE = 1


def tile_windows(spark: SparkSession, width: int, height: int) -> DataFrame:
    """Enumerate ``TILE``-sized windows covering a (width x height)
    output grid."""
    rows = [
        (f"{r}:{c}", r, c, min(TILE, height - r), min(TILE, width - c), height, width)
        for r in range(0, height, TILE)
        for c in range(0, width, TILE)
    ]
    return local_table(
        spark,
        rows,
        "tile_id string, row_off int, col_off int, height int, width int, "
        "img_height int, img_width int",
    )


# The gathers below read ``src`` through one flat index (row * w + col)
# per stencil tap; the values and their arithmetic order are those of the
# 2-D ``src[r, c]`` reference twins in tests/test_remap_kernels.py, which
# the DuckDB remap gates mirror term for term.


def _bilinear(src: np.ndarray, jj: np.ndarray, ii: np.ndarray, nodata: float):
    h, w = src.shape
    flat = src.ravel()
    j0 = np.floor(jj).astype("int64")
    i0 = np.floor(ii).astype("int64")
    valid = (j0 >= 0) & (i0 >= 0) & (j0 < w - 1) & (i0 < h - 1)
    j0c = np.clip(j0, 0, w - 2)
    i0c = np.clip(i0, 0, h - 2)
    fj = jj - j0c
    fi = ii - i0c
    k = i0c * w + j0c
    v = (
        flat.take(k) * (1 - fi) * (1 - fj)
        + flat.take(k + 1) * (1 - fi) * fj
        + flat.take(k + w) * fi * (1 - fj)
        + flat.take(k + (w + 1)) * fi * fj
    )
    return np.where(valid, v, nodata), valid


_CUBIC_A = -0.75  # cv2 INTER_CUBIC kernel constant (Keys 1981)


def _cubic_weights(f: np.ndarray, a: float = _CUBIC_A):
    """Keys bicubic convolution weights for taps at offsets {-1,0,1,2}
    around the floor cell, fractional position ``f`` in [0, 1).

    The reference's default interpolation is cubic
    (/root/reference/orthority/camera.py:108,250 ``interp: Interp =
    Interp.cubic``; enums.py:82) delegated to cv2.remap INTER_CUBIC;
    this is the same A=-0.75 kernel. The arithmetic is written in one
    fixed left-to-right order so the SQL oracle twin can mirror it
    bit-for-bit.
    """
    fp1 = f + 1.0
    g = 1.0 - f
    gp1 = 2.0 - f
    w0 = a * (((fp1 - 5.0) * fp1 + 8.0) * fp1 - 4.0)
    w1 = ((a + 2.0) * f - (a + 3.0)) * f * f + 1.0
    w2 = ((a + 2.0) * g - (a + 3.0)) * g * g + 1.0
    w3 = a * (((gp1 - 5.0) * gp1 + 8.0) * gp1 - 4.0)
    return w0, w1, w2, w3


def _cubic(src: np.ndarray, jj: np.ndarray, ii: np.ndarray, nodata: float):
    h, w = src.shape
    flat = src.ravel()
    j0 = np.floor(jj).astype("int64")
    i0 = np.floor(ii).astype("int64")
    # the full 4x4 stencil must sit inside the source frame
    valid = (j0 >= 1) & (i0 >= 1) & (j0 < w - 2) & (i0 < h - 2)
    j0c = np.clip(j0, 1, w - 3)
    i0c = np.clip(i0, 1, h - 3)
    fj = jj - j0c
    fi = ii - i0c
    wj = _cubic_weights(fj)
    wi = _cubic_weights(fi)
    k = i0c * w + j0c
    rows = []
    for r in range(4):
        kr = k + (r - 1) * w
        rows.append(
            wi[r]
            * (
                wj[0] * flat.take(kr - 1)
                + wj[1] * flat.take(kr)
                + wj[2] * flat.take(kr + 1)
                + wj[3] * flat.take(kr + 2)
            )
        )
    v = rows[0] + rows[1] + rows[2] + rows[3]
    return np.where(valid, v, nodata), valid


def _lanczos(src: np.ndarray, jj: np.ndarray, ii: np.ndarray, nodata: float):
    """cv2 INTER_LANCZOS4 analogue: 8x8 sinc-windowed gather. Not
    SQL-exact-friendly (sin of irrational arguments); correctness is held
    by the tiled == whole-image pytest parity instead of a DuckDB gate."""
    h, w = src.shape
    flat = src.ravel()
    j0 = np.floor(jj).astype("int64")
    i0 = np.floor(ii).astype("int64")
    valid = (j0 >= 3) & (i0 >= 3) & (j0 < w - 4) & (i0 < h - 4)
    j0c = np.clip(j0, 3, w - 5)
    i0c = np.clip(i0, 3, h - 5)
    fj = jj - j0c
    fi = ii - i0c

    def weights(f):
        ws = []
        for k in range(-3, 5):
            x = f - k
            s = np.sinc(x) * np.sinc(x / 4.0)
            ws.append(np.where(np.abs(x) < 4.0, s, 0.0))
        tot = ws[0]
        for wk in ws[1:]:
            tot = tot + wk
        # out-of-frame projections are NaN here and masked by `valid`
        with np.errstate(invalid="ignore", divide="ignore"):
            return [wk / tot for wk in ws]

    wj = weights(fj)
    wi = weights(fi)
    k = i0c * w + j0c
    v = np.zeros_like(jj, dtype="float64")
    for ki in range(8):
        kr = k + (ki - 3) * w
        row = np.zeros_like(jj, dtype="float64")
        for kj in range(8):
            row = row + wj[kj] * flat.take(kr + (kj - 3))
        v = v + wi[ki] * row
    return np.where(valid, v, nodata), valid


def _nearest(src: np.ndarray, jj: np.ndarray, ii: np.ndarray, nodata: float):
    h, w = src.shape
    j = np.round(jj).astype("int64")
    i = np.round(ii).astype("int64")
    valid = (j >= 0) & (i >= 0) & (j < w) & (i < h)
    v = src.ravel().take(np.clip(i, 0, h - 1) * w + np.clip(j, 0, w - 1))
    return np.where(valid, v, nodata), valid


def _gather_fn(interp: str):
    """Interpolation registry mirroring the reference's Interp enum
    (/root/reference/orthority/enums.py:82): nearest, bilinear, cubic
    (the reference default), lanczos. 'average' is the overview/rollup
    path (grid.build_overviews), not a remap kernel."""
    try:
        return {
            "nearest": _nearest,
            "bilinear": _bilinear,
            "cubic": _cubic,
            "lanczos": _lanczos,
        }[interp]
    except KeyError:
        raise ValueError(f"unknown interp: {interp!r}") from None


def _dilate(mask: np.ndarray, k: int) -> np.ndarray:
    """Binary dilation of the nodata mask with a (2k+1)^2 kernel, numpy-only
    (cv2.dilate analogue, camera.py:1102-1115). The square kernel is
    separable: OR-shift over rows, then over columns."""
    if k <= 0:
        return mask
    rows = mask.copy()
    for d in range(1, k + 1):
        rows[d:] |= mask[:-d]
        rows[:-d] |= mask[d:]
    out = rows.copy()
    for d in range(1, k + 1):
        out[:, d:] |= rows[:, :-d]
        out[:, :-d] |= rows[:, d:]
    return out


def _render(project, src, transform, r0, r1, c0, c1, dem_fn, gather):
    """Remap output rows [r0, r1) x cols [c0, c1) and mask the dilated
    nodata pixels; ``project(x, y, z) -> (jj, ii)`` on flat arrays."""
    a, b, c, d, e, f = transform
    # pixel-center convention: +0.5 (camera.py:123, ortho.py:425)
    cols = np.arange(c0, c1)[None, :] + 0.5
    rows = np.arange(r0, r1)[:, None] + 0.5
    x = a * cols + b * rows + c
    y = d * cols + e * rows + f
    z = dem_fn(x, y)
    jj, ii = project(x.ravel(), y.ravel(), z.ravel())
    v, valid = gather(src, jj, ii, _NODATA)
    shape = (r1 - r0, c1 - c0)
    mask = _dilate(~valid.reshape(shape), _DILATE)
    return np.where(mask, _NODATA, v.reshape(shape))


def _camera_project(model):
    def project(x, y, z):
        ji = model.world_to_pixel(np.vstack([x, y, z]))
        return ji[0], ji[1]

    return project


def remap_oracle(
    model,
    src: np.ndarray,
    transform: tuple,
    width: int,
    height: int,
    dem_fn,
    interp: str = "bilinear",
) -> np.ndarray:
    """Single-process whole-image remap (the oracle the tiled operator must
    match bit-for-bit — the reference's per_band equivalence recast)."""
    return _render(
        _camera_project(model), src, transform, 0, height, 0, width,
        dem_fn, _gather_fn(interp),
    )


def remap_tiles(
    tiles: DataFrame,
    model,
    src: np.ndarray,
    transform: tuple,
    dem_fn,
    interp: str = "bilinear",
    project_fn=None,
) -> DataFrame:
    """Tiled distributed remap returning (tile_id, row_off, col_off, block).

    A ``mapInArrow`` kernel: each record batch of tile windows yields one
    record batch whose ``block`` list column is built from a single
    float64 buffer holding every tile's cropped block (row-major), with
    each NaN pixel — nodata included — as a NULL element.

    Each tile renders with a ``_DILATE``-pixel halo apron and crops it off,
    so the dilated nodata mask is identical to the whole-image oracle's
    regardless of tiling (halo exchange without any shuffle — the apron is
    recomputed, not communicated; compute is cheaper than network at this
    kernel's arithmetic intensity). The apron sizes from ``_DILATE`` only:
    the gather stencil (up to 8x8 for lanczos) reads the broadcast SOURCE
    image, which every task holds whole, so interpolation order never
    widens the output-grid halo.

    ``project_fn(x, y, z) -> (jj, ii)`` overrides the camera projection
    (default ``model.world_to_pixel``) — used by the oracle-gated query
    to pin an explicit left-to-right float op order the SQL twin mirrors
    (np matmul's summation order is an implementation detail).
    """
    project = project_fn if project_fn is not None else _camera_project(model)
    gather = _gather_fn(interp)

    def render(it):
        for batch in it:
            wins = list(zip(*(
                batch.column(n).to_pylist()
                for n in ("row_off", "col_off", "height", "width",
                          "img_height", "img_width")
            )))
            offsets = np.cumsum([0] + [w[2] * w[3] for w in wins]).astype("int32")
            vals = np.empty(int(offsets[-1]), dtype="float64")
            for k, (ro, co, h0, w0, img_h, img_w) in enumerate(wins):
                # halo apron clamped to the output image: the whole-image
                # oracle has no pixels (hence no dilation sources) beyond
                # the image border
                r0, c0 = max(ro - _DILATE, 0), max(co - _DILATE, 0)
                r1 = min(ro + h0 + _DILATE, img_h)
                c1 = min(co + w0 + _DILATE, img_w)
                block = _render(project, src, transform, r0, r1, c0, c1,
                                dem_fn, gather)
                vals[offsets[k]:offsets[k + 1]].reshape(h0, w0)[...] = (
                    block[ro - r0:ro - r0 + h0, co - c0:co - c0 + w0]
                )
            blocks = pa.ListArray.from_arrays(
                int32_array(offsets), float64_array(vals, nan_is_null=True)
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("tile_id"), batch.column("row_off"),
                 batch.column("col_off"), blocks],
                names=["tile_id", "row_off", "col_off", "block"],
            )

    return tiles.repartition("tile_id").mapInArrow(
        render,
        schema="tile_id string, row_off int, col_off int, block array<double>",
    )
