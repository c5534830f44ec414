"""The remap gather and dilation kernels == their 2-D-index reference
twins, bit for bit.

The twins below are the kernels as first written: ``src[r, c]`` fancy
indexing per stencil tap and a roll-based (2k+1)^2 dilation. The
operator gathers through one flat index and dilates separably; the
values, and the order of the arithmetic on them, must not change, since
the DuckDB remap gates mirror that order term for term. Tiled == oracle
parity (tests/test_remap.py) shares one kernel between both sides, so it
cannot catch a kernel change; these tests can.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from orthority_spark.geom.dem import dem_sinusoid
from orthority_spark.operators.remap import (
    _bilinear,
    _cubic,
    _cubic_weights,
    _dilate,
    _lanczos,
    _nearest,
    remap_oracle,
)
from orthority_spark.sources.footprints import fixture_models


def ref_bilinear(src, jj, ii, nodata):
    h, w = src.shape
    j0 = np.floor(jj).astype("int64")
    i0 = np.floor(ii).astype("int64")
    valid = (j0 >= 0) & (i0 >= 0) & (j0 < w - 1) & (i0 < h - 1)
    j0c = np.clip(j0, 0, w - 2)
    i0c = np.clip(i0, 0, h - 2)
    fj = jj - j0c
    fi = ii - i0c
    v = (
        src[i0c, j0c] * (1 - fi) * (1 - fj)
        + src[i0c, j0c + 1] * (1 - fi) * fj
        + src[i0c + 1, j0c] * fi * (1 - fj)
        + src[i0c + 1, j0c + 1] * fi * fj
    )
    return np.where(valid, v, nodata), valid


def ref_cubic(src, jj, ii, nodata):
    h, w = src.shape
    j0 = np.floor(jj).astype("int64")
    i0 = np.floor(ii).astype("int64")
    valid = (j0 >= 1) & (i0 >= 1) & (j0 < w - 2) & (i0 < h - 2)
    j0c = np.clip(j0, 1, w - 3)
    i0c = np.clip(i0, 1, h - 3)
    fj = jj - j0c
    fi = ii - i0c
    wj = _cubic_weights(fj)
    wi = _cubic_weights(fi)
    rows = []
    for k in range(4):
        r = i0c + (k - 1)
        rows.append(
            wi[k]
            * (
                wj[0] * src[r, j0c - 1]
                + wj[1] * src[r, j0c]
                + wj[2] * src[r, j0c + 1]
                + wj[3] * src[r, j0c + 2]
            )
        )
    v = rows[0] + rows[1] + rows[2] + rows[3]
    return np.where(valid, v, nodata), valid


def ref_lanczos(src, jj, ii, nodata):
    h, w = src.shape
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
        with np.errstate(invalid="ignore", divide="ignore"):
            return [wk / tot for wk in ws]

    wj = weights(fj)
    wi = weights(fi)
    v = np.zeros_like(jj, dtype="float64")
    for ki in range(8):
        r = i0c + (ki - 3)
        row = np.zeros_like(jj, dtype="float64")
        for kj in range(8):
            row = row + wj[kj] * src[r, j0c + (kj - 3)]
        v = v + wi[ki] * row
    return np.where(valid, v, nodata), valid


def ref_nearest(src, jj, ii, nodata):
    h, w = src.shape
    j = np.round(jj).astype("int64")
    i = np.round(ii).astype("int64")
    valid = (j >= 0) & (i >= 0) & (j < w) & (i < h)
    v = src[np.clip(i, 0, h - 1), np.clip(j, 0, w - 1)]
    return np.where(valid, v, nodata), valid


def ref_dilate(mask, k):
    if k <= 0:
        return mask
    out = mask.copy()
    for dr in range(-k, k + 1):
        for dc in range(-k, k + 1):
            sh = np.roll(np.roll(mask, dr, axis=0), dc, axis=1)
            if dr > 0:
                sh[:dr, :] = False
            elif dr < 0:
                sh[dr:, :] = False
            if dc > 0:
                sh[:, :dc] = False
            elif dc < 0:
                sh[:, dc:] = False
            out |= sh
    return out


PAIRS = [
    (_nearest, ref_nearest),
    (_bilinear, ref_bilinear),
    (_cubic, ref_cubic),
    (_lanczos, ref_lanczos),
]

# special coordinates: non-finite, huge, and exactly on the frame edges
_special = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True),
    st.sampled_from([-0.5, 0.0, 0.5, 2.0, 3.0, 7.999999999999999, 1e19, -1e19]),
)


@settings(max_examples=150, deadline=None)
@given(
    seed=st.integers(0, 2**32 - 1),
    h=st.integers(8, 40),
    w=st.integers(8, 40),
    n=st.integers(0, 300),
    specials=st.lists(st.tuples(_special, _special), max_size=20),
    nodata=st.sampled_from([float("nan"), 0.0, -9999.0]),
)
def test_gathers_match_2d_index_twins(seed, h, w, n, specials, nodata):
    rng = np.random.default_rng(seed)
    src = rng.normal(100.0, 50.0, (h, w))
    src[rng.random((h, w)) < 0.05] = np.nan  # NaN source pixels gather as-is
    # in-frame and out-of-frame coordinates, a margin past every edge
    jj = np.concatenate([rng.uniform(-6.0, w + 6.0, n), [s[0] for s in specials]])
    ii = np.concatenate([rng.uniform(-6.0, h + 6.0, n), [s[1] for s in specials]])
    with np.errstate(invalid="ignore", over="ignore"):
        for new, ref in PAIRS:
            v, valid = new(src, jj, ii, nodata)
            rv, rvalid = ref(src, jj, ii, nodata)
            assert np.array_equal(valid, rvalid), new.__name__
            assert np.array_equal(v, rv, equal_nan=True), new.__name__


@settings(max_examples=200, deadline=None)
@given(
    seed=st.integers(0, 2**32 - 1),
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    density=st.floats(0.0, 0.3),
    k=st.integers(0, 3),
)
def test_dilate_matches_roll_twin(seed, h, w, density, k):
    mask = np.random.default_rng(seed).random((h, w)) < density
    assert np.array_equal(_dilate(mask, k), ref_dilate(mask, k))


def test_oracle_matches_meshgrid_twin():
    """The whole-image oracle (broadcast row/column grid) equals the
    meshgrid-built grid fed through the reference twins."""
    model = fixture_models()["img_0000"]
    rng = np.random.RandomState(3)
    src = ((np.indices((150, 200)).sum(axis=0) % 2) * 100.0) + rng.rand(150, 200)
    # rotated grid: every affine term reaches the per-pixel sums
    transform = (1.9, 0.3, 19900.0, 0.25, -2.1, 30080.0)
    width, height = 96, 80
    a, b, c, d, e, f = transform
    cols, rows = np.meshgrid(np.arange(width), np.arange(height))
    x = a * (cols + 0.5) + b * (rows + 0.5) + c
    y = d * (cols + 0.5) + e * (rows + 0.5) + f
    z = dem_sinusoid(x, y)
    ji = model.world_to_pixel(np.vstack([x.ravel(), y.ravel(), z.ravel()]))
    for interp, ref in zip(["nearest", "bilinear", "cubic", "lanczos"],
                           [p[1] for p in PAIRS]):
        v, valid = ref(src, ji[0], ji[1], np.nan)
        mask = ref_dilate(~valid.reshape(height, width), 1)
        want = np.where(mask, np.nan, v.reshape(height, width))
        got = remap_oracle(model, src, transform, width, height, dem_sinusoid,
                           interp=interp)
        assert np.array_equal(got, want, equal_nan=True), interp
        assert np.isfinite(got).any() and np.isnan(got).any(), interp
