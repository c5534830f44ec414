"""Parallel stats: partition-count invariance to 1e-6 (the reference's
block-wise == whole-image covariance check, test_pan_sharp.py:285-311)
and the Gram-Schmidt pan-sharpen round trip."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from orthority_spark.operators.stats import (
    band_stats,
    stats_to_cov,
    pan_sharpen,
)

BANDS = ["b1", "b2", "b3"]


@pytest.fixture(scope="module")
def band_df(spark):
    rng = np.random.RandomState(11)
    base = rng.rand(5000)
    pdf = pd.DataFrame(
        {
            "b1": base + rng.rand(5000) * 0.1,
            "b2": 2 * base + rng.rand(5000) * 0.2,
            "b3": 0.5 * base + rng.rand(5000) * 0.05,
        }
    )
    pdf["pan"] = pdf[BANDS].mean(axis=1) + rng.rand(5000) * 0.01
    return pdf


def _cov_from_spark(spark, pdf, parts):
    df = spark.createDataFrame(pdf).repartition(parts)
    row = band_stats(df, BANDS).collect()[0]
    return stats_to_cov(row, BANDS)


def test_partition_count_invariance(spark, band_df):
    m2, c2 = _cov_from_spark(spark, band_df, 2)
    m16, c16 = _cov_from_spark(spark, band_df, 16)
    np.testing.assert_allclose(m2, m16, atol=1e-9)
    np.testing.assert_allclose(c2, c16, atol=1e-9)
    # vs numpy whole-data covariance (reference tolerance 1e-6)
    np_cov = np.cov(band_df[BANDS].to_numpy().T, ddof=1)
    np.testing.assert_allclose(c2, np_cov, rtol=1e-6)
    np.testing.assert_allclose(m2, band_df[BANDS].mean().to_numpy(), rtol=1e-9)


def test_pan_sharpen_end_to_end(spark, band_df):
    df = spark.createDataFrame(band_df)
    out = pan_sharpen(df, BANDS, "pan").toPandas()
    assert {f"sharp_{b}" for b in BANDS} <= set(out.columns)
    # sharpened bands stay correlated with the originals
    for b in BANDS:
        corr = np.corrcoef(out[b], out[f"sharp_{b}"])[0, 1]
        assert corr > 0.95


def _pan_ms_stats(band_df):
    arr = np.vstack([band_df["pan"].to_numpy(), band_df[BANDS].to_numpy().T])
    return arr, arr.mean(axis=1), np.cov(arr, ddof=1)


def test_gs_params_reference_invariants(band_df):
    """Reference parity (pan_sharp.py:319-416 / test_pan_sharp.py
    test_weights_auto): pan ~ mean(MS) => estimated weights ~ 1/3 and sum
    to 1; gain/bias map the pan band onto the simulated pan's mean/std."""
    from orthority_spark.operators.stats import gs_params

    arr, means, cov = _pan_ms_stats(band_df)
    p = gs_params(means, cov)
    np.testing.assert_allclose(p["weights"], 1 / 3, atol=0.01)
    assert p["weights"].sum() == pytest.approx(1.0, abs=1e-9)
    pan_n = p["gain"] * arr[0] + p["bias"]
    sim = p["weights"] @ arr[1:]
    assert pan_n.mean() == pytest.approx(sim.mean(), abs=1e-9)
    assert pan_n.std(ddof=1) == pytest.approx(sim.std(ddof=1), rel=1e-9)


def test_gs_params_user_weights_clip_normalise(band_df):
    """User weights are clipped at 0 and normalised (reference
    test_weights_user cases (1,1,1), (1,2,3), (-1,0,1))."""
    from orthority_spark.operators.stats import gs_params

    _, means, cov = _pan_ms_stats(band_df)
    for w_in, w_exp in [
        ((1, 1, 1), np.full(3, 1 / 3)),
        ((1, 2, 3), np.array([1, 2, 3]) / 6),
        ((-1, 0, 1), np.array([0.0, 0.0, 1.0])),
    ]:
        p = gs_params(means, cov, weights=np.array(w_in, dtype="float64"))
        np.testing.assert_allclose(p["weights"], w_exp, atol=1e-12)


def test_gs_forward_reverse_roundtrip(band_df):
    """reverse(forward(ms)) == ms without substitution (patent eq 10-14)."""
    from orthority_spark.operators.stats import gs_forward, gs_params, gs_reverse

    arr, means, cov = _pan_ms_stats(band_df)
    p = gs_params(means, cov)
    ms = arr[1:, :500]
    back = gs_reverse(gs_forward(ms, means[1:], p["coeffs"], p["weights"]),
                      means[1:], p["coeffs"])
    np.testing.assert_allclose(back, ms, atol=1e-9)


def test_pan_sharpen_identity_when_pan_is_sim(spark, band_df):
    """If the actual pan IS the simulated pan (pan == w.ms with w given),
    gain == 1, bias == 0 and the sharpened bands equal the originals."""
    from orthority_spark.operators.stats import (
        band_stats, gs_params, gs_sharpen_transform, stats_to_cov,
    )

    pdf = band_df.copy()
    pdf["pan"] = pdf[BANDS].to_numpy() @ np.full(3, 1 / 3)
    df = spark.createDataFrame(pdf)
    row = band_stats(df, ["pan"] + BANDS).collect()[0]
    means, cov = stats_to_cov(row, ["pan"] + BANDS)
    p = gs_params(means, cov, weights=np.array([1.0, 1.0, 1.0]))
    assert p["gain"] == pytest.approx(1.0, rel=1e-9)
    assert p["bias"] == pytest.approx(0.0, abs=1e-6)
    out = gs_sharpen_transform(df, BANDS, "pan", p).toPandas()
    for b in BANDS:
        np.testing.assert_allclose(out[f"sharp_{b}"], out[b], atol=1e-6)


def test_faithful_equals_reduced_form(spark, band_df):
    """The full forward/substitute/reverse pipeline equals the reduced
    per-row form sharp_k = b_k + g_k * (gain*pan + bias - w.b) with
    g_k = (cov @ w)_k / (w' cov w) — the algebraic collapse the SQL gate
    query uses."""
    from orthority_spark.operators.stats import pan_sharpen

    arr, means, cov = _pan_ms_stats(band_df)
    df = spark.createDataFrame(band_df)
    out = pan_sharpen(df, BANDS, "pan").toPandas()

    from orthority_spark.operators.stats import gs_params

    p = gs_params(means, cov)
    w = p["weights"]
    ms_cov = cov[1:, 1:]
    g = (ms_cov @ w) / float(w @ ms_cov @ w)
    pan_n = p["gain"] * out["pan"].to_numpy() + p["bias"]
    sim = out[BANDS].to_numpy() @ w
    for i, b in enumerate(BANDS):
        expected = out[b].to_numpy() + g[i] * (pan_n - sim)
        np.testing.assert_allclose(out[f"sharp_{b}"], expected, atol=1e-6)


def test_gs_params_degenerate_inputs(band_df):
    """Constant pan -> gain falls back to 1; all-anti-correlated pan ->
    a clear error instead of NaN parameters."""
    from orthority_spark.operators.stats import gs_params

    arr, means, cov = _pan_ms_stats(band_df)
    cov0 = cov.copy()
    cov0[0, 0] = 0.0  # constant pan band
    p = gs_params(means, cov0, weights=np.array([1.0, 1.0, 1.0]))
    assert p["gain"] == 1.0
    cov_neg = cov.copy()
    cov_neg[0, 1:] = -np.abs(cov_neg[0, 1:])
    cov_neg[1:, 0] = -np.abs(cov_neg[1:, 0])
    with pytest.raises(ValueError, match="non-positive"):
        gs_params(means, cov_neg)
