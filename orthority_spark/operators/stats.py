"""Parallel statistics: the pan-sharpening stats/transform pipeline
re-expressed as Spark aggregation (SURVEY §2.4 A1, §3.3).

The reference computes per-tile count/mean/deviation-product partials and
merges them with the Schubert–Gertz numerically-stable parallel
(co)variance merge across a thread pool
(/root/reference/orthority/pan_sharp.py:228-309), then solves
Gram–Schmidt weights/coefficients driver-side (pan_sharp.py:319-403) and
applies the transform tile-by-tile (pan_sharp.py:418-478).

Spark restatement — "this is structurally a Spark job already"
(SURVEY §3.3): the partial+merge is EXACTLY Spark's partial aggregation;
we express it with built-in ``count/avg/covar_samp`` so Catalyst plans
map-side partials automatically, and verify partition-count invariance to
1e-6 (the reference's own tolerance, test_pan_sharp.py:310-311). The
finalize step (weights solve) is driver-side numpy on the tiny covariance
matrix; the pass-2 transform is a ``mapInPandas`` over Arrow batches.
"""

from __future__ import annotations

from itertools import combinations_with_replacement
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def band_stats(df: DataFrame, band_cols: list[str]) -> DataFrame:
    """count + mean per band + full (co)variance matrix via built-ins.

    One shuffle-free partial aggregation; Catalyst emits the same
    partial/merge/finish scheme the reference hand-rolls.
    """
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.avg(c).alias(f"mean_{c}") for c in band_cols]
    aggs += [
        F.covar_samp(a, b).alias(f"cov_{a}_{b}")
        for a, b in combinations_with_replacement(band_cols, 2)
    ]
    return df.agg(*aggs)


def stats_to_cov(row, band_cols: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Collect a band_stats row into (means, covariance matrix)."""
    k = len(band_cols)
    means = np.array([row[f"mean_{c}"] for c in band_cols])
    cov = np.zeros((k, k))
    for i, a in enumerate(band_cols):
        for j, b in enumerate(band_cols):
            key = f"cov_{a}_{b}" if i <= j else f"cov_{b}_{a}"
            cov[i, j] = row[key]
    return means, cov


def pan_sharpen(df: DataFrame, band_cols: list[str], pan_col: str) -> DataFrame:
    """Full two-pass pipeline: agg -> collect tiny stats -> broadcast
    params -> mapInPandas (the reference's pass1/finalize/pass2,
    pan_sharp.py:517-670), reference-faithful Gram-Schmidt semantics."""
    row = band_stats(df, [pan_col] + band_cols).collect()[0]
    means, cov = stats_to_cov(row, [pan_col] + band_cols)
    params = gs_params(means, cov)
    return gs_sharpen_transform(df, band_cols, pan_col, params)


# ---------------------------------------------------------------------------
# reference-faithful Gram-Schmidt (parity with pan_sharp.py:319-479)
# ---------------------------------------------------------------------------


def gs_params(means: np.ndarray, cov: np.ndarray,
              weights: np.ndarray | None = None) -> dict:
    """Gram-Schmidt parameters from the (pan + MS) means/covariance, pan at
    index 0 — mirrors PanSharpen._get_params (pan_sharp.py:319-416):
    LS weights with the negative re-fit, iterative GS coefficients
    (patent eq 3/4), pan gain/bias matching simulated-pan stats."""
    if weights is None:
        w = np.linalg.lstsq(cov[1:, 1:], cov[0, 1:].reshape(-1, 1), rcond=None)[0]
        w = w.squeeze()
        if np.any(w < 0):
            # re-fit on the positively weighted subset (pan_sharp.py:346-356)
            idx = np.where(w > 0)[0] + 1
            sub = np.linalg.lstsq(
                cov[idx, :][:, idx], cov[0, idx].reshape(-1, 1), rcond=None
            )[0].squeeze()
            if np.all(sub >= 0):
                w = w.clip(0, None)
                w[idx - 1] = sub
    else:
        w = np.array(weights, dtype="float64")
    w = w.flatten().clip(0, None)
    if w.sum() == 0:
        raise ValueError(
            "all MS-to-pan weights are non-positive (pan anti-correlated "
            "with every band) — provide explicit weights"
        )
    w = w / w.sum()

    ms_cov = cov[1:, 1:]
    k_bands = ms_cov.shape[0]
    a = np.zeros((k_bands, k_bands))
    coeffs = [np.zeros(k + 1) for k in range(k_bands)]
    e = np.eye(k_bands)
    for k in range(k_bands):
        a[k] = w if k == 0 else e[k - 1] - np.dot(coeffs[k - 1], a[:k])
        for l in range(k + 1):
            num = a[l].dot(ms_cov[k])
            den = (a[l].reshape(-1, 1).dot(a[l].reshape(1, -1)) * ms_cov).sum()
            coeffs[k][l] = num / den if np.any(a[l] != 0) else 0

    pan_mean, pan_std = means[0], float(np.sqrt(cov[0, 0]))
    sim_mean = float(w.dot(means[1:]))
    sim_std = float(
        np.sqrt((w.reshape(-1, 1).dot(w.reshape(1, -1)) * ms_cov).sum())
    )
    # constant pan band: fall back to gain 1 (pre-rewrite behavior)
    gain = sim_std / pan_std if pan_std > 0 else 1.0
    bias = sim_mean - gain * pan_mean
    return dict(means=means, weights=w, coeffs=coeffs, gain=gain, bias=bias)


def gs_forward(ms: np.ndarray, means: np.ndarray, coeffs: list, w: np.ndarray) -> np.ndarray:
    """Forward GS transform of a (bands, N) MS array (pan_sharp.py:436-452,
    patent eq 10-12)."""
    gs = np.zeros((ms.shape[0] + 1, ms.shape[1]))
    gs[0] = w.dot(ms)
    for bi in range(ms.shape[0]):
        gs[bi + 1] = ms[bi] - means[bi] - coeffs[bi].dot(gs[: bi + 1])
    return gs


def gs_reverse(gs: np.ndarray, means: np.ndarray, coeffs: list) -> np.ndarray:
    """Reverse GS transform (pan_sharp.py:454-473, patent eq 14)."""
    ms = np.zeros((gs.shape[0] - 1, gs.shape[1]))
    for bi in range(ms.shape[0]):
        ms[bi] = gs[bi + 1] + means[bi] + coeffs[bi].dot(gs[: bi + 1])
    return ms


def gs_sharpen_transform(
    df: DataFrame, band_cols: list[str], pan_col: str, params: dict
) -> DataFrame:
    """Pass 2, faithful shape: forward GS of the MS bands, substitute the
    gain/bias-normalised pan for the simulated-pan component, reverse
    (pan_sharp.py:418-479) — one Arrow batch kernel, params broadcast by
    closure."""
    means = params["means"][1:]
    coeffs, w = params["coeffs"], params["weights"]
    gain, bias = params["gain"], params["bias"]
    cols = list(df.columns)
    out_schema = ", ".join(
        [f"{c} double" for c in cols] + [f"sharp_{c} double" for c in band_cols]
    )

    def transform(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ms = np.stack(
                [pdf[c].to_numpy(dtype="float64") for c in band_cols]
            )
            gs = gs_forward(ms, means, coeffs, w)
            gs[0] = gain * pdf[pan_col].to_numpy(dtype="float64") + bias
            sharp = gs_reverse(gs, means, coeffs)
            out = pdf.copy()
            for i, c in enumerate(band_cols):
                out[f"sharp_{c}"] = sharp[i]
            yield out

    return df.mapInPandas(transform, schema=out_schema)
