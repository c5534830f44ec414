"""DEM surfaces and batched ray–ground intersection.

The reference marches each boundary-pixel ray from max_z down to min_z and
takes the first sample below the DEM surface, one scalar loop iteration per
point (/root/reference/orthority/camera.py:103-165). Here the march is
lifted to a fully batched (steps x points) numpy evaluation — the shape that
runs inside an Arrow pandas UDF (SURVEY.md §7 step 1).

Fixture surfaces mirror /root/reference/tests/conftest.py:45-50,67-77:
band 1 = sinusoid offset 825 m / gain 25 m; band 2 = flat plane at 825 m
(closed-form oracle). Resolution 30 m, nodata = NaN.
"""

from __future__ import annotations

import numpy as np

DEM_OFFSET = 825.0
DEM_GAIN = 25.0
DEM_RES = 30.0


def dem_sinusoid(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Analytic sinusoidal DEM surface z(x, y) (deterministic fixture)."""
    return DEM_OFFSET + DEM_GAIN * (
        np.sin(x / (20 * DEM_RES)) * np.cos(y / (20 * DEM_RES))
    )


def dem_plane(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Flat plane DEM at DEM_OFFSET (closed-form oracle surface)."""
    return np.full(np.broadcast(x, y).shape, DEM_OFFSET)


def ray_march_params(
    dirs: np.ndarray,
    origins: np.ndarray,
    dem_fn,
    min_z: float,
    max_z: float,
    step: float = DEM_RES / 2,
) -> np.ndarray:
    """March rays given in parameter form — (3,N) directions + (3,N)
    origins, point(z) = dir * ((z - oz) / dz) + origin — against an
    analytic DEM: linspace samples from max_z to min_z, first sample
    at/below the surface (the reference's first-intersection rule,
    camera.py:158-164; falls back to the min_z point when none), then a
    20-pass bisection between the bracketing samples.

    Every op is elementwise with a fixed order, so the oracle-gated query
    can mirror the march term-for-term in SQL (the trig inside ``dem_fn``
    is quantized to float32 by the gate to absorb cross-engine 1-ulp
    differences)."""
    dirs = np.asarray(dirs, dtype="float64")
    origins = np.asarray(origins, dtype="float64")
    n_steps = max(int(np.ceil((max_z - min_z) / step)) + 1, 2)
    ray_z = np.linspace(max_z, min_z, n_steps)  # (S,)
    S, N = n_steps, dirs.shape[1]
    xyz = np.stack(
        [
            dirs * ((np.full(N, z) - origins[2]) / dirs[2]) + origins
            for z in ray_z
        ],
        axis=0,
    )  # (S, 3, N)
    surf = dem_fn(xyz[:, 0, :], xyz[:, 1, :])  # (S, N)
    below = xyz[:, 2, :] <= surf  # (S, N)
    # first True along the step axis; argmax returns 0 when none → mask
    first = np.argmax(below, axis=0)
    none = ~below.any(axis=0)
    first = np.where(none, S - 1, first)
    out = xyz[first, :, np.arange(N)].T  # (3, N)

    # one bisection refinement between (first-1, first) brackets
    has_prev = (first > 0) & ~none
    if has_prev.any():
        hi = xyz[np.maximum(first - 1, 0), :, np.arange(N)].T
        lo = out
        for _ in range(20):
            mid = (hi + lo) / 2
            zs = dem_fn(mid[0], mid[1])
            below_mid = mid[2] <= zs
            lo = np.where(has_prev & below_mid, mid, lo)
            hi = np.where(has_prev & ~below_mid, mid, hi)
        out = np.where(has_prev, lo, out)
    return out
