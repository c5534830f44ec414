"""Per-job vertical-datum z transform (SURVEY §2.2 P18 closing).

The reference finds the scale from meters to ortho-CRS z units by
transforming one (x, y) point at z=0 and z=1 and taking
``z_scale = 1 / (zs[1] - zs[0])`` (reference ortho.py:144-151); RPC
cameras validate the CRS is ellipsoidal the same two-point way
(reference camera.py:441-448). This engine fixes ONE exact linear world
frame per job (config.py), so the whole vertical-datum machinery reduces
to the same idea run ONCE on the driver: a job whose input heights live
in a different vertical datum (EGM-style geoid offset, survey feet)
probes or declares a scalar linear ``ZTransform``, and the constant is
folded into the broadcast footprint/camera constants before any executor
sees a row. Executor-side expressions keep consuming plain world z —
no per-row CRS work, nothing new to shuffle, and the oracle-exactness
contract (identical float64 arithmetic both engines) is untouched.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable


@dataclass(frozen=True)
class ZTransform:
    """world_z = scale * datum_z + offset (exact two-constant linear map,
    like the horizontal equirectangular frame in config.py)."""

    scale: float = 1.0
    offset: float = 0.0

    def to_world(self, z: float) -> float:
        return z * self.scale + self.offset


def probe_z_transform(
    datum_to_world: Callable[[float], float], z0: float = 0.0, z1: float = 1.0
) -> ZTransform:
    """Two-point probe of a job's vertical transform (the reference's
    z=0 / z=1 evaluation, ortho.py:144-151): exact for any linear datum
    shift (geoid offset, unit change), and a first-order fit otherwise —
    the same approximation the reference commits to."""
    if z1 == z0:
        raise ValueError(f"probe heights must differ: z0 == z1 == {z0}")
    w0 = float(datum_to_world(z0))
    w1 = float(datum_to_world(z1))
    scale = (w1 - w0) / (z1 - z0)
    if not math.isfinite(scale) or scale == 0.0:
        raise ValueError(
            f"degenerate vertical transform: z({z0})={w0}, z({z1})={w1}"
        )
    return ZTransform(scale=scale, offset=w0 - scale * z0)
