"""Deterministic demo source image for the ``ortho``/``odm`` commands.

No raster codecs ship with the engine, so the rendered source is an exact
integer-rational pattern (no RNG): a 0/100 checkerboard plus a
thousandths ramp. Its UL-corner affine transform places the image over
the fixture footprints.
"""

from __future__ import annotations

import numpy as np

SRC_H, SRC_W = 150, 200
TRANSFORM = (2.0, 0.0, 19900.0, 0.0, -2.0, 30080.0)


def src_array() -> np.ndarray:
    """(SRC_H, SRC_W) float64 source pixels."""
    i, j = np.indices((SRC_H, SRC_W))
    return ((i + j) % 2) * 100.0 + ((i * 37 + j * 91) % 1000) / 1000.0
