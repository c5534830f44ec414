"""Euler-angle and angle-axis rotation conversions (PATB convention).

Semantics match the reference (parity-tested in tests/test_geom.py):
- omega/phi/kappa -> R:   /root/reference/orthority/param_io.py:715-726
- roll/pitch/yaw  -> R:   /root/reference/orthority/param_io.py:703-712
- R -> omega/phi/kappa:   /root/reference/orthority/param_io.py:729-735
- angle-axis (Rodrigues) -> OPK: /root/reference/orthority/param_io.py:738-750
"""

from __future__ import annotations

import numpy as np


def _rx(a: float) -> np.ndarray:
    c, s = np.cos(a), np.sin(a)
    return np.array([[1.0, 0.0, 0.0], [0.0, c, -s], [0.0, s, c]])


def _ry(a: float) -> np.ndarray:
    c, s = np.cos(a), np.sin(a)
    return np.array([[c, 0.0, s], [0.0, 1.0, 0.0], [-s, 0.0, c]])


def _rz(a: float) -> np.ndarray:
    c, s = np.cos(a), np.sin(a)
    return np.array([[c, -s, 0.0], [s, c, 0.0], [0.0, 0.0, 1.0]])


def opk_to_rotation(opk) -> np.ndarray:
    """(omega, phi, kappa) radians -> 3x3 rotation, R = Rx(o) @ Ry(p) @ Rz(k)."""
    omega, phi, kappa = opk
    return _rx(omega) @ _ry(phi) @ _rz(kappa)


def rpy_to_rotation(rpy) -> np.ndarray:
    """(roll, pitch, yaw) radians -> 3x3 rotation, R = Rz(y) @ Ry(p) @ Rx(r)."""
    roll, pitch, yaw = rpy
    return _rz(yaw) @ _ry(pitch) @ _rx(roll)


def rotation_to_opk(R: np.ndarray) -> tuple[float, float, float]:
    """3x3 rotation -> (omega, phi, kappa) radians (inverse of opk_to_rotation)."""
    omega = float(np.arctan2(-R[1, 2], R[2, 2]))
    phi = float(np.arcsin(R[0, 2]))
    kappa = float(np.arctan2(-R[0, 1], R[0, 0]))
    return omega, phi, kappa


def aa_to_rotation(aa) -> np.ndarray:
    """Angle-axis (Rodrigues) vector -> 3x3 rotation matrix.

    Pure-numpy Rodrigues formula (the reference delegates to cv2.Rodrigues,
    /root/reference/orthority/param_io.py:744 — cv2 is not assumed on
    executors here).
    """
    aa = np.asarray(aa, dtype="float64")
    theta = float(np.sqrt(aa[0] * aa[0] + aa[1] * aa[1] + aa[2] * aa[2]))
    if theta < 1e-15:
        return np.eye(3)
    k = aa / theta
    K = np.array(
        [[0.0, -k[2], k[1]], [k[2], 0.0, -k[0]], [-k[1], k[0], 0.0]]
    )
    return np.eye(3) + np.sin(theta) * K + (1.0 - np.cos(theta)) * (K @ K)


# rotation from PATB (y up, z backwards) to OpenCV (y down, z forwards)
# convention, /root/reference/orthority/camera.py:713-715
PATB_TO_CV = np.array([[1.0, 0.0, 0.0], [0.0, -1.0, 0.0], [0.0, 0.0, -1.0]])


def aa_to_opk(aa) -> tuple[float, float, float]:
    """OpenSfM/OpenCV angle-axis -> (omega, phi, kappa), PATB convention."""
    R = aa_to_rotation(aa).T
    R = R @ PATB_TO_CV
    return rotation_to_opk(R)


# navigation (NED: x north, y east, z down) frame to north-aligned
# locally-level ENU world frame: x_E = east <- y_n, y_E = north <- x_n,
# z_E = up <- -z_n.  The reference aligns to grid north with a
# finite-difference pyproj probe (/root/reference/orthority/param_io.py:
# 808-826, C_En); this engine's world frame is an exact north-aligned
# plane, so C_En is the constant swap matrix and no probe is needed.
C_EN = np.array([[0.0, 1.0, 0.0], [1.0, 0.0, 0.0], [0.0, 0.0, -1.0]])

# camera (PATB: x right, y top, z back) to body (x front, y right, z down)
# rotation — typical drone geometry, /root/reference/orthority/param_io.py:830.
C_BODY = np.array([[0.0, 1.0, 0.0], [1.0, 0.0, 0.0], [0.0, 0.0, -1.0]])


def rpy_to_opk(rpy) -> tuple[float, float, float]:
    """(roll, pitch, yaw) radians -> (omega, phi, kappa), PATB, for a
    north-aligned world frame (P10 recast; rpy == 0 => nadir view with
    image-top facing north, matching the reference C_En @ C_nb @ C_bB
    composition at param_io.py:833)."""
    R = C_EN @ rpy_to_rotation(rpy) @ C_BODY
    return rotation_to_opk(R)
