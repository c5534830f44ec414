"""Model fitting and refinement: RPC shift / shift-drift (A9/J5) and
frame exterior pose solving (solvePnP recast).

The reference refines each image's RPC model against its GCPs with a
per-image least squares ('shift' = mean pixel offset, 'shift-drift' =
per-axis 1D linear fit, /root/reference/orthority/fit.py:49-130). Frame
pose fitting delegates to cv2.solvePnP (fit.py:299-360) there; cv2 is
not assumed on executors here, so it is re-derived in numpy:
planar-homography / DLT initialisation + Levenberg-Marquardt refinement
of the reprojection residuals through the engine's own FrameModel (so
every distortion kind the engine projects, it can fit).

Spark restatement: GCP residuals are computed by the camera UDF, then
``groupBy(filename).applyInPandas`` solves the per-image problem — the
cogrouped-solver shape from SURVEY §2.9; thousands of images fit in
parallel, one small dense solve per group.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def refine_shift_oracle(ji_obs: np.ndarray, ji_pred: np.ndarray) -> np.ndarray:
    """'shift': mean (dj, di) offset between observed and predicted pixels."""
    return (ji_obs - ji_pred).mean(axis=1)


def refine_shift_drift_oracle(
    ji_obs: np.ndarray, ji_pred: np.ndarray
) -> np.ndarray:
    """'shift-drift': per-axis 1D least squares obs = a * pred + b;
    returns [[a_j, b_j], [a_i, b_i]] (fit.py:103-107 semantics)."""
    out = np.zeros((2, 2))
    for ax in range(2):
        A = np.vstack([ji_pred[ax], np.ones_like(ji_pred[ax])]).T
        out[ax], *_ = np.linalg.lstsq(A, ji_obs[ax], rcond=None)
    return out


def refine_per_image(
    gcps: DataFrame, method: str = "shift"
) -> DataFrame:
    """gcps(filename, j_obs, i_obs, j_pred, i_pred) -> per-image params.

    shift:       (filename, dj, di)
    shift-drift: (filename, aj, bj, ai, bi)
    """
    if method == "shift":
        schema = "filename string, dj double, di double"

        def solve(pdf: pd.DataFrame) -> pd.DataFrame:
            d = refine_shift_oracle(
                np.vstack([pdf.j_obs, pdf.i_obs]),
                np.vstack([pdf.j_pred, pdf.i_pred]),
            )
            return pd.DataFrame(
                {"filename": [pdf.filename.iloc[0]], "dj": [d[0]], "di": [d[1]]}
            )

    elif method == "shift-drift":
        schema = "filename string, aj double, bj double, ai double, bi double"

        def solve(pdf: pd.DataFrame) -> pd.DataFrame:
            p = refine_shift_drift_oracle(
                np.vstack([pdf.j_obs, pdf.i_obs]),
                np.vstack([pdf.j_pred, pdf.i_pred]),
            )
            return pd.DataFrame(
                {
                    "filename": [pdf.filename.iloc[0]],
                    "aj": [p[0, 0]], "bj": [p[0, 1]],
                    "ai": [p[1, 0]], "bi": [p[1, 1]],
                }
            )

    else:
        raise ValueError(method)

    return gcps.groupBy("filename").applyInPandas(solve, schema=schema)


# ---------------------------------------------------------------------------
# frame exterior pose solve (cv2.solvePnP recast, ref fit.py:299-360)
# ---------------------------------------------------------------------------


def _model_with_pose(int_params: dict, xyz, opk):
    from ..geom.camera import FrameModel

    return FrameModel(
        cam_type=int_params["cam_type"],
        im_size=tuple(int_params["im_size"]),
        focal_len=int_params["focal_len"],
        sensor_size=(
            tuple(int_params["sensor_size"])
            if int_params.get("sensor_size") is not None
            else None
        ),
        cx=float(int_params.get("cx", 0.0)),
        cy=float(int_params.get("cy", 0.0)),
        dist=dict(int_params.get("dist", {})),
        xyz=tuple(float(v) for v in xyz),
        opk=tuple(float(v) for v in opk),
    )


def _pose_from_homography(xn: np.ndarray, xyz: np.ndarray):
    """Initial (R_wc, t) from undistorted normalised pixels and CO-PLANAR
    world points: normalised DLT homography, columns -> [r1 r2 t]
    (the planar pose core cv2.solvePnP uses for planar scenes)."""
    p0 = xyz.mean(axis=1, keepdims=True)
    pw = xyz[:2] - p0[:2]
    n = pw.shape[1]
    A = np.zeros((2 * n, 9))
    A[0::2, 0:2] = pw.T
    A[0::2, 2] = 1.0
    A[0::2, 6:8] = -xn[0:1].T * pw.T
    A[0::2, 8] = -xn[0]
    A[1::2, 3:5] = pw.T
    A[1::2, 5] = 1.0
    A[1::2, 6:8] = -xn[1:2].T * pw.T
    A[1::2, 8] = -xn[1]
    _, _, vt = np.linalg.svd(A)
    H = vt[-1].reshape(3, 3)
    h1, h2, h3 = H[:, 0], H[:, 1], H[:, 2]
    s = 1.0 / np.sqrt(np.linalg.norm(h1) * np.linalg.norm(h2))
    if s * h3[2] < 0:  # points must be in front of the camera (z_cam > 0)
        s = -s
    r1, r2, t = s * h1, s * h2, s * h3
    # polar-orthonormalise [r1 r2 r1xr2]
    Q = np.column_stack([r1, r2, np.cross(r1, r2)])
    u, _, vt2 = np.linalg.svd(Q)
    R_wc = u @ vt2
    if np.linalg.det(R_wc) < 0:
        u[:, -1] = -u[:, -1]
        R_wc = u @ vt2
    return R_wc, t.reshape(3, 1), p0


def _pose_params(R_wc: np.ndarray, t: np.ndarray, p0: np.ndarray):
    """(R_wc, t in plane-centred frame) -> engine (xyz, opk)."""
    from ..geom.rotation import PATB_TO_CV, rotation_to_opk

    R = R_wc.T  # engine convention: x_cam = R.T (x_world - T)
    T = p0 - R @ t
    opk = rotation_to_opk(R @ PATB_TO_CV)  # PATB_TO_CV is involutive
    return tuple(T.ravel()), opk


def solve_pnp(
    int_params: dict, ji: np.ndarray, xyz: np.ndarray
) -> dict:
    """Exterior pose from >= 4 GCPs and known interior parameters
    (cv2.solvePnP recast, ref fit.py:299-360).

    ``int_params``: dict(cam_type, im_size, focal_len[, sensor_size, cx,
    cy, dist]); ``ji`` (2,N) observed pixels; ``xyz`` (3,N) world points.
    Initialises from a planar homography (world z co-planar or near) and
    refines all 6 pose parameters with at most 200 Levenberg-Marquardt
    steps over the FULL projection model (distortion included). Returns
    dict(xyz, opk, rms).
    """
    ji = np.asarray(ji, dtype="float64")
    xyz = np.asarray(xyz, dtype="float64")
    if ji.shape[1] < 4:
        # the planar-homography initialisation needs 4 non-collinear
        # points; with 3 the DLT nullspace is degenerate and LM would
        # converge to a near-zero-residual but WRONG pose (the reference
        # allows 3 via cv2's P3P, which this recast does not implement)
        raise ValueError("At least four GCPs are needed per image.")
    probe = _model_with_pose(int_params, (0, 0, 0), (0, 0, 0))
    xn = probe._pixel_to_camera(ji)[:2]  # undistorted normalised
    R_wc, t, p0 = _pose_from_homography(xn, xyz)
    pos, opk = _pose_params(R_wc, t, p0)
    theta = np.array([*opk, *pos], dtype="float64")

    def residuals(th):
        m = _model_with_pose(int_params, th[3:6], th[0:3])
        return (m.world_to_pixel(xyz) - ji).ravel()

    lam = 1e-3
    r = residuals(theta)
    cost = float(r @ r)
    eps = np.array([1e-7, 1e-7, 1e-7, 1e-4, 1e-4, 1e-4])
    for _ in range(200):
        J = np.zeros((r.size, 6))
        for k in range(6):
            d = np.zeros(6)
            d[k] = eps[k]
            J[:, k] = (residuals(theta + d) - residuals(theta - d)) / (2 * eps[k])
        g = J.T @ r
        H = J.T @ J
        step_ok = False
        for _try in range(8):
            try:
                dth = np.linalg.solve(H + lam * np.diag(np.diag(H) + 1e-12), -g)
            except np.linalg.LinAlgError:
                lam *= 10
                continue
            r_new = residuals(theta + dth)
            c_new = float(r_new @ r_new)
            if c_new < cost:
                theta, r, cost = theta + dth, r_new, c_new
                lam = max(lam / 10, 1e-12)
                step_ok = True
                break
            lam *= 10
        if not step_ok or cost < 1e-20:
            break
    rms = float(np.sqrt(cost / ji.shape[1]))
    return dict(
        xyz=tuple(theta[3:6]), opk=tuple(theta[0:3]), rms=rms
    )


def fit_exterior_per_image(gcps: DataFrame, int_params: dict[str, dict]) -> DataFrame:
    """Distributed solvePnP: gcps(filename, j, i, x, y, z) ->
    per-image (filename, x, y, z, omega, phi, kappa, rms_px), each image
    solved with its own interior parameters ``int_params[filename]``.
    One small dense solve per image group — thousands of images fit in
    parallel (the reference loops images serially, fit.py:355-359)."""
    schema = (
        "filename string, x double, y double, z double, "
        "omega double, phi double, kappa double, rms_px double"
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        name = pdf.filename.iloc[0]
        ji = np.vstack([pdf.j.to_numpy(), pdf.i.to_numpy()])
        xyz = np.vstack([pdf.x.to_numpy(), pdf.y.to_numpy(), pdf.z.to_numpy()])
        s = solve_pnp(int_params[name], ji, xyz)
        return pd.DataFrame(
            [
                {
                    "filename": name,
                    "x": s["xyz"][0], "y": s["xyz"][1], "z": s["xyz"][2],
                    "omega": s["opk"][0], "phi": s["opk"][1],
                    "kappa": s["opk"][2], "rms_px": s["rms"],
                }
            ]
        )

    return gcps.groupBy("filename").applyInPandas(solve, schema=schema)
