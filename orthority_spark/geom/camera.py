"""Batched camera models: frame (pinhole / brown / opencv / fisheye) and RPC.

All transforms operate on (3, N) / (2, N) float64 batches — the reference's
vectorized shape (/root/reference/orthority/camera.py:63-101). These kernels
are pure numpy so they run unchanged inside Arrow-batched pandas UDFs on
executors (no cv2/rasterio dependency, SURVEY.md §7 hard part 6).

Semantics re-derived from (and parity-tested against):
- intrinsic matrix        /root/reference/orthority/camera.py:652-694
- extrinsic (R, T)        /root/reference/orthority/camera.py:696-716
- world_to_pixel          /root/reference/orthority/camera.py:816-841
- pixel_to_world_z        /root/reference/orthority/camera.py:843-880
- Brown distortion        /root/reference/orthority/camera.py:1346-1364
- fisheye distortion      /root/reference/orthority/camera.py:1457-1482
- OpenCV full 14-coeff    /root/reference/orthority/camera.py:1176-1266
- RPC forward (Horner)    /root/reference/orthority/camera.py:450-489
- RPC inverse (iterative) /root/reference/orthority/camera.py:491-511
  (the reference uses GDAL's RPCTransformer; here a damped fixed-point /
  Newton iteration on the forward model, SURVEY.md §7 hard part 3)
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .boundary import pixel_boundary
from .rotation import opk_to_rotation, PATB_TO_CV


def intrinsic_matrix(
    im_size: tuple[int, int],
    focal_len,
    sensor_size: tuple[float, float] | None,
    cx: float = 0.0,
    cy: float = 0.0,
) -> np.ndarray:
    """Intrinsic matrix K from interior parameters.

    Focal lengths in pixels = focal_len * im_size / sensor_size; without a
    sensor size, focal_len is assumed normalised by sensor width (square
    pixels). Principal point = image centre + offset in units of
    max(im_size) (reference convention, camera.py:676-691).
    """
    im = np.asarray(im_size, dtype="float64")
    f = np.atleast_1d(np.asarray(focal_len, dtype="float64"))
    if sensor_size is None:
        sigma = (f * im[0]) * np.ones(2)
    else:
        sensor = np.asarray(sensor_size, dtype="float64")
        sigma = (f * np.ones(2)) * im / sensor
    c = (im - 1) / 2 + im.max() * np.array([cx, cy])
    return np.array(
        [[sigma[0], 0.0, c[0]], [0.0, sigma[1], c[1]], [0.0, 0.0, 1.0]]
    )


def extrinsic(xyz, opk) -> tuple[np.ndarray, np.ndarray]:
    """(R, T): rotation (camera->world axes, OpenCV convention) and position.

    R is the PATB rotation from opk re-aligned to the OpenCV axis convention
    (camera.py:708-716).
    """
    T = np.asarray(xyz, dtype="float64").reshape(3, 1)
    R = opk_to_rotation(opk) @ PATB_TO_CV
    return R, T


# ---------------------------------------------------------------------------
# distortion kernels (homogeneous camera coords -> distorted camera coords)
# ---------------------------------------------------------------------------


def distort_brown(xy: np.ndarray, k1=0.0, k2=0.0, p1=0.0, p2=0.0,
                  k3=0.0) -> np.ndarray:
    """Brown–Conrady radial + tangential distortion on normalised (2,N) xy.

    Coefficients default to 0 like the reference camera constructors
    (camera.py BrownCamera) — an OpenSfM reconstruction that omits e.g.
    p1/p2/k3 still builds a working model."""
    x, y = xy[0], xy[1]
    x2, y2 = x * x, y * y
    xyp = x * y
    r2 = x2 + y2
    radial = 1.0 + r2 * (k1 + r2 * (k2 + r2 * k3))
    xd = x * radial + 2.0 * p1 * xyp + p2 * (r2 + 2.0 * x2)
    yd = y * radial + p1 * (r2 + 2.0 * y2) + 2.0 * p2 * xyp
    return np.vstack([xd, yd])


def distort_opencv(
    xy: np.ndarray, k1=0.0, k2=0.0, p1=0.0, p2=0.0, k3=0.0,
    k4=0.0, k5=0.0, k6=0.0,
    s1=0.0, s2=0.0, s3=0.0, s4=0.0,
) -> np.ndarray:
    """OpenCV full model: rational radial + tangential + thin-prism."""
    x, y = xy[0], xy[1]
    x2, y2 = x * x, y * y
    xyp = x * y
    r2 = x2 + y2
    radial = (1.0 + r2 * (k1 + r2 * (k2 + r2 * k3))) / (
        1.0 + r2 * (k4 + r2 * (k5 + r2 * k6))
    )
    xd = x * radial + 2.0 * p1 * xyp + p2 * (r2 + 2.0 * x2) + r2 * (s1 + r2 * s2)
    yd = y * radial + p1 * (r2 + 2.0 * y2) + 2.0 * p2 * xyp + r2 * (s3 + r2 * s4)
    return np.vstack([xd, yd])


def distort_fisheye(xy: np.ndarray, k1=0.0, k2=0.0, k3=0.0,
                    k4=0.0) -> np.ndarray:
    """Equidistant fisheye theta-polynomial distortion (2- or 4-param)."""
    x, y = xy[0], xy[1]
    r = np.sqrt(x * x + y * y)
    theta = np.arctan(r)
    t2 = theta * theta
    if k3 == 0.0 and k4 == 0.0:
        theta_d = theta * (1.0 + t2 * (k1 + t2 * k2))
    else:
        theta_d = theta * (1.0 + t2 * (k1 + t2 * (k2 + t2 * (k3 + t2 * k4))))
    with np.errstate(invalid="ignore", divide="ignore"):
        scale = np.where(r > 0, theta_d / r, 1.0)
    return np.vstack([x * scale, y * scale])


def _undistort_iterative(distort_fn, xyd: np.ndarray, n_iter: int = 20) -> np.ndarray:
    """Invert a distortion by fixed-point iteration x <- xd - (D(x) - x).

    Mirrors cv2.undistortPoints' iterative scheme (used by the reference at
    camera.py:1262-1266); tolerance documented in tests (round-trip <= 0.1px
    over the image extent, matching test_camera.py:190-205).
    """
    xy = xyd.copy()
    for _ in range(n_iter):
        xy = xy + (xyd - distort_fn(xy))
    return xy


_DISTORT = {
    "pinhole": None,
    "brown": distort_brown,
    "opencv": distort_opencv,
    "fisheye": distort_fisheye,
}


@dataclass
class FrameModel:
    """A frame camera: interior + exterior parameters + distortion kind.

    Plain dataclass of floats/arrays — serialisable into broadcast dicts and
    Spark rows (pose is a *column*, never mutable object state; the
    reference's shared-mutable-camera trap is noted at SURVEY.md §3.1).
    """

    cam_type: str
    im_size: tuple[int, int]
    focal_len: float | tuple[float, float]
    sensor_size: tuple[float, float] | None = None
    cx: float = 0.0
    cy: float = 0.0
    dist: dict = field(default_factory=dict)
    xyz: tuple[float, float, float] = (0.0, 0.0, 0.0)
    opk: tuple[float, float, float] = (0.0, 0.0, 0.0)

    def __post_init__(self):
        self.K = intrinsic_matrix(
            self.im_size, self.focal_len, self.sensor_size, self.cx, self.cy
        )
        self.K_inv = np.linalg.inv(self.K)
        self.R, self.T = extrinsic(self.xyz, self.opk)

    # -- homogeneous camera <-> pixel --------------------------------------
    def _camera_to_pixel(self, xyz_: np.ndarray) -> np.ndarray:
        fn = _DISTORT[self.cam_type]
        xy = xyz_[:2] / xyz_[2] if xyz_.shape[0] == 3 else xyz_
        if fn is not None:
            xy = fn(xy, **self.dist)
        ji = np.vstack(
            [
                self.K[0, 0] * xy[0] + self.K[0, 2],
                self.K[1, 1] * xy[1] + self.K[1, 2],
            ]
        )
        return ji

    def _pixel_to_camera(self, ji: np.ndarray) -> np.ndarray:
        x = (ji[0] - self.K[0, 2]) / self.K[0, 0]
        y = (ji[1] - self.K[1, 2]) / self.K[1, 1]
        fn = _DISTORT[self.cam_type]
        if fn is not None:
            xy = _undistort_iterative(lambda p: fn(p, **self.dist), np.vstack([x, y]))
            x, y = xy[0], xy[1]
        return np.vstack([x, y, np.ones_like(x)])

    # -- world <-> pixel ----------------------------------------------------
    def world_to_pixel(self, xyz: np.ndarray) -> np.ndarray:
        """(3,N) world -> (2,N) pixel: x' = R^T (x - T); divide; distort; K."""
        xyz_ = self.R.T @ (np.asarray(xyz, dtype="float64") - self.T)
        xyz_ = xyz_ / xyz_[2]
        return self._camera_to_pixel(xyz_)

    def pixel_to_world_z(self, ji: np.ndarray, z) -> np.ndarray:
        """(2,N) pixel + z value(s) -> (3,N) world on the plane(s) z.

        Broadcasts a single pixel over many z or many pixels over one z
        (reference broadcast contract, camera.py:843-880).
        """
        ji = np.asarray(ji, dtype="float64")
        z = np.atleast_1d(np.asarray(z, dtype="float64"))
        if ji.shape[1] == 1 and z.shape[0] > 1:
            ji = np.repeat(ji, z.shape[0], axis=1)
        xyz_ = self._pixel_to_camera(ji)
        xyz_r = self.R @ xyz_
        scales = (z - self.T[2, 0]) / xyz_r[2]
        return xyz_r * scales + self.T

    def horizon_fov(self) -> bool:
        """True if the FOV includes / is above the horizon (abort predicate,
        camera.py:722-734)."""
        xyz_r = self.R @ self._pixel_to_camera(pixel_boundary(self.im_size))
        return bool(np.any(xyz_r[2] >= 0))


# ---------------------------------------------------------------------------
# RPC
# ---------------------------------------------------------------------------


def rpc_poly(x, y, z, c) -> np.ndarray:
    """20-coefficient cubic rational-polynomial term, Horner scheme
    (geotiff.maptools.org/rpc_prop.html ordering, camera.py:464-476)."""
    res = c[0] + x * (
        c[1]
        + y * (c[4] + z * c[10])
        + z * c[5]
        + x * (c[7] + x * c[11] + y * c[14] + z * c[17])
    )
    res = res + y * (c[2] + c[6] * z + y * (c[8] + x * c[12] + y * c[15] + z * c[18]))
    res = res + z * (c[3] + z * (c[9] + x * c[13] + y * c[16] + z * c[19]))
    return res


@dataclass
class RpcModel:
    """RPC camera: 90-coefficient rational polynomial model.

    Parameter schema mirrors /root/reference/orthority/param_io.py:414-434.
    """

    im_size: tuple[int, int]
    lat_off: float
    lat_scale: float
    long_off: float
    long_scale: float
    height_off: float
    height_scale: float
    line_off: float
    line_scale: float
    samp_off: float
    samp_scale: float
    line_num_coeff: np.ndarray = None
    line_den_coeff: np.ndarray = None
    samp_num_coeff: np.ndarray = None
    samp_den_coeff: np.ndarray = None

    def world_to_pixel(self, xyz: np.ndarray) -> np.ndarray:
        """(3,N) (long, lat, height) -> (2,N) (j=samp, i=line) pixel coords."""
        xyz = np.asarray(xyz, dtype="float64")
        x = (xyz[0] - self.long_off) / self.long_scale
        y = (xyz[1] - self.lat_off) / self.lat_scale
        z = (xyz[2] - self.height_off) / self.height_scale
        i = rpc_poly(x, y, z, self.line_num_coeff) / rpc_poly(x, y, z, self.line_den_coeff)
        j = rpc_poly(x, y, z, self.samp_num_coeff) / rpc_poly(x, y, z, self.samp_den_coeff)
        return np.vstack(
            [j * self.samp_scale + self.samp_off, i * self.line_scale + self.line_off]
        )

    def pixel_to_world_z(self, ji: np.ndarray, z) -> np.ndarray:
        """Inverse RPC by damped Gauss–Newton on the forward model.

        The reference calls GDAL's iterative RPCTransformer
        (camera.py:491-511); this is a numpy re-derivation: start at the
        offset point, iterate a 2x2 finite-difference Jacobian solve until
        the reprojected pixel matches ``ji``, for at most 30 iterations.
        Round-trip accuracy is pytest-asserted to <= 1e-6 of scale
        (tests/test_geom.py).
        """
        ji = np.asarray(ji, dtype="float64")
        z = np.atleast_1d(np.asarray(z, dtype="float64")) * np.ones(ji.shape[1])
        lon = np.full(ji.shape[1], self.long_off)
        lat = np.full(ji.shape[1], self.lat_off)
        dl = self.long_scale * 1e-6
        dp = self.lat_scale * 1e-6
        for _ in range(30):
            f0 = self.world_to_pixel(np.vstack([lon, lat, z]))
            err = f0 - ji
            fx = (self.world_to_pixel(np.vstack([lon + dl, lat, z])) - f0) / dl
            fy = (self.world_to_pixel(np.vstack([lon, lat + dp, z])) - f0) / dp
            det = fx[0] * fy[1] - fx[1] * fy[0]
            det = np.where(np.abs(det) < 1e-30, 1e-30, det)
            dlon = (err[0] * fy[1] - err[1] * fy[0]) / det
            dlat = (err[1] * fx[0] - err[0] * fx[1]) / det
            lon = lon - dlon
            lat = lat - dlat
            if np.nanmax(np.abs(err)) < 1e-10:
                break
        return np.vstack([lon, lat, z])
