"""Footprint boundaries, polygon predicates, areas, GSD.

- pixel_boundary:    /root/reference/orthority/camera.py:200-243
- world footprint:   pixel_boundary -> pixel_to_world_z at plane z
                     (conftest ortho_bounds fixture pattern,
                     /root/reference/tests/conftest.py:80-89)
- shoelace area/GSD: /root/reference/orthority/ortho.py:207-232
- point-in-polygon:  ray casting — the numpy oracle twin of the engine's
                     edge-crossing join (operators/tile_join.py); the
                     reference materialises PIP as a cv2.fillPoly mask
                     (/root/reference/orthority/ortho.py:304-317).
"""

from __future__ import annotations

import numpy as np


def pixel_boundary(im_size: tuple[int, int], num_pts: int | None = None) -> np.ndarray:
    """(2,N) pixel (j,i) boundary rectangle: corners + side mid-points by
    default, or ~num_pts evenly spaced points."""
    w, h = im_size[0] - 1, im_size[1] - 1
    if not num_pts:
        ji = np.array(
            [[0, 0], [w / 2, 0], [w, 0], [w, h / 2], [w, h], [w / 2, h], [0, h], [0, h / 2]],
            dtype="float64",
        ).T
        return ji
    br = np.array([w, h], dtype="float64")
    perim = 2 * br.sum()
    cnr = np.array([[0, 0], [w, 0], [w, h], [0, h], [0, 0]], dtype="float64")
    dist = np.sum(np.abs(np.diff(cnr, axis=0)), axis=1)
    segs = [
        np.linspace(
            cnr[i], cnr[i + 1], int(np.round(num_pts * dist[i] / perim)), endpoint=False
        )
        for i in range(4)
    ]
    return np.vstack(segs).T


def world_footprint(model, z: float) -> np.ndarray:
    """(2,8) world (x,y) footprint polygon of a camera on the plane z:
    its :func:`pixel_boundary` projected onto the plane."""
    return model.pixel_to_world_z(pixel_boundary(model.im_size), z)[:2]


def polygon_area(xy: np.ndarray) -> float:
    """Shoelace area of a (2,N) polygon (ortho.py:212-218).

    Coordinates are centroid-shifted before the shoelace sum: the raw
    cross-products are O(|coord|^2) and cancel to O(area), so a small
    polygon far from the origin loses ~|offset|^2/area relative digits
    to catastrophic cancellation. The shift is mathematically exact
    (area is translation-invariant) and keeps each term O(diameter^2).
    """
    x = xy[0] - xy[0].mean()
    y = xy[1] - xy[1].mean()
    return float(
        0.5 * np.abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    )


def gsd(world_xy: np.ndarray, pixel_ji: np.ndarray) -> float:
    """Ground sample distance = sqrt(world area / pixel area)
    (ortho.py:207-232)."""
    return float(np.sqrt(polygon_area(world_xy) / polygon_area(pixel_ji)))


def polygon_bbox(xy: np.ndarray) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) of a (2,N) polygon."""
    return (
        float(xy[0].min()),
        float(xy[1].min()),
        float(xy[0].max()),
        float(xy[1].max()),
    )


def polygon_edges(xy: np.ndarray) -> np.ndarray:
    """(M,4) array of closed-polygon edges (x1,y1,x2,y2) from a (2,N) ring."""
    x, y = xy[0], xy[1]
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    return np.column_stack([x, y, x2, y2])


def point_in_polygon(px: np.ndarray, py: np.ndarray, poly_xy: np.ndarray) -> np.ndarray:
    """Vectorized ray-casting PIP: (N,) bool for points vs a (2,M) polygon.

    Crossing rule: edge (p1,p2) is crossed by the +x ray from (px,py) iff
    (y1 > py) != (y2 > py) and px < x1 + (x2-x1)*(py-y1)/(y2-y1). Identical
    arithmetic (same operation order) is used in the Spark Column expression
    and the DuckDB oracle SQL so all three agree bit-for-bit.
    """
    px = np.asarray(px, dtype="float64")
    py = np.asarray(py, dtype="float64")
    edges = polygon_edges(poly_xy)
    inside = np.zeros(px.shape[0], dtype=bool)
    for x1, y1, x2, y2 in edges:
        cond = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xcross = x1 + (x2 - x1) * (py - y1) / (y2 - y1)
        inside ^= cond & (px < xcross)
    return inside
