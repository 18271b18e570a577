"""Row-loop reference kernels: plain-Python/NumPy oracles for the
vectorized kernels in osm_merge_spark.functions.kernels and the native
point→polyline distance in osm_merge_spark.operators.conflate.

Executors cannot import this module (tests/ is not shipped), so it is
pickled by value when a test runs its pandas UDF in Spark.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from osm_merge_spark.functions.kernels import _raycast, _split_rings

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _raycast_polygon(px: np.ndarray, py: np.ndarray,
                     rx: np.ndarray, ry: np.ndarray) -> np.ndarray:
    """Even-odd PIP for a possibly-holed packed polygon: XOR of per-ring
    ray casts (VERDICT r2 #7 — a point in a courtyard is outside, matching
    shapely contains on the same rings; geosupport.py:201-224)."""
    inside = np.zeros(px.shape, dtype=bool)
    for qx, qy in _split_rings(rx, ry):
        if len(qx) >= 3:
            inside ^= _raycast(px, py, qx, qy)
    return inside


def _pip_rowloop(pxv, pyv, rxs, rys) -> np.ndarray:
    """Reference row loop (the original point_in_ring body) — the
    equivalence oracle for kernels.pip_batch."""
    out = np.zeros(len(pxv), dtype=bool)
    for i in range(len(pxv)):
        rx = np.asarray(rxs[i], dtype=np.float64)
        ry = np.asarray(rys[i], dtype=np.float64)
        if len(rx) >= 3:
            out[i] = _raycast_polygon(pxv[i : i + 1], pyv[i : i + 1], rx, ry)[0]
    return out


def pip_oracle(px: float, py: float, ring: list[tuple[float, float]]) -> bool:
    """Plain-Python ray cast."""
    inside = False
    n = len(ring)
    j = n - 1
    for i in range(n):
        xi, yi = ring[i]
        xj, yj = ring[j]
        if (yi > py) != (yj > py):
            xint = (xj - xi) * (py - yi) / (yj - yi) + xi
            if px < xint:
                inside = not inside
        j = i
    return inside


def _seg_dist(px: float, py: float, xs: np.ndarray, ys: np.ndarray) -> float:
    """Min distance from point to each segment of a packed polyline,
    vectorized over segments (clamped projection onto each segment)."""
    if len(xs) == 1:
        return float(np.hypot(px - xs[0], py - ys[0]))
    ax, ay = xs[:-1], ys[:-1]
    bx, by = xs[1:], ys[1:]
    dx, dy = bx - ax, by - ay
    seg2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - ax) * dx + (py - ay) * dy) / seg2
    t = np.where(seg2 == 0.0, 0.0, np.clip(t, 0.0, 1.0))
    cx, cy = ax + t * dx, ay + t * dy
    return float(np.min(np.hypot(px - cx, py - cy)))


@pandas_udf(DoubleType())
def point_polyline_dist(px: pd.Series, py: pd.Series, xs: pd.Series, ys: pd.Series) -> pd.Series:
    """Exact planar point→linestring distance, one row at a time: the
    Arrow-kernel oracle for conflate.point_polyline_dist_native.

    Matches shapely's Point.distance(LineString) on projected coordinates
    (conflator.py:500-521).
    """
    out = np.empty(len(px), dtype=np.float64)
    pxv, pyv = px.to_numpy(np.float64), py.to_numpy(np.float64)
    for i in range(len(px)):
        x = np.asarray(xs.iat[i], dtype=np.float64)
        y = np.asarray(ys.iat[i], dtype=np.float64)
        out[i] = _seg_dist(pxv[i], pyv[i], x, y) if len(x) else np.inf
    return pd.Series(out)
