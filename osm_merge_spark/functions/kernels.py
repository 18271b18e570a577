"""Arrow-vectorized geometry kernels (pandas UDFs) — the only Python in the
hot path, and only for semantics Catalyst cannot express.

NumPy-only (no shapely/geos on executors). Each kernel is batch-vectorized:
the Python interpreter is entered once per Arrow batch (10k rows), and the
inner math is NumPy over either all points (fixed-polygon PIP) or all
segments of one geometry (per-row loop, vectorized inner).

Reference parity:
  - ray-cast point-in-polygon  → shapely contains/intersects
    (osm_merge/geosupport.py:201-224, utilities/osmhighways.py:243-253)
  - polygon intersection area  → ST_Area(ST_Intersection(...))
    (osm_merge/conflateBuildings.py:110)
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, DoubleType


# ---------------------------------------------------------------------------
# Ray-cast point-in-polygon
# ---------------------------------------------------------------------------
def _raycast(px: np.ndarray, py: np.ndarray, rx: np.ndarray, ry: np.ndarray) -> np.ndarray:
    """Odd-even ray cast: vector over points, loop over edges.

    Points exactly on an edge follow the half-open convention (stable,
    deterministic — documented divergence from shapely's boundary handling,
    irrelevant off-boundary).
    """
    inside = np.zeros(px.shape, dtype=bool)
    n = len(rx)
    j = n - 1
    for i in range(n):
        xi, yi, xj, yj = rx[i], ry[i], rx[j], ry[j]
        crosses = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= crosses & (px < xint)
        j = i
    return inside


def _split_rings(rx: np.ndarray, ry: np.ndarray) -> list[tuple[np.ndarray, np.ndarray]]:
    """Split a NaN-separated packed polygon into its rings (outer first,
    then holes — sources/geojson._flatten's layout). Hole-free input comes
    back as a single ring. Per-ring closing duplicates are stripped (the
    ray cast's wrap edge supplies closure)."""
    if not np.isnan(rx).any():
        rings = [(rx, ry)]
    else:
        cuts = np.flatnonzero(np.isnan(rx))
        rings = []
        start = 0
        for c in [*cuts.tolist(), len(rx)]:
            if c > start:
                rings.append((rx[start:c], ry[start:c]))
            start = c + 1
    out = []
    for qx, qy in rings:
        if len(qx) >= 2 and qx[0] == qx[-1] and qy[0] == qy[-1]:
            qx, qy = qx[:-1], qy[:-1]
        out.append((qx, qy))
    return out


def point_in_polygon_udf(ring_x: Sequence[float], ring_y: Sequence[float]):
    """PIP against ONE fixed polygon (AOI clip, F6/J8) — NaN-separated
    interior rings supported (even-odd parity).

    The ring is closed over in the UDF (broadcast with the serialized
    function — tiny), so the hot loop is pure NumPy over the whole Arrow
    batch of points at once.
    """
    rx = np.asarray(ring_x, dtype=np.float64)
    ry = np.asarray(ring_y, dtype=np.float64)
    rings = _split_rings(rx, ry)

    @pandas_udf(BooleanType())
    def _pip(px: pd.Series, py: pd.Series) -> pd.Series:
        pxv, pyv = px.to_numpy(np.float64), py.to_numpy(np.float64)
        inside = np.zeros(pxv.shape, dtype=bool)
        for qx, qy in rings:
            if len(qx) >= 3:
                inside ^= _raycast(pxv, pyv, qx, qy)
        return pd.Series(inside)

    return _pip


def pip_batch(pxv: np.ndarray, pyv: np.ndarray, rxs, rys) -> np.ndarray:
    """Vectorized per-row-polygon PIP: even-odd parity over ALL edges of
    every row's rings in ONE flattened pass (no Python per row). Identical
    semantics to the per-row loop it replaced (tests/ref_kernels.py) — NaN
    ring separators, closing-duplicate stripping, <3-vertex rings ignored,
    per-edge math in the same expression form
    (xint = (xj−xi)·(py−yi)/(yj−yi)+xi) — property-tested equal.
    Total-crossing parity per row == XOR of per-ring parities, so
    one bincount replaces the ring loop."""
    n = len(pxv)
    if n == 0:
        return np.zeros(0, dtype=bool)
    lens = np.fromiter((len(a) for a in rxs), dtype=np.int64, count=n)
    if lens.sum() == 0:
        return np.zeros(n, dtype=bool)
    X = np.concatenate([np.asarray(a, np.float64) for a in rxs])
    Y = np.concatenate([np.asarray(a, np.float64) for a in rys])
    row = np.repeat(np.arange(n, dtype=np.int64), lens)
    nan = np.isnan(X)
    # ring id: a ring starts at a row boundary or right after a NaN
    first = np.ones(len(X), dtype=bool)
    first[1:] = (row[1:] != row[:-1]) | nan[:-1]
    rid = np.cumsum(first) - 1
    keep = ~nan
    X, Y, row, rid = X[keep], Y[keep], row[keep], rid[keep]
    if len(X) == 0:
        return np.zeros(n, dtype=bool)
    # compact ring ids to contiguous runs, get per-ring spans
    start = np.ones(len(X), dtype=bool)
    start[1:] = rid[1:] != rid[:-1]
    rid = np.cumsum(start) - 1
    starts = np.flatnonzero(start)
    ends = np.append(starts[1:], len(X)) - 1
    rl = ends - starts + 1
    # strip per-ring closing duplicate (wrap edge supplies closure)
    dup = (rl >= 2) & (X[ends] == X[starts]) & (Y[ends] == Y[starts])
    drop = np.zeros(len(X), dtype=bool)
    drop[ends[dup]] = True
    rl = rl - dup.astype(np.int64)
    # drop rings that are no longer simple polygons (<3 vertices)
    small = rl < 3
    if small.any():
        drop |= small[rid]
    if drop.any():
        keep = ~drop
        X, Y, row, rid = X[keep], Y[keep], row[keep], rid[keep]
        if len(X) == 0:
            return np.zeros(n, dtype=bool)
        start = np.ones(len(X), dtype=bool)
        start[1:] = rid[1:] != rid[:-1]
        rid = np.cumsum(start) - 1
        starts = np.flatnonzero(start)
        ends = np.append(starts[1:], len(X)) - 1
    # edge (i → j): j is the previous vertex, wrapping to the ring's end
    j = np.arange(len(X), dtype=np.int64) - 1
    j[starts] = ends
    Xi, Yi, Xj, Yj = X, Y, X[j], Y[j]
    P, Q = pxv[row], pyv[row]
    cond = (Yi > Q) != (Yj > Q)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (Xj - Xi) * (Q - Yi) / (Yj - Yi) + Xi
    cross = cond & (P < xint)
    counts = np.bincount(row[cross], minlength=n)
    return (counts & 1).astype(bool)


@pandas_udf(BooleanType())
def point_in_ring(px: pd.Series, py: pd.Series, rxs: pd.Series, rys: pd.Series) -> pd.Series:
    """PIP where the polygon varies per row (post-cell-join PIP refine, J8);
    NaN-separated interior rings supported (even-odd parity). One
    vectorized pass over the batch's flattened edges (pip_batch) — the
    original Python row loop measured 100 s on pip_join's 33M candidates
    at sf0.1; the batch kernel removes the per-row interpreter cost."""
    return pd.Series(
        pip_batch(px.to_numpy(np.float64), py.to_numpy(np.float64),
                  list(rxs), list(rys))
    )


# ---------------------------------------------------------------------------
# Polygon ∩ polygon area (Sutherland–Hodgman; clip polygon must be convex)
# ---------------------------------------------------------------------------
def _shoelace(xs: np.ndarray, ys: np.ndarray) -> float:
    return 0.5 * abs(float(np.dot(xs, np.roll(ys, -1)) - np.dot(ys, np.roll(xs, -1))))


def _clip_poly(sx: np.ndarray, sy: np.ndarray, cx: np.ndarray, cy: np.ndarray):
    """Sutherland–Hodgman: clip subject (sx,sy) by CONVEX clip (cx,cy)."""
    # ensure clip ring is counter-clockwise
    if (np.dot(cx, np.roll(cy, -1)) - np.dot(cy, np.roll(cx, -1))) < 0:
        cx, cy = cx[::-1], cy[::-1]
    ox, oy = list(sx), list(sy)
    n = len(cx)
    for i in range(n):
        ex1, ey1 = cx[i], cy[i]
        ex2, ey2 = cx[(i + 1) % n], cy[(i + 1) % n]
        ix, iy = ox, oy
        ox, oy = [], []
        m = len(ix)
        for j in range(m):
            x1, y1 = ix[j], iy[j]
            x2, y2 = ix[(j + 1) % m], iy[(j + 1) % m]
            in1 = (ex2 - ex1) * (y1 - ey1) - (ey2 - ey1) * (x1 - ex1) >= 0
            in2 = (ex2 - ex1) * (y2 - ey1) - (ey2 - ey1) * (x2 - ex1) >= 0
            if in1 != in2:
                d = (ex2 - ex1) * (y2 - y1) - (ey2 - ey1) * (x2 - x1)
                if d != 0:
                    t = ((ex2 - ex1) * (y2 - ey1) - (ey2 - ey1) * (x2 - ex1)) / d
                    ox.append(x2 + t * (x1 - x2))
                    oy.append(y2 + t * (y1 - y2))
            if in2:
                ox.append(x2)
                oy.append(y2)
        if not ox:
            return None
    return np.asarray(ox), np.asarray(oy)


def _rect_bounds_batch(cols: list, n: int):
    """Detect axis-aligned rectangle rings across a batch. Returns
    (ok, xmin, xmax) — ok[i] iff row i is a 4-vertex (after closing
    duplicate) ring whose consecutive edges are axis-aligned and
    alternate axes (excludes bowtie orderings). Grouped by ring length so
    every check is one 2-D numpy op; rows of other lengths just fail."""
    lens = np.fromiter((len(a) for a in cols), dtype=np.int64, count=n)
    ok = np.zeros(n, dtype=bool)
    lo = np.zeros(n, dtype=np.float64)
    hi = np.zeros(n, dtype=np.float64)
    quads = np.zeros((n, 4), dtype=np.float64)
    for ln in (4, 5):
        idx = np.flatnonzero(lens == ln)
        if len(idx) == 0:
            continue
        mat = np.array([np.asarray(cols[i], np.float64) for i in idx])
        good = np.ones(len(idx), dtype=bool)
        if ln == 5:
            good &= mat[:, 0] == mat[:, 4]
            mat = mat[:, :4]
        quads[idx] = mat
        ok[idx] = good
        lo[idx] = mat.min(axis=1)
        hi[idx] = mat.max(axis=1)
    return ok, lo, hi, quads


def _rects_batch(xs, ys, n: int):
    """(ok, xmin, ymin, xmax, ymax) for rows that are axis-aligned
    rectangle rings in both coordinates."""
    okx, xmin, xmax, qx = _rect_bounds_batch(xs, n)
    oky, ymin, ymax, qy = _rect_bounds_batch(ys, n)
    ok = okx & oky
    if ok.any():
        # consecutive edges axis-aligned AND alternating (no bowties):
        # each edge holds exactly one coordinate constant
        ex = qx == np.roll(qx, -1, axis=1)
        ey = qy == np.roll(qy, -1, axis=1)
        ok &= (ex ^ ey).all(axis=1)
        ok &= (ex[:, 0] != ex[:, 1]) & (ex[:, 1] != ex[:, 2])
    return ok, xmin, ymin, xmax, ymax


@pandas_udf(DoubleType())
def polygon_intersection_area(
    xs1: pd.Series, ys1: pd.Series, xs2: pd.Series, ys2: pd.Series
) -> pd.Series:
    """Area of polygon1 ∩ polygon2 (A4; conflateBuildings.py:110).

    Exact when polygon2 (the clip side) is convex — building footprints in
    the dedupe path; concave clip sides would need a general clipper and are
    flagged by tests.

    Axis-aligned rectangle pairs (the dominant footprint shape) take a
    fully vectorized closed-form path — w·h of the bbox overlap, the same
    formula the DuckDB oracle uses — detected by a strict ring-shape guard
    (4 vertices, axis-aligned alternating edges); everything else falls to
    the general Sutherland–Hodgman row loop. The row loop alone measured
    ~30 s on building_pairs' 1.5M pairs at sf0.1."""
    n = len(xs1)
    X1, Y1 = list(xs1), list(ys1)
    X2, Y2 = list(xs2), list(ys2)
    out = np.zeros(n, dtype=np.float64)
    ok1, ax0, ay0, ax1, ay1 = _rects_batch(X1, Y1, n)
    ok2, bx0, by0, bx1, by1 = _rects_batch(X2, Y2, n)
    fast = ok1 & ok2
    if fast.any():
        w = np.minimum(ax1, bx1) - np.maximum(ax0, bx0)
        h = np.minimum(ay1, by1) - np.maximum(ay0, by0)
        out[fast] = (np.maximum(w, 0.0) * np.maximum(h, 0.0))[fast]
    for i in np.flatnonzero(~fast):
        sx = np.asarray(xs1.iat[i], dtype=np.float64)
        sy = np.asarray(ys1.iat[i], dtype=np.float64)
        cx = np.asarray(xs2.iat[i], dtype=np.float64)
        cy = np.asarray(ys2.iat[i], dtype=np.float64)
        if len(sx) >= 3 and len(cx) >= 3:
            if sx[0] == sx[-1] and sy[0] == sy[-1]:
                sx, sy = sx[:-1], sy[:-1]
            if cx[0] == cx[-1] and cy[0] == cy[-1]:
                cx, cy = cx[:-1], cy[:-1]
            # translate to a local origin: geometry extents (~1e-4°) are
            # tiny vs coordinate magnitude (~1e2°) — clipping in absolute
            # coords loses ~6 digits to cancellation. Nearby-double
            # subtraction is exact (Sterbenz), so this costs nothing.
            x0, y0 = sx[0], sy[0]
            clipped = _clip_poly(sx - x0, sy - y0, cx - x0, cy - y0)
            if clipped is not None and len(clipped[0]) >= 3:
                out[i] = _shoelace(clipped[0], clipped[1])
    return pd.Series(out)
