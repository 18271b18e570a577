"""Property-based kernel tests (hypothesis): the guarantees the join
architecture rests on.

- cell-join completeness: any two points within the grid's design radius
  land in cells that are ring-1 neighbors (no false negatives ever);
- PIP ray-cast agrees with an independent winding-count implementation on
  arbitrary simple polygons;
- haversine symmetry / identity / triangle-ish sanity;
- batched LCS ratio == reference DP for arbitrary unicode strings.
"""

from __future__ import annotations

import math
import os
import sys

from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_merge_spark.functions.cells import CellGrid
from osm_merge_spark.functions.fuzzy import _indel_ratio_batch, indel_ratio_oracle
from ref_kernels import pip_oracle

LAT_CAP = 70.0


def _cell_xy(grid: CellGrid, lon: float, lat: float) -> tuple[int, int]:
    return (
        math.floor((lon + 180.0) / grid.res_deg),
        math.floor((lat + 90.0) / grid.res_deg),
    )


@settings(max_examples=300, deadline=None)
@given(
    lon=st.floats(-179.0, 179.0),
    lat=st.floats(-LAT_CAP, LAT_CAP),
    bearing=st.floats(0.0, 2.0 * math.pi),
    frac=st.floats(0.0, 1.0),
)
def test_ring1_covers_design_radius(lon, lat, bearing, frac):
    """Any point within radius_m of (lon,lat) must be in the 3×3 ring."""
    radius = 7.0
    grid = CellGrid.for_radius(radius, max_abs_lat=LAT_CAP)
    d = radius * frac
    dlat = d * math.cos(bearing) / 110_574.0
    dlon = d * math.sin(bearing) / (111_320.0 * max(math.cos(math.radians(lat)), 0.2))
    x1, y1 = _cell_xy(grid, lon, lat)
    x2, y2 = _cell_xy(grid, lon + dlon, lat + dlat)
    assert abs(x1 - x2) <= 1 and abs(y1 - y2) <= 1


def _winding_inside(px, py, ring):
    """Independent PIP: winding number via atan2 angle accumulation."""
    total = 0.0
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i][0] - px, ring[i][1] - py
        x2, y2 = ring[(i + 1) % n][0] - px, ring[(i + 1) % n][1] - py
        total += math.atan2(x1 * y2 - y1 * x2, x1 * x2 + y1 * y2)
    return abs(total) > math.pi  # ~2π inside, ~0 outside


@settings(max_examples=200, deadline=None)
@given(
    pts=st.lists(
        st.tuples(st.floats(-10, 10), st.floats(-10, 10)), min_size=3, max_size=8
    ),
    px=st.floats(-12, 12),
    py=st.floats(-12, 12),
)
def test_raycast_matches_winding_on_simple_polygons(pts, px, py):
    # build a simple (star-shaped, non-self-intersecting) polygon by
    # sorting vertices around their centroid
    cx = sum(p[0] for p in pts) / len(pts)
    cy = sum(p[1] for p in pts) / len(pts)
    ring = sorted(pts, key=lambda p: math.atan2(p[1] - cy, p[0] - cx))
    # skip degenerate rings (duplicate angles → zero-area edges)
    angs = [math.atan2(p[1] - cy, p[0] - cx) for p in ring]
    if len(set(angs)) != len(angs):
        return
    # stay away from edges where conventions may differ legitimately
    for i in range(len(ring)):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % len(ring)]
        dx, dy = x2 - x1, y2 - y1
        L2 = dx * dx + dy * dy
        if L2 == 0:
            return
        t = max(0.0, min(1.0, ((px - x1) * dx + (py - y1) * dy) / L2))
        if math.hypot(px - (x1 + t * dx), py - (y1 + t * dy)) < 1e-6:
            return
    assert pip_oracle(px, py, ring) == _winding_inside(px, py, ring)


@settings(max_examples=300, deadline=None)
@given(
    a=st.text(max_size=25),
    b=st.text(max_size=25),
)
def test_batched_lcs_matches_reference_dp(a, b):
    got = _indel_ratio_batch([a.lower()], [b.lower()])[0]
    exp = indel_ratio_oracle(a, b)
    assert abs(got - exp) < 1e-9


@settings(max_examples=200, deadline=None)
@given(
    lon1=st.floats(-179, 179), lat1=st.floats(-85, 85),
    lon2=st.floats(-179, 179), lat2=st.floats(-85, 85),
)
def test_haversine_symmetry_and_identity(lon1, lat1, lon2, lat2):
    from math import asin, cos, radians, sin, sqrt

    def hav(x1, y1, x2, y2):
        a = (
            sin((radians(y2) - radians(y1)) / 2) ** 2
            + cos(radians(y1)) * cos(radians(y2))
            * sin((radians(x2) - radians(x1)) / 2) ** 2
        )
        return 2 * 6371008.8 * asin(sqrt(a))

    assert hav(lon1, lat1, lon1, lat1) == 0.0
    d12, d21 = hav(lon1, lat1, lon2, lat2), hav(lon2, lat2, lon1, lat1)
    assert abs(d12 - d21) <= 1e-6 * max(1.0, d12)
    assert d12 <= math.pi * 6371008.8 * 1.0000001
