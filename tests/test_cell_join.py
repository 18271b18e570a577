"""cell_pairs against NumPy brute force on geometry that stresses the grid:
points on cell edges and corners, long diagonal lines, two-part lines
split by explode_parts, and squares."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_merge_spark.functions.cells import CellGrid
from osm_merge_spark.operators.cell_join import cell_pairs, covering_cells
from osm_merge_spark.operators.multipart import explode_parts

RES = 0.01
GRID = CellGrid(res_deg=RES)
X0, Y0 = 10.0, 45.0  # fixture origin: cell corners at X0 + k·RES


@pytest.fixture(scope="module")
def fixture(spark):
    rng = np.random.default_rng(7)
    # corners and edge midpoints of a 6×6 block of cells, nudged ±1e-12°
    # to either side of the boundary, plus one partner per anchor at a
    # random direction and a distance under one cell edge
    ks = np.arange(6)
    anchors = [(X0 + i * RES, Y0 + j * RES) for i in ks for j in ks]
    anchors += [(X0 + (i + 0.5) * RES, Y0 + j * RES) for i in ks for j in ks]
    pts = []
    for x, y in anchors:
        x += rng.choice([-1e-12, 0.0, 1e-12])
        y += rng.choice([-1e-12, 0.0, 1e-12])
        pts.append((x, y))
        ang, r = rng.uniform(0, 2 * np.pi), rng.uniform(0.5, 0.99) * RES
        pts.append((x + r * np.cos(ang), y + r * np.sin(ang)))
    pts += [(X0 + rng.uniform(0, 6 * RES), Y0 + rng.uniform(0, 6 * RES))
            for _ in range(60)]
    points = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]

    geoms = []  # (geom_id, xs, ys) — NaN separates the parts of a two-part line
    for g in range(6):  # long diagonal lines across the block
        t = np.linspace(0.0, 1.0, 4)
        x0, y0 = X0 + rng.uniform(-RES, RES), Y0 + rng.uniform(-RES, RES)
        dx, dy = rng.uniform(3, 6) * RES, rng.uniform(2, 6) * RES * rng.choice([-1, 1])
        geoms.append((g, list(x0 + t * dx), list(y0 + t * dy)))
    for g in range(6, 10):  # two-part lines
        ax, ay = X0 + rng.uniform(0, 5 * RES), Y0 + rng.uniform(0, 5 * RES)
        bx, by = X0 + rng.uniform(0, 5 * RES), Y0 + rng.uniform(0, 5 * RES)
        geoms.append((g, [ax, ax + 0.8 * RES, float("nan"), bx, bx + 1.5 * RES],
                      [ay, ay + 2.2 * RES, float("nan"), by, by - 0.4 * RES]))
    for g in range(10, 22):  # squares (closed rings), some on cell corners
        cx = X0 + (rng.integers(0, 6) if g % 2 else rng.uniform(0, 6)) * RES
        cy = Y0 + (rng.integers(0, 6) if g % 2 else rng.uniform(0, 6)) * RES
        h = rng.uniform(0.2, 1.2) * RES
        geoms.append((g, [cx - h, cx + h, cx + h, cx - h, cx - h],
                      [cy - h, cy - h, cy + h, cy + h, cy - h]))
    geoms = [(g, [float(v) for v in xs], [float(v) for v in ys]) for g, xs, ys in geoms]

    pdf = spark.createDataFrame(points, "pid long, lon double, lat double")
    gdf = explode_parts(spark.createDataFrame(
        geoms, "gid long, xs array<double>, ys array<double>"))
    parts = [(r.gid, r.part_idx, list(r.xs), list(r.ys)) for r in gdf.collect()]
    assert len(parts) == len(geoms) + 4  # the two-part lines split
    return pdf, gdf, points, parts


def _seg_dist(px, py, xs, ys):
    """Euclidean point→polyline distance in degrees."""
    ax, ay, bx, by = xs[:-1], ys[:-1], xs[1:], ys[1:]
    dx, dy = bx - ax, by - ay
    seg2 = dx * dx + dy * dy
    t = np.where(seg2 == 0, 0.0,
                 np.clip(((px - ax) * dx + (py - ay) * dy) / np.where(seg2 == 0, 1, seg2), 0, 1))
    return float(np.min(np.hypot(px - ax - t * dx, py - ay - t * dy)))


def _pair_counts(df, *keys):
    return Counter(tuple(r) for r in df.select(*keys).collect())


def test_point_point_pairs_within_one_edge(spark, fixture):
    pdf, _, points, _ = fixture
    b = pdf.select(F.col("pid").alias("qid"), F.col("lon").alias("qlon"),
                   F.col("lat").alias("qlat"))
    got = _pair_counts(cell_pairs(
        pdf, b, GRID.ring1(GRID.encode(F.col("lon"), F.col("lat"))),
        GRID.encode(F.col("qlon"), F.col("qlat")),
    ), "pid", "qid")
    assert max(got.values()) == 1  # no pair twice
    want = {
        (i, j) for i, xi, yi in points for j, xj, yj in points
        if max(abs(xi - xj), abs(yi - yj)) < 0.999 * RES
    }
    assert want and want <= set(got), sorted(want - set(got))[:5]


def test_point_line_pairs_within_one_edge(spark, fixture):
    pdf, gdf, points, parts = fixture
    got = _pair_counts(cell_pairs(
        pdf, gdf, GRID.encode(F.col("lon"), F.col("lat")),
        GRID.ring1_union(covering_cells(F.col("xs"), F.col("ys"), GRID)),
    ), "pid", "gid", "part_idx")
    assert max(got.values()) == 1  # no pair twice
    # covering_cells samples every segment at half-cell spacing, so any
    # point within 0.75 cell edge of the line shares a ring-1 cell with it
    want = {
        (i, g, k) for i, x, y in points for g, k, xs, ys in parts
        if _seg_dist(x, y, np.array(xs), np.array(ys)) < 0.7 * RES
    }
    assert want and want <= set(got), sorted(want - set(got))[:5]


def test_geometry_pairs_are_exactly_the_intersecting_cover_sets(spark, fixture):
    _, gdf, _, _ = fixture
    cov = gdf.select(F.struct("gid", "part_idx").alias("k"), "xs", "ys",
                     covering_cells(F.col("xs"), F.col("ys"), GRID).alias("cells"))
    covers = {tuple(r.k): set(r.cells) for r in cov.collect()}
    b = gdf.select(F.struct("gid", "part_idx").alias("k2"),
                   F.col("xs").alias("xs2"), F.col("ys").alias("ys2"))
    pairs = cell_pairs(
        gdf.select(F.struct("gid", "part_idx").alias("k1"), "xs", "ys"), b,
        covering_cells(F.col("xs"), F.col("ys"), GRID),
        covering_cells(F.col("xs2"), F.col("ys2"), GRID),
    )
    got = Counter((tuple(r.k1), tuple(r.k2)) for r in pairs.collect())
    assert max(got.values()) == 1  # no pair twice, though most share many cells
    want = {(a, b) for a in covers for b in covers if covers[a] & covers[b]}
    assert set(got) == want
    assert sum(len(covers[a] & covers[b]) > 1 for a, b in want) > 10
