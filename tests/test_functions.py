"""Unit tests for the kernel layer: geo math, cell grid, hashing, fuzzy
ratio, PIP, point→polyline distance, polygon intersection area.

Oracles: closed-form known values, plain-Python reference implementations,
and DuckDB cross-checks for every formula that feeds an oracle_sql().
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from osm_merge_spark.functions import cells, fuzzy, geo, hashes, kernels
from ref_kernels import _pip_rowloop, pip_oracle, point_polyline_dist


# ---------------------------------------------------------------------- geo
def test_haversine_known_pairs(spark):
    # Paris (2.3522,48.8566) ↔ London (-0.1276,51.5072) ≈ 343.5 km
    df = spark.createDataFrame([Row(lon1=2.3522, lat1=48.8566, lon2=-0.1276, lat2=51.5072)])
    d = df.select(geo.haversine_m(F.col("lon1"), F.col("lat1"),
                                  F.col("lon2"), F.col("lat2")).alias("d")).first()["d"]
    assert abs(d - 343_500) < 1_500
    # zero distance
    df0 = spark.createDataFrame([Row(lon1=10.0, lat1=10.0, lon2=10.0, lat2=10.0)])
    assert df0.select(geo.haversine_m(F.col("lon1"), F.col("lat1"),
                                      F.col("lon2"), F.col("lat2")).alias("d")).first()["d"] == 0.0


def test_haversine_matches_duckdb_sql(spark):
    rows = [Row(lon1=float(i) / 7, lat1=float(i) / 11, lon2=float(i) / 5 + 1, lat2=float(i) / 13 - 2)
            for i in range(50)]
    df = spark.createDataFrame(rows)
    got = [r["d"] for r in df.select(
        F.round(geo.haversine_m(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")), 6).alias("d")
    ).collect()]
    con = duckdb.connect()
    sql = geo.haversine_m_sql("lon1", "lat1", "lon2", "lat2")
    want = [con.execute(f"SELECT round({sql}, 6) FROM (SELECT {r.lon1} lon1, {r.lat1} lat1, {r.lon2} lon2, {r.lat2} lat2)").fetchone()[0]
            for r in rows]
    assert got == pytest.approx(want, abs=1e-6)


def test_mercator_roundtrip_known(spark):
    df = spark.createDataFrame([Row(lon=180.0, lat=0.0)])
    r = df.select(geo.mercator_x(F.col("lon")).alias("x"), geo.mercator_y(F.col("lat")).alias("y")).first()
    assert abs(r["x"] - math.pi * geo.WEB_MERCATOR_R) < 1e-6
    assert abs(r["y"]) < 1e-9


def test_slope_angle(spark):
    # line1 45° (slope 1), line2 flat (slope 0) → angle = degrees(atan(-1/(1+0))) = -45
    df = spark.createDataFrame([Row(xs1=[0.0, 1.0], ys1=[0.0, 1.0], xs2=[0.0, 1.0], ys2=[0.0, 0.0])])
    s1 = geo.line_slope(F.col("xs1"), F.col("ys1"))
    s2 = geo.line_slope(F.col("xs2"), F.col("ys2"))
    r = df.select(s1.alias("s1"), s2.alias("s2"), geo.angle_between(s1, s2).alias("a")).first()
    assert r["s1"] == 1.0 and r["s2"] == 0.0
    assert abs(r["a"] + 45.0) < 1e-9


# -------------------------------------------------------------------- cells
def test_cell_grid_ring_covers_radius(spark):
    grid = cells.CellGrid.for_radius(100.0)
    # any two points within 100 m must share a cell within the 3x3 ring
    rng = np.random.default_rng(7)
    lons = rng.uniform(-120, -100, 200)
    lats = rng.uniform(30, 48, 200)
    # jitter second point by < 100 m
    dlat = rng.uniform(-0.0008, 0.0008, 200)
    dlon = rng.uniform(-0.0008, 0.0008, 200)
    df = spark.createDataFrame(
        [Row(lon=float(a), lat=float(b), lon2=float(a + c), lat2=float(b + d))
         for a, b, c, d in zip(lons, lats, dlon, dlat)])
    enc = grid.encode(F.col("lon"), F.col("lat"))
    enc2 = grid.encode(F.col("lon2"), F.col("lat2"))
    out = df.select(
        geo.haversine_m(F.col("lon"), F.col("lat"), F.col("lon2"), F.col("lat2")).alias("d"),
        F.array_contains(grid.ring1(enc), enc2).alias("covered")).collect()
    for r in out:
        if r["d"] <= 100.0:
            assert r["covered"], f"pair at {r['d']}m not covered by ring1"


def test_cell_encode_matches_duckdb(spark):
    grid = cells.CellGrid(0.0015)
    df = spark.createDataFrame([Row(lon=-110.123456 + i * 0.37, lat=40.5 - i * 0.21) for i in range(40)])
    got = [r["c"] for r in df.select(grid.encode(F.col("lon"), F.col("lat")).alias("c")).collect()]
    con = duckdb.connect()
    want = [con.execute(
        f"SELECT {grid.encode_sql('lon', 'lat')} FROM (SELECT {-110.123456 + i * 0.37} lon, {40.5 - i * 0.21} lat)"
    ).fetchone()[0] for i in range(40)]
    assert got == want


def test_tile_grid_matches_duckdb(spark):
    tg = cells.TileGrid(50_000.0)
    pts = [(-110.0 + i * 1.7, -60.0 + i * 2.9) for i in range(40)]
    df = spark.createDataFrame([Row(lon=a, lat=b) for a, b in pts])
    got = [r["t"] for r in df.select(tg.tile_id(F.col("lon"), F.col("lat")).alias("t")).collect()]
    con = duckdb.connect()
    want = [con.execute(f"SELECT {tg.tile_id_sql('lon', 'lat')} FROM (SELECT {a} lon, {b} lat)").fetchone()[0]
            for a, b in pts]
    assert got == want


# ------------------------------------------------------------------- hashes
def test_md5i_matches_duckdb(spark):
    vals = ["", "a", "hello world", "osm-merge", "123", "ünïcodé"]
    df = spark.createDataFrame([Row(s=v) for v in vals])
    got = [r["h"] for r in df.select(hashes.md5i(F.col("s")).alias("h")).collect()]
    con = duckdb.connect()
    want = [con.execute(f"SELECT {hashes.md5i_sql('s')} FROM (SELECT ? AS s)", [v]).fetchone()[0]
            for v in vals]
    assert got == want


# -------------------------------------------------------------------- fuzzy
def test_indel_ratio_exact_semantics(spark):
    cases = [("Cedar Lake Road", "Cedar Lake Road"),
             ("Cedar Lake Road", "Cedar Lk Rd"),
             ("Main Street", "Maine Street"),
             ("abc", "xyz"), ("", ""), ("a", ""),
             ("FR 123.1A", "FS 123.1a")]
    for a, b in cases:
        assert fuzzy._indel_ratio_py(a, b) == pytest.approx(fuzzy.indel_ratio_oracle(a, b))
    df = spark.createDataFrame([Row(a=a, b=b) for a, b in cases])
    got = [r["r"] for r in df.select(fuzzy.ratio_indel(F.col("a"), F.col("b")).alias("r")).collect()]
    want = [fuzzy.indel_ratio_oracle(a, b) for a, b in cases]
    assert got == pytest.approx(want)


def test_indel_ratio_random_vs_oracle():
    rng = np.random.default_rng(11)
    alpha = list("abcdef ")
    for _ in range(200):
        a = "".join(rng.choice(alpha, rng.integers(0, 15)))
        b = "".join(rng.choice(alpha, rng.integers(0, 15)))
        assert fuzzy._indel_ratio_py(a, b) == pytest.approx(fuzzy.indel_ratio_oracle(a, b)), (a, b)


def test_ratio_lev_matches_duckdb(spark):
    cases = [("Cedar Lake Road", "Cedar Lk Rd"), ("Main St", "Main Street"), ("x", "x")]
    df = spark.createDataFrame([Row(a=a, b=b) for a, b in cases])
    got = [r["r"] for r in df.select(F.round(fuzzy.ratio_lev(F.col("a"), F.col("b")), 6).alias("r")).collect()]
    con = duckdb.connect()
    want = [con.execute(f"SELECT round({fuzzy.ratio_lev_sql('a', 'b')}, 6) FROM (SELECT ? a, ? b)", [a, b]).fetchone()[0]
            for a, b in cases]
    assert got == pytest.approx(want)


# ------------------------------------------------------------------ kernels
HEX_RING = [(math.cos(t) * 10, math.sin(t) * 10) for t in
            [i * math.pi / 3 for i in range(6)]]


def test_pip_fixed_polygon(spark):
    rng = np.random.default_rng(3)
    pts = [(float(x), float(y)) for x, y in rng.uniform(-12, 12, (300, 2))]
    df = spark.createDataFrame([Row(px=x, py=y) for x, y in pts])
    udf = kernels.point_in_polygon_udf([p[0] for p in HEX_RING], [p[1] for p in HEX_RING])
    got = {(r["px"], r["py"]): r["inside"]
           for r in df.select("px", "py", udf(F.col("px"), F.col("py")).alias("inside")).collect()}
    for x, y in pts:
        assert got[(x, y)] == pip_oracle(x, y, HEX_RING), (x, y)


def test_pip_per_row(spark):
    rows = [Row(px=0.0, py=0.0, rxs=[p[0] for p in HEX_RING], rys=[p[1] for p in HEX_RING]),
            Row(px=11.0, py=0.0, rxs=[p[0] for p in HEX_RING], rys=[p[1] for p in HEX_RING]),
            Row(px=0.5, py=0.5, rxs=[0.0, 1.0, 1.0, 0.0], rys=[0.0, 0.0, 1.0, 1.0])]
    df = spark.createDataFrame(rows)
    out = df.select(kernels.point_in_ring(F.col("px"), F.col("py"),
                                          F.col("rxs"), F.col("rys")).alias("i")).collect()
    assert [r["i"] for r in out] == [True, False, True]


def test_point_polyline_dist(spark):
    rows = [Row(px=0.0, py=1.0, xs=[-1.0, 1.0], ys=[0.0, 0.0]),     # → 1.0
            Row(px=5.0, py=0.0, xs=[-1.0, 1.0], ys=[0.0, 0.0]),     # beyond end → 4.0
            Row(px=0.0, py=0.0, xs=[0.0, 0.0], ys=[0.0, 0.0]),      # degenerate → 0
            Row(px=2.0, py=2.0, xs=[0.0, 4.0, 4.0], ys=[0.0, 0.0, 4.0])]  # → 2.0
    df = spark.createDataFrame(rows)
    got = [r["d"] for r in df.select(point_polyline_dist(
        F.col("px"), F.col("py"), F.col("xs"), F.col("ys")).alias("d")).collect()]
    assert got == pytest.approx([1.0, 4.0, 0.0, 2.0])


def test_polygon_intersection_area(spark):
    # unit square ∩ unit square shifted by 0.5 → 0.25
    sq = ([0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0])
    sq2 = ([0.5, 1.5, 1.5, 0.5], [0.5, 0.5, 1.5, 1.5])
    far = ([10.0, 11.0, 11.0, 10.0], [0.0, 0.0, 1.0, 1.0])
    rows = [Row(xs1=sq[0], ys1=sq[1], xs2=sq2[0], ys2=sq2[1]),
            Row(xs1=sq[0], ys1=sq[1], xs2=sq[0], ys2=sq[1]),
            Row(xs1=sq[0], ys1=sq[1], xs2=far[0], ys2=far[1])]
    df = spark.createDataFrame(rows)
    got = [r["a"] for r in df.select(kernels.polygon_intersection_area(
        F.col("xs1"), F.col("ys1"), F.col("xs2"), F.col("ys2")).alias("a")).collect()]
    assert got == pytest.approx([0.25, 1.0, 0.0])


def test_point_polyline_dist_native_matches_arrow_kernel(spark):
    """The codegen'd polyline distance must agree with the Arrow kernel
    (which is itself oracle-tested) to float precision."""
    import random

    from pyspark.sql import functions as F

    from osm_merge_spark.operators.conflate import point_polyline_dist_native

    random.seed(7)
    rows = []
    for i in range(300):
        npts = random.choice([1, 2, 3, 5])
        xs = [random.uniform(-100, 100) for _ in range(npts)]
        ys = [random.uniform(-100, 100) for _ in range(npts)]
        rows.append((random.uniform(-100, 100), random.uniform(-100, 100), xs, ys))
    df = spark.createDataFrame(rows, ["px", "py", "xs", "ys"])
    out = df.select(
        point_polyline_dist_native(F.col("px"), F.col("py"), F.col("xs"), F.col("ys")).alias("nat"),
        point_polyline_dist(F.col("px"), F.col("py"), F.col("xs"), F.col("ys")).alias("udf"),
    ).collect()
    for r in out:
        assert abs(r.nat - r.udf) <= 1e-9 * max(1.0, abs(r.udf)), (r.nat, r.udf)


def test_pip_batch_equals_rowloop_on_random_polygons():
    """The vectorized flattened-edge PIP (pip_batch) is row-for-row equal
    to the reference row loop across empties, degenerates, closing
    duplicates, NaN-holed polygons, and random jumbles."""
    import numpy as np

    from osm_merge_spark.functions.kernels import pip_batch

    rng = np.random.RandomState(7)
    for _trial in range(60):
        n = rng.randint(1, 40)
        rxs, rys = [], []
        for _ in range(n):
            kind = rng.randint(0, 6)
            if kind == 0:
                rx, ry = np.array([]), np.array([])
            elif kind == 1:
                rx, ry = rng.rand(2), rng.rand(2)
            elif kind in (2, 3):
                m = rng.randint(3, 9)
                ang = np.sort(rng.rand(m)) * 2 * np.pi
                rx, ry = 0.5 + 0.4 * np.cos(ang), 0.5 + 0.4 * np.sin(ang)
                if kind == 3:  # closing duplicate
                    rx, ry = np.append(rx, rx[0]), np.append(ry, ry[0])
            elif kind == 4:  # holed polygon, NaN separated
                rx = np.concatenate([[0, 1, 1, 0], [np.nan], [0.3, 0.7, 0.7, 0.3]])
                ry = np.concatenate([[0, 0, 1, 1], [np.nan], [0.3, 0.3, 0.7, 0.7]])
            else:
                m = rng.randint(3, 10)
                rx, ry = rng.rand(m), rng.rand(m)
            rxs.append(rx)
            rys.append(ry)
        px, py = rng.rand(n), rng.rand(n)
        got = pip_batch(px, py, rxs, rys)
        ref = _pip_rowloop(px, py, rxs, rys)
        assert (got == ref).all()


def test_polygon_area_rect_fast_path_equals_clip_loop():
    """The vectorized rectangle closed form agrees with the general
    Sutherland–Hodgman loop on rect×rect (open/closed/reversed rings,
    disjoint), and non-rectangles — pentagons, triangles, bowtie
    orderings — correctly fall through to the loop."""
    import numpy as np
    import pandas as pd

    from osm_merge_spark.functions import kernels as K

    def rect(x0, y0, w, h, closed=True, reverse=False):
        xs = np.array([x0, x0 + w, x0 + w, x0])
        ys = np.array([y0, y0, y0 + h, y0 + h])
        if reverse:
            xs, ys = xs[::-1], ys[::-1]
        if closed:
            xs, ys = np.append(xs, xs[0]), np.append(ys, ys[0])
        return xs, ys

    def loop_area(sx, sy, cx, cy):
        sx, sy = np.asarray(sx, float), np.asarray(sy, float)
        cx, cy = np.asarray(cx, float), np.asarray(cy, float)
        if len(sx) < 3 or len(cx) < 3:
            return 0.0
        if sx[0] == sx[-1] and sy[0] == sy[-1]:
            sx, sy = sx[:-1], sy[:-1]
        if cx[0] == cx[-1] and cy[0] == cy[-1]:
            cx, cy = cx[:-1], cy[:-1]
        c = K._clip_poly(sx - sx[0], sy - sy[0], cx - sx[0], cy - sy[0])
        return 0.0 if c is None or len(c[0]) < 3 else K._shoelace(c[0], c[1])

    rng = np.random.RandomState(11)
    rows = []
    for _ in range(120):
        rows.append((rect(rng.rand(), rng.rand(), 0.3, 0.2,
                          closed=bool(rng.randint(2)),
                          reverse=bool(rng.randint(2))),
                     rect(rng.rand(), rng.rand(), 0.25, 0.35)))
    ang = np.sort(np.linspace(0.1, 6.0, 5))
    rows.append(((0.5 + 0.4 * np.cos(ang), 0.5 + 0.4 * np.sin(ang)),
                 rect(0.3, 0.3, 0.4, 0.4)))
    rows.append(((np.array([0, 1, 0, 1.0]), np.array([0, 0, 1, 1.0])),
                 rect(0.2, 0.2, 0.5, 0.5)))  # bowtie: not a rectangle ring
    rows.append(((np.array([0, 1, 0.5]), np.array([0, 0, 1.0])),
                 rect(0.1, 0.1, 0.6, 0.6)))
    X1 = pd.Series([a[0] for a, _ in rows]); Y1 = pd.Series([a[1] for a, _ in rows])
    X2 = pd.Series([b[0] for _, b in rows]); Y2 = pd.Series([b[1] for _, b in rows])
    got = K.polygon_intersection_area.func(X1, Y1, X2, Y2).to_numpy()
    ref = np.array([loop_area(a[0], a[1], b[0], b[1]) for a, b in rows])
    assert np.abs(got - ref).max() < 1e-12
