"""Canonical S2 cell ids: independent implementations must agree.

The numpy kernel (behind the engine's Arrow UDFs) uses the C++ library's
4-bit lookup_pos table and discretizes at level 30 then truncates; the
DuckDB CTE chain uses a 2-bit-per-level automaton discretized at the
target level; a test-local scalar reference walks the spec's own tables.
Different tables, different bit schedules — bit-identical ids is strong
evidence all of them implement the published curve.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_merge_spark.functions import s2


def _py_cell(lon: float, lat: float, level: int = 13) -> int:
    """Scalar reference, written directly from the spec (test-local, so a
    regression in the shared STEP table can't hide in both sides)."""
    lo, la = math.radians(lon), math.radians(lat)
    x, y, z = math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo), math.sin(la)
    ax, ay, az = abs(x), abs(y), abs(z)
    axis = (0 if ax > az else 2) if ax > ay else (1 if ay > az else 2)
    face = axis + 3 if [x, y, z][axis] < 0 else axis
    u = [lambda: y / x, lambda: -x / y, lambda: -x / z,
         lambda: z / x, lambda: z / y, lambda: -y / z][face]()
    v = [lambda: z / x, lambda: z / y, lambda: -y / z,
         lambda: y / x, lambda: -x / y, lambda: -x / z][face]()

    def st(w: float) -> float:
        return 0.5 * math.sqrt(1 + 3 * w) if w >= 0 else 1 - 0.5 * math.sqrt(1 - 3 * w)

    lim = 1 << level
    i = max(0, min(lim - 1, int(math.floor(lim * st(u)))))
    j = max(0, min(lim - 1, int(math.floor(lim * st(v)))))
    # inline inverse tables (NOT s2.STEP) — kPosToIJ from the spec
    pos_to_ij = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
    pos_to_orient = (1, 0, 0, 3)
    orient, pos = face & 1, 0
    for k in range(1, level + 1):
        b = level - k
        ij = ((i >> b) & 1) * 2 + ((j >> b) & 1)
        p = pos_to_ij[orient].index(ij)
        pos = pos * 4 + p
        orient ^= pos_to_orient[p]
    sf = face if face < 4 else face - 8
    return sf * (1 << 61) + pos * (1 << (2 * (30 - level) + 1)) + (1 << (2 * (30 - level)))


@pytest.fixture(scope="module")
def pts():
    rng = np.random.default_rng(77)
    n = 4000
    # global sweep + face-boundary/pole stress points
    lon = np.concatenate([
        rng.uniform(-180, 180, n),
        [0.0, 45.0, -45.0, 90.0, 135.0, 179.999, -179.999, 0.0, 0.0],
    ])
    lat = np.concatenate([
        rng.uniform(-89.99, 89.99, n),
        [0.0, 35.26, -35.26, 0.0, 45.0, 0.0, 0.0, 89.999, -89.999],
    ])
    return lon, lat


def test_numpy_matches_scalar_reference(pts):
    lon, lat = pts
    got = s2.s2_cell_numpy(lon, lat, 13)
    want = np.array([_py_cell(a, b, 13) for a, b in zip(lon, lat)])
    assert (got == want).all()


@pytest.mark.parametrize("level", [1, 5, 9, 20, 30])
def test_numpy_matches_scalar_reference_other_levels(pts, level):
    lon, lat = pts
    lon, lat = lon[:300], lat[:300]
    got = s2.s2_cell_numpy(lon, lat, level)
    want = np.array([_py_cell(a, b, level) for a, b in zip(lon, lat)])
    assert (got == want).all()


def test_parent_containment(pts):
    """Truncating a level-13 id to level 12 must equal encoding at 12."""
    lon, lat = pts
    l13 = s2.s2_cell_numpy(lon, lat, 13).astype(np.uint64)
    l12 = s2.s2_cell_numpy(lon, lat, 12).astype(np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (30 - 12))
    assert (((l13 & ~(np.uint64(2) * lsb - np.uint64(1))) | lsb) == l12).all()


def test_id_structure(pts):
    """face bits ∈ 0..5; trailing bit at position 2·(30−13); lower bits 0."""
    lon, lat = pts
    ids = s2.s2_cell_numpy(lon, lat, 13).astype(np.uint64)
    faces = (ids >> np.uint64(61)).astype(int)
    assert faces.min() >= 0 and faces.max() <= 5
    lsb = np.uint64(1) << np.uint64(34)
    assert ((ids & (np.uint64(2) * lsb - np.uint64(1))) == lsb).all()


def test_duckdb_ctes_match_numpy(pts):
    lon, lat = pts
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"pid": range(len(lon)), "lon": lon, "lat": lat}))
    ctes, last = s2.s2_sql_ctes("pts", keep="pid")
    got = (
        con.execute(f"WITH {ctes} SELECT pid, s2_cell FROM {last} ORDER BY pid")
        .df()["s2_cell"].to_numpy()
    )
    assert (got == s2.s2_cell_numpy(lon, lat, 13)).all()


def test_udf_matches_numpy(spark, pts):
    lon, lat = pts
    want = s2.s2_cell_numpy(lon, lat, 13)
    df = spark.createDataFrame(
        pd.DataFrame({"pid": range(len(lon)), "lon": lon, "lat": lat})
    )
    udf = (
        df.select("pid", s2.s2_cell_udf(13)(F.col("lon"), F.col("lat")).alias("c"))
        .toPandas().sort_values("pid")["c"].to_numpy()
    )
    assert (udf == want).all()


def test_token_roundtrip():
    # token = uint64 hex with trailing zeros stripped
    assert s2.s2_token(1 << 34) == "00000004"  # face-0 minimal level-13 id
    cell = s2.s2_cell_numpy([-108.6], [43.7], 13)[0]
    tok = s2.s2_token(int(cell))
    assert int(tok.ljust(16, "0"), 16) == int(cell) & 0xFFFFFFFFFFFFFFFF


def test_ring1_covers_threshold_neighbors(spark):
    """Coverage property behind s2_dist_join: for pairs within 7 m (same
    cube face, level 19), the probe's cell is always among the build
    point's 9 dilated cells."""
    rng = np.random.default_rng(5)
    n = 1500
    lon = rng.uniform(-109.2, -108.2, n)
    lat = rng.uniform(43.4, 44.0, n)
    # offset each point by <7 m in a random direction
    ang = rng.uniform(0, 2 * np.pi, n)
    r = rng.uniform(0, 7.0, n)
    dlat = (r * np.sin(ang)) / 110_574.0
    dlon = (r * np.cos(ang)) / (111_320.0 * np.cos(np.radians(lat)))
    df = spark.createDataFrame(
        pd.DataFrame({"pid": range(n), "lon": lon, "lat": lat,
                      "plon": lon + dlon, "plat": lat + dlat})
    )
    build = df.select(
        "pid",
        F.explode(s2.s2_cells_ring1_udf(19)(F.col("lon"), F.col("lat"))).alias("s2_cell"),
    )
    probe = df.select(
        "pid", s2.s2_cell_udf(19)(F.col("plon"), F.col("plat")).alias("s2_cell")
    )
    hit = (
        probe.join(build, ["pid", "s2_cell"]).select("pid").distinct().count()
    )
    assert hit == n


def test_s2_dist_join_equals_cellgrid_dist_join(spark, sf_dir):
    """The canonical-id join must produce the identical pair set to the
    engine's CellGrid dist_join (same J1 semantics, different index)."""
    from osm_merge_spark.queries.geo import q_dist_join, q_s2_dist_join

    a = q_dist_join(spark, sf_dir).toPandas()
    b = q_s2_dist_join(spark, sf_dir).toPandas()
    key = ["image_id", "feature_id"]
    a = a.sort_values(key, ignore_index=True)
    b = b.sort_values(key, ignore_index=True)
    pd.testing.assert_frame_equal(a, b[a.columns])


def test_s2_dist_join_encodes_probe_once(spark, sf_dir):
    """One Arrow encoder node per side: the probe encoder sits behind an
    eval_once barrier, so the join's inferred isnotnull(s2_cell) filter
    cannot re-run it below the projection (it did: 3 nodes, the probe
    encoder twice over the same rows)."""
    from osm_merge_spark.queries.geo import q_s2_dist_join

    plan = (q_s2_dist_join(spark, sf_dir)._jdf.queryExecution()
            .executedPlan().toString())
    assert plan.count("ArrowEvalPython") == 2


def test_ring1_numpy_matches_duckdb_ctes():
    """The Arrow ring-1 batch kernel (s2_cells_ring1_numpy, 4-bit lookup
    table) produces the same per-row neighbor-cell SET as the DuckDB
    mirror s2_sql_ctes_ring1 (2-bit automaton) at the join level — the
    s2_dist_join oracle rests on this equivalence."""
    rows = [(float(-109.2 + i * 0.017), float(43.4 + ((i * 37) % 53) * 0.011))
            for i in range(300)]
    lon = np.array([r[0] for r in rows])
    lat = np.array([r[1] for r in rows])
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"pid": range(len(rows)), "lon": lon, "lat": lat}))
    ctes, last = s2.s2_sql_ctes_ring1("pts", keep="pid", level=19)
    got: dict[int, set[int]] = {}
    for pid, cell in con.execute(f"WITH {ctes} SELECT pid, s2_cell FROM {last}").fetchall():
        got.setdefault(pid, set()).add(cell)
    ncells = s2.s2_cells_ring1_numpy(lon, lat, 19)
    assert got == {k: {int(x) for x in ncells[k]} for k in range(len(rows))}
