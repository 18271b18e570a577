"""geohash / way_length / image_filter — properties independent of the
DuckDB oracle (which tests/test_oracle_parity.py already covers for all
three): the geohash encoder against the public bisection algorithm, the
fold-based way length against a plain-Python haversine sum, and the gate
invariants of the image filter."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from osm_merge_spark.functions import geohash as gh
from osm_merge_spark.queries import base, geo4

ALPHA = "0123456789bcdefghjkmnpqrstuvwxyz"


def ref_geohash(lat: float, lon: float, precision: int) -> str:
    """Public-spec reference: recursive interval bisection (independent of
    the engine's bit-interleave derivation)."""
    lat_i, lon_i = [-90.0, 90.0], [-180.0, 180.0]
    bits, ch, out, even = 0, 0, "", True
    while len(out) < precision:
        interval = lon_i if even else lat_i
        val = lon if even else lat
        mid = (interval[0] + interval[1]) / 2
        if val >= mid:
            ch = ch * 2 + 1
            interval[0] = mid
        else:
            ch = ch * 2
            interval[1] = mid
        even = not even
        bits += 1
        if bits == 5:
            out += ALPHA[ch]
            bits, ch = 0, 0
    return out


def test_geohash_matches_bisection_spec(spark):
    import random

    rng = random.Random(7)
    cases = [(57.64911, 10.40744), (0.0, 0.0), (-33.87, 151.21),
             (89.99, -179.99), (-89.99, 179.99)]
    cases += [(rng.uniform(-90, 90), rng.uniform(-180, 180))
              for _ in range(200)]
    df = spark.createDataFrame(cases, "lat double, lon double")
    got = [r[0] for r in
           df.select(gh.geohash(F.col("lon"), F.col("lat"))).collect()]
    exp = [ref_geohash(la, lo, gh.PRECISION) for la, lo in cases]
    assert got == exp
    assert exp[0] == "u4pruy"  # the textbook example point


def test_geohash_prefix_is_parent(spark, sf_dir):
    out = geo4.q_geohash_stats(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert r.parent_gh4 == r.gh[:geo4.GH_PARENT]
        assert all(c in ALPHA for c in r.gh) and len(r.gh) == gh.PRECISION


def _py_haversine(lon1, lat1, lon2, lat2):
    from osm_merge_spark.functions.geo import EARTH_RADIUS_M

    rl1, rl2 = math.radians(lat1), math.radians(lat2)
    a = (math.sin((rl2 - rl1) / 2) ** 2
         + math.cos(rl1) * math.cos(rl2)
         * math.sin((math.radians(lon2) - math.radians(lon1)) / 2) ** 2)
    return 2 * EARTH_RADIUS_M * math.asin(math.sqrt(a))


def test_way_length_matches_python_fold(spark, sf_dir):
    got = {r.way_id: r.length_m
           for r in geo4.q_way_length(spark, sf_dir).collect()}
    ways = base.ways_df(spark, sf_dir).collect()
    assert len(ways) == len(got) > 0
    for w in ways:
        exp = sum(_py_haversine(w.xs[k], w.ys[k], w.xs[k + 1], w.ys[k + 1])
                  for k in range(len(w.xs) - 1))
        assert abs(got[w.way_id] - exp) < 1e-3
        if w.wcls == 2:  # spans the whole AOI east-west: > ~80 km
            assert got[w.way_id] > 80_000


def test_image_filter_gate_invariants(spark, sf_dir):
    out = geo4.q_image_filter(spark, sf_dir)
    rows = out.collect()
    kept = [r for r in rows if r.keep]
    dropped = [r for r in rows if not r.keep]
    assert kept and dropped  # the synthetic mix exercises both branches
    for r in kept:
        assert r.reasons == ""
        assert min(r.w, r.h) >= geo4.MIN_DIM
        assert max(r.w, r.h) / min(r.w, r.h) <= geo4.MAX_ASPECT
        assert r.fmt in geo4.FORMATS
    for r in dropped:
        assert r.reasons != ""
        if "small;" in r.reasons:
            assert min(r.w, r.h) < geo4.MIN_DIM
        if "format;" in r.reasons:
            assert r.fmt not in geo4.FORMATS
    # every drop reason observed somewhere in the synthetic corpus
    seen = {tok for r in dropped for tok in r.reasons.split(";") if tok}
    assert {"small", "aspect", "format"} <= seen


def test_conflate_delta_prunes_layer(spark, sf_dir):
    """The incremental job must (a) match the unpruned computation exactly
    and (b) actually carry the broadcast LEFT-SEMI layer prune in its plan —
    the property that turns a 1% increment into a 1% job at a 10^12-row
    layer."""
    import pyspark.sql.functions as F

    from osm_merge_spark.functions import geo as geofn
    from osm_merge_spark.operators import cell_join
    from osm_merge_spark.queries.geo import GRID
    from osm_merge_spark.queries.geo4 import DELTA_MOD, q_conflate_delta

    out = q_conflate_delta(spark, sf_dir)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan  # the layer prune survived optimization

    # unpruned recomputation of the same semantics
    img = base.images_df(spark, sf_dir).filter(
        (F.col("ikey") % DELTA_MOD) == 1
    )
    lyr = base.layer_df(spark, sf_dir)
    pairs = cell_join.cell_pairs(
        img, lyr, GRID.encode(F.col("lon"), F.col("lat")),
        GRID.ring1(GRID.encode(F.col("s_lon"), F.col("s_lat"))),
    )
    ref = pairs.withColumn(
        "dist",
        geofn.haversine_m(F.col("lon"), F.col("lat"),
                          F.col("s_lon"), F.col("s_lat")),
    ).filter(F.col("dist") <= base.THRESHOLD_M)
    best = ref.groupBy("image_id").agg(
        F.min(F.struct(F.col("dist"), F.col("feature_id"))).alias("b")
    ).select(
        "image_id", F.col("b.feature_id").alias("feature_id"),
        F.round("b.dist", 3).alias("dist_m"),
    )
    got = sorted(map(tuple, out.collect()))
    exp = sorted(map(tuple, best.collect()))
    assert got == exp and len(got) > 0


def test_image_dedup_keeps_one_per_family(spark, sf_dir):
    """Near-dup families are (caption, src_part) cliques; after the dedup
    leg, at most ONE member of each family may survive, and it must be the
    family's minimum ikey among assemble-surviving rows — unless the family
    min was itself dropped by an earlier gate (then nothing survives: the
    dedup drop-set is computed corpus-wide, like a real pipeline's)."""
    from pyspark.sql import functions as F

    from osm_merge_spark.queries import base, geo4

    out = geo4.q_image_dedup_assemble(spark, sf_dir)
    img = base.images_df(spark, sf_dir).select(
        "image_id", "ikey", "caption", "src_part")
    fam = out.join(img, "image_id").groupBy("caption", "src_part").agg(
        F.count("*").alias("n"), F.min("ikey").alias("min_kept"))
    rows = fam.collect()
    assert rows, "capstone returned nothing"
    assert all(r["n"] == 1 for r in rows), [r for r in rows if r["n"] > 1][:3]
    # the survivor is the corpus-wide family minimum
    fam_min = img.groupBy("caption", "src_part").agg(
        F.min("ikey").alias("fam_min"))
    bad = (
        fam.join(fam_min, ["caption", "src_part"])
        .filter(F.col("min_kept") != F.col("fam_min"))
        .count()
    )
    assert bad == 0


def test_snap_points_matches_numpy_projection(spark, sf_dir):
    """Independent NumPy recomputation of the snap: for every image, the
    engine's (way, segment, t, snap point, distance) must equal the true
    argmin of point-to-segment distance in the scaled plane."""
    import numpy as np

    from osm_merge_spark.queries import base, geo4

    img = base.images_df(spark, sf_dir).select("image_id", "lon", "lat").collect()
    ways = base.ways_df(spark, sf_dir).select("way_id", "xs", "ys").collect()
    kx = geo4.SNAP_LAT0_COS

    segs = []
    for wr in ways:
        for k in range(1, len(wr["xs"])):
            segs.append((wr["way_id"], k, wr["xs"][k - 1], wr["ys"][k - 1],
                         wr["xs"][k], wr["ys"][k]))

    got = {r["image_id"]: r for r in
           geo4.q_snap_points(spark, sf_dir).collect()}
    assert len(got) == len(img)
    for r in img[:200]:
        best = None
        for wid, k, ax, ay, bx, by in segs:
            dx, dy = (bx - ax) * kx, by - ay
            ex, ey = (r["lon"] - ax) * kx, r["lat"] - ay
            s2 = dx * dx + dy * dy
            t = 0.0 if s2 == 0 else min(max((ex * dx + ey * dy) / s2, 0.0), 1.0)
            d2 = (ex - t * dx) ** 2 + (ey - t * dy) ** 2
            cand = (d2, wid, k, t, ax + t * (bx - ax), ay + t * (by - ay))
            if best is None or cand < best:
                best = cand
        g = got[r["image_id"]]
        d2, wid, k, t, sx, sy = best
        assert (g["way_id"], g["seg_idx"]) == (wid, k), r["image_id"]
        assert g["t_e6"] == int(np.floor(t * 1e6))
        assert g["snap_lon_e9"] == int(np.floor(sx * 1e9))
        assert g["snap_lat_e9"] == int(np.floor(sy * 1e9))
        assert g["dist_mm"] == int(np.floor(np.sqrt(d2) * 111320.0 * 1e3))


def test_snap_points_plan_has_no_nested_loop(spark, sf_dir):
    """Round-4 scale fix (r3 verdict #1): the snap must never ship the
    broadcast cartesian over the full segment table. Every join in the
    expansion ladder — including the straggler fallback — is an equi-join
    (shuffled-hash cell join), so no BroadcastNestedLoopJoin / Cartesian
    node may appear anywhere."""
    from pyspark.sql import functions as F

    from osm_merge_spark.queries import base, geo4

    img = base.images_df(spark, sf_dir).select("image_id", "lon", "lat")
    ways = base.ways_df(spark, sf_dir)
    seg_geoms = ways.select(
        "way_id", "xs", "ys",
        F.explode(F.sequence(F.lit(1), F.size("xs") - 1)).alias("k"),
    ).select(
        F.struct("way_id", "k").alias("sid"),
        F.array(F.element_at("xs", F.col("k")),
                F.element_at("xs", F.col("k") + 1)).alias("sxs"),
        F.array(F.element_at("ys", F.col("k")),
                F.element_at("ys", F.col("k") + 1)).alias("sys"),
    )
    # one expansion round: shuffled-hash cell equi-join, probe not exploded
    cand, _ = geo4._snap_round_candidates(img, seg_geoms, 1_000.0)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ShuffledHashJoin" in plan
    # the straggler fallback: salted hash-key equi-join, still no nested loop
    fb = (
        img.withColumn("__fb", F.pmod(F.xxhash64("image_id"), F.lit(32)))
        .hint("shuffle_hash")
        .join(
            seg_geoms.withColumn(
                "__fb",
                F.explode(F.sequence(F.lit(0), F.lit(31)).cast("array<bigint>")),
            ),
            "__fb",
        )
        .drop("__fb")
    )
    fplan = fb._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in fplan
    assert "CartesianProduct" not in fplan
    assert "ShuffledHashJoin" in fplan


def test_snap_points_fallback_path_is_exact(spark, sf_dir, monkeypatch):
    """Force the ladder to run out (one tiny round) so nearly every image
    exits through the constant-key fallback; the result must be row-for-row
    identical to the normal ladder's (both are the exact global argmin)."""
    from osm_merge_spark.queries import geo4

    want = sorted(map(tuple, geo4.q_snap_points(spark, sf_dir).collect()))
    monkeypatch.setattr(geo4, "SNAP_RADII_M", (50.0,))
    got = sorted(map(tuple, geo4.q_snap_points(spark, sf_dir).collect()))
    assert got == want
