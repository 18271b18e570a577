"""Round-3 regression tests for the judge findings (VERDICT r2):

  - phash_near_dup exact recall vs brute-force hamming (VERDICT #2),
    including NEGATIVE int64 phashes (real 64-bit hashes stored signed),
  - knn_unbounded per-round checkpoints: results unchanged, no take(1)
    action per round (VERDICT #5),
  - streaming dedup state TTL (VERDICT #6) — in test_streaming.py,
  - line-intersects AOI clip (VERDICT #4) — planted crossing ways with
    zero interior vertices,
  - polygon interior rings / holes in the PIP kernels (VERDICT #7).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from osm_merge_spark.operators import dedup


# ---------------------------------------------------------------------------
# phash near-dup: banded join == brute force (pigeonhole exactness)
# ---------------------------------------------------------------------------
def _brute_pairs(ids, phs, k):
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            h = int(bin((phs[i] ^ phs[j]) & ((1 << 64) - 1)).count("1"))
            if h <= k:
                a, b = sorted((ids[i], ids[j]))
                out.add((a, b, h))
    return out


def test_phash_near_dup_matches_brute_force(spark):
    rng = np.random.default_rng(7)
    n = 240
    base = rng.integers(-(1 << 63), 1 << 63, size=n, dtype=np.int64)
    # plant near-dups: rows 3i+1 and 3i+2 are ≤3-bit flips of row 3i
    for i in range(0, n - 2, 3):
        for j, nbits in ((1, 1), (2, 3)):
            v = int(base[i])
            for b in rng.integers(0, 64, size=nbits):
                v ^= 1 << int(b)
            base[i + j] = np.int64(np.uint64(v % (1 << 64)))
    rows = [(int(i), int(base[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, phash long")
    got = {
        (r.d1, r.d2, r.hamming)
        for r in dedup.phash_near_dup(df, max_hamming=3).collect()
    }
    want = _brute_pairs(
        list(range(n)), [int(np.uint64(x)) for x in base], 3
    )
    assert got == want
    assert len(want) >= n // 3  # the planted pairs actually exist


# ---------------------------------------------------------------------------
# knn_unbounded: per-round checkpoints — the final plan must read the
# materialized rounds (Scan ExistingRDD of each round's local checkpoint),
# not rebuild round i-1's join under round i
# ---------------------------------------------------------------------------
def test_knn_unbounded_reads_cached_rounds(spark):
    from osm_merge_spark.data.synth import synth_images, synth_layer
    from osm_merge_spark.operators.knn import knn_unbounded

    n = 400
    primary = synth_images(spark, n).select("image_id", "lon", "lat").limit(40)
    layer = synth_layer(spark, n).filter(F.size("xs") == 1).select(
        "feature_id", "xs", "ys"
    )
    got = knn_unbounded(primary, layer, k=3, initial_radius_m=50.0)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # every expansion round is served from its materialized checkpoint
    assert "Scan ExistingRDD" in plan
    # the union of rounds contributes NO join re-execution: a checkpoint
    # carries no plan below it, and above the checkpoints are only
    # aggregations (dedup + window)
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# aoi_clip_ways: planted boundary relationships (VERDICT #4) — class 2 ways
# cross the AOI with ZERO interior vertices; vertex PIP alone drops them,
# the reference's contains-OR-intersects keeps them (osmhighways.py:243-253)
# ---------------------------------------------------------------------------
def test_aoi_clip_ways_planted_classes(spark, sf_dir):
    from osm_merge_spark.queries import base as qbase
    from osm_merge_spark.queries.geo2 import q_aoi_clip_ways

    all_ways = qbase.ways_df(spark, sf_dir).select("way_id", "wcls").toPandas()
    kept = q_aoi_clip_ways(spark, sf_dir).toPandas()
    kept_ids = set(kept["way_id"])
    for _, row in all_ways.iterrows():
        if row["wcls"] in (0, 2):
            assert row["way_id"] in kept_ids, f"dropped class-{row['wcls']} way"
        else:
            assert row["way_id"] not in kept_ids, f"kept class-{row['wcls']} way"
    # the fixture really exercises the crossing-only path
    assert (all_ways["wcls"] == 2).sum() >= 1


def test_vertex_pip_alone_would_drop_crossing_ways(spark, sf_dir):
    """Documents WHY the segment test exists: the class-2 ways have no
    inside vertex, so any_vertex_in_fixed_ring alone misses them."""
    from osm_merge_spark.functions import geo as fgeo
    from osm_merge_spark.queries import base as qbase

    ways = qbase.ways_df(spark, sf_dir).filter(F.col("wcls") == 2)
    n_cross = ways.count()
    n_vertex_in = ways.filter(
        fgeo.any_vertex_in_fixed_ring(F.col("xs"), F.col("ys"), qbase.AOI_RING)
    ).count()
    assert n_cross >= 1 and n_vertex_in == 0


# ---------------------------------------------------------------------------
# polygon holes (VERDICT #7): NaN-separated interior rings, even-odd parity
# — a survey point in a courtyard is OUTSIDE, matching shapely contains
# ---------------------------------------------------------------------------
def test_pip_respects_polygon_holes(spark):
    import math

    from osm_merge_spark.functions import geo as fgeo
    from osm_merge_spark.functions import kernels
    from osm_merge_spark.sources.geojson import _flatten

    outer = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)]
    hole = [(3.0, 3.0), (7.0, 3.0), (7.0, 7.0), (3.0, 7.0), (3.0, 3.0)]
    geom = {"type": "Polygon",
            "coordinates": [[list(c) for c in outer], [list(c) for c in hole]]}
    gt, xs, ys = _flatten(geom)
    assert gt == "Polygon" and any(math.isnan(v) for v in xs)

    # (point, expected): courtyard center, annulus, outside, far corner
    cases = [(5.0, 5.0, False), (1.5, 5.0, True), (11.0, 5.0, False),
             (6.9, 6.9, False), (9.5, 9.5, True), (-1.0, -1.0, False)]
    df = spark.createDataFrame(
        [(px, py) for px, py, _ in cases], "px double, py double"
    )
    want = [e for _, _, e in cases]

    # 1) per-row varying-polygon kernel
    arr_xs = F.array(*[F.lit(v) for v in xs])
    arr_ys = F.array(*[F.lit(v) for v in ys])
    got1 = [r.inp for r in df.withColumn(
        "inp", kernels.point_in_ring(F.col("px"), F.col("py"), arr_xs, arr_ys)
    ).collect()]
    assert got1 == want

    # 2) fixed-polygon Arrow kernel (closure passed packed NaN form)
    got2 = [r.inp for r in df.withColumn(
        "inp", kernels.point_in_polygon_udf(xs, ys)(F.col("px"), F.col("py"))
    ).collect()]
    assert got2 == want

    # 3) pure-Catalyst fixed polygon (XOR of per-ring ray casts)
    got3 = [r.inp for r in df.withColumn(
        "inp", fgeo.point_in_fixed_polygon(
            F.col("px"), F.col("py"), [outer[:-1], hole[:-1]]
        )
    ).collect()]
    assert got3 == want

    # shapely oracle when available (not shipped in this container)
    try:
        from shapely.geometry import Point, Polygon
    except ImportError:
        pass
    else:
        poly = Polygon(outer, [hole])
        assert [poly.contains(Point(px, py)) for px, py, _ in cases] == want


def test_flatten_multipolygon_carries_holes(spark):
    import math

    from osm_merge_spark.sources.geojson import _flatten
    from ref_kernels import _raycast_polygon

    mp = {"type": "MultiPolygon", "coordinates": [
        [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]],
         [[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0], [1.0, 1.0]]],
        [[[10.0, 10.0], [12.0, 10.0], [12.0, 12.0], [10.0, 12.0],
          [10.0, 10.0]]],
    ]}
    _, xs, ys = _flatten(mp)
    # 3 rings → 2 NaN separators
    assert sum(1 for v in xs if math.isnan(v)) == 2
    px = np.array([2.0, 0.5, 11.0, 5.0])
    py = np.array([2.0, 0.5, 11.0, 5.0])
    got = _raycast_polygon(
        px, py, np.asarray(xs, float), np.asarray(ys, float)
    )
    assert got.tolist() == [False, True, True, False]
