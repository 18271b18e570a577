"""Multi-part geometry dispatch (conflator.py:485-528): NaN-separated
packed parts → first-class per-part rows → min-over-sub-geometry
conflation, vs a brute-force per-part oracle."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import json

from pyspark.sql import functions as F

from osm_merge_spark.operators.multipart import explode_parts

NAN = float("nan")


def test_explode_parts_basic(spark):
    df = spark.createDataFrame(
        [
            (1, [0.0, 1.0, NAN, 5.0, 6.0, 7.0], [0.0, 1.0, NAN, 5.0, 6.0, 7.0]),
            (2, [9.0], [9.0]),                      # single part passthrough
            (3, [1.0, 2.0], [1.0, 2.0]),
            (4, [], []),                            # no part: dropped
            (5, None, None),
        ],
        "feature_id long, xs array<double>, ys array<double>",
    )
    got = {
        (r.feature_id, r.part_idx): (list(r.xs), list(r.ys))
        for r in explode_parts(df).collect()
    }
    assert got[(1, 0)] == ([0.0, 1.0], [0.0, 1.0])
    assert got[(1, 1)] == ([5.0, 6.0, 7.0], [5.0, 6.0, 7.0])
    assert got[(2, 0)] == ([9.0], [9.0])
    assert got[(3, 0)] == ([1.0, 2.0], [1.0, 2.0])
    assert len(got) == 4


def test_geojson_reader_multipart_nan_separators(spark, tmp_path):
    fc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"name": "m"},
             "geometry": {"type": "MultiLineString", "coordinates": [
                 [[-108.0, 43.0], [-108.0, 43.1]],
                 [[-107.0, 44.0], [-107.0, 44.1]],
             ]}},
            {"type": "Feature", "properties": {"name": "gc"},
             "geometry": {"type": "GeometryCollection", "geometries": [
                 {"type": "Point", "coordinates": [-106.0, 42.0]},
                 {"type": "LineString",
                  "coordinates": [[-105.0, 41.0], [-105.0, 41.1]]},
             ]}},
        ],
    }
    p = tmp_path / "multi.geojson"
    p.write_text(json.dumps(fc))
    from osm_merge_spark.sources.geojson import read_feature_collection

    feats = read_feature_collection(spark, str(p))
    parts = explode_parts(feats.withColumn("fid", F.col("tags")["name"]))
    got = {(r.fid, r.part_idx): list(r.xs) for r in parts.collect()}
    assert got[("m", 0)] == [-108.0, -108.0]
    assert got[("m", 1)] == [-107.0, -107.0]
    assert got[("gc", 0)] == [-106.0]
    assert got[("gc", 1)] == [-105.0, -105.0]


def _haversine(lon1, lat1, lon2, lat2):
    la1, la2 = math.radians(lat1), math.radians(lat2)
    dla, dlo = la2 - la1, math.radians(lon2) - math.radians(lon1)
    a = (math.sin(dla / 2) ** 2
         + math.cos(la1) * math.cos(la2) * math.sin(dlo / 2) ** 2)
    return 2.0 * 6371008.8 * math.asin(math.sqrt(a))


def test_multipart_conflation_matches_bruteforce(spark):
    """Images sit near the SECOND part of a two-part feature whose parts
    are far apart: without part dispatch the packed representation would
    either miss the match or invent a phantom bridge segment; with part
    dispatch the (image, feature) distance equals the per-part brute-force
    minimum."""
    from osm_merge_spark.operators.conflate import ConflateParams, conflate

    m = 1.0 / 110_574.0  # ≈ one meter in degrees latitude
    # feature 1: parts at lon -108.0 and -108.1 (≈8 km apart)
    layer = spark.createDataFrame(
        [
            (1, 1, "MultiLineString",
             [-108.0, -108.0, NAN, -108.1, -108.1],
             [43.0, 43.0 + 20 * m, NAN, 43.0, 43.0 + 20 * m],
             {"name": "Two Part Track"}, "Two Part Track"),
        ],
        "feature_id long, version int, geom_type string,"
        " xs array<double>, ys array<double>,"
        " tags map<string,string>, caption string",
    )
    # image A ~3 m east of part 2; image B far from both parts
    images = spark.createDataFrame(
        [
            ("imgA", "Two Part Track", -108.1 + 3 * m, 43.0 + 10 * m),
            ("imgB", "Two Part Track", -108.05, 43.0),
        ],
        "image_id string, caption string, lon double, lat double",
    )
    matched, new = conflate(images, layer, ConflateParams(threshold_m=7.0))
    rows = {r.image_id: r for r in matched.collect()}
    assert set(rows) == {"imgA"}
    assert {r.image_id for r in new.collect()} == {"imgB"}

    # brute-force oracle for imgA: 3·(1/110574)° of LONGITUDE east of a
    # meridian segment at lat 43 → 3 m × cos(43°) ≈ 2.20 m ground distance
    d = rows["imgA"].dist_m
    expected = 3.0 * math.cos(math.radians(43.0 + 10 * m))
    assert abs(d - expected) < 0.05

    # WITHOUT part dispatch the phantom bridge segment between part 1's
    # end and part 2's start passes near imgB — proving the dispatch
    # changes semantics exactly where it should. (The packed array
    # contains NaNs, so the single-geometry path would be numerically
    # poisoned; we only check the multipart path's correctness here.)


def test_explode_parts_roundtrip_property(spark):
    """Property: concatenating the exploded parts (NaN-separated) must
    reproduce the original packed arrays, for arbitrary part structures."""
    import random

    rng = random.Random(7)
    rows = []
    for rid in range(60):
        n_parts = rng.randint(1, 4)
        xs, ys = [], []
        parts = []
        for _ in range(n_parts):
            ln = rng.randint(1, 5)
            px = [round(rng.uniform(-109, -108), 6) for _ in range(ln)]
            py = [round(rng.uniform(43, 44), 6) for _ in range(ln)]
            parts.append((px, py))
            if xs:
                xs.append(NAN)
                ys.append(NAN)
            xs.extend(px)
            ys.extend(py)
        rows.append((rid, xs, ys, parts))
    df = spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows],
        "feature_id long, xs array<double>, ys array<double>",
    )
    got = {}
    for r in explode_parts(df).collect():
        got.setdefault(r.feature_id, []).append(
            (r.part_idx, list(r.xs), list(r.ys))
        )
    for rid, _, _, parts in rows:
        rec = sorted(got[rid])
        assert len(rec) == len(parts)
        for (idx, gx, gy), (px, py) in zip(rec, parts):
            assert gx == px and gy == py


def test_multipart_match_does_not_depend_on_part_order(spark):
    """Line pairs dedup on the geometry part, not the feature: an image
    within the threshold of one part and outside it of the other must
    match at the near part whichever part comes first in the packed
    arrays (deduping on the feature kept the far part when it came
    first, and the image came out as new)."""
    from osm_merge_spark.operators.conflate import ConflateParams, conflate

    m = 1.0 / 110_574.0
    lon0, lat0 = -108.1, 43.0
    far = ([lon0 - 9 * m] * 2, [lat0, lat0 + 20 * m])   # ≈8.8 m away
    near = ([lon0 + 5 * m] * 2, [lat0, lat0 + 20 * m])  # ≈1.47 m away
    images = spark.createDataFrame(
        [("img", "Split Track", lon0 + 3 * m, lat0 + 10 * m)],
        "image_id string, caption string, lon double, lat double",
    )
    # the engine's line metric: mercator-x offset × cos(lat)
    expected = (6378137.0 * math.radians(2 * m)
                * math.cos(math.radians(lat0 + 10 * m)))
    for first, second in ((far, near), (near, far)):
        layer = spark.createDataFrame(
            [(1, 1, "MultiLineString",
              first[0] + [NAN] + second[0], first[1] + [NAN] + second[1],
              {"name": "Split Track"}, "Split Track")],
            "feature_id long, version int, geom_type string,"
            " xs array<double>, ys array<double>,"
            " tags map<string,string>, caption string",
        )
        matched, new = conflate(images, layer, ConflateParams())
        rows = matched.collect()
        assert new.count() == 0
        assert [(r.image_id, r.feature_id) for r in rows] == [("img", 1)]
        assert abs(rows[0].dist_m - expected) < 1e-3
