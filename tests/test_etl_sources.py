"""Per-source ETL mappers (F8) — hand-computed conversions plus an
MVUM-vocabulary FeatureCollection and an OSM XML way/node file, written by
the engine's own sinks, driven end-to-end through the engine's readers,
way deref, cell join, and refine, checked against an independent
brute-force oracle over the raw files."""

from __future__ import annotations

import math
import os
import sys
import xml.etree.ElementTree as ET

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import json

import pytest
from pyspark.sql import functions as F

from osm_merge_spark.operators import etl_sources as es

# ---------------------------------------------------------------------------
# hand-computed MVUM conversions (mvum.py:90-224 semantics)
# ---------------------------------------------------------------------------
MVUM_COLS = ("rid string, ID string, NAME string, OPERATIONALMAINTLEVEL string,"
             " PRIMARY_MAINTAINER string, SURFACETYPE string,"
             " SBS_SYMBOL_NAME string, HIGHCLEARANCEVEHICLE string,"
             " SEASONAL string")


def _mvum(spark, rows):
    df = spark.createDataFrame(rows, MVUM_COLS)
    return {r.rid: r.tags_canon for r in es.etl_mvum(df).collect()}


def test_mvum_basic_row(spark):
    got = _mvum(spark, [(
        "a", "502.1a", "BEAR CRK RD", "3 - SUITABLE FOR PASSENGER CARS",
        "FS - FOREST SERVICE", "NAT - NATIVE MATERIAL", None, None,
        "yearlong",
    )])
    # title-case + Crk/Rd expansion, ' Road' already present so no append,
    # ref uppercased, maint level 3 → smoothness=good, NAT → dirt
    assert got["a"] == (
        "highway=unclassified;name=Bear Creek Road;operator=Forest Service;"
        "ref:usfs=FR 502.1A;seasonal=no;smoothness=good;surface=dirt"
    )


def test_mvum_road_append_and_default_operator(spark):
    got = _mvum(spark, [("b", "77", "ELK LK", None, None, None, None,
                         None, None)])
    # no ' Road' in expanded name → appended; missing maintainer →
    # US Forest Service default (mvum.py:169-170)
    assert got["b"] == (
        "highway=unclassified;name=Elk Lake Road;"
        "operator=US Forest Service;ref:usfs=FR 77"
    )


def test_mvum_symbol_overrides_maint_and_ref_fix(spark):
    got = _mvum(spark, [(
        "c", "31522", "PINE MTN", "4 - MODERATE DEGREE OF USER COMFORT",
        None, None, "Paved Road", None, None,
    )])
    # symbol 'Pave' overwrites maint smoothness=bad → good; plain 5-digit
    # ref drops the region prefix + note (mvum.py:196-202)
    assert got["c"] == (
        "highway=unclassified;name=Pine Mountain Road;note=Validate this"
        " changed ref!;operator=US Forest Service;ref:usfs=FR 522;"
        "smoothness=good"
    )


def test_mvum_drop_rows(spark):
    got = _mvum(spark, [
        # degenerate maint value (len <= 1) → dropped (mvum.py:152-153)
        ("d", "1", "X Y", "D", None, None, None, None, None),
        # single-space surface → dropped (mvum.py:179-180)
        ("e", "2", "X Y", None, None, " ", None, None, None),
        # symbol but no ID/ref → dropped (mvum.py:196-197)
        ("f", None, "X Y", None, None, None, "Dirt Road", None, None),
        ("keep", "3", None, None, None, None, None, "Y", None),
    ])
    assert set(got) == {"keep"}
    assert got["keep"] == ("4wd_only=yes;highway=unclassified;"
                           "operator=US Forest Service;ref:usfs=FR 3")


def test_roadcore_smoothness_space_variant(spark):
    df = spark.createDataFrame(
        [("a", "88", "OTTER CG", "2 - HIGH CLEARANCE", "IMP")],
        "rid string, ID string, NAME string, OPER_MAINT string,"
        " SURFACE_TY string",
    )
    got = {r.rid: r.tags_canon for r in es.etl_roadcore(df).collect()}
    # 'very bad' WITH space (roadcore.py:104) — as in the shipped
    # mvum-test.geojson fixture; IMP → compacted (gravel overwritten)
    assert got["a"] == ("name=Otter Campground Road;ref:usfs=FR 88;"
                        "smoothness=very bad;surface=compacted")


# ---------------------------------------------------------------------------
# MVUM × OSM fixture files, written by the engine's sinks into tmp
# ---------------------------------------------------------------------------
BASE_LON, BASE_LAT = -105.52, 40.01
M_PER_DEG_LAT = 111_195.0

# Converted-output properties in the shape of the reference converter's
# mvum-test.geojson: (properties, OSM way name, perpendicular offset of
# that way in meters). "FR 503" repeats — two segments of one road.
MVUM_ROADS = [
    ({"highway": "unclassified", "name": "Otter Campground Road",
      "ref:usfs": "FR 88", "smoothness": "very bad", "surface": "compacted",
      "operator": "US Forest Service"}, "Otter Campground Road", 0.0),
    ({"highway": "unclassified", "name": "Bear Creek Road",
      "ref:usfs": "FR 502.1A", "smoothness": "good", "surface": "dirt",
      "operator": "Forest Service"}, "Bear Creek Rd", 12.0),
    ({"highway": "unclassified", "name": "Elk Lake Road",
      "ref:usfs": "FR 77", "operator": "US Forest Service"}, None, 35.0),
    ({"highway": "unclassified", "name": "Pine Mountain Road",
      "ref:usfs": "FR 522", "smoothness": "bad", "surface": "gravel",
      "operator": "US Forest Service"}, "Pine Mountain Road", 80.0),
    ({"highway": "unclassified", "name": "Aspen Ridge Road",
      "ref:usfs": "FR 503", "access": "no", "surface": "paved",
      "operator": "US Forest Service"}, "Aspen Ridge Road", 5.0),
    ({"highway": "unclassified", "name": "Aspen Ridge Road",
      "ref:usfs": "FR 503", "smoothness": "excellent", "surface": "paved",
      "operator": "US Forest Service"}, "Aspen Ridge Road", 60.0),
    ({"highway": "unclassified", "name": "Cold Spring Road",
      "ref:usfs": "FR 140", "smoothness": "good", "surface": "dirt",
      "operator": "US Forest Service"}, "Cold Springs Road", 400.0),
]


def _road_coords(i, n_vertices, offset_m=0.0, jitter=0.0, seed=0):
    """A ~1 km east-west polyline for road i (rows 1.5 km apart), shifted
    offset_m north; jitter re-samples the vertex longitudes so a way's
    vertices do not coincide with the road's."""
    import numpy as np

    rng = np.random.default_rng(seed)
    lon0 = BASE_LON + 0.004 * (i % 3)
    lat0 = BASE_LAT + i * 1500.0 / M_PER_DEG_LAT + offset_m / M_PER_DEG_LAT
    t = np.linspace(0.0, 0.012, n_vertices)
    if jitter:
        t = np.sort(t + rng.uniform(-jitter, jitter, n_vertices))
    wiggle = 25.0 * np.sin(t * 600.0) / M_PER_DEG_LAT
    return [(round(float(lon0 + x), 7), round(float(lat0 + w), 7))
            for x, w in zip(t, wiggle)]


@pytest.fixture(scope="module")
def fixture_files(spark, tmp_path_factory):
    """mvum.geojson via sources.geojson.write_feature_collection and
    osm.osm via sources.osm_xml.write_osm_xml: one OSM way per MVUM road
    (name variant or unnamed, offset from 0 m to beyond the threshold),
    two unrelated far ways, and one way with a ref to a missing node."""
    from osm_merge_spark.sources.geojson import write_feature_collection
    from osm_merge_spark.sources.osm_xml import write_osm_xml

    d = tmp_path_factory.mktemp("mvum_osm")
    feats = []
    for i, (props, _, _) in enumerate(MVUM_ROADS):
        coords = _road_coords(i, 6 + i % 3)
        feats.append(("LineString", [c[0] for c in coords],
                      [c[1] for c in coords], props))
    write_feature_collection(
        spark.createDataFrame(
            feats, "geom_type string, xs array<double>, ys array<double>,"
                   " tags map<string,string>"),
        str(d / "mvum.geojson"),
    )

    nodes, ways, nid = [], [], 1000
    way_specs = [(i, name, off) for i, (_, name, off) in enumerate(MVUM_ROADS)]
    way_specs += [(30, "Faraway Trail", 0.0), (40, None, 0.0)]
    for wid, (i, name, off) in enumerate(way_specs, start=1):
        refs = []
        for lon, lat in _road_coords(i, 9, off, jitter=0.0008, seed=wid):
            nodes.append((nid, 1, lat, lon, {}))
            refs.append(nid)
            nid += 1
        if wid == 2:
            refs.insert(3, 999_999)  # dangling ref: deref drops it
        ways.append((wid, 1, refs, {"name": name, "highway": "track"}
                     if name else {"highway": "track"}))
    write_osm_xml(
        spark.createDataFrame(
            nodes, "id long, version int, lat double, lon double,"
                   " tags map<string,string>"),
        spark.createDataFrame(
            ways, "id long, version int, refs array<long>,"
                  " tags map<string,string>"),
        str(d / "osm.osm"),
    )
    return str(d / "mvum.geojson"), str(d / "osm.osm")


# ---------------------------------------------------------------------------
# converted-output vocabulary parity
# ---------------------------------------------------------------------------
def test_mvum_fixture_matches_mapper_vocabulary(spark, fixture_files):
    """The MVUM fixture carries the reference converter's output shape.
    Every property key and every enum value in it, as written by the
    GeoJSON sink and read back through the GeoJSON reader, must be
    producible by our mappers (the mapper's output space covers the
    reference's real output)."""
    from osm_merge_spark.sources.geojson import read_feature_collection

    mvum_path, _ = fixture_files
    with open(mvum_path) as f:
        fc = json.load(f)
    read_back = [r.tags for r in
                 read_feature_collection(spark, mvum_path).collect()]
    assert sorted(map(sorted, (ft["properties"].items()
                               for ft in fc["features"]))) == \
        sorted(map(sorted, (t.items() for t in read_back)))
    assert len(read_back) == len(MVUM_ROADS)
    our_keys = set(es.roadcore_entries(
        F.lit("x"), F.lit("x"), F.lit("1"), F.lit("NAT")).keys())
    our_keys |= {"operator"}  # mvum adds operator; roadcore does not
    smoothness_vals = {v for _, (k, v) in es.ROADCORE_MAINT.items()
                       if k == "smoothness"}
    for props in read_back:
        assert set(props) <= our_keys | {"highway"}
        if "smoothness" in props:
            assert props["smoothness"] in smoothness_vals
        if "ref:usfs" in props:
            assert props["ref:usfs"].startswith("FR ")
        if "surface" in props:
            assert props["surface"] in {"dirt", "gravel", "compacted",
                                        "paved"}


# ---------------------------------------------------------------------------
# fixtures end-to-end: mvum.geojson × osm.osm through the engine (GeoJSON reader → OSM XML reader → way deref → cell join → exact
# refine) vs an independent brute-force oracle
# ---------------------------------------------------------------------------
THRESH_M = 100.0
R = 6378137.0


def _merc(lon, lat):
    return (R * math.radians(lon),
            R * math.log(math.tan(math.pi / 4.0 + math.radians(lat) / 2.0)))


def _haversine(lon1, lat1, lon2, lat2):
    la1, la2 = math.radians(lat1), math.radians(lat2)
    dla, dlo = la2 - la1, math.radians(lon2) - math.radians(lon1)
    a = (math.sin(dla / 2.0) ** 2
         + math.cos(la1) * math.cos(la2) * math.sin(dlo / 2.0) ** 2)
    return 2.0 * 6371008.8 * math.asin(math.sqrt(a))


def _brute_min_dists(mvum_feats, ways):
    """For each (mvum feature, way): min over mvum vertices of the
    mercator point→way-polyline distance × cos(lat) — the engine's exact
    refine math, O(N·M) like the reference's conflator (numpy-vectorized
    over the vertex×segment plane so the oracle runs in seconds)."""
    import numpy as np

    wsegs = {}
    for wid, wcoords in ways.items():
        m = np.array([_merc(x, y) for x, y in wcoords])
        if len(m) >= 2:
            wsegs[wid] = (m[:-1], m[1:])
        else:
            wsegs[wid] = (m, m)  # degenerate; haversine path below
    out = {}
    for pid, coords in mvum_feats.items():
        P = np.array([_merc(x, y) for x, y in coords])          # (V, 2)
        scale = np.cos(np.radians(np.array([c[1] for c in coords])))
        for wid, (a, b) in wsegs.items():
            if len(ways[wid]) == 1:
                wx, wy = ways[wid][0]
                best = min(
                    _haversine(lon, lat, wx, wy) for lon, lat in coords
                )
            else:
                ab = b - a                                       # (S, 2)
                seg2 = (ab * ab).sum(1)                          # (S,)
                ap = P[:, None, :] - a[None, :, :]               # (V, S, 2)
                t_raw = (ap * ab[None]).sum(2) / np.where(seg2 == 0.0, 1.0,
                                                          seg2)[None]
                t = np.where(seg2[None] == 0.0, 0.0,
                             np.clip(t_raw, 0.0, 1.0))
                c = a[None] + t[..., None] * ab[None]            # (V, S, 2)
                d = np.sqrt(((P[:, None, :] - c) ** 2).sum(2))   # (V, S)
                best = float((d.min(1) * scale).min())
            if best <= THRESH_M:
                out[(pid, wid)] = best
    return out


@pytest.fixture(scope="module")
def fixture_inputs(spark, fixture_files):
    from osm_merge_spark.sources.geojson import read_feature_collection
    from osm_merge_spark.sources.osm_xml import (deref_ways, read_nodes,
                                                 read_ways)

    mvum_path, osm_path = fixture_files
    feats = read_feature_collection(
        spark, mvum_path
    ).withColumn("pid", F.col("tags")["ref:usfs"]).cache()
    ways = deref_ways(
        read_ways(spark, osm_path),
        read_nodes(spark, osm_path),
    ).cache()
    return feats, ways


def test_fixture_engine_vs_bruteforce(spark, fixture_files, fixture_inputs):
    from osm_merge_spark.functions.cells import CellGrid
    from osm_merge_spark.operators import cell_join
    from osm_merge_spark.operators.conflate import refine_distance

    feats, ways = fixture_inputs
    pts = feats.select(
        "pid", F.posexplode(F.arrays_zip("xs", "ys")).alias("pos", "pt")
    ).select(
        F.concat("pid", F.lit("#"), F.col("pos")).alias("image_id"),
        "pid",
        F.col("pt.xs").alias("lon"), F.col("pt.ys").alias("lat"),
    )
    grid = CellGrid.for_radius(THRESH_M * 1.05, max_abs_lat=70.0)
    pairs = cell_join.cell_pairs(
        pts, ways.withColumnRenamed("way_id", "feature_id"),
        grid.encode(F.col("lon"), F.col("lat")),
        grid.ring1_union(cell_join.covering_cells(F.col("xs"), F.col("ys"), grid)),
    )
    refined = refine_distance(pairs).filter(
        F.col("dist_m") <= F.lit(THRESH_M)
    )
    got = {
        (r.pid, r.feature_id): r.d
        for r in refined.groupBy("pid", "feature_id")
        .agg(F.min("dist_m").alias("d")).collect()
    }

    # independent brute force on raw files
    mvum_path, osm_path = fixture_files
    with open(mvum_path) as f:
        fc = json.load(f)
    # pid = ref:usfs, which repeats (two FR 503 segments) — concatenate
    # coords per ref, matching the engine's groupBy(pid) min
    mvum_feats: dict[str, list] = {}
    for feat in fc["features"]:
        mvum_feats.setdefault(
            feat["properties"]["ref:usfs"], []
        ).extend(feat["geometry"]["coordinates"])
    root = ET.parse(osm_path).getroot()
    nodes = {
        n.get("id"): (float(n.get("lon")), float(n.get("lat")))
        for n in root.iter("node")
    }
    ways_raw = {}
    for w in root.iter("way"):
        refs = [nd.get("ref") for nd in w.iter("nd")]
        coords = [nodes[r] for r in refs if r in nodes]
        if coords:
            ways_raw[int(w.get("id"))] = coords
    want = _brute_min_dists(mvum_feats, ways_raw)

    assert set(got) == set(want)
    assert len(got) > 0
    for k, d in want.items():
        # abs tolerance: numpy vs JVM trig differ in the last ulp, which
        # catastrophic cancellation amplifies for near-zero distances
        # (observed 5.092121e-4 vs 5.092114e-4 METERS on one pair)
        assert got[k] == pytest.approx(d, rel=1e-6, abs=1e-6), k


def test_fixture_nearest_way_name_agreement(spark, fixture_inputs):
    """Best-way selection over the real fixtures: for each MVUM road the
    nearest OSM way within threshold, plus the fuzzy name gate — end to end
    through the engine's ranking + Arrow LCS kernel."""
    from osm_merge_spark.functions import fuzzy
    from osm_merge_spark.functions.cells import CellGrid
    from osm_merge_spark.operators import cell_join, knn
    from osm_merge_spark.operators.conflate import refine_distance

    feats, ways = fixture_inputs
    pts = feats.select(
        "pid", F.col("tags")["name"].alias("p_name"),
        F.posexplode(F.arrays_zip("xs", "ys")).alias("pos", "pt"),
    ).select(
        "pid", "p_name",
        F.col("pt.xs").alias("lon"), F.col("pt.ys").alias("lat"),
    )
    grid = CellGrid.for_radius(THRESH_M * 1.05, max_abs_lat=70.0)
    pairs = cell_join.cell_pairs(
        pts.withColumn("image_id", F.col("pid")).drop("pid"),
        ways.withColumnRenamed("way_id", "feature_id"),
        grid.encode(F.col("lon"), F.col("lat")),
        grid.ring1_union(cell_join.covering_cells(F.col("xs"), F.col("ys"), grid)),
    )
    refined = refine_distance(pairs).filter(
        F.col("dist_m") <= F.lit(THRESH_M)
    )
    per_pair = refined.groupBy("image_id", "feature_id").agg(
        F.min("dist_m").alias("dist_m"),
        F.first("p_name").alias("p_name"),
        F.first(F.col("tags")["name"]).alias("s_name"),
    )
    best = knn.top_k_agg(
        per_pair.withColumn("ratio", F.coalesce(
            fuzzy.ratio_indel(F.col("p_name"), F.col("s_name")), F.lit(0.0)
        )),
        "image_id", "dist_m", "feature_id", 1,
        const_cols=["p_name"], payload_cols=["ratio", "s_name"],
    ).collect()
    assert len(best) > 0
    for r in best:
        # the fixture pair (mvum.geojson, osm.osm) covers the same roads: the
        # nearest way either has no name or a fuzzy-comparable one
        if r.s_name is not None and r.ratio > 85.0:
            from osm_merge_spark.functions.fuzzy import indel_ratio_oracle
            assert indel_ratio_oracle(r.p_name, r.s_name) == pytest.approx(
                r.ratio)
