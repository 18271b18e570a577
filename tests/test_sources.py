"""Source/sink roundtrips: OSM XML (S2/S8), GeoJSON (S1/S7), .poly (S10),
per-tile ndjson task sink (S11), way dereference (J9)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from osm_merge_spark.sources import geojson, osm_xml

_OSM = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6" generator="test">
 <node id="1" version="2" timestamp="2024-01-01T00:00:00Z" lat="43.5" lon="-108.5">
  <tag k="name" v="Cedar &amp; Lake"/>
  <tag k="tiger:cfcc" v="A41"/>
 </node>
 <node id="2" version="1" lat="43.6" lon="-108.6"/>
 <node id="3" version="1" lat="43.7" lon="-108.7"/>
 <way id="10" version="3" timestamp="2024-01-02T00:00:00Z">
  <nd ref="1"/><nd ref="2"/><nd ref="3"/>
  <tag k="highway" v="track"/>
  <tag k="tiger:reviewed" v="no"/>
 </way>
</osm>
"""


def _write_osm(tmp_path):
    p = tmp_path / "in.osm"
    p.write_text(_OSM)
    return str(p)


def test_read_osm_xml_nodes_ways(spark, tmp_path):
    path = _write_osm(tmp_path)
    nodes = osm_xml.read_nodes(spark, path).orderBy("id").collect()
    assert [n.id for n in nodes] == [1, 2, 3]
    assert nodes[0].version == 2 and nodes[0].lat == 43.5
    assert nodes[0].tags == {"name": "Cedar & Lake"}  # tiger:* dropped
    ways = osm_xml.read_ways(spark, path).collect()
    assert len(ways) == 1
    assert ways[0].refs == [1, 2, 3]
    assert ways[0].tags == {"highway": "track"}


def test_deref_ways_order_preserved(spark, tmp_path):
    path = _write_osm(tmp_path)
    nodes = osm_xml.read_nodes(spark, path)
    ways = osm_xml.read_ways(spark, path)
    geom = osm_xml.deref_ways(ways, nodes).collect()[0]
    assert geom.xs == [-108.5, -108.6, -108.7]
    assert geom.ys == [43.5, 43.6, 43.7]


def test_write_osm_xml_roundtrip_with_version_bump(spark, tmp_path):
    path = _write_osm(tmp_path)
    nodes = osm_xml.read_nodes(spark, path)
    ways = osm_xml.read_ways(spark, path)
    out = str(tmp_path / "out.osm")
    osm_xml.write_osm_xml(nodes, ways, out)
    nodes2 = osm_xml.read_nodes(spark, out).orderBy("id").collect()
    assert [n.version for n in nodes2] == [3, 2, 2]  # bumped
    assert nodes2[0].tags == {"name": "Cedar & Lake"}  # escape roundtrip
    ways2 = osm_xml.read_ways(spark, out).collect()
    assert ways2[0].refs == [1, 2, 3] and ways2[0].version == 4


_FC = {
    "type": "FeatureCollection",
    "features": [
        {"type": "Feature",
         "geometry": {"type": "Point", "coordinates": [-108.5, 43.5]},
         "properties": {"name": "A", "highway": "path"}},
        {"type": "Feature",
         "geometry": {"type": "LineString",
                      "coordinates": [[-108.5, 43.5], [-108.6, 43.6]]},
         "properties": {"name": "B"}},
        {"type": "Feature", "geometry": None, "properties": {"x": "skip"}},
    ],
}


def test_geojson_roundtrip(spark, tmp_path):
    p = tmp_path / "in.geojson"
    p.write_text(json.dumps(_FC))
    df = geojson.read_feature_collection(spark, str(p))
    rows = df.orderBy("geom_type").collect()
    assert len(rows) == 2  # null-geometry guard
    assert rows[1].geom_type == "Point" and rows[1].xs == [-108.5]
    out = str(tmp_path / "out.geojson")
    geojson.write_feature_collection(df, out)
    fc = json.loads(open(out).read())
    assert fc["type"] == "FeatureCollection" and len(fc["features"]) == 2
    again = geojson.read_feature_collection(spark, out)
    assert again.count() == 2


def test_ndjson_tile_sink(spark, tmp_path):
    from osm_merge_spark.data.synth import synth_images
    from osm_merge_spark.functions.cells import TileGrid
    from osm_merge_spark.operators.tiles import assign_tiles

    imgs = synth_images(spark, 200).select(
        F.lit("Point").alias("geom_type"),
        F.array("lon").alias("xs"), F.array("lat").alias("ys"),
        F.create_map(F.lit("name"), F.col("caption")).alias("tags"),
        "lon", "lat",
    )
    tiled = assign_tiles(imgs, TileGrid(tile_m=20000.0))
    out = str(tmp_path / "tasks")
    geojson.write_ndjson_features(tiled, out, partition_by="tile_id")
    subdirs = [d for d in os.listdir(out) if d.startswith("tile_id=")]
    assert len(subdirs) > 1  # one task directory per tile (S11)
    # every line parses as a Feature
    df = spark.read.text(out)
    assert df.count() == 200
    one = json.loads(df.first().value)
    assert one["type"] == "Feature" and one["geometry"]["type"] == "Point"


def test_poly_writer(tmp_path):
    out = str(tmp_path / "b.poly")
    geojson.write_poly([(-108.5, 43.5), (-108.0, 43.5), (-108.0, 44.0)],
                       "aoi", out)
    lines = open(out).read().splitlines()
    assert lines[0] == "aoi" and lines[1] == "1"
    assert lines[-2:] == ["END", "END"]
    assert len(lines) == 2 + 3 + 2


def test_iceberg_catalog_without_runtime_jar_uses_parquet(spark):
    """A configured Iceberg catalog alone does not select the Iceberg
    branch: the runtime jar must load too (it does not ship here)."""
    from osm_merge_spark.sources import tables

    conf = spark.sparkContext._jsc.sc().conf()
    conf.set("spark.sql.catalog.probe", "org.apache.iceberg.spark.SparkCatalog")
    try:
        assert tables.iceberg_available(spark) is False
    finally:
        conf.remove("spark.sql.catalog.probe")


def test_table_io_abstraction(spark, tmp_path):
    """tables.write_table/read_table: parquet layout fallback when no
    Iceberg catalog is configured (this sandbox)."""
    from osm_merge_spark.data.synth import synth_images
    from osm_merge_spark.sources import tables

    assert tables.iceberg_available(spark) is False
    df = synth_images(spark, 50).withColumn(
        "bucket", (F.col("i") % 4).cast("int")
    )
    target = str(tmp_path / "tbl")
    tables.write_table(df, target, partition_by=["bucket"])
    back = tables.read_table(spark, target)
    assert back.count() == 50
    assert len([d for d in os.listdir(target) if d.startswith("bucket=")]) == 4


def test_write_osm_xml_distributed_large(spark, tmp_path):
    """S8 at scale: 60k generated ways through the sink — fragments are
    written by executors (df.write.text) and only STREAMED by the driver,
    so this must complete without materializing rows driver-side; the
    output must re-parse with exact id/tag fidelity."""
    n = 60_000
    ways = spark.range(n).select(
        F.col("id"),
        F.lit(1).alias("version"),
        F.array(F.col("id") * 2, F.col("id") * 2 + 1).alias("refs"),
        F.map_from_arrays(
            F.array(F.lit("name")),
            F.array(F.concat(F.lit("Way <#"), F.col("id"), F.lit(">"))),
        ).alias("tags"),
    )
    out = str(tmp_path / "big.osm")
    osm_xml.write_osm_xml(None, ways, out)

    back = osm_xml.read_ways(spark, out)
    assert back.count() == n
    sample = {r.id: r for r in back.filter(F.col("id") < 5).collect()}
    assert sample[3].tags["name"] == "Way <#3>"
    assert list(sample[3].refs) == [6, 7]
    assert sample[3].version == 2  # bumped


def test_odk_csv_ingest_to_conflation(spark, tmp_path):
    """S3: an ODK Central CSV export through read_odk_csv into the
    conflation ladder — group prefixes become tag keys, the geopoint
    splits into lon/lat, metadata columns are dropped."""
    from osm_merge_spark.operators.conflate import ConflateParams, conflate
    from osm_merge_spark.sources.odk import read_odk_csv

    csv = tmp_path / "submissions.csv"
    csv.write_text(
        "instanceID,SubmissionDate,xlocation,all-name,all-amenity,"
        "all-building\n"
        "uuid:1,2024-01-01,43.7001 -108.7001 1650.0 4.2,Bear Lake Road,"
        ",yes\n"
        "uuid:2,2024-01-02,43.7002 -108.7002 1651.0 3.8,Cafe Elk,cafe,\n"
        "uuid:3,2024-01-03,,No Location,,\n"
    )
    pois = read_odk_csv(spark, str(csv))
    rows = {r.image_id: r for r in pois.collect()}
    assert set(rows) == {"uuid:1", "uuid:2"}  # no-geopoint row dropped
    assert rows["uuid:1"].caption == "Bear Lake Road"
    assert rows["uuid:1"].lon == -108.7001 and rows["uuid:1"].lat == 43.7001
    assert rows["uuid:1"].tags == {"name": "Bear Lake Road",
                                   "building": "yes"}
    assert "submissiondate" not in rows["uuid:2"].tags
    assert rows["uuid:2"].tags["amenity"] == "cafe"

    # straight into the POI conflation ladder against a tiny layer
    layer = spark.createDataFrame(
        [(1, 1, "Point", [-108.7001], [43.7001],
          {"name": "Bear Lake Road"}, "Bear Lake Road")],
        "feature_id long, version int, geom_type string,"
        " xs array<double>, ys array<double>,"
        " tags map<string,string>, caption string",
    )
    matched, new = conflate(pois, layer, ConflateParams(threshold_m=10.0))
    m = matched.collect()
    assert {r.image_id for r in m} == {"uuid:1"}
    assert {r.image_id for r in new.collect()} == {"uuid:2"}
