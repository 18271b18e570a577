"""The reference's documented end-to-end workflow (docs/dataflow.md):
convert an external dataset → conflate against the OSM layer → emit a
JOSM-ready change file — driven entirely through this engine's public
surface (CLI converter, conflate operator, OSM XML sink/scan)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def test_convert_conflate_emit_josm(spark, tmp_path, capsys):
    from osm_merge_spark import cli
    from osm_merge_spark.operators.conflate import ConflateParams, conflate
    from osm_merge_spark.sources.geojson import read_feature_collection
    from osm_merge_spark.sources.osm_xml import read_ways, write_osm_xml

    # 1. raw MVUM download → OSM tagging (the mvum console script)
    raw = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature",
             "properties": {"ID": str(500 + i), "NAME": f"BEAR CRK {i}",
                            "OPERATIONALMAINTLEVEL":
                                "3 - SUITABLE FOR PASSENGER CARS"},
             "geometry": {"type": "Point",
                          "coordinates": [-108.70 + i * 0.001, 43.70]}}
            for i in range(10)
        ],
    }
    (tmp_path / "raw.geojson").write_text(json.dumps(raw))
    rc = cli.main(["--master", "local[4]", "etl", "--source", "mvum",
                   "--input", str(tmp_path / "raw.geojson"),
                   "--out", str(tmp_path / "mvum_osm.geojson")])
    assert rc == 0
    capsys.readouterr()

    # 2. converted external data = conflation primary; an existing OSM
    # layer with half the features already mapped (same position, name)
    ext = read_feature_collection(spark, str(tmp_path / "mvum_osm.geojson"))
    primary = ext.select(
        F.col("tags")["ref:usfs"].alias("image_id"),
        F.col("tags")["name"].alias("caption"),
        F.element_at("xs", 1).alias("lon"),
        F.element_at("ys", 1).alias("lat"),
        F.col("tags").alias("tags"),
    )
    layer = spark.createDataFrame(
        [(i, 2, "Point", [-108.70 + i * 0.001], [43.70],
          {"name": f"Bear Creek {i} Road", "highway": "track"},
          f"Bear Creek {i} Road")
         for i in range(5)],
        "feature_id long, version int, geom_type string,"
        " xs array<double>, ys array<double>,"
        " tags map<string,string>, caption string",
    )
    matched, new = conflate(primary, layer, ConflateParams())
    m = matched.collect()
    assert len(m) == 5 and {r.image_id for r in m} == {
        f"FR {500 + i}" for i in range(5)}
    assert all(r.hits >= 1 and r.version == 3 for r in m)  # name hit + bump
    assert {r.image_id for r in new.collect()} == {
        f"FR {500 + i}" for i in range(5, 10)}

    # 3. JOSM-ready change file: matched features as modified nodes
    nodes = matched.select(
        F.col("feature_id").alias("id"),
        (F.col("version") - 1).alias("version"),  # sink re-bumps
        "lon", "lat", "tags",
    )
    out = str(tmp_path / "changes.osm")
    write_osm_xml(nodes, None, out)
    from osm_merge_spark.sources.osm_xml import read_nodes

    back = {r.id: r for r in read_nodes(spark, out).collect()}
    assert len(back) == 5
    for i in range(5):
        assert back[i].version == 3
        assert back[i].tags["name"].startswith("Bear Creek")
        # incoming (converted MVUM) values win; the overwritten OSM value
        # is preserved as old_* (conflator.py:554,626)
        assert back[i].tags["highway"] == "unclassified"
        assert back[i].tags["old_highway"] == "track"
