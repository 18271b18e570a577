"""CLI entry points (cli.main) — synth, conflate with resume, tile, verify."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_merge_spark import cli


def _run(capsys, *args) -> dict:
    rc = cli.main(["--master", "local[4]", *args])
    out = capsys.readouterr().out.strip().splitlines()[-1]
    assert rc == 0
    return json.loads(out)


def test_cli_synth_conflate_resume_tile_verify(spark, tmp_path, capsys):
    base = str(tmp_path)
    r = _run(capsys, "synth", "--n", "300", "--out", f"{base}/d", "--bytes")
    assert os.path.exists(r["images"])

    r1 = _run(capsys, "conflate", "--images", f"{base}/d/images",
              "--layer", f"{base}/d/layer", "--out", f"{base}/run",
              "--tile-m", "5000")
    assert r1["matched"] + r1["new"] == 300
    assert len(r1["stages_executed"]) == 5 and not r1["stages_skipped"]

    r2 = _run(capsys, "conflate", "--images", f"{base}/d/images",
              "--layer", f"{base}/d/layer", "--out", f"{base}/run",
              "--tile-m", "5000")
    assert not r2["stages_executed"] and len(r2["stages_skipped"]) == 5

    r3 = _run(capsys, "tile", "--images", f"{base}/d/images",
              "--out", f"{base}/tiles", "--tile-m", "20000")
    assert r3["rows"] == 300

    r4 = _run(capsys, "verify", "--images", f"{base}/d/images")
    assert r4 == {"total": 300, "failed": 0, "ok": True}


def test_cli_poi_and_poidup(spark, tmp_path, capsys):
    """POI conflation (conflatePOI.py semantics: 10 m + fuzz>80) and
    duplicate-POI detection within one layer (poidup.py)."""
    base = str(tmp_path)
    _run(capsys, "synth", "--n", "400", "--out", f"{base}/d")

    r = _run(capsys, "poi", "--images", f"{base}/d/images",
             "--layer", f"{base}/d/layer", "--out", f"{base}/poi")
    assert r["matched"] > 0 and r["new"] > 0
    assert r["matched"] + r["new"] == 400

    # a layer joined with itself has exact duplicates at distance 0 —
    # poidup must find at least the planted same-position pairs
    from pyspark.sql import functions as F
    layer = spark.read.parquet(f"{base}/d/layer")
    doubled = layer.unionByName(
        layer.withColumn("feature_id", F.col("feature_id") + 1_000_000)
    )
    doubled.write.mode("overwrite").parquet(f"{base}/layer2")
    r2 = _run(capsys, "poidup", "--layer", f"{base}/layer2",
              "--out", f"{base}/dups")
    n_points = layer.filter(F.size("xs") == 1).count()
    assert r2["dups"] >= n_points  # every point dups its clone


def _square_layers(spark, base):
    """Two square layers at base/a and base/b, the second shifted by half
    a side — every pair overlaps, none identical."""
    from pyspark.sql import functions as F
    h = 0.0004
    sq = spark.range(40).select(
        F.col("id").alias("feature_id"),
        (F.lit(-108.7) + F.col("id").cast("double") * 0.01).alias("cx"),
        F.lit(43.7).alias("cy"),
    )
    def ring(cx, cy, dx):
        xs = F.array(cx - h + dx, cx + h + dx, cx + h + dx, cx - h + dx, cx - h + dx)
        ys = F.array(cy - h, cy - h, cy + h, cy + h, cy - h)
        return xs, ys
    xs_a, ys_a = ring(F.col("cx"), F.col("cy"), F.lit(0.0))
    xs_b, ys_b = ring(F.col("cx"), F.col("cy"), F.lit(h))
    sq.select("feature_id", xs_a.alias("xs"), ys_a.alias("ys")).write.mode(
        "overwrite").parquet(f"{base}/a")
    sq.select("feature_id", xs_b.alias("xs"), ys_b.alias("ys")).write.mode(
        "overwrite").parquet(f"{base}/b")


def test_cli_buildings(spark, tmp_path, capsys):
    """Building dedupe (conflateBuildings.py) over _square_layers."""
    base = str(tmp_path)
    _square_layers(spark, base)
    r = _run(capsys, "buildings", "--layer-a", f"{base}/a",
             "--layer-b", f"{base}/b", "--out", f"{base}/bld")
    assert r["pairs"] == 40       # each shifted square overlaps its source
    assert r["new"] == 0          # all B squares overlap something
    r2 = _run(capsys, "buildings", "--layer-a", f"{base}/a",
              "--layer-b", f"{base}/b", "--out", f"{base}/bld2",
              "--min-dup-area", "1.0")  # impossible overlap → all new
    assert r2["new"] == 40


def test_cli_buildings_runs_the_area_udf_once_per_pair(spark, tmp_path, capsys,
                                                      monkeypatch):
    """The pairs write plans one ArrowEvalPython: the `area > 0` filter
    pushed below the projection must not evaluate the area UDF again."""
    from pyspark.sql.readwriter import DataFrameWriter

    base = str(tmp_path)
    _square_layers(spark, base)
    plans = {}
    write = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans[path] = self._df._jdf.queryExecution().executedPlan().toString()
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    _run(capsys, "buildings", "--layer-a", f"{base}/a",
         "--layer-b", f"{base}/b", "--out", f"{base}/bld")
    plan = plans[f"{base}/bld/pairs"]
    assert plan.count("ArrowEvalPython") == 1, plan


def test_cli_grid_and_poly(tmp_path, capsys):
    base = str(tmp_path)
    r = _run(capsys, "grid", "--lon-min", "-109.2", "--lat-min", "43.4",
             "--lon-max", "-108.2", "--lat-max", "44.0",
             "--out", f"{base}/g", "--tile-m", "20000", "--poly",
             "--max-poly", "3")
    assert r["tiles"] > 0 and r["poly_files"] == 3
    poly = [p for p in os.listdir(f"{base}/g") if p.endswith(".poly")]
    assert len(poly) == 3
    first = open(f"{base}/g/{poly[0]}").read().splitlines()
    assert first[1] == "1" and first[-1] == "END"


def test_cli_etl_mvum_geojson_roundtrip(tmp_path, capsys):
    """The reference's mvum console script as `cli etl --source mvum`:
    raw-schema GeoJSON in, OSM-tagged GeoJSON out."""
    raw = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature",
             "properties": {"ID": "502.1a", "NAME": "BEAR CRK RD",
                            "OPERATIONALMAINTLEVEL":
                                "3 - SUITABLE FOR PASSENGER CARS",
                            "SURFACETYPE": "NAT - NATIVE MATERIAL"},
             "geometry": {"type": "LineString",
                          "coordinates": [[-106.9, 40.9], [-106.8, 40.95]]}},
            {"type": "Feature",
             "properties": {"ID": "9", "NAME": "ELK LK",
                            "OPERATIONALMAINTLEVEL": "D"},
             "geometry": {"type": "LineString",
                          "coordinates": [[-106.7, 40.8], [-106.6, 40.85]]}},
        ],
    }
    src = tmp_path / "raw.geojson"
    src.write_text(json.dumps(raw))
    r = _run(capsys, "etl", "--source", "mvum", "--input", str(src),
             "--out", str(tmp_path / "out.geojson"))
    assert r["features"] == 1  # the 'D' maint level row is dropped
    out = json.loads((tmp_path / "out.geojson").read_text())
    props = out["features"][0]["properties"]
    assert props["name"] == "Bear Creek Road"
    assert props["ref:usfs"] == "FR 502.1A"
    assert props["smoothness"] == "good"
    assert props["surface"] == "dirt"
    assert props["operator"] == "US Forest Service"


def test_cli_etl_other_sources(tmp_path, capsys):
    """nps / usgs / roadcore / trails through the same console entry."""
    cases = {
        "nps": ({"MAPSOURCE": "NPS GIS", "TRLNAME": "LAMAR VALLEY TRAIL",
                 "TRLSURFACE": "Gravel", "SEASONAL": "Yes"},
                {"name": "Lamar Valley Trail", "surface": "gravel",
                 "seasonal": "yes", "source": "NPS GIS"}),
        "roadcore": ({"ID": "88", "NAME": "OTTER CG",
                      "OPER_MAINT": "5 - HIGH", "SURFACE_TY": "AGG"},
                     {"ref:usfs": "FR 88", "smoothness": "excellent",
                      "surface": "gravel"}),
        "trails": ({"MAINTAINER": "National Park Service",
                    "TRLNAME": "Mystic Falls Trail",
                    "TRLUSE": "Bike|Hiker/Pedestrian",
                    "TRLSURFACE": "Earth", "TRLALTNAME": "Unknown"},
                   {"highway": "path", "foot": "designated",
                    "bicycle": "yes", "motor_vehicle": "no",
                    "surface": "dirt",
                    "operator": "National Park Service"}),
        "usgs": ({"name": "USFS Rd 1234", "source_ori": "USGS Topo"},
                 {"highway": "unclassified", "ref:usfs": "FR 1234",
                  "source": "USGS Topo"}),
    }
    for source, (props, want) in cases.items():
        fc = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": props,
             "geometry": {"type": "LineString",
                          "coordinates": [[-106.9, 40.9], [-106.8, 40.95]]}},
        ]}
        src = tmp_path / f"{source}.geojson"
        src.write_text(json.dumps(fc))
        out = tmp_path / f"{source}_out.geojson"
        r = _run(capsys, "etl", "--source", source, "--input", str(src),
                 "--out", str(out))
        assert r["features"] == 1, source
        got = json.loads(out.read_text())["features"][0]["properties"]
        for k, v in want.items():
            assert got.get(k) == v, (source, k, got)


def test_cli_on_live_session_keeps_its_conf(spark, tmp_path, capsys):
    """An in-process CLI call reuses the live session; it must not reset
    the settings its creator chose back to the package defaults."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    _run(capsys, "synth", "--n", "20", "--out", str(tmp_path / "d"))
    assert spark.conf.get(key) == before
