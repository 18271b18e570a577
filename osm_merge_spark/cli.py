"""spark-submit entry point.

Usage (cluster or local — same code path; SURVEY §7.1-8):

    spark-submit --py-files osm_merge_spark.zip -m osm_merge_spark.cli \\
        conflate --images <path> --layer <path> --out <dir> [--resume]
    python -m osm_merge_spark.cli tile    --images <path> --out <dir> --tile-m 50000
    python -m osm_merge_spark.cli synth   --n 100000 --out <dir> [--bytes]
    python -m osm_merge_spark.cli verify  --images <path>

The conflate command runs the checkpoint-resumable pipeline
(plans/pipeline.py): re-running with the same --out resumes from the last
committed stage. On a real cluster pass no --master and let spark-submit
own it; locally local[$SPARK_GRAFT_CPUS] is used.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from .session import get_spark

    return get_spark("osm-merge-spark-cli", master=args.master)


def cmd_synth(args) -> int:
    from .data.synth import synth_images, synth_layer

    spark = _spark(args)
    synth_images(spark, args.n, with_bytes=args.with_bytes).write.mode(
        "overwrite"
    ).parquet(f"{args.out}/images")
    synth_layer(spark, args.n).write.mode("overwrite").parquet(f"{args.out}/layer")
    print(json.dumps({"images": f"{args.out}/images", "layer": f"{args.out}/layer"}))
    return 0


def cmd_conflate(args) -> int:
    from .plans import PipelineContext
    from .plans.pipeline import conflation_pipeline

    spark = _spark(args)
    images = spark.read.parquet(args.images)
    layer = spark.read.parquet(args.layer)
    ctx = PipelineContext(spark, args.out)
    out = conflation_pipeline(ctx, images, layer, tile_m=args.tile_m)
    print(json.dumps({
        "matched": out["matched"].count(),
        "new": out["new"].count(),
        "stages_executed": ctx.executed,
        "stages_skipped": ctx.skipped,
        "manifest": ctx.manifest_path,
    }))
    return 0


def cmd_tile(args) -> int:
    from .functions.cells import TileGrid
    from .operators.tiles import assign_tiles

    spark = _spark(args)
    images = spark.read.parquet(args.images)
    out = assign_tiles(images, TileGrid(tile_m=args.tile_m))
    out.write.mode("overwrite").partitionBy("tile_id").parquet(args.out)
    print(json.dumps({"rows": spark.read.parquet(args.out).count(), "out": args.out}))
    return 0


def cmd_poi(args) -> int:
    """POI conflation (conflatePOI.py:456-525 semantics): point primaries
    against a point layer with the POI thresholds — 10 m GPS accuracy
    (conflatePOI.py:101) and fuzzy ratio > 80 (:103). The engine ladder is
    the same cell join + refine + ranking as highway conflation."""
    from .operators.conflate import ConflateParams, conflate

    spark = _spark(args)
    images = spark.read.parquet(args.images)
    layer = spark.read.parquet(args.layer)
    params = ConflateParams(threshold_m=args.threshold_m, fuzz_min=80.0)
    matched, new = conflate(images, layer, params)
    matched.write.mode("overwrite").parquet(f"{args.out}/matched")
    new.write.mode("overwrite").parquet(f"{args.out}/new")
    print(json.dumps({
        "matched": spark.read.parquet(f"{args.out}/matched").count(),
        "new": spark.read.parquet(f"{args.out}/new").count(),
    }))
    return 0


def cmd_poidup(args) -> int:
    """Duplicate POIs within ONE layer (poidup.py:19-28 — its O(N²) scan,
    as a cell self-join): pairs within threshold whose names fuzzy-match."""
    from pyspark.sql import functions as F

    from .functions import fuzzy, geo
    from .functions.cells import CellGrid
    from .operators import cell_join, knn

    spark = _spark(args)
    layer = spark.read.parquet(args.layer)
    pts = layer.select(
        F.col(args.id_col).alias("poi_id"),
        F.element_at("xs", 1).alias("lon"), F.element_at("ys", 1).alias("lat"),
        F.col(args.name_col).alias("name"),
    )
    grid = CellGrid.for_radius(args.threshold_m * 1.05, max_abs_lat=70.0)
    pairs = cell_join.cell_pairs(
        pts, pts.select(
            F.col("poi_id").alias("feature_id"),
            F.col("lon").alias("s_lon"), F.col("lat").alias("s_lat"),
            F.col("name").alias("s_name"),
        ),
        grid.ring1(grid.encode(F.col("lon"), F.col("lat"))),
        grid.encode(F.col("s_lon"), F.col("s_lat")),
    ).filter(F.col("poi_id") < F.col("feature_id"))
    d = geo.haversine_m(F.col("lon"), F.col("lat"), F.col("s_lon"), F.col("s_lat"))
    dups = (
        pairs.withColumn("dist_m", d)
        .filter(F.col("dist_m") <= F.lit(args.threshold_m))
        .withColumn("ratio", fuzzy.ratio_indel(F.col("name"), F.col("s_name")))
        .filter(F.col("ratio") > F.lit(80.0))
        .select("poi_id", "feature_id", F.round("dist_m", 3).alias("dist_m"),
                F.round("ratio", 2).alias("ratio"))
    )
    dups.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"dups": spark.read.parquet(args.out).count()}))
    return 0


def cmd_buildings(args) -> int:
    """Building dedupe (conflateBuildings.py:186-233): overlapping-footprint
    pairs via covering-cell join + exact intersection area; 'new' = B-layer
    footprints with no significant overlap in A."""
    from pyspark.sql import functions as F

    from .functions.cells import CellGrid
    from .operators.cell_join import overlap_pairs

    spark = _spark(args)
    a = spark.read.parquet(args.layer_a)
    b = spark.read.parquet(args.layer_b)
    pairs = overlap_pairs(a, b, args.id_col, CellGrid(res_deg=args.cell_deg))
    pairs.write.mode("overwrite").parquet(f"{args.out}/pairs")
    dups = spark.read.parquet(f"{args.out}/pairs").filter(
        F.col("area") > F.lit(args.min_dup_area)).select("id_b").distinct()
    new = b.select(F.col(args.id_col).alias("id_b")).join(
        dups, "id_b", "left_anti")
    new.write.mode("overwrite").parquet(f"{args.out}/new")
    print(json.dumps({
        "pairs": spark.read.parquet(f"{args.out}/pairs").count(),
        "new": spark.read.parquet(f"{args.out}/new").count(),
    }))
    return 0


def cmd_grid(args) -> int:
    """TM-style task grid (utilities/tm-splitter.py:225-226): tile the AOI
    bbox at --tile-m steps, write the grid parquet and one .poly boundary
    per requested tile (S10)."""
    import math

    from .functions.cells import TileGrid
    from .functions.geo import WEB_MERCATOR_R as R
    from .operators.tiles import generate_tiles
    from .sources.geojson import write_poly

    spark = _spark(args)
    grid = TileGrid(tile_m=args.tile_m)
    tiles = generate_tiles(
        spark, args.lon_min, args.lat_min, args.lon_max, args.lat_max, grid
    )
    tiles.write.mode("overwrite").parquet(f"{args.out}/grid")

    def lon(x):
        return math.degrees(x / R)

    def lat(y):
        return math.degrees(2.0 * math.atan(math.exp(y / R)) - math.pi / 2.0)

    n_poly = 0
    if args.poly:
        rows = spark.read.parquet(f"{args.out}/grid").limit(args.max_poly)
        for r in rows.collect():
            ring = [(lon(r.xmin), lat(r.ymin)), (lon(r.xmax), lat(r.ymin)),
                    (lon(r.xmax), lat(r.ymax)), (lon(r.xmin), lat(r.ymax))]
            write_poly(ring, f"tile-{r.tile_id}",
                       f"{args.out}/tile-{r.tile_id}.poly")
            n_poly += 1
    print(json.dumps({
        "tiles": spark.read.parquet(f"{args.out}/grid").count(),
        "poly_files": n_poly,
    }))
    return 0


_ETL_SOURCES = ["mvum", "roadcore", "nps", "trails", "usgs"]


def cmd_etl(args) -> int:
    """Per-source dataset converters — the reference's mvum/trails/usgs/
    nps/roadcore console scripts (pyproject.toml:108-112) as one command:
    GeoJSON in, OSM-tagged GeoJSON out, conversion per
    operators/etl_sources.py."""
    from pyspark.sql import functions as F

    from .operators import etl_sources as es
    from .sources.geojson import read_feature_collection, write_feature_collection

    spark = _spark(args)
    feats = read_feature_collection(spark, args.input).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    t = F.col("tags")
    if args.source == "mvum":
        entries, keep = es.mvum_entries(
            t["ID"], t["NAME"], t["OPERATIONALMAINTLEVEL"],
            t["PRIMARY_MAINTAINER"], t["SURFACETYPE"], t["SBS_SYMBOL_NAME"],
            t["HIGHCLEARANCEVEHICLE"], t["SEASONAL"],
        )
        out = feats.filter(keep)
    elif args.source == "roadcore":
        entries = es.roadcore_entries(
            t["ID"], t["NAME"], t["OPER_MAINT"], t["SURFACE_TY"])
        out = feats
    elif args.source == "nps":
        entries = es.nps_entries(
            t["MAPSOURCE"], t["TRLNAME"], t["TRLSURFACE"], t["SEASONAL"])
        out = feats
    elif args.source == "trails":
        entries = es.trails_nps_entries(
            t["MAINTAINER"], t["TRLNAME"], t["TRLALTNAME"], t["TRLUSE"],
            t["TRLSURFACE"], t["SEASONAL"])
        out = feats
    else:  # usgs topo highways
        entries, keep = es.usgs_highway_entries(
            t["name"], t["source_ori"], t["us_route"], t["county_rou"],
            t["state_rout"], t["federal_la"])
        out = feats.filter(keep)
    from .operators.etl_sources import _tags_map

    converted = out.select(
        "geom_type", "xs", "ys", _tags_map(entries).alias("tags")
    ).filter(F.size(F.map_keys("tags")) > 0)
    write_feature_collection(converted, args.out)
    print(json.dumps({"features": converted.count(), "out": args.out}))
    return 0


def cmd_verify(args) -> int:
    from .operators.multimodal import verify_payload

    spark = _spark(args)
    images = spark.read.parquet(args.images)
    res = verify_payload(images)
    bad = res.filter(~res.ok).count()
    total = res.count()
    print(json.dumps({"total": total, "failed": bad, "ok": bad == 0}))
    return 0 if bad == 0 else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="osm-merge-spark")
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("synth")
    s.add_argument("--n", type=int, required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--bytes", dest="with_bytes", action="store_true")
    s.set_defaults(fn=cmd_synth)

    c = sub.add_parser("conflate")
    c.add_argument("--images", required=True)
    c.add_argument("--layer", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--tile-m", type=float, default=50_000.0)
    c.set_defaults(fn=cmd_conflate)

    t = sub.add_parser("tile")
    t.add_argument("--images", required=True)
    t.add_argument("--out", required=True)
    t.add_argument("--tile-m", type=float, default=50_000.0)
    t.set_defaults(fn=cmd_tile)

    v = sub.add_parser("verify")
    v.add_argument("--images", required=True)
    v.set_defaults(fn=cmd_verify)

    poi = sub.add_parser("poi")
    poi.add_argument("--images", required=True)
    poi.add_argument("--layer", required=True)
    poi.add_argument("--out", required=True)
    poi.add_argument("--threshold-m", type=float, default=10.0)
    poi.set_defaults(fn=cmd_poi)

    pd_ = sub.add_parser("poidup")
    pd_.add_argument("--layer", required=True)
    pd_.add_argument("--out", required=True)
    pd_.add_argument("--threshold-m", type=float, default=10.0)
    pd_.add_argument("--id-col", default="feature_id")
    pd_.add_argument("--name-col", default="caption")
    pd_.set_defaults(fn=cmd_poidup)

    bl = sub.add_parser("buildings")
    bl.add_argument("--layer-a", required=True)
    bl.add_argument("--layer-b", required=True)
    bl.add_argument("--out", required=True)
    bl.add_argument("--id-col", default="feature_id")
    bl.add_argument("--cell-deg", type=float, default=0.0005)
    bl.add_argument("--min-dup-area", type=float, default=0.0)
    bl.set_defaults(fn=cmd_buildings)

    g = sub.add_parser("grid")
    g.add_argument("--lon-min", type=float, required=True)
    g.add_argument("--lat-min", type=float, required=True)
    g.add_argument("--lon-max", type=float, required=True)
    g.add_argument("--lat-max", type=float, required=True)
    g.add_argument("--out", required=True)
    g.add_argument("--tile-m", type=float, default=50_000.0)
    g.add_argument("--poly", action="store_true")
    g.add_argument("--max-poly", type=int, default=100)
    g.set_defaults(fn=cmd_grid)

    e = sub.add_parser("etl")
    e.add_argument("--source", choices=_ETL_SOURCES, required=True)
    e.add_argument("--input", required=True)
    e.add_argument("--out", required=True)
    e.set_defaults(fn=cmd_etl)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
