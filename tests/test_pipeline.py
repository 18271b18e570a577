"""Checkpoint/resume/lineage semantics of plans.pipeline (north rule)."""

from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from osm_merge_spark.data.synth import synth_images, synth_layer
from osm_merge_spark.plans import PipelineContext
from osm_merge_spark.plans.pipeline import conflation_pipeline, run_stage
from osm_merge_spark.sources.tables import read_table

N = 400


def _ctx(spark, tmp_path, name):
    base = str(tmp_path / name)
    if os.path.exists(base):
        shutil.rmtree(base)
    return PipelineContext(spark, base)


def test_stage_commit_lineage_and_metrics(spark, tmp_path):
    ctx = _ctx(spark, tmp_path, "p1")
    df = run_stage(
        ctx, "imgs",
        lambda s: synth_images(s, N).repartition(4),
        observe_metrics={"n": F.count(F.lit(1))},
    )
    assert df.count() == N
    man = ctx.manifest()
    assert len(man) == 1 and man[0]["status"] == "committed"
    assert man[0]["rows_out"] == N
    assert man[0]["metrics"]["n"] == N
    lin = ctx.lineage("imgs")
    assert sum(r["rows_out"] for r in lin) == N
    assert len(lin) == 4  # one lineage row per physical partition


def _lineage_rows(spark, ctx, stage):
    """Per-partition rows of a committed stage, checked against the
    manifest row and a full count of the stage's table."""
    (m,) = [m for m in ctx.manifest() if m["stage"] == stage]
    lin = ctx.lineage(stage)
    assert [r["partition_id"] for r in lin] == list(range(len(lin)))
    assert m["n_partitions"] == len(lin)
    assert m["rows_out"] == sum(r["rows_out"] for r in lin)
    assert m["rows_out"] == read_table(spark, ctx.stage_path(stage)).count()
    return [r["rows_out"] for r in lin]


def test_lineage_lists_empty_partitions(spark, tmp_path):
    """Every write task gets a lineage row, including tasks whose partition
    held no rows (they commit no data file)."""
    ctx = _ctx(spark, tmp_path, "p5")
    run_stage(ctx, "skew", lambda s: synth_images(s, 100).repartition(8, F.lit(1)))
    rows = _lineage_rows(spark, ctx, "skew")
    assert len(rows) == 8 and sorted(rows) == [0] * 7 + [100]

    run_stage(ctx, "empty",
              lambda s: synth_images(s, 100).repartition(4).filter(F.col("lat") > 1000.0))
    assert _lineage_rows(spark, ctx, "empty") == [0, 0, 0, 0]


def test_lineage_of_a_plan_optimized_to_empty(spark, tmp_path):
    """A plan the optimizer folds to an empty relation still runs one write
    task, which commits partition 0's empty file: one zero row."""
    ctx = _ctx(spark, tmp_path, "p8")
    run_stage(ctx, "folded", lambda s: synth_images(s, 100).filter(F.lit(False)))
    assert _lineage_rows(spark, ctx, "folded") == [0]


def test_lineage_sums_partition_directories(spark, tmp_path):
    """A partition_by stage writes one file per (task, directory); lineage
    sums them per write task."""
    ctx = _ctx(spark, tmp_path, "p6")
    run_stage(
        ctx, "split",
        lambda s: synth_images(s, 100).repartition(3).withColumn("k", F.col("i") % 5),
        partition_by=["k"],
    )
    rows = _lineage_rows(spark, ctx, "split")
    assert len(rows) == 3 and sum(rows) == 100 and min(rows) > 0
    n_files = sum(
        fn.startswith("part-")
        for _dp, _dns, fns in os.walk(ctx.stage_path("split")) for fn in fns
    )
    assert n_files > len(rows)


def test_failed_stage_commits_nothing(spark, tmp_path):
    """A stage whose job fails leaves no output, manifest row, lineage or
    job tag behind, keeps the caller's job group, and runs on the rerun."""
    sc = spark.sparkContext
    ctx = _ctx(spark, tmp_path, "p7")

    def bad(s):
        df = synth_images(s, 50)
        return df.withColumn(
            "i", F.when(F.col("i") == 7, F.raise_error(F.lit("bad row"))).otherwise(F.col("i"))
        )

    sc.setJobGroup("caller-group", "caller")
    try:
        with pytest.raises(Exception, match="bad row"):
            run_stage(ctx, "flaky", bad)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert set(sc.getJobTags()) == set()
    assert ctx.manifest() == [] and ctx.lineage("flaky") == []
    assert not os.path.exists(ctx.stage_path("flaky"))

    run_stage(ctx, "flaky", lambda s: synth_images(s, 50))
    assert ctx.executed == ["flaky"]
    assert sum(_lineage_rows(spark, ctx, "flaky")) == 50


def test_resume_skips_committed_stages(spark, tmp_path):
    ctx = _ctx(spark, tmp_path, "p2")
    run_stage(ctx, "a", lambda s: synth_images(s, 50))
    assert ctx.executed == ["a"]

    calls = []

    def build_a(s):
        calls.append("a")
        return synth_images(s, 50)

    # same base dir, fresh context → committed stage must be skipped and
    # its build function never invoked
    ctx2 = PipelineContext(spark, ctx.base_dir)
    df = run_stage(ctx2, "a", build_a)
    assert ctx2.skipped == ["a"] and not calls
    assert df.count() == 50


def test_conflation_pipeline_end_to_end_and_resume(spark, tmp_path):
    ctx = _ctx(spark, tmp_path, "p3")
    images = synth_images(spark, N)
    layer = synth_layer(spark, N)
    out = conflation_pipeline(ctx, images, layer, tile_m=5000.0)
    n_matched = out["matched"].count()
    n_new = out["new"].count()
    assert n_matched + n_new == N
    assert n_matched > 0 and n_new > 0
    assert out["tiles"].select("tile_id").distinct().count() > 1
    stages = {m["stage"] for m in ctx.manifest()}
    assert stages == {
        "images_normalized", "layer_normalized", "matched",
        "new_features", "tile_assignment",
    }

    # crash-resume: drop the last stage's output → only it re-executes
    shutil.rmtree(ctx.stage_path("tile_assignment"))
    ctx2 = PipelineContext(spark, ctx.base_dir)
    out2 = conflation_pipeline(ctx2, images, layer, tile_m=5000.0)
    assert ctx2.executed == ["tile_assignment"]
    assert set(ctx2.skipped) == {
        "images_normalized", "layer_normalized", "matched", "new_features",
    }
    assert out2["matched"].count() == n_matched


def test_conflation_pipeline_matches_a_collections_point_member(spark, tmp_path):
    """A GeometryCollection(Point, LineString) reads as one NaN-separated
    packed row. An image 2 m from the Point member and far from the
    LineString is matched, not new: the point part takes the point refine
    instead of vanishing with the segments that touch the separator."""
    import json

    from osm_merge_spark.sources.geojson import read_feature_collection

    lon0, lat0 = -108.5, 43.5
    gc = {"type": "GeometryCollection", "geometries": [
        {"type": "Point", "coordinates": [lon0, lat0]},
        {"type": "LineString", "coordinates": [[lon0 + 0.01, lat0], [lon0 + 0.02, lat0]]},
    ]}
    path = tmp_path / "layer.geojson"
    path.write_text(json.dumps({"type": "FeatureCollection", "features": [
        {"type": "Feature", "geometry": gc, "properties": {"name": "Bear Lake Trailhead"}},
    ]}))
    layer = read_feature_collection(spark, str(path)).select(
        F.lit(1).cast("long").alias("feature_id"), F.lit(1).alias("version"),
        "geom_type", "xs", "ys", "tags", F.col("tags")["name"].alias("caption"),
    )
    images = spark.createDataFrame(
        [("near-point", "Bear Lake Trailhead", lon0, lat0 + 2.0 / 110_574.0),
         ("far", "Bear Lake Trailhead", lon0, lat0 + 0.01)],
        "image_id string, caption string, lon double, lat double",
    )
    out = conflation_pipeline(_ctx(spark, tmp_path, "gc"), images, layer, tile_m=5000.0)
    assert [(r.image_id, r.feature_id) for r in out["matched"].collect()] == [("near-point", 1)]
    assert [r.image_id for r in out["new"].collect()] == ["far"]


def test_conflation_pipeline_skips_empty_geometry_rows(spark, tmp_path):
    """The reader packs a MultiPoint, an unknown type and an empty
    GeometryCollection as empty xs/ys arrays. Those rows carry no part:
    they match nothing and do not fail the layer, and a Point feature
    beside them matches as before."""
    import json

    from osm_merge_spark.sources.geojson import read_feature_collection

    lon0, lat0 = -108.5, 43.5
    geoms = [
        {"type": "Point", "coordinates": [lon0, lat0]},
        {"type": "MultiPoint", "coordinates": [[lon0, lat0 + 1e-5]]},
        {"type": "GeometryCollection", "geometries": []},
        {"type": "Curve", "coordinates": []},
    ]
    path = tmp_path / "layer.geojson"
    path.write_text(json.dumps({"type": "FeatureCollection", "features": [
        {"type": "Feature", "geometry": g, "properties": {"name": "Bear Lake Trailhead"}}
        for g in geoms
    ]}))
    layer = read_feature_collection(spark, str(path))
    assert sorted(len(r.xs) for r in layer.collect()) == [0, 0, 0, 1]
    layer = layer.select(
        F.monotonically_increasing_id().alias("feature_id"), F.lit(1).alias("version"),
        "geom_type", "xs", "ys", "tags", F.col("tags")["name"].alias("caption"),
    )
    images = spark.createDataFrame(
        [("near-point", "Bear Lake Trailhead", lon0, lat0 + 2.0 / 110_574.0),
         ("far", "Bear Lake Trailhead", lon0, lat0 + 0.01)],
        "image_id string, caption string, lon double, lat double",
    )
    point_fid = layer.filter(F.size("xs") == 1).first().feature_id
    out = conflation_pipeline(_ctx(spark, tmp_path, "empty"), images, layer, tile_m=5000.0)
    assert [(r.image_id, r.feature_id) for r in out["matched"].collect()] == [
        ("near-point", point_fid)]
    assert [r.image_id for r in out["new"].collect()] == ["far"]


def test_conflation_pipeline_with_no_match_commits_and_resumes(spark, tmp_path):
    """Images 5° north of the layer match nothing: tile_assignment's
    partitioned write of zero rows commits no data file, yet the stage
    reads back empty with matched's columns plus tile_id, and a rerun
    skips all five stages."""
    images = synth_images(spark, 50).withColumn("lat", F.col("lat") + 5.0)
    layer = synth_layer(spark, 50)
    ctx = _ctx(spark, tmp_path, "nomatch")
    out = conflation_pipeline(ctx, images, layer, tile_m=5000.0)
    stages = ["images_normalized", "layer_normalized", "matched",
              "new_features", "tile_assignment"]
    assert ctx.executed == stages
    assert out["new"].count() == 50 and out["tiles"].count() == 0
    assert out["tiles"].columns == out["matched"].columns + ["tile_id"]
    ctx2 = PipelineContext(spark, ctx.base_dir)
    out2 = conflation_pipeline(ctx2, images, layer, tile_m=5000.0)
    assert ctx2.executed == [] and ctx2.skipped == stages
    assert out2["tiles"].count() == 0
    assert out2["tiles"].schema == out["tiles"].schema
