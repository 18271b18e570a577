"""Physical-plan regression guards: the conflation ladder's hot path must
stay free of the operators that killed scaling when they silently crept in
(WindowExec full sorts, SortMergeJoin of the ring-exploded probe side,
filter pushdown dragging the refine into a join condition)."""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

import pytest  # noqa: E402
from plan_audit import (  # noqa: E402
    pair_dedup, pair_hof, plan_nodes, reaches_cell_join, udf_calls)
from pyspark.sql import functions as F  # noqa: E402,F401


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _synth_conflate(spark):
    """(matched, new, refined-pairs plan) over one synthetic input.
    conflate() checkpoints refined_pairs(), so the outputs' plans read the
    pairs as a scan; the cell join and refine guards run on the pairs plan
    built from the same inputs."""
    from osm_merge_spark.data.synth import synth_images, synth_layer
    from osm_merge_spark.operators.conflate import (
        ConflateParams, conflate, refined_pairs)

    images = synth_images(spark, 2000)
    layer = synth_layer(spark, 2000)
    matched, new = conflate(images, layer, ConflateParams())
    return matched, new, _plan(refined_pairs(images, layer, ConflateParams()))


def test_conflate_plan_has_no_window_or_smj(spark):
    matched, _, refined_plan = _synth_conflate(spark)
    plan = _plan(matched)

    # the top-5 cap and best-candidate must be aggregations, not windows
    assert "Window" not in plan
    # shuffled-hash fallback engine-wide: SMJ would sort the ring-exploded
    # probe side (the n=8M regression)
    for pl in (plan, refined_plan):
        assert "SortMergeJoin" not in pl
    # the cap must be the ObjectHashAggregate (collect_list) formulation
    assert "ObjectHashAggregate" in plan
    # scalar math (haversine/bbox) in a BHJ condition is fine — it runs
    # codegen'd on the streamed side. The regression to guard is the
    # INTERPRETED higher-order refine (transform/aggregate lambdas over
    # the geometry arrays) being dragged into a join condition, which
    # re-projects whole arrays per candidate (the n=8M incident).
    assert "__jcell" in refined_plan  # the cell join is in this plan
    for line in (plan + refined_plan).splitlines():
        if "Join" in line:
            assert "lambdafunction" not in line, line[:200]


def test_multipart_conflate_plan_shape(spark):
    """Layer rows split into parts; the best-part min rides inside the
    per-image top-5 cap, and every (image, part) pair leaves the cell join
    once: no aggregate in matched, new or the refined pairs is keyed on pair
    ids, and matched
    has at most 3 hash exchanges. `new` is the refined pairs' anti-join, so its
    plan carries no scoring UDF, cap or winner pick."""
    matched, new, refined_plan = _synth_conflate(spark)
    plan = _plan(matched)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3
    new_plan = _plan(new)
    agg_keys = [
        set(re.sub(r"#\d+L?", "", k).split(", "))
        for k in re.findall(r"Aggregate\(keys?=\[([^\]]*)\]",
                            plan + new_plan + refined_plan)
    ]
    assert {"image_id"} in agg_keys, agg_keys  # the cap and the winner pick
    assert not any({"image_id", "feature_id"} <= k for k in agg_keys), agg_keys
    for op in ("ArrowEvalPython", "collect_list", "min_by"):
        assert op not in new_plan, op
    # lines refine per exploded segment: no interpreted higher-order
    # function and no eval_once barrier (`__pt`) runs per candidate pair
    assert "__jcell" in refined_plan  # the cell join is in this plan
    for pl in (plan, new_plan, refined_plan):
        assert not pair_hof(pl)
        nodes = plan_nodes(pl)
        assert not any(n["name"] == "Generate" and "__pt" in n["text"]
                       and reaches_cell_join(nodes, n) for n in nodes)


def test_dedup_ngram_plan_broadcasts_stop_shingles(spark):
    """The stop_df guard must be a BROADCAST anti-join (the stop list is
    tiny by construction) — a shuffle anti-join would re-shuffle the whole
    shingle table just to drop a handful of hot keys."""
    from osm_merge_spark.operators import dedup

    df = spark.createDataFrame(
        [(f"d{i}", f"one two three common{i % 2}") for i in range(20)],
        "doc_id string, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(df, stop_df=5)
    plan = _plan(pairs)
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti" in plan and "BroadcastExchange" in plan
    )


def test_udf_calls_finds_a_udf_evaluated_twice():
    """The plan audit's DUP-UDF detector on the shape s2_dist_join had: an
    inferred filter pushed below the projection re-ran the encoder."""
    plan = (":  +- ArrowEvalPython [_enc(lon#36, lat#37)#76L],"
            " [pythonUDF0#166L], 200\n"
            ":     +- Filter isnotnull(pythonUDF0#165L)\n"
            ":        +- ArrowEvalPython [_enc(lon#36, lat#37)#76L, f(x#1)#9],"
            " [pythonUDF0#165L, pythonUDF1#167], 200\n")
    assert sorted(udf_calls(plan)) == ["_enc(lon#36, lat#37)"] * 2 + ["f(x#1)"]


def test_pair_dedup_finds_a_dedup_over_the_cell_join():
    """The plan audit's PAIR-DEDUP detector on the shape building_pairs
    had: dropDuplicates' first()-only aggregate over the cell join. A real
    aggregate (min) over the same join is not a dedup."""
    plan = ("SortAggregate(key=[id_a#28L, id_b#35L], functions=[first(xs1#29,"
            " false)], output=[id_a#28L])\n"
            "+- Sort [id_a#28L ASC NULLS FIRST], false, 0\n"
            "   +- Project [id_a#28L, xs1#29, id_b#35L]\n"
            "      +- BroadcastHashJoin [__jcell#34L], [__jcell#41L], Inner\n"
            "         :- Generate explode(c#1), [id_a#28L], false, [__jcell#34L]\n"
            "         +- BroadcastExchange HashedRelationBroadcastMode\n")
    assert pair_dedup(plan)
    assert not pair_dedup(plan.replace("first(xs1#29, false)", "min(xs1#29)"))
    assert not pair_dedup(plan.replace("key=[id_a#28L, id_b#35L]", "key=[id_a#28L]"))
    assert not pair_dedup(plan.replace("__jcell", "cell"))


def test_pair_hof_finds_a_polyline_refine_over_the_cell_join(spark):
    """The plan audit's PAIR-HOF detector on the refined pairs conflate()
    checkpoints: it fires on the per-polyline refine (refine_distance's
    transform/array_min over each candidate pair's arrays) and not on
    conflate()'s per-segment refine."""
    from osm_merge_spark.data.synth import synth_images, synth_layer
    from osm_merge_spark.functions.cells import CellGrid
    from osm_merge_spark.operators import cell_join
    from osm_merge_spark.operators.conflate import (
        ConflateParams, new_features, prepare_images, refine_distance, refined_pairs)

    images, layer = synth_images(spark, 2000), synth_layer(spark, 2000)
    prm = ConflateParams()
    assert not pair_hof(_plan(refined_pairs(images, layer, prm)))

    grid = CellGrid.for_radius(prm.threshold_m * 1.05, max_abs_lat=70.0)
    p = prepare_images(images)
    lines = layer.filter(F.size("xs") > 1).select("feature_id", "xs", "ys")
    pairs = cell_join.cell_pairs(
        p.select("image_id", "lon", "lat"), lines,
        grid.encode(F.col("lon"), F.col("lat")),
        grid.ring1_union(cell_join.covering_cells(F.col("xs"), F.col("ys"), grid)),
    )
    refined = refine_distance(pairs).filter(F.col("dist_m") <= prm.threshold_m)
    assert pair_hof(_plan(new_features(p, refined)))


@pytest.mark.parametrize("name", ["building_pairs", "ivf_search"])
def test_python_udf_evaluated_once(spark, sf_dir, name):
    """Each of these once ran a Python UDF twice over the same rows (a
    filter on its output pushed below the projection); eval_once barriers
    keep one evaluation per UDF call (s2_dist_join: tests/test_s2.py)."""
    import __spark_entry__ as contract

    calls = udf_calls(_plan(contract.queries()[name](spark, sf_dir)))
    assert calls and len(calls) == len(set(calls)), calls
