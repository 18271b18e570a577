"""The flagship conflation pipeline (SURVEY §3.1) — images × existing layer.

Reference semantics (osm_merge/conflator.py): for every primary feature,
find secondary features within a distance threshold, score tag agreement
(fuzzy name ratio, ref tokens, exact-geometry), pick the best candidate
(max hits then min distance), merge tags with old_* preservation and bump
version; primaries with no candidate become "new" features
(conflator.py:318-325).

Spark-first plan (one lazy DataFrame graph, no driver loops):
    scan → layer rows split into parts → cell encode → cell_pairs (each
    image keeps its one cell, the layer is ring-1 dilated; parts split by
    vertex count into points and lines; every pair meets in exactly one
    cell, so no pair dedup; AQE picks broadcast or shuffle; lines join as
    one row per segment) → exact distance
    refine in codegen (haversine / point→segment, min over a feature's
    segments and parts taken in the cap) = refined_pairs() →
    one local checkpoint of the refined pairs, then two outputs off it:
      new:     images with no refined pair (one anti-join);
      matched: top-5 cap with the best-part min folded in (one hash
               aggregation per image) → fuzzy+ref gates → one winner per
               image.
    The first output a caller runs computes the pairs; the second reads
    them from executor storage instead of re-running the join and refine.

Intentional, documented divergences from the reference implementation:
  - deterministic top-5 by distance instead of scan-order early exit
    (conflator.py:262-267);
  - true-meter distances (haversine; mercator planar × cos(lat) for lines)
    instead of raw EPSG:3857 planar meters which overestimate by 1/cos(lat);
  - candidates are ranked globally per primary, not per worker chunk.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import fuzzy, geo
from ..functions.cells import CellGrid
from . import cell_join, knn
from .multipart import explode_parts


@dataclass(frozen=True)
class ConflateParams:
    """Thresholds mirror the reference defaults."""

    threshold_m: float = 7.0      # class default, conflator.py:357
    fuzz_min: float = 85.0        # conflator.py:596-598
    len_diff_max: int = 3         # conflator.py:597
    candidate_cap: int = 5        # conflator.py:262-267
    # perfbench-only: its `--trace 1` chain passes these to the cell-join
    # delegates, which ignore them (skew is AQE's skew-join split)
    n_salt: int = 8
    hot_threshold: int = 5_000


def point_segment_dist(px, py, ax, ay, bx, by) -> F.Column:
    """Planar point→segment distance: clamped projection of p onto ab (a
    zero-length segment is its point a). Plain column math, so whole-stage
    codegen compiles it. The one copy of the formula: the per-segment line
    refine in conflate() and point_polyline_dist_native both call it."""
    dx, dy = bx - ax, by - ay
    seg2 = dx * dx + dy * dy
    t_raw = ((px - ax) * dx + (py - ay) * dy) / seg2
    t = F.when(seg2 == F.lit(0.0), F.lit(0.0)).otherwise(
        F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    )
    cx, cy = ax + t * dx, ay + t * dy
    return F.sqrt((px - cx) * (px - cx) + (py - cy) * (py - cy))


def point_polyline_dist_native(px, py, xs, ys) -> F.Column:
    """Min point→segment distance over a packed polyline as one Catalyst
    expression: point_segment_dist per segment, array_min over segments.
    Same math as the Arrow row-loop oracle tests/ref_kernels.point_polyline_dist.
    Inputs must be planar (pre-projected) coordinates.

    Not a production path: array_min(transform(...)) is a higher-order
    function, which Spark runs interpreted. conflate() refines lines per
    exploded segment instead; this form serves refine_distance (perfbench's
    `--trace 1` chain) and tests as the per-polyline reference."""

    def seg(k):
        ax, ay = F.element_at(xs, k), F.element_at(ys, k)
        # try_element_at: a 1-point geometry has no k+1 vertex (ANSI mode)
        bx = F.coalesce(F.try_element_at(xs, k + 1), ax)
        by = F.coalesce(F.try_element_at(ys, k + 1), ay)
        return point_segment_dist(px, py, ax, ay, bx, by)

    nseg = F.greatest(F.size(xs) - 1, F.lit(1))
    return F.array_min(F.transform(F.sequence(F.lit(1), nseg), seg))


def refine_distance(pairs: DataFrame, p_lon: str = "lon", p_lat: str = "lat") -> DataFrame:
    """Exact distance in meters for candidate pairs (X2/X3), one row per
    (image, whole geometry) pair.

    Points: haversine. Lines/rings: planar point→polyline in mercator
    meters × cos(lat) local-scale correction (point_polyline_dist_native).

    Not the production path: conflate() refines lines per exploded segment
    with scalar codegen math and takes the min in its cap. This form stays
    for perfbench's `--trace 1` chain and for tests.

    The projected arrays go through an eval_once barrier: without it,
    Catalyst's CollapseProject inlines `transform(xs, mercator)` into every
    element_at of the per-segment math (~30 re-projections of the whole
    array per segment), and filter pushdown can drag the entire inlined
    expression INTO a join condition — both observed in the n=8M plan.
    """
    from ..functions.barrier import eval_once

    pairs = eval_once(
        pairs.withColumn(
            "__mxs", F.transform("xs", lambda x: geo.mercator_x(x))
        ).withColumn(
            "__mys", F.transform("ys", lambda y: geo.mercator_y(y))
        ),
        ["__mxs", "__mys"],
    )
    s_lon1 = F.element_at("xs", 1)
    s_lat1 = F.element_at("ys", 1)
    point_d = geo.haversine_m(F.col(p_lon), F.col(p_lat), s_lon1, s_lat1)
    merc_px = geo.mercator_x(F.col(p_lon))
    merc_py = geo.mercator_y(F.col(p_lat))
    line_d = point_polyline_dist_native(
        merc_px, merc_py, F.col("__mxs"), F.col("__mys")
    ) * F.cos(F.radians(F.col(p_lat)))
    return pairs.withColumn(
        "dist_m", F.when(F.size("xs") == 1, point_d).otherwise(line_d)
    ).drop("__mxs", "__mys")


def score_hits(pairs: DataFrame, params: ConflateParams,
               p_caption: str = "caption", s_caption: str = "s_caption") -> DataFrame:
    """Tag-agreement score (X1/X9 + exact-geometry bonus).

    hits = fuzzy-name match (ratio > fuzz_min AND |len diff| ≤ len_diff_max)
         + ref-token match (upper token equality, conflator.py:605-622)
         + exact-geometry (dist == 0, conflator.py:229-234).
    """
    a, b = F.col(p_caption), F.col(s_caption)
    ratio = fuzzy.ratio_indel(a, b)
    name_hit = (
        (F.col("ratio") > F.lit(params.fuzz_min))
        & (F.abs(F.length(a) - F.length(b)) <= F.lit(params.len_diff_max))
    ).cast("int")
    ref_a = F.upper(F.element_at(F.split(F.coalesce(F.col("p_ref"), F.lit("")), " "), -1))
    ref_b = F.upper(F.element_at(F.split(F.coalesce(F.col("s_ref"), F.lit("")), " "), -1))
    has_refs = (F.length(ref_a) > 0) & (F.length(ref_b) > 0)
    ref_hit = (has_refs & (ref_a == ref_b)).cast("int")
    geom_hit = (F.col("dist_m") == 0.0).cast("int")
    out = pairs.withColumn("ratio", ratio)
    for c in ("p_ref", "s_ref"):
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None).cast("string"))
    return out.withColumn("hits", name_hit + ref_hit + geom_hit)


def merged_tags_col() -> F.Column:
    """Tag merge with precedence + old_* preservation (X10,
    conflator.py:554,626; docs/calculations.md:77-101): primary (incoming)
    values win; overwritten secondary values are preserved as old_<key>."""
    p, s = F.col("p_tags"), F.col("s_tags")
    overwritten = F.map_filter(s, lambda k, v: F.map_contains_key(p, k) & (F.element_at(p, k) != v))
    olds = F.map_from_entries(
        F.transform(
            F.map_entries(overwritten),
            lambda e: F.struct(F.concat(F.lit("old_"), e.key).alias("key"), e.value.alias("value")),
        )
    )
    kept_secondary = F.map_filter(s, lambda k, v: ~F.map_contains_key(p, k))
    return F.map_concat(kept_secondary, p, olds)


def prepare_images(images: DataFrame) -> DataFrame:
    """Normalize the primary side: tags → p_tags (built from caption when
    absent), project p_ref for the ref-token gate."""
    p = images.withColumnRenamed("tags", "p_tags") if "tags" in images.columns else \
        images.withColumn("p_tags", F.map_from_arrays(
            F.array(F.lit("name")), F.array(F.col("caption"))))
    return p.withColumn("p_ref", F.element_at("p_tags", "ref:usfs"))


def new_features(p: DataFrame, matched_keys: DataFrame) -> DataFrame:
    """J7: primaries with no feature within the threshold become new
    features (informal=yes + fixme, version=1 — conflator.py:318-325).
    p must be prepare_images() output; matched_keys needs only image_id and
    may repeat it. conflate() passes the local checkpoint of its
    refined_pairs() (every image with one gets a winner, so this equals
    anti-joining the winners without computing them): its plan is a read
    of the stored pairs and this anti-join, with no scan of the layer, cell
    join or refine. The pipeline passes its matched checkpoint."""
    return (
        # shuffle_hash: both sides are corpus-scale (every unmatched image ×
        # every match) — SMJ would sort both for an equi-key with no
        # ordering value (same rationale as the banded dedup joins)
        p.join(matched_keys.select("image_id").hint("shuffle_hash"),
               "image_id", "left_anti")
        .select(
            "image_id", "caption", "lon", "lat",
            F.lit(1).alias("version"),
            F.map_concat(
                F.col("p_tags"),
                F.create_map(
                    F.lit("informal"), F.lit("yes"),
                    F.lit("fixme"), F.lit("new feature, needs validation"),
                ),
            ).alias("tags"),
        )
    )


def suppress_identical(matched: DataFrame) -> DataFrame:
    """U2 (conflator.py:236-247): drop matches whose incoming tags add
    nothing over the existing feature's tags — the reference skips emitting
    them because there is nothing to edit. Expects p_tags/s_tags columns
    (apply before the final projection)."""
    p, s = F.col("p_tags"), F.col("s_tags")
    subset_of_s = F.forall(
        F.map_entries(p), lambda e: F.element_at(s, e["key"]).eqNullSafe(e["value"])
    )
    return matched.filter(~subset_of_s)


def refined_pairs(images: DataFrame, layer: DataFrame,
                  params: ConflateParams = ConflateParams()) -> DataFrame:
    """The lazy plan of every in-threshold (image, layer part or segment)
    pair: image_id, lon, lat, feature_id, dist_m, plus caption when the
    images carry no tag map. A feature can appear once per part and per
    segment; conflate()'s cap keeps its nearest.

    images and layer are conflate()'s inputs. Multi-part layer rows
    (NaN- or null-separated xs/ys) are split into parts first; each part is
    routed by its vertex count (1 → point refine, more → segment refine).
    """
    grid = CellGrid.for_radius(params.threshold_m * 1.05,
                               max_abs_lat=70.0)

    # SLIM join: only ids + coordinates flow through the cell join, the
    # refine, and the top-5 cap — captions/tag
    # maps/versions re-attach AFTER capping, when the row count is back to
    # ≤5·|images|. Payload-wide candidate rows were both the dominant
    # shuffle volume and (when AQE broadcasts the layer) a serial
    # driver-side hash build of the full payload.
    # images without an explicit tag map derive p_tags from the caption —
    # carrying the (short) caption through the slim join then costs ~13
    # bytes/row but saves a whole post-cap shuffle join (and its stage
    # barrier); with a real tag map the join is the cheaper trade.
    # Measured tradeoff (n=2M, pinned): carrying ALL scoring strings
    # through the 78M-row candidate set costs more than the post-cap
    # joins it saves (50s vs 31s at 8 cores). Keep candidates minimal;
    # only the probe caption rides along when the image table has no tag
    # map (it replaces a whole p-side join).
    p_has_tags = "tags" in images.columns
    p_slim = (
        images.select("image_id", "lon", "lat")
        if p_has_tags
        else images.select("image_id", "lon", "lat", "caption")
    )
    # a null feature_id would be a refined pair that no enrich join can
    # pick as a winner — dropping it here keeps "has a refined pair" and
    # "has a winner" the same image set, which `new` relies on
    s_slim = explode_parts(
        layer.select("feature_id", "xs", "ys").filter(F.col("feature_id").isNotNull())
    )
    # Planar bbox prefilter bound — cheap compares per candidate BEFORE
    # the transcendental refine. A point within threshold_m of a geometry
    # is within threshold of its bbox; 110574 m/deg is the MINIMUM
    # meridian scale and the 1.2 margin swallows both its latitude
    # variation and the lon/lat metric difference, so the prefilter is a
    # strict superset of the exact dist_m <= threshold filter (semantics
    # unchanged; the cell join admits ~15 candidates per true match and
    # this rejects most of them for arithmetic instead of trig cost).
    deg = params.threshold_m * 1.2 / 110_574.0
    deg_lon = F.lit(deg) / F.cos(F.radians(F.col("lat")))
    slim_cols = ["image_id", "lon", "lat", "feature_id", "dist_m"] + (
        [] if p_has_tags else ["caption"]
    )

    p_cell = grid.encode(F.col("lon"), F.col("lat"))

    def points_refined(s_part: DataFrame) -> DataFrame:
        # point features join + refine on SCALAR coordinates: a build row
        # holds ~24 B (vs ~90 B with packed 1-element arrays)
        s_pts = s_part.select(
            "feature_id",
            F.element_at("xs", 1).alias("s_lon"),
            F.element_at("ys", 1).alias("s_lat"),
        )
        pp = cell_join.cell_pairs(
            p_slim, s_pts, p_cell,
            grid.ring1(grid.encode(F.col("s_lon"), F.col("s_lat"))),
        )
        pp = pp.filter(
            (F.col("lat") >= F.col("s_lat") - F.lit(deg))
            & (F.col("lat") <= F.col("s_lat") + F.lit(deg))
            & (F.col("lon") >= F.col("s_lon") - deg_lon)
            & (F.col("lon") <= F.col("s_lon") + deg_lon)
        )
        d = geo.haversine_m(
            F.col("lon"), F.col("lat"), F.col("s_lon"), F.col("s_lat")
        )
        return (
            pp.withColumn("dist_m", d)
            .filter(F.col("dist_m") <= F.lit(params.threshold_m))
            .select(*slim_cols)
        )

    def lines_refined(s_part: DataFrame) -> DataFrame:
        # one build row per segment: scalar endpoints, their mercator
        # projections and the segment's own ring-1 cells (the union over a
        # line's segments is the line's set). The per-pair bbox and
        # distance are then plain column math that codegen compiles; an
        # array_min(transform(...)) over the polyline per pair runs
        # interpreted. The cap in conflate() keeps each feature's nearest
        # segment, as it keeps its nearest part.
        k = F.col("__k")
        seg = s_part.select(
            "feature_id", "xs", "ys",
            F.explode(F.sequence(F.lit(1), F.size("xs") - 1)).alias("__k"),
        ).select(
            "feature_id",
            F.element_at("xs", k).alias("ax"), F.element_at("ys", k).alias("ay"),
            F.element_at("xs", k + 1).alias("bx"), F.element_at("ys", k + 1).alias("by"),
        )
        ax, ay, bx, by = (F.col(c) for c in ("ax", "ay", "bx", "by"))
        seg = seg.select(
            "feature_id", "ax", "ay", "bx", "by",
            geo.mercator_x(ax).alias("__mxa"), geo.mercator_y(ay).alias("__mya"),
            geo.mercator_x(bx).alias("__mxb"), geo.mercator_y(by).alias("__myb"),
        )
        # the image's projection too rides as columns, computed once per
        # image rather than inlined per pair into the distance
        p_merc = p_slim.select(
            "*", geo.mercator_x(F.col("lon")).alias("__mpx"),
            geo.mercator_y(F.col("lat")).alias("__mpy"),
        )
        lp = cell_join.cell_pairs(
            p_merc, seg, p_cell,
            grid.ring1_union(cell_join.segment_cells(ax, ay, bx, by, grid)),
        )
        lp = lp.filter(
            (F.col("lat") >= F.least(ay, by) - F.lit(deg))
            & (F.col("lat") <= F.greatest(ay, by) + F.lit(deg))
            & (F.col("lon") >= F.least(ax, bx) - deg_lon)
            & (F.col("lon") <= F.greatest(ax, bx) + deg_lon)
        )
        d = point_segment_dist(
            *(F.col(c) for c in ("__mpx", "__mpy", "__mxa", "__mya", "__mxb", "__myb")),
        ) * F.cos(F.radians(F.col("lat")))
        return (
            lp.withColumn("dist_m", d)
            .filter(F.col("dist_m") <= F.lit(params.threshold_m))
            .select(*slim_cols)
        )

    # parts split by vertex count: point parts (the vast majority in real
    # layers) take the scalar fast path; only line/ring parts pay the
    # segment explode + covering cells. On an all-point layer the lines
    # branch plans but carries no rows.
    return points_refined(s_slim.filter(F.size("xs") == 1)).unionByName(
        lines_refined(s_slim.filter(F.size("xs") > 1))
    )


def conflate(images: DataFrame, layer: DataFrame,
             params: ConflateParams = ConflateParams(), *,
             # ignored: perfbench/workloads.py still passes it
             explode_multipart: bool = True) -> tuple[DataFrame, DataFrame]:
    """Run the full ladder. Returns (matched, new).

    images: (image_id, caption, lon, lat, [p_tags map], ...payload excluded
            by caller — join on ids, re-attach bytes afterwards)
    layer:  (feature_id, version, geom_type, xs, ys, tags, caption)

    matched: image_id, feature_id, dist_m, ratio, hits, version (bumped),
             tags (merged + debug counters like conflator.py:250-253)
    new:     image_id, caption, lon, lat, version=1, tags with
             informal=yes + fixme (conflator.py:318-325)

    The cap keeps each feature's nearest part and segment (min over
    sub-geometries, conflator.py:485-528).

    Both outputs read one local checkpoint of refined_pairs(): whichever
    the caller runs first computes the pairs and leaves them in executor
    storage, and the other reads them back, so writing both runs the scan,
    cell join and refine once. Trade-offs:
      - under AQE the checkpoint runs the pairs plan's broadcast and
        shuffle stages during this call, so the call itself takes time;
      - the stored pairs have no lineage to recompute from: losing an
        executor that holds them fails the job that reads them.
    A local checkpoint adds no CacheManager entry (a later call over the
    same paths cannot read stale pairs), and the ContextCleaner frees it
    once both returned DataFrames are dropped (`persist()` would do
    neither).
    """
    refined = refined_pairs(images, layer, params).localCheckpoint(eager=False)
    p = prepare_images(images)
    p_has_tags = "tags" in images.columns
    s = (layer
         .withColumnRenamed("tags", "s_tags")
         .withColumnRenamed("caption", "s_caption")
         .withColumn("s_ref", F.element_at("s_tags", "ref:usfs")))

    # J7: "new" means no feature within the threshold — an anti-join
    # against the refined pairs
    new = new_features(p, refined)

    # top-5 cap in one hash aggregation per image (collect_list, no window
    # sort): sort the (dist, feature) pairs; each feature's first entry is
    # its nearest segment or part (the best-part min), and
    # the first k distinct features are the cap. array_position finds each
    # first entry, so the per-image work is O(k·n), not O(n²).
    const_cols = ["lon", "lat"] if p_has_tags else ["lon", "lat", "caption"]
    pairs = F.array_sort(F.collect_list(F.struct("dist_m", "feature_id")))
    capped = (
        refined.groupBy("image_id")
        .agg(pairs.alias("__c"), *[F.first(c).alias(c) for c in const_cols])
        .withColumn("__f", F.transform("__c", lambda t: t["feature_id"]))
        .select(
            "image_id", *const_cols,
            F.explode(F.transform(
                F.slice(F.array_distinct("__f"), 1, params.candidate_cap),
                lambda f: F.element_at(
                    "__c", F.array_position("__f", f).cast("int")),
            )).alias("__t"),
        )
        .select("image_id", *const_cols, "__t.dist_m", "__t.feature_id")
    )
    enriched = capped
    if p_has_tags:
        enriched = enriched.join(
            p.select("image_id", "caption", "p_tags", "p_ref"), "image_id"
        )
    else:
        enriched = enriched.withColumn(
            "p_tags",
            F.map_from_arrays(F.array(F.lit("name")), F.array(F.col("caption"))),
        ).withColumn("p_ref", F.lit(None).cast("string"))
    enriched = enriched.join(
        s.select("feature_id", "s_caption", "s_tags", "s_ref", "version"),
        "feature_id",
    )
    scored = score_hits(enriched, params)
    best = knn.best_candidate(scored, "image_id")

    matched = best.select(
        "image_id", "feature_id",
        F.round("dist_m", 9).alias("dist_m"),
        F.round("ratio", 6).alias("ratio"),
        "hits",
        (F.col("version") + 1).alias("version"),  # bump, conflator.py:945-947
        F.map_concat(
            merged_tags_col(),
            F.create_map(
                F.lit("hits"), F.col("hits").cast("string"),
                F.lit("dist"), F.round("dist_m", 6).cast("string"),
                F.lit("ratio"), F.round("ratio", 2).cast("string"),
            ),
        ).alias("tags"),
        "lon", "lat",
    )
    return matched, new
