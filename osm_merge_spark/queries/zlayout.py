"""Z-order layout + snapshot time travel wired into end-to-end
oracle-checked queries (r4 verdict item #1: "turn the round's two best
pieces of scale machinery from demos into the product").

Both queries run the SAME semantics as their flat-scan twins — the layout
and the snapshot log are pure access-path optimizations, so the DuckDB
oracle is the twin's own SQL over the raw tables:

  zlayout_aoi_clip      — images written once via operators/layout.
                          write_zordered, the AOI read through read_bbox
                          (directory-level PartitionFilters prune the
                          Z-buckets), exact ray-cast PIP on the survivors.
                          Result ≡ aoi_clip; oracle = _sql_aoi_clip().
                          Reference behavior: osm_merge/geosupport.py's
                          boundary clipping, now against a laid-out table
                          instead of a flat file.

  zlayout_delta_conflate — the layer committed twice through sources/
                          tables.commit_snapshot (v1 = even feature_ids,
                          v2 = everything with version bumped on
                          feature_id % 10 == 0 — the deterministic "daily
                          edit batch"), the increment recovered as the
                          SNAPSHOT DIFF (v2 exceptAll v1), and only that
                          increment conflated against the image stream —
                          which itself is read through the Z-layout with a
                          threshold-padded AOI bbox, so the scan prunes
                          buckets. Result = best image per changed
                          feature. Reference behavior: README.md:60-62's
                          re-run-batch sync model, done as a delta job.
                          The oracle rebuilds the identical diff from the
                          deterministic v1/v2 definitions (odd ids are new
                          in v2; % 10 == 0 ids changed) — same contract as
                          conflate_delta's plan-side-only prune.

100 TB story: the one-time layout write and the snapshot commits are the
amortized costs a lakehouse table already pays; after them every AOI /
delta job reads only the buckets (PartitionFilters) and the increment
(snapshot diff), never the world. The eager write-once steps make these
the registry's only multi-action queries besides snap_points — cached per
(session, sf_dir) so repeated driver calls re-run only the lazy read path.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geo
from ..operators import cell_join, layout
from ..sources import tables
from . import base
from .geo import GRID, _sql_aoi_clip, _sql_pairs

# ~110 m in degrees — covers THRESHOLD_M (7 m) matches whose image sits
# just outside the AOI bbox edge a delta feature touches
_PAD_DEG = 1e-3

_LAYOUT_CACHE: dict[tuple[str, str], str] = {}
_SNAP_CACHE: dict[tuple[str, str], str] = {}


def _evict_stale(cache: dict, app: str) -> None:
    for k in [k for k in cache if k[0] != app]:
        cache.pop(k, None)


def _image_layout(spark: SparkSession, sf_dir: str) -> str:
    """write_zordered(images) once per (session, sf_dir); returns the
    layout dir. The full ±0.08°-spread image table is the layout's
    quantization extent, so an AOI bbox read genuinely prunes buckets."""
    app = spark.sparkContext.applicationId
    _evict_stale(_LAYOUT_CACHE, app)
    key = (app, sf_dir)
    if key not in _LAYOUT_CACHE:
        out = os.path.join(tempfile.mkdtemp(prefix="osm-zlayout-"), "images")
        src = base.images_df(spark, sf_dir).select("image_id", "lon", "lat")
        layout.write_zordered(src, out)
        _LAYOUT_CACHE[key] = out
    return _LAYOUT_CACHE[key]


def _layer_snapshots(spark: SparkSession, sf_dir: str) -> str:
    """Commit the two deterministic layer versions once per (session,
    sf_dir); returns the snapshot-table target."""
    app = spark.sparkContext.applicationId
    _evict_stale(_SNAP_CACHE, app)
    key = (app, sf_dir)
    if key not in _SNAP_CACHE:
        tgt = os.path.join(tempfile.mkdtemp(prefix="osm-zsnap-"), "layer")
        lyr = base.layer_df(spark, sf_dir).select(
            "feature_id", "version", "s_lon", "s_lat"
        )
        v1 = lyr.filter(F.col("feature_id") % 2 == 0)
        v2 = lyr.withColumn(
            "version",
            F.when(F.col("feature_id") % 10 == 0,
                   F.col("version") + F.lit(1)).otherwise(F.col("version")),
        )
        tables.commit_snapshot(v1, tgt)
        tables.commit_snapshot(v2, tgt)
        _SNAP_CACHE[key] = tgt
    return _SNAP_CACHE[key]


# ---------------------------------------------------------------------------
# zlayout_aoi_clip — aoi_clip through the pruned layout
# ---------------------------------------------------------------------------
def q_zlayout_aoi_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _image_layout(spark, sf_dir)
    img = layout.read_bbox(
        spark, out, base.LON_MIN, base.LAT_MIN, base.LON_MAX, base.LAT_MAX
    )
    # PIP ⊂ ring bbox, so bucket pruning + the exact ray cast is row-for-row
    # the flat q_aoi_clip (same kernel, same rounding)
    return img.filter(
        geo.point_in_fixed_ring(F.col("lon"), F.col("lat"), base.AOI_RING)
    ).select(
        "image_id",
        F.round("lon", 6).alias("lon6"),
        F.round("lat", 6).alias("lat6"),
    )


# ---------------------------------------------------------------------------
# zlayout_delta_conflate — snapshot diff → delta-only conflation
# ---------------------------------------------------------------------------
def q_zlayout_delta_conflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    tgt = _layer_snapshots(spark, sf_dir)
    old = tables.read_snapshot(spark, tgt, version=1)
    new = tables.read_snapshot(spark, tgt, version=2)
    delta = new.exceptAll(old)
    img = layout.read_bbox(
        spark, _image_layout(spark, sf_dir),
        base.LON_MIN - _PAD_DEG, base.LAT_MIN - _PAD_DEG,
        base.LON_MAX + _PAD_DEG, base.LAT_MAX + _PAD_DEG,
    )
    pairs = cell_join.cell_pairs(
        img, delta, GRID.encode(F.col("lon"), F.col("lat")),
        GRID.ring1(GRID.encode(F.col("s_lon"), F.col("s_lat"))),
    )
    hits = pairs.withColumn(
        "dist",
        geo.haversine_m(F.col("lon"), F.col("lat"),
                        F.col("s_lon"), F.col("s_lat")),
    ).filter(F.col("dist") <= F.lit(base.THRESHOLD_M))
    # best image per CHANGED feature — hash-agg top-1 (engine doctrine:
    # array_sort(collect_list(struct)) stays in ObjectHashAggregate)
    return (
        hits.select(
            "feature_id", "version",
            F.struct("dist", "image_id").alias("c"),
        )
        .groupBy("feature_id", "version")
        .agg(F.element_at(F.array_sort(F.collect_list("c")), 1).alias("b"))
        .select(
            "feature_id",
            F.col("version").cast("int").alias("version"),
            F.col("b.image_id").alias("image_id"),
            F.round("b.dist", 3).alias("dist_m"),
        )
    )


def _sql_zlayout_delta_conflate() -> str:
    # the snapshot diff, rebuilt from the deterministic v1/v2 definitions:
    # odd feature_ids are new in v2; % 10 == 0 rows changed (version bump,
    # which the diff surfaces with v2's bumped value)
    return (
        f"WITH {_sql_pairs()}, "
        "d AS (SELECT feature_id,"
        " CAST(CASE WHEN feature_id % 10 = 0 THEN version + 1"
        " ELSE version END AS INT) AS version"
        " FROM lyr WHERE feature_id % 2 = 1 OR feature_id % 10 = 0), "
        "m AS (SELECT r.feature_id, d.version, r.image_id, r.dist"
        " FROM ref r JOIN d USING (feature_id)"
        f" WHERE r.dist <= {geo.dlit(base.THRESHOLD_M)}) "
        "SELECT feature_id, version, image_id, round(dist, 3) AS dist_m"
        " FROM (SELECT *, row_number() OVER (PARTITION BY feature_id"
        " ORDER BY dist, image_id) AS rn FROM m) t WHERE rn = 1"
    )


QUERIES = {
    "zlayout_aoi_clip": (q_zlayout_aoi_clip, _sql_aoi_clip()),
    "zlayout_delta_conflate": (
        q_zlayout_delta_conflate, _sql_zlayout_delta_conflate()
    ),
}
