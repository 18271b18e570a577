"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship conflation pipeline on sf0.001 (full ladder with the
               engine's cell join, Arrow refine kernels, ranking windows).
queries()    — one entry per implemented operator from SURVEY.md §2 plus the
               training-data ops, each over the driver's parquet tables.
oracle_sql() — bit-identical ANSI SQL for DuckDB (same column names; every
               double routed through round() in both engines).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osm_merge_spark.queries import registry  # noqa: E402
from osm_merge_spark.session import _ship_package  # noqa: E402

_TESTDATA_SF0001 = "/root/testdata/sf0.001"


def _wrap(fn):
    """Ship the package zip to executors on whatever session the driver
    hands us — its python workers can't otherwise import the module-level
    pandas UDFs (the driver session didn't run our get_spark)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full conflation (J1→J3→J7 ladder) over the image+caption
    table derived from sf0.001, via the engine's conflate() operator.

    The layer is MIXED-geometry — the engine's hardest path: every part is
    a point feature, every 4th part additionally contributes a planted
    LineString through its position (so line matches genuinely occur at
    the 7 m threshold), and every 8th of those is a two-part
    MultiLineString whose decoy part sits ~5 km away (the best-part min
    aggregation must pick the near part). The plan therefore runs BOTH
    conflation branches — scalar-point cell join AND covering-cells +
    polyline refine — plus the multipart explode, unioned before the
    top-5 cap."""
    from pyspark.sql import functions as F

    from osm_merge_spark.operators.conflate import ConflateParams, conflate
    from osm_merge_spark.queries import base

    _ship_package(spark)

    img = base.images_df(spark, _TESTDATA_SF0001)
    pts = base.layer_df(spark, _TESTDATA_SF0001).select(
        "feature_id",
        "version",
        F.lit("Point").alias("geom_type"),
        F.array("s_lon").alias("xs"),
        F.array("s_lat").alias("ys"),
        F.map_from_arrays(
            F.array(F.lit("name")), F.array(F.col("s_caption"))
        ).alias("tags"),
        F.col("s_caption").alias("caption"),
    )
    # planted line features: a short segment through the part position —
    # images jittered around that position land within threshold of the
    # segment, so the line branch produces real candidates, not just plan
    # nodes. Multipart decoys are NaN-packed per sources/geojson._flatten.
    base_lines = base.layer_df(spark, _TESTDATA_SF0001).filter(
        F.col("feature_id") % 4 == 0
    )
    dx, dy = F.lit(0.001), F.lit(0.0004)
    near_xs = F.array(F.col("s_lon") - dx, F.col("s_lon") + dx)
    near_ys = F.array(F.col("s_lat") - dy, F.col("s_lat") + dy)
    nan = F.lit(float("nan"))
    decoy_xs = F.array(F.col("s_lon") + F.lit(0.05), F.col("s_lon") + F.lit(0.051))
    decoy_ys = F.array(F.col("s_lat"), F.col("s_lat"))
    is_multi = F.col("feature_id") % 8 == 0
    lines = base_lines.select(
        (F.col("feature_id") + F.lit(100_000_000)).alias("feature_id"),
        "version",
        F.when(is_multi, F.lit("MultiLineString"))
        .otherwise(F.lit("LineString")).alias("geom_type"),
        F.when(
            is_multi, F.concat(near_xs, F.array(nan), decoy_xs)
        ).otherwise(near_xs).alias("xs"),
        F.when(
            is_multi, F.concat(near_ys, F.array(nan), decoy_ys)
        ).otherwise(near_ys).alias("ys"),
        F.map_from_arrays(
            F.array(F.lit("name")), F.array(F.col("s_caption"))
        ).alias("tags"),
        F.col("s_caption").alias("caption"),
    )
    lyr = pts.unionByName(lines)
    matched, _new = conflate(img, lyr, ConflateParams())
    return matched.select(
        "image_id", "feature_id", "dist_m", "ratio", "hits", "version"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, (fn, _sql) in registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_fn, sql) in registry().items() if sql is not None
    }
