"""Geospatial driver-contract queries: tiling, cell indexing, the
distance-threshold conflation join ladder, and AOI point-in-polygon clip.

Each entry = (spark_fn, oracle_sql). The oracle reproduces the *semantics*
(cell-key candidate join + exact refine + ranking windows) in ANSI SQL so
DuckDB independently recomputes the full pipeline on the same tables.

Reference parity (SURVEY §2): J1/J2 dist join, J3/T1-T3 ranking, J7 anti
join, J10/A6 tiling, F6 PIP clip, X1 fuzzy ratio, X3 haversine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import fuzzy, geo
from ..functions.cells import CellGrid, TileGrid
from ..operators import cell_join
from . import base

GRID = CellGrid.for_radius(base.THRESHOLD_M, max_abs_lat=45.0)
TILES = TileGrid(tile_m=5000.0)


# ---------------------------------------------------------------------------
# tile_assign — J10/A6: raster→tile assignment by EPSG:3857 floor arithmetic
# ---------------------------------------------------------------------------
def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir)
    return (
        img.withColumn("tile_id", TILES.tile_id(F.col("lon"), F.col("lat")))
        .groupBy("tile_id")
        .agg(F.count("*").alias("n_images"))
    )


def _sql_tile_assign() -> str:
    return (
        f"WITH img AS ({base.IMAGES_SQL}) "
        f"SELECT {TILES.tile_id_sql('lon', 'lat')} AS tile_id,"
        " count(*) AS n_images FROM img GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# tile_pyramid — hierarchical zoom rollup (J10/A6 extension): per-tile image
# counts at three zoom levels, each coarser level aggregated from the
# PREVIOUS level's (tiny) aggregate, never from the raw table — the rollup
# cost is one full groupBy plus two re-aggregations of ~|tiles| rows, so a
# 10^12-image pyramid costs one shuffle of the data and pocket change after.
# ---------------------------------------------------------------------------
def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir)
    fine = (
        img.select(
            TILES.tile_x(F.col("lon")).alias("tx"),
            TILES.tile_y(F.col("lat")).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n_images"))
    )

    def up(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(
                F.floor(F.col("tx") / F.lit(2.0)).alias("tx"),
                F.floor(F.col("ty") / F.lit(2.0)).alias("ty"),
            )
            .agg(F.sum("n_images").alias("n_images"))
        )

    l1 = up(fine)
    l2 = up(l1)
    lvl = lambda df, i: df.select(  # noqa: E731
        F.lit(i).cast("int").alias("level"), "tx", "ty", "n_images"
    )
    return lvl(fine, 0).unionByName(lvl(l1, 1)).unionByName(lvl(l2, 2))


def _sql_tile_pyramid() -> str:
    size = geo.dlit(TILES.tile_m)
    tx = f"CAST(floor(({geo.mercator_x_sql('lon')}) / {size}) AS BIGINT)"
    ty = f"CAST(floor(({geo.mercator_y_sql('lat')}) / {size}) AS BIGINT)"
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"f AS (SELECT {tx} AS tx, {ty} AS ty, count(*) AS n_images"
        " FROM img GROUP BY 1, 2), "
        "l1 AS (SELECT CAST(floor(tx / 2.0) AS BIGINT) AS tx,"
        " CAST(floor(ty / 2.0) AS BIGINT) AS ty, CAST(sum(n_images) AS BIGINT) AS n_images"
        " FROM f GROUP BY 1, 2), "
        "l2 AS (SELECT CAST(floor(tx / 2.0) AS BIGINT) AS tx,"
        " CAST(floor(ty / 2.0) AS BIGINT) AS ty, CAST(sum(n_images) AS BIGINT) AS n_images"
        " FROM l1 GROUP BY 1, 2) "
        "SELECT CAST(0 AS INT) AS level, tx, ty, n_images FROM f"
        " UNION ALL SELECT 1, tx, ty, n_images FROM l1"
        " UNION ALL SELECT 2, tx, ty, n_images FROM l2"
    )


# ---------------------------------------------------------------------------
# zorder_key — Morton spatial sort key (data-layout engineering: sorting
# the table by this key before write clusters row groups spatially →
# parquet min/max statistics skip non-AOI files; see functions/zorder.py
# and tests/test_table_layout.py::test_zorder_clusters_partitions)
# ---------------------------------------------------------------------------
_Z_LON = (base.LON_MIN, base.LON_MAX)
_Z_LAT = (base.LAT_MIN, base.LAT_MAX)


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import zorder

    img = base.images_df(spark, sf_dir)
    return img.select(
        "image_id",
        zorder.zorder_key(F.col("lon"), F.col("lat"), _Z_LON, _Z_LAT)
        .alias("zkey"),
    )


def _sql_zorder_key() -> str:
    from ..functions import zorder

    return (
        f"WITH img AS ({base.IMAGES_SQL}) "
        f"SELECT image_id, {zorder.zorder_key_sql('lon', 'lat', _Z_LON, _Z_LAT)}"
        " AS zkey FROM img"
    )


# ---------------------------------------------------------------------------
# cell_stats — cell encoding (the H3/S2-style index) + per-cell density
# (the hot-cell view of join skew; SURVEY §4 skew row)
# ---------------------------------------------------------------------------
def q_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir)
    return (
        img.withColumn("cell_id", GRID.encode(F.col("lon"), F.col("lat")))
        .groupBy("cell_id")
        .agg(F.count("*").alias("n_images"))
        .filter(F.col("n_images") > 1)
    )


def _sql_cell_stats() -> str:
    return (
        f"WITH img AS ({base.IMAGES_SQL}) "
        f"SELECT {GRID.encode_sql('lon', 'lat')} AS cell_id,"
        " count(*) AS n_images FROM img GROUP BY 1 HAVING count(*) > 1"
    )


# ---------------------------------------------------------------------------
# Shared candidate-pair plumbing (cell equi-join, ring-1 expansion)
# ---------------------------------------------------------------------------
def _pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs → exact haversine refine. One definition reused by
    dist_join / conflate_best / conflate_new (same physical plan prefix).
    NOT persisted: measured at sf0.1, materializing the 2.6M-row pair set
    costs more than the downstream queries save (the cached slim images
    table already removes the expensive shared prefix)."""
    img = base.images_df(spark, sf_dir)
    lyr = base.layer_df(spark, sf_dir)
    # the ring dilates the layer (~25× smaller); images keep their one cell
    pairs = cell_join.cell_pairs(
        img, lyr, GRID.encode(F.col("lon"), F.col("lat")),
        GRID.ring1(GRID.encode(F.col("s_lon"), F.col("s_lat"))),
    )
    return pairs.withColumn(
        "dist",
        geo.haversine_m(F.col("lon"), F.col("lat"), F.col("s_lon"), F.col("s_lat")),
    )


def _sql_pairs() -> str:
    # mirror of the engine plan: the (small) layer is dilated by the ring,
    # images keep their single cell
    offs = ", ".join(str(o) for o in GRID.ring1_sql_values())
    return (
        f"img AS ({base.IMAGES_SQL}), lyr AS ({base.LAYER_SQL}), "
        f"pc AS (SELECT i.*, {GRID.encode_sql('lon', 'lat')} AS jcell FROM img i), "
        "sc AS (SELECT l.*, cell0 + off AS jcell FROM "
        f"(SELECT *, {GRID.encode_sql('s_lon', 's_lat')} AS cell0 FROM lyr) l "
        f"CROSS JOIN (SELECT unnest([{offs}]) AS off) o), "
        "pairs AS (SELECT image_id, ikey, caption, lon, lat,"
        " feature_id, version, s_lon, s_lat, s_caption"
        " FROM pc JOIN sc USING (jcell)), "
        "ref AS (SELECT *, "
        f"{geo.haversine_m_sql('lon', 'lat', 's_lon', 's_lat')} AS dist FROM pairs)"
    )


# ---------------------------------------------------------------------------
# dist_join — J1/J2: distance-threshold spatial join, exact refine
# ---------------------------------------------------------------------------
def q_dist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _pairs_df(spark, sf_dir)
        .filter(F.col("dist") <= F.lit(base.THRESHOLD_M))
        .select(
            "image_id", "feature_id", F.round("dist", 3).alias("dist_m")
        )
    )


def _sql_dist_join() -> str:
    return (
        f"WITH {_sql_pairs()} "
        "SELECT image_id, feature_id, round(dist, 3) AS dist_m"
        f" FROM ref WHERE dist <= {geo.dlit(base.THRESHOLD_M)}"
    )


# ---------------------------------------------------------------------------
# conflate_best — J3/T1-T3/X1: top-5 by distance, fuzzy-caption + exact-geom
# hits, best candidate per image (the reference decision ladder,
# conflator.py:215-298, as deterministic window logic)
# ---------------------------------------------------------------------------
def q_conflate_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import knn

    refined = _pairs_df(spark, sf_dir).filter(
        F.col("dist") <= F.lit(base.THRESHOLD_M)
    )
    # agg-based top-5 + min_by best (identical rows to the oracle's
    # row_number windows — (dist, feature_id) is a total order — but hash
    # aggregation instead of shuffle+full-sort; see operators/knn.py)
    capped = knn.top_k_agg(
        refined, "image_id", "dist", "feature_id", 5,
        const_cols=["caption"], payload_cols=["version", "s_caption"],
    )
    ratio = fuzzy.ratio_lev(F.col("caption"), F.col("s_caption"))
    name_hit = (
        (ratio > F.lit(85.0))
        & (F.abs(F.length("caption") - F.length("s_caption")) <= F.lit(3))
    ).cast("int")
    geom_hit = (F.col("dist") == F.lit(0.0)).cast("int")
    scored = capped.withColumn("ratio", ratio).withColumn(
        "hits", name_hit + geom_hit
    )
    return (
        knn.best_candidate(scored, "image_id", hits_col="hits",
                           dist_col="dist", tie_col="feature_id")
        .select(
            "image_id",
            "feature_id",
            "hits",
            F.round("ratio", 2).alias("ratio"),
            F.round("dist", 3).alias("dist_m"),
            (F.col("version") + 1).cast("int").alias("version"),
        )
    )


def _sql_conflate_best() -> str:
    ratio = fuzzy.ratio_lev_sql("caption", "s_caption")
    return (
        f"WITH {_sql_pairs()}, "
        f"inr AS (SELECT * FROM ref WHERE dist <= {geo.dlit(base.THRESHOLD_M)}), "
        "capped AS (SELECT * FROM (SELECT *, row_number() OVER"
        " (PARTITION BY image_id ORDER BY dist ASC, feature_id ASC) AS rk"
        " FROM inr) t WHERE rk <= 5), "
        f"scored AS (SELECT *, {ratio} AS ratio,"
        f" (CASE WHEN {ratio} > {geo.dlit(85.0)}"
        " AND abs(length(caption) - length(s_caption)) <= 3 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN dist = {geo.dlit(0.0)} THEN 1 ELSE 0 END) AS hits"
        " FROM capped) "
        "SELECT image_id, feature_id, CAST(hits AS INT) AS hits,"
        " round(ratio, 2) AS ratio, round(dist, 3) AS dist_m,"
        " CAST(version + 1 AS INT) AS version FROM"
        " (SELECT *, row_number() OVER (PARTITION BY image_id ORDER BY"
        " hits DESC, dist ASC, feature_id ASC) AS rk2 FROM scored) t"
        " WHERE rk2 = 1"
    )


# ---------------------------------------------------------------------------
# conflate_new — J7: anti-join, primaries with zero candidates become "new"
# ---------------------------------------------------------------------------
def q_conflate_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir)
    matched = (
        _pairs_df(spark, sf_dir)
        .filter(F.col("dist") <= F.lit(base.THRESHOLD_M))
        .select("image_id")
        .distinct()
    )
    # shuffle_hash: both legs are corpus-scale equi-keys — SMJ's two sorts
    # buy nothing (same rationale as the banded dedup joins)
    return img.join(matched.hint("shuffle_hash"), "image_id", "left_anti") \
        .select("image_id", "caption", F.lit(1).alias("version"))


def _sql_conflate_new() -> str:
    return (
        f"WITH {_sql_pairs()}, "
        "m AS (SELECT DISTINCT image_id FROM ref"
        f" WHERE dist <= {geo.dlit(base.THRESHOLD_M)}) "
        "SELECT image_id, caption, CAST(1 AS BIGINT) AS version FROM img"
        " WHERE image_id NOT IN (SELECT image_id FROM m)"
    )


# ---------------------------------------------------------------------------
# aoi_clip — F6: exact ray-cast point-in-polygon against the AOI boundary
# ---------------------------------------------------------------------------
def q_aoi_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.barrier import eval_once

    # barrier: the ray-cast parity sum reads lon/lat ~18× — without it
    # Catalyst inlines the derived CASE trees into every edge term
    img = eval_once(base.images_df(spark, sf_dir), ["lon", "lat"])
    return img.filter(
        geo.point_in_fixed_ring(F.col("lon"), F.col("lat"), base.AOI_RING)
    ).select(
        "image_id", F.round("lon", 6).alias("lon6"), F.round("lat", 6).alias("lat6")
    )


def _sql_aoi_clip() -> str:
    ring = base.AOI_RING
    n = len(ring)
    terms = []
    for i in range(n):
        xi, yi = ring[i]
        xj, yj = ring[(i - 1) % n]
        xi_s, yi_s = geo.dlit(xi), geo.dlit(yi)
        xj_s, yj_s = geo.dlit(xj), geo.dlit(yj)
        # mirror kernels._raycast exactly: crossing test then strict x < xint
        terms.append(
            f"(CASE WHEN (({yi_s} > lat) != ({yj_s} > lat)) THEN"
            f" (CASE WHEN lon < (({xj_s} - {xi_s}) * (lat - {yi_s})"
            f" / ({yj_s} - {yi_s}) + {xi_s}) THEN 1 ELSE 0 END)"
            " ELSE 0 END)"
        )
    inside = "(" + " + ".join(terms) + ") % 2 = 1"
    return (
        f"WITH img AS ({base.IMAGES_SQL}) "
        "SELECT image_id, round(lon, 6) AS lon6, round(lat, 6) AS lat6"
        f" FROM img WHERE {inside}"
    )


# ---------------------------------------------------------------------------
# s2_cell_stats — canonical S2 level-13 cell index (the north rule's named
# encoding; functions/s2.py) + per-cell density. Same shape as cell_stats
# but on true S2CellId values, so the output joins against any external
# S2-indexed dataset. Oracle mirrors the Hilbert automaton as a CTE chain.
# ---------------------------------------------------------------------------
def q_s2_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow-batched encoder (a Catalyst aggregate fold of the same
    # automaton measured 3.5× slower here: Spark interprets it); the
    # oracle runs the automaton as a DuckDB CTE chain, and tests pin the
    # two to the same ids.
    from ..functions import s2

    img = base.images_df(spark, sf_dir).select("image_id", "lon", "lat")
    return (
        img.withColumn(
            "s2_cell", s2.s2_cell_udf(13)(F.col("lon"), F.col("lat"))
        )
        .groupBy("s2_cell")
        .agg(F.count("*").alias("n_images"), F.min("image_id").alias("first_image"))
    )


def _sql_s2_cell_stats() -> str:
    from ..functions import s2

    ctes, last = s2.s2_sql_ctes("img", keep="image_id", level=13)
    return (
        f"WITH img AS ({base.IMAGES_SQL}), {ctes} "
        f"SELECT s2_cell, count(*) AS n_images, min(image_id) AS first_image"
        f" FROM {last} GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# s2_dist_join — the north star verbatim: "encode every record into …
# S2 … cells … run broadcast-or-shuffle hash joins on cell keys".
# Same J1 semantics as dist_join but keyed on CANONICAL S2 level-19 ids:
# layer dilated to its 3×3 ij-neighborhood (functions/s2.py ring1), images
# keep one cell, equi-join, exact haversine refine. Level 19 (min cell
# width ≈13 m > the 7 m threshold) makes ring-1 a complete cover inside a
# face; each dilated feature carries 9 DISTINCT ids, so a pair meets at
# most once — no pair dedup stage. tests/test_s2.py asserts the result
# set equals the CellGrid dist_join's.
# ---------------------------------------------------------------------------
_S2_JOIN_LEVEL = 19


def q_s2_dist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Encoders are the vectorized Arrow kernels (the north rule's own
    # wording): a Catalyst HOF fold of the automaton (19 chained struct
    # steps per probe, 9 folds per build row) runs interpreted and
    # measured 54.7 s at sf0.1 vs 1.7 s for the numpy fold (8 whole-batch
    # table lookups). Tests pin udf == numpy == the DuckDB CTE mirror,
    # ring-1 sets per row included.
    from ..functions import s2
    from ..functions.barrier import eval_once

    # eval_once: the join's inferred isnotnull(s2_cell) filter would
    # otherwise be pushed below the projection and run the encoder a
    # second time over the same probe rows
    img = eval_once(base.images_df(spark, sf_dir).select(
        "image_id", "lon", "lat",
        s2.s2_cell_udf(_S2_JOIN_LEVEL)(F.col("lon"), F.col("lat"))
        .alias("s2_cell"),
    ), ["s2_cell"])
    ring = s2.s2_cells_ring1_udf(_S2_JOIN_LEVEL)
    lyr = base.layer_df(spark, sf_dir).select(
        "feature_id", "s_lon", "s_lat",
        F.explode(
            F.array_distinct(ring(F.col("s_lon"), F.col("s_lat")))
        ).alias("s2_cell"),
    )
    return (
        img.join(F.broadcast(lyr), "s2_cell")
        .withColumn(
            "dist",
            geo.haversine_m(F.col("lon"), F.col("lat"),
                            F.col("s_lon"), F.col("s_lat")),
        )
        .filter(F.col("dist") <= F.lit(base.THRESHOLD_M))
        .select("image_id", "feature_id", F.round("dist", 3).alias("dist_m"))
    )


def _sql_s2_dist_join() -> str:
    from ..functions import s2

    img_ctes, img_out = s2.s2_sql_ctes(
        "img", keep="image_id, lon, lat", level=_S2_JOIN_LEVEL, prefix="si"
    )
    lyr_ctes, lyr_out = s2.s2_sql_ctes_ring1(
        "lyr", lon="s_lon", lat="s_lat", level=_S2_JOIN_LEVEL,
        keep="feature_id, s_lon, s_lat", prefix="sl",
    )
    return (
        f"WITH img AS ({base.IMAGES_SQL}), lyr AS ({base.LAYER_SQL}), "
        f"{img_ctes}, {lyr_ctes} "
        "SELECT image_id, feature_id, "
        f"round({geo.haversine_m_sql('lon', 'lat', 's_lon', 's_lat')}, 3)"
        f" AS dist_m FROM {img_out} JOIN {lyr_out} USING (s2_cell)"
        f" WHERE {geo.haversine_m_sql('lon', 'lat', 's_lon', 's_lat')}"
        f" <= {geo.dlit(base.THRESHOLD_M)}"
    )


# ---------------------------------------------------------------------------
# hex_bin — hexagonal density binning at H3-res-9 cell size (the honest
# substitute for canonical H3; functions/hexgrid.py). One shared SQL
# formula text evaluated by both engines (F.expr == oracle).
# ---------------------------------------------------------------------------
def q_hex_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import hexgrid

    img = base.images_df(spark, sf_dir)
    return (
        hexgrid.with_hex_id(img.select("image_id", "lon", "lat"))
        .groupBy("hex_id")
        .agg(F.count("*").alias("n_images"), F.min("image_id").alias("first_image"))
    )


def _sql_hex_bin() -> str:
    from ..functions import hexgrid

    return (
        f"WITH img AS ({base.IMAGES_SQL}) "
        f"SELECT CAST({hexgrid.hex_id_sql('lon', 'lat')} AS BIGINT) AS hex_id,"
        " count(*) AS n_images, min(image_id) AS first_image"
        " FROM img GROUP BY 1"
    )


QUERIES = {
    "tile_assign": (q_tile_assign, _sql_tile_assign()),
    "s2_cell_stats": (q_s2_cell_stats, _sql_s2_cell_stats()),
    "s2_dist_join": (q_s2_dist_join, _sql_s2_dist_join()),
    "hex_bin": (q_hex_bin, _sql_hex_bin()),
    "tile_pyramid": (q_tile_pyramid, _sql_tile_pyramid()),
    "zorder_key": (q_zorder_key, _sql_zorder_key()),
    "cell_stats": (q_cell_stats, _sql_cell_stats()),
    "dist_join": (q_dist_join, _sql_dist_join()),
    "conflate_best": (q_conflate_best, _sql_conflate_best()),
    "conflate_new": (q_conflate_new, _sql_conflate_new()),
    "aoi_clip": (q_aoi_clip, _sql_aoi_clip()),
}
