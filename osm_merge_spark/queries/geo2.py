"""Second geospatial batch: kNN (J3/J4), polygon-intersection building
dedupe (J5/J6), way-ref dereference (J9), referenced-node semi-join (F7).

Buildings are fixed-size axis-aligned squares in degree space around the
derived part positions — the engine runs the *generic* pipeline (covering
cells → cell equi-join → Sutherland–Hodgman clip area kernel) while the
oracle uses the closed-form axis-aligned overlap, so the kernel is checked
against independent math, not against itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geo
from ..functions.cells import CellGrid
from ..operators import cell_join, knn
from . import base
from .geo import _pairs_df, _sql_pairs

KNN_RADIUS_M = 100.0
GRID100 = CellGrid.for_radius(KNN_RADIUS_M, max_abs_lat=45.0)

# building square half-size in degrees (~50 m) and B-layer diagonal shift
BLD_HALF = 4.5e-4
BLD_GRID = CellGrid(res_deg=0.002)
_E8 = 1.0e8  # areas are ~1e-7 deg² — scale before rounding


# ---------------------------------------------------------------------------
# knn_k3 — J3/J4: 3 nearest features within 100 m per image
# ---------------------------------------------------------------------------
def q_knn_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir)
    lyr = base.layer_df(spark, sf_dir)
    pairs = cell_join.cell_pairs(
        img, lyr, GRID100.ring1(GRID100.encode(F.col("lon"), F.col("lat"))),
        GRID100.encode(F.col("s_lon"), F.col("s_lat")),
    ).withColumn(
        "dist",
        geo.haversine_m(F.col("lon"), F.col("lat"), F.col("s_lon"), F.col("s_lat")),
    ).filter(F.col("dist") <= F.lit(KNN_RADIUS_M))
    from pyspark.sql import Window

    w = Window.partitionBy("image_id").orderBy(F.asc("dist"), F.asc("feature_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "image_id", "feature_id", F.col("rank").cast("int").alias("rank"),
            F.round("dist", 3).alias("dist_m"),
        )
    )


def _sql_knn_k3() -> str:
    offs = ", ".join(str(o) for o in GRID100.ring1_sql_values())
    return (
        f"WITH img AS ({base.IMAGES_SQL}), lyr AS ({base.LAYER_SQL}), "
        "pc AS (SELECT i.*, cell0 + off AS jcell FROM "
        f"(SELECT *, {GRID100.encode_sql('lon', 'lat')} AS cell0 FROM img) i "
        f"CROSS JOIN (SELECT unnest([{offs}]) AS off) o), "
        f"sc AS (SELECT l.*, {GRID100.encode_sql('s_lon', 's_lat')} AS jcell"
        " FROM lyr l), "
        "pairs AS (SELECT DISTINCT image_id, lon, lat, feature_id, s_lon, s_lat"
        " FROM pc JOIN sc USING (jcell)), "
        f"ref AS (SELECT *, {geo.haversine_m_sql('lon', 'lat', 's_lon', 's_lat')}"
        f" AS dist FROM pairs WHERE"
        f" {geo.haversine_m_sql('lon', 'lat', 's_lon', 's_lat')}"
        f" <= {geo.dlit(KNN_RADIUS_M)}) "
        "SELECT image_id, feature_id, CAST(rank AS INT) AS rank,"
        " round(dist, 3) AS dist_m FROM (SELECT *, row_number() OVER"
        " (PARTITION BY image_id ORDER BY dist ASC, feature_id ASC) AS rank"
        " FROM ref) t WHERE rank <= 3"
    )


# ---------------------------------------------------------------------------
# knn_unbounded — J3 with no distance bound: geometric cell-ring expansion.
# A sparse probe subset keeps the DuckDB brute-force oracle (probe × layer
# cross join) tractable; the engine never materializes that cross product —
# each round is a cell equi-join at radius r·4^i over only the primaries
# still short of k neighbors (operators/knn.py:166).
# ---------------------------------------------------------------------------
KNN_UNB_MOD = 997   # ikey % 997 == 0 → ~60 probes at sf0.01
KNN_UNB_K = 4


def q_knn_unbounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    probes = base.images_df(spark, sf_dir).filter(
        F.col("ikey") % KNN_UNB_MOD == 0
    ).select("image_id", "lon", "lat")
    lyr = base.layer_df(spark, sf_dir).select(
        "feature_id", F.array("s_lon").alias("xs"), F.array("s_lat").alias("ys")
    )
    return knn.knn_unbounded(
        probes, lyr, k=KNN_UNB_K, initial_radius_m=200.0
    )


def _sql_knn_unbounded() -> str:
    hav = geo.haversine_m_sql("lon", "lat", "s_lon", "s_lat")
    return (
        f"WITH img AS ({base.IMAGES_SQL}), lyr AS ({base.LAYER_SQL}), "
        f"q AS (SELECT image_id, lon, lat FROM img WHERE ikey % {KNN_UNB_MOD} = 0), "
        f"scored AS (SELECT image_id, feature_id, {hav} AS dist"
        " FROM q CROSS JOIN lyr) "
        "SELECT image_id, feature_id, CAST(rank AS INT) AS rank,"
        " round(dist, 3) AS dist_m FROM (SELECT *, row_number() OVER"
        " (PARTITION BY image_id ORDER BY dist ASC, feature_id ASC) AS rank"
        f" FROM scored) t WHERE rank <= {KNN_UNB_K}"
    )


# ---------------------------------------------------------------------------
# aoi_clip_ways — F6 for LINE geometries: the reference keeps a way when the
# boundary `contains` OR `intersects` it (utilities/osmhighways.py:243-253).
# Vertex PIP alone (the point-feature aoi_clip) silently drops a way that
# crosses the AOI with zero interior vertices — the fixture's class-2 ways
# are planted exactly so (span the AOI east-west, both endpoints outside).
# Expected by construction: classes 0 (inside) and 2 (crossing) kept,
# 1 (west of AOI) and 3 (hugging the south edge from outside) dropped.
# ---------------------------------------------------------------------------
def q_aoi_clip_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.barrier import eval_once

    # barrier: exists() over the packed arrays reads xs/ys once per vertex
    # per ring edge — without it Catalyst inlines the CASE array builders
    # into every element_at (same 4×-blowup as the point aoi_clip)
    ways = eval_once(base.ways_df(spark, sf_dir), ["xs", "ys"])
    keep = geo.any_vertex_in_fixed_ring(
        F.col("xs"), F.col("ys"), base.AOI_RING
    ) | geo.segments_cross_fixed_ring(F.col("xs"), F.col("ys"), base.AOI_RING)
    return ways.filter(keep).select("way_id", "wcls")


def _sql_aoi_clip_ways() -> str:
    pip = geo.point_in_fixed_ring_sql("vx", "vy", base.AOI_RING)
    crs = geo.segment_crosses_fixed_ring_sql("px", "py", "qx", "qy", base.AOI_RING)
    return (
        f"WITH ways AS ({base.WAYS_SQL}), "
        "v AS (SELECT way_id, unnest(xs) AS vx, unnest(ys) AS vy FROM ways), "
        f"ins AS (SELECT DISTINCT way_id FROM v WHERE {pip}), "
        "si AS (SELECT way_id, xs, ys,"
        " unnest(generate_series(1, len(xs) - 1)) AS i FROM ways), "
        "seg AS (SELECT way_id, xs[i] AS px, ys[i] AS py,"
        " xs[i + 1] AS qx, ys[i + 1] AS qy FROM si), "
        f"crs AS (SELECT DISTINCT way_id FROM seg WHERE {crs}) "
        "SELECT way_id, wcls FROM ways WHERE way_id IN"
        " (SELECT way_id FROM ins UNION SELECT way_id FROM crs)"
    )


# ---------------------------------------------------------------------------
# buildings — two square layers around part positions
# ---------------------------------------------------------------------------
def _building_layer(spark: SparkSession, sf_dir: str, shifted: bool) -> DataFrame:
    pt = spark.read.parquet(f"{sf_dir}/part.parquet")
    pk = F.col("p_partkey")
    cx, cy = base.part_lon(pk), base.part_lat(pk)
    if shifted:
        # diagonal shift in [0.5, 1.5] * half-size → overlap is always
        # partial and never marginal (FIXTURES-style known-by-construction)
        cx = cx + (F.lit(0.5) + base.u01(pk, 41)) * F.lit(BLD_HALF)
        cy = cy + (F.lit(0.5) + base.u01(pk, 42)) * F.lit(BLD_HALF)
    h = F.lit(BLD_HALF)
    return pt.select(
        pk.alias("bld_id"),
        (cx - h).alias("xmin"), (cy - h).alias("ymin"),
        (cx + h).alias("xmax"), (cy + h).alias("ymax"),
        F.array(cx - h, cx + h, cx + h, cx - h, cx - h).alias("xs"),
        F.array(cy - h, cy - h, cy + h, cy + h, cy - h).alias("ys"),
    )


def _building_sql(shifted: bool, alias: str) -> str:
    cx, cy = base.part_lon_sql("p_partkey"), base.part_lat_sql("p_partkey")
    if shifted:
        cx = f"({cx} + ({geo.dlit(0.5)} + {base.u01_sql('p_partkey', 41)}) * {geo.dlit(BLD_HALF)})"
        cy = f"({cy} + ({geo.dlit(0.5)} + {base.u01_sql('p_partkey', 42)}) * {geo.dlit(BLD_HALF)})"
    h = geo.dlit(BLD_HALF)
    return (
        f"{alias} AS (SELECT p_partkey AS bld_id,"
        f" {cx} - {h} AS xmin, {cy} - {h} AS ymin,"
        f" {cx} + {h} AS xmax, {cy} + {h} AS ymax FROM part)"
    )


def _building_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # part.parquet can be a single row group (it is at sf0.1, 20k rows and
    # 2.3M candidate pairs), and the broadcast cell join streams the A side
    # in its scan partitions: spread the A rows over the cores so the join
    # and the per-pair area UDF do not run in one task
    a = _building_layer(spark, sf_dir, shifted=False).repartition(
        spark.sparkContext.defaultParallelism)
    return cell_join.overlap_pairs(
        a, _building_layer(spark, sf_dir, shifted=True), "bld_id", BLD_GRID,
    )


_BLD_PAIRS_SQL = (
    _building_sql(False, "ba") + ", " + _building_sql(True, "bb") + ", "
    "bp AS (SELECT ba.bld_id AS id_a, bb.bld_id AS id_b,"
    " greatest(least(ba.xmax, bb.xmax) - greatest(ba.xmin, bb.xmin),"
    f" {geo.dlit(0.0)})"
    " * greatest(least(ba.ymax, bb.ymax) - greatest(ba.ymin, bb.ymin),"
    f" {geo.dlit(0.0)}) AS area"
    " FROM ba, bb WHERE least(ba.xmax, bb.xmax) > greatest(ba.xmin, bb.xmin)"
    " AND least(ba.ymax, bb.ymax) > greatest(ba.ymin, bb.ymin))"
)


def q_building_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: overlapping building pairs + exact intersection area."""
    return _building_pairs_df(spark, sf_dir).select(
        "id_a", "id_b", F.round(F.col("area") * F.lit(_E8), 4).alias("area_e8")
    )


def _sql_building_pairs() -> str:
    return (
        f"WITH {_BLD_PAIRS_SQL} "
        f"SELECT id_a, id_b, round(area * {geo.dlit(_E8)}, 4) AS area_e8"
        " FROM bp WHERE area > 0"
    )


_DUP_AREA = BLD_HALF * BLD_HALF  # = (half)² → dup iff overlap ≥ 25% of square


def q_building_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: anti-join — B-layer buildings that are NOT near-duplicates of any
    A-layer building (dup iff intersection area > (half)²)."""
    b = _building_layer(spark, sf_dir, shifted=True).select(
        F.col("bld_id").alias("id_b")
    )
    dups = (
        _building_pairs_df(spark, sf_dir)
        .filter(F.col("area") > F.lit(_DUP_AREA))
        .select("id_b")
        .distinct()
    )
    return b.join(dups.hint("shuffle_hash"), "id_b", "left_anti") \
        .select("id_b")


def _sql_building_new() -> str:
    return (
        f"WITH {_BLD_PAIRS_SQL} "
        "SELECT bld_id AS id_b FROM bb WHERE bld_id NOT IN"
        f" (SELECT id_b FROM bp WHERE area > {geo.dlit(_DUP_AREA)})"
    )


# ---------------------------------------------------------------------------
# way_assemble — J9: order-preserving ref dereference (posexplode ⋈ nodes →
# sorted collect_list). Ways = orders; refs = deduped lineitem suppkeys by
# linenumber; nodes = suppliers with hash positions.
# ---------------------------------------------------------------------------
def _node_lon(sk: Column) -> Column:
    return F.lit(base.LON_MIN) + base.u01(sk, 31) * F.lit(base.LON_MAX - base.LON_MIN)


def _node_lat(sk: Column) -> Column:
    return F.lit(base.LAT_MIN) + base.u01(sk, 32) * F.lit(base.LAT_MAX - base.LAT_MIN)


def q_way_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    refs = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.min("l_suppkey").alias("node_id"))
    )
    nodes = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .select(
            F.col("s_suppkey").alias("node_id"),
            _node_lon(F.col("s_suppkey")).alias("nx"),
            _node_lat(F.col("s_suppkey")).alias("ny"),
        )
    )
    pts = (
        refs.join(F.broadcast(nodes), "node_id")
        .groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("l_linenumber", "nx", "ny"))
            ).alias("pts")
        )
    )
    first = F.element_at("pts", 1)
    last = F.element_at("pts", -1)
    return pts.select(
        F.col("l_orderkey").alias("way_id"),
        F.size("pts").alias("npts"),
        F.round(first["nx"], 6).alias("x1"),
        F.round(first["ny"], 6).alias("y1"),
        F.round(last["nx"], 6).alias("xn"),
        F.round(last["ny"], 6).alias("yn"),
    )


def _sql_way_assemble() -> str:
    nlon = (
        f"({geo.dlit(base.LON_MIN)} + {base.u01_sql('node_id', 31)}"
        f" * {geo.dlit(base.LON_MAX - base.LON_MIN)})"
    )
    nlat = (
        f"({geo.dlit(base.LAT_MIN)} + {base.u01_sql('node_id', 32)}"
        f" * {geo.dlit(base.LAT_MAX - base.LAT_MIN)})"
    )
    return (
        "WITH refs AS (SELECT l_orderkey, l_linenumber,"
        " min(l_suppkey) AS node_id FROM lineitem GROUP BY 1, 2), "
        f"pts AS (SELECT l_orderkey, l_linenumber, {nlon} AS nx, {nlat} AS ny"
        " FROM refs JOIN supplier ON node_id = s_suppkey) "
        "SELECT l_orderkey AS way_id, CAST(count(*) AS INT) AS npts,"
        " round(arg_min(nx, l_linenumber), 6) AS x1,"
        " round(arg_min(ny, l_linenumber), 6) AS y1,"
        " round(arg_max(nx, l_linenumber), 6) AS xn,"
        " round(arg_max(ny, l_linenumber), 6) AS yn"
        " FROM pts GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# semi_ref_nodes — F7: nodes referenced by kept ways (left-semi join)
# ---------------------------------------------------------------------------
def q_semi_ref_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderstatus") == "O"
    )
    refs = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .join(kept.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    return sup.join(refs, "s_suppkey", "left_semi").select("s_suppkey", "s_name")


def _sql_semi_ref_nodes() -> str:
    return (
        "SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN"
        " (SELECT l_suppkey FROM lineitem WHERE l_orderkey IN"
        " (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'))"
    )


# ---------------------------------------------------------------------------
# poi_dup — the reference's duplicate-POI finder (osm_merge/poidup.py:122:
# flag a feature when another feature within `tolerance` meters carries the
# SAME tag value; default tolerance 2 m, parameterized). Self cell-join +
# exact caption equality + haversine refine.
# ---------------------------------------------------------------------------
POI_DUP_TOL_M = 25.0
GRID_DUP = CellGrid.for_radius(POI_DUP_TOL_M, max_abs_lat=45.0)


def q_poi_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    lyr = base.layer_df(spark, sf_dir)
    a = lyr.select(
        F.col("feature_id").alias("f1"), F.col("s_lon").alias("lon1"),
        F.col("s_lat").alias("lat1"), F.col("s_caption").alias("cap"),
    ).withColumn(
        "__cell",
        F.explode(GRID_DUP.ring1(GRID_DUP.encode(F.col("lon1"), F.col("lat1")))),
    )
    b = lyr.select(
        F.col("feature_id").alias("f2"), F.col("s_lon").alias("lon2"),
        F.col("s_lat").alias("lat2"), F.col("s_caption").alias("cap"),
    ).withColumn("__cell", GRID_DUP.encode(F.col("lon2"), F.col("lat2")))
    pairs = (
        a.join(b, ["__cell", "cap"])
        .filter(F.col("f1") < F.col("f2"))
        .withColumn(
            "dist",
            geo.haversine_m(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")),
        )
        .filter(F.col("dist") < F.lit(POI_DUP_TOL_M))
    )
    return pairs.select("f1", "f2", F.round("dist", 3).alias("dist_m"))


def _sql_poi_dup() -> str:
    offs = ", ".join(str(o) for o in GRID_DUP.ring1_sql_values())
    hav = geo.haversine_m_sql("a.s_lon", "a.s_lat", "b.s_lon", "b.s_lat")
    return (
        f"WITH lyr AS ({base.LAYER_SQL}), "
        "pc AS (SELECT l.*, cell0 + off AS jcell FROM"
        f" (SELECT *, {GRID_DUP.encode_sql('s_lon', 's_lat')} AS cell0 FROM lyr) l"
        f" CROSS JOIN (SELECT unnest([{offs}]) AS off) o) "
        "SELECT a.feature_id AS f1, b.feature_id AS f2,"
        f" round({hav}, 3) AS dist_m FROM pc a JOIN"
        f" (SELECT *, {GRID_DUP.encode_sql('s_lon', 's_lat')} AS jcell FROM lyr) b"
        " ON a.jcell = b.jcell AND a.s_caption = b.s_caption"
        " AND a.feature_id < b.feature_id"
        f" WHERE {hav} < {geo.dlit(POI_DUP_TOL_M)}"
    )


# ---------------------------------------------------------------------------
# knn_fallback — the conflatePOI flow (conflatePOI.py:418-424): try nodes
# first (nearest point feature within threshold), fall back to ways
# (nearest line feature) when no node matches.
# ---------------------------------------------------------------------------
def _nearest(img: DataFrame, feats: DataFrame, kind: str) -> DataFrame:
    pairs = cell_join.cell_pairs(
        img, feats, GRID100.ring1(GRID100.encode(F.col("lon"), F.col("lat"))),
        GRID100.encode(F.col("s_lon"), F.col("s_lat")),
    ).withColumn(
        "dist",
        geo.haversine_m(F.col("lon"), F.col("lat"), F.col("s_lon"), F.col("s_lat")),
    ).filter(F.col("dist") <= F.lit(KNN_RADIUS_M))
    # argmin via array_sort(collect_list(struct))[1]: ObjectHashAggregate,
    # zero sorts — min(struct) would fall back to SortAggregate (struct
    # agg buffers aren't hash-mutable) and re-sort the candidate stream in
    # every task. Struct field order IS the (dist ASC, feature_id ASC)
    # tie-break the row_number form used.
    return (
        pairs.select("image_id", F.struct("dist", "feature_id").alias("c"))
        .groupBy("image_id")
        .agg(F.element_at(F.array_sort(F.collect_list("c")), 1).alias("b"))
        .select(
            "image_id", F.lit(kind).alias("kind"),
            F.col("b.feature_id").alias(f"{kind}_id"),
            F.round("b.dist", 3).alias(f"{kind}_dist"),
        )
    )


def q_knn_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir).select("image_id", "lon", "lat")
    lyr = base.layer_df(spark, sf_dir)
    # "nodes" = even feature ids, "ways" = odd (deterministic split of the
    # derived layer into the two PostGIS views the reference queries)
    nodes = lyr.filter(F.col("feature_id") % 2 == 0)
    ways = lyr.filter(F.col("feature_id") % 2 == 1)
    n1 = _nearest(img, nodes, "node")
    w1 = _nearest(img, ways, "way")
    # shuffle_hash: both sides hash-partition on image_id — an SMJ would
    # pay two full sorts of streams that are already pure hash-join shapes
    out = img.join(n1.drop("kind").hint("shuffle_hash"), "image_id", "left") \
        .join(w1.drop("kind").hint("shuffle_hash"), "image_id", "left")
    matched = out.filter(
        F.col("node_id").isNotNull() | F.col("way_id").isNotNull()
    )
    return matched.select(
        "image_id",
        F.when(F.col("node_id").isNotNull(), F.lit("node"))
        .otherwise(F.lit("way")).alias("kind"),
        F.coalesce("node_id", "way_id").alias("feature_id"),
        F.coalesce("node_dist", "way_dist").alias("dist_m"),
    )


def _sql_knn_fallback() -> str:
    offs = ", ".join(str(o) for o in GRID100.ring1_sql_values())
    hav = geo.haversine_m_sql("lon", "lat", "s_lon", "s_lat")

    def nearest(parity: int, alias: str) -> str:
        return (
            f"{alias} AS (SELECT image_id, feature_id, dist FROM (SELECT *,"
            " row_number() OVER (PARTITION BY image_id ORDER BY dist ASC,"
            " feature_id ASC) AS rk FROM ("
            f"SELECT pc.image_id, l.feature_id, {geo.haversine_m_sql('pc.lon', 'pc.lat', 'l.s_lon', 'l.s_lat')} AS dist"
            " FROM pc JOIN"
            f" (SELECT *, {GRID100.encode_sql('s_lon', 's_lat')} AS jcell"
            f" FROM lyr WHERE feature_id % 2 = {parity}) l"
            " ON pc.jcell = l.jcell"
            f" WHERE {geo.haversine_m_sql('pc.lon', 'pc.lat', 'l.s_lon', 'l.s_lat')}"
            f" <= {geo.dlit(KNN_RADIUS_M)}) t) t2 WHERE rk = 1)"
        )

    return (
        f"WITH img AS ({base.IMAGES_SQL}), lyr AS ({base.LAYER_SQL}), "
        "pc AS (SELECT i.image_id, i.lon, i.lat, cell0 + off AS jcell FROM"
        f" (SELECT *, {GRID100.encode_sql('lon', 'lat')} AS cell0 FROM img) i"
        f" CROSS JOIN (SELECT unnest([{offs}]) AS off) o), "
        f"{nearest(0, 'n1')}, {nearest(1, 'w1')} "
        "SELECT i.image_id,"
        " CASE WHEN n1.feature_id IS NOT NULL THEN 'node' ELSE 'way' END AS kind,"
        " coalesce(n1.feature_id, w1.feature_id) AS feature_id,"
        " round(coalesce(n1.dist, w1.dist), 3) AS dist_m"
        " FROM img i LEFT JOIN n1 ON i.image_id = n1.image_id"
        " LEFT JOIN w1 ON i.image_id = w1.image_id"
        " WHERE n1.feature_id IS NOT NULL OR w1.feature_id IS NOT NULL"
    )


QUERIES = {
    "poi_dup": (q_poi_dup, _sql_poi_dup()),
    "knn_fallback": (q_knn_fallback, _sql_knn_fallback()),
    "knn_k3": (q_knn_k3, _sql_knn_k3()),
    "knn_unbounded": (q_knn_unbounded, _sql_knn_unbounded()),
    "aoi_clip_ways": (q_aoi_clip_ways, _sql_aoi_clip_ways()),
    "building_pairs": (q_building_pairs, _sql_building_pairs()),
    "building_new": (q_building_new, _sql_building_new()),
    "way_assemble": (q_way_assemble, _sql_way_assemble()),
    "semi_ref_nodes": (q_semi_ref_nodes, _sql_semi_ref_nodes()),
}


_ = (_pairs_df, _sql_pairs)  # shared helpers re-exported for ETL module
