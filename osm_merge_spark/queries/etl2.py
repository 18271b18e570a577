"""Second ETL batch: enumerated code→tag mapping (X11), access-flag
fan-out (X12), point-in-polygon join (J8), ring centroid (A3), and
geometry-explode min-distance (X13/A1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geo
from ..functions.kernels import point_in_ring
from . import base
from .geo2 import BLD_GRID, BLD_HALF, _building_layer, _building_sql

# ---------------------------------------------------------------------------
# code_mapping — X11: MVUM-style enumerated codes → OSM tags
# (utilities/mvum.py:151-217; lookup tables mvum.yaml:24-59)
# ---------------------------------------------------------------------------
_SMOOTHNESS = ["impassable", "very_horrible", "horrible", "very_bad", "bad", "good"]
_SURFACE = {"NAT": "ground", "AGG": "gravel", "AC": "asphalt",
            "BST": "paved", "IMP": "compacted", "CSOIL": "dirt"}
_SURF_CODES = list(_SURFACE.keys())


def q_code_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey", "p_size")
    lvl = (F.col("p_size") % 6).cast("int")
    smoothness = F.element_at(
        F.array(*[F.lit(s) for s in _SMOOTHNESS]), lvl + 1
    )
    code = F.element_at(
        F.array(*[F.lit(c) for c in _SURF_CODES]),
        (F.col("p_partkey") % 6).cast("int") + 1,
    )
    surface: Column = F.lit(None).cast("string")
    for k, v in _SURFACE.items():
        surface = F.when(code == k, F.lit(v)).otherwise(surface)
    return pt.select(
        "p_partkey", smoothness.alias("smoothness"),
        code.alias("surface_code"), surface.alias("surface"),
    )


def _sql_code_mapping() -> str:
    sm = "', '".join(_SMOOTHNESS)
    sc = "', '".join(_SURF_CODES)
    cases = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _SURFACE.items())
    code = f"(['{sc}'])[CAST(p_partkey % 6 AS INT) + 1]"
    return (
        "SELECT p_partkey,"
        f" (['{sm}'])[CAST(p_size % 6 AS INT) + 1] AS smoothness,"
        f" {code} AS surface_code,"
        f" CASE {code} {cases} END AS surface FROM part"
    )


# ---------------------------------------------------------------------------
# access_fanout — X12: TRLUSE-style "atv|horse|bike" → per-vehicle tags
# (utilities/trails.py:108-150,201-226)
# ---------------------------------------------------------------------------
_USE_COMBOS = ["atv", "atv|horse", "horse|bike", "atv|snowmobile|horse",
               "bike", "snowmobile|bike"]


def q_access_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    combo = F.element_at(
        F.array(*[F.lit(c) for c in _USE_COMBOS]),
        (F.col("c_custkey") % len(_USE_COMBOS)).cast("int") + 1,
    )
    tags = F.concat_ws(
        ";",
        F.transform(
            F.array_sort(F.split(combo, r"\|")),
            lambda v: F.concat(v, F.lit("=yes")),
        ),
    )
    return cu.select("c_custkey", combo.alias("trluse"), tags.alias("access_tags"))


def _sql_access_fanout() -> str:
    lits = "', '".join(_USE_COMBOS)
    combo = f"(['{lits}'])[CAST(c_custkey % {len(_USE_COMBOS)} AS INT) + 1]"
    return (
        f"SELECT c_custkey, {combo} AS trluse,"
        f" array_to_string(list_transform(list_sort(string_split({combo}, '|')),"
        " v -> v || '=yes'), ';') AS access_tags FROM customer"
    )


# ---------------------------------------------------------------------------
# pip_join — J8: image point → containing building polygon (cell join +
# per-row-ring ray-cast refine — the varying-polygon PIP kernel)
# ---------------------------------------------------------------------------
def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cell_join

    img = base.images_df(spark, sf_dir).select("image_id", "lon", "lat")
    bld = _building_layer(spark, sf_dir, shifted=False).select(
        "bld_id", "xs", "ys"
    )
    # buildings (~90 m) are smaller than BLD_GRID cells (~220 m): the ring
    # touches every cell the square intersects, so interior points always
    # share a cell with the boundary's covering set
    cand = cell_join.cell_pairs(
        img, bld, BLD_GRID.encode(F.col("lon"), F.col("lat")),
        cell_join.covering_cells(F.col("xs"), F.col("ys"), BLD_GRID),
    )
    inside = point_in_ring(F.col("lon"), F.col("lat"), F.col("xs"), F.col("ys"))
    return cand.filter(inside).select("image_id", "bld_id")


def _sql_pip_join() -> str:
    # half-open ray-cast on an axis-aligned square == half-open bbox test
    return (
        f"WITH img AS ({base.IMAGES_SQL}), {_building_sql(False, 'ba')} "
        "SELECT image_id, bld_id FROM img, ba"
        " WHERE lon >= xmin AND lon < xmax AND lat >= ymin AND lat < ymax"
    )


# ---------------------------------------------------------------------------
# centroid — A3: vertex-average ring centroid, exact fold-order mirror
# ---------------------------------------------------------------------------
def q_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    bld = _building_layer(spark, sf_dir, shifted=False)
    return bld.select(
        "bld_id",
        F.round(geo.ring_centroid_x(F.col("xs")) * F.lit(1.0e6), 4).alias("cx_e6"),
        F.round(geo.ring_centroid_y(F.col("ys")) * F.lit(1.0e6), 4).alias("cy_e6"),
    )


def _sql_centroid() -> str:
    # ring is [x-,x+,x+,x-,x-]; mirror the left fold exactly
    fold_x = "(((((0.0 + xmin) + xmax) + xmax) + xmin) + xmin) / 5"
    fold_y = "(((((0.0 + ymin) + ymin) + ymax) + ymax) + ymin) / 5"
    return (
        f"WITH {_building_sql(False, 'ba')} "
        f"SELECT bld_id, round(({fold_x}) * 1.0e6, 4) AS cx_e6,"
        f" round(({fold_y}) * 1.0e6, 4) AS cy_e6 FROM ba"
    )


# ---------------------------------------------------------------------------
# seg_explode_min — X13/A1: explode geometry into segments, per-segment
# distance, keep the minimum (MultiLineString best-segment semantics)
# ---------------------------------------------------------------------------
_SEG = 30.0 / 110_574.0  # ~30 m in degrees


def _line_pts(pk: Column) -> list[tuple[Column, Column]]:
    """3-point polyline around the part position (synth-layer shape)."""
    cx, cy = base.part_lon(pk), base.part_lat(pk)
    return [
        (cx - F.lit(_SEG), cy - F.lit(_SEG * 0.3)),
        (cx, cy),
        (cx + F.lit(_SEG), cy + F.lit(_SEG * 0.3)),
    ]


def q_seg_explode_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir).filter(F.col("cls") <= 5).select(
        "image_id", "lon", "lat", "src_part"
    )
    pt = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey")
    pts = _line_pts(F.col("p_partkey"))
    lines = pt.select(
        "p_partkey",
        F.array(*[p[0] for p in pts]).alias("xs"),
        F.array(*[p[1] for p in pts]).alias("ys"),
    )
    j = img.join(lines, img.src_part == lines.p_partkey)
    # explode into segments (X13), per-segment point distance, min (A1)
    seg = F.posexplode(
        F.transform(
            F.sequence(F.lit(1), F.size("xs") - 1),
            lambda k: F.struct(
                F.element_at("xs", k).alias("ax"),
                F.element_at("ys", k).alias("ay"),
                F.element_at("xs", k + 1).alias("bx"),
                F.element_at("ys", k + 1).alias("by"),
            ),
        )
    )
    e = j.select("image_id", "lon", "lat", seg.alias("pos", "s"))
    px, py = F.col("lon"), F.col("lat")
    ax, ay = F.col("s.ax"), F.col("s.ay")
    bx, by = F.col("s.bx"), F.col("s.by")
    dx, dy = bx - ax, by - ay
    seg2 = dx * dx + dy * dy
    t = F.when(seg2 == 0.0, F.lit(0.0)).otherwise(
        F.least(F.greatest(((px - ax) * dx + (py - ay) * dy) / seg2, F.lit(0.0)), F.lit(1.0))
    )
    cx2, cy2 = ax + t * dx, ay + t * dy
    d = F.sqrt((px - cx2) * (px - cx2) + (py - cy2) * (py - cy2))
    return (
        e.withColumn("d", d)
        .groupBy("image_id")
        .agg(F.floor(F.min("d") * F.lit(1.0e9)).cast("long").alias("mindist_e9"))
    )


def _sql_seg_explode_min() -> str:
    cx, cy = base.part_lon_sql("p_partkey"), base.part_lat_sql("p_partkey")
    s, s3 = geo.dlit(_SEG), geo.dlit(_SEG * 0.3)
    pts = [
        (f"({cx} - {s})", f"({cy} - {s3})"),
        (f"({cx})", f"({cy})"),
        (f"({cx} + {s})", f"({cy} + {s3})"),
    ]
    segs = []
    for k in range(2):
        (ax, ay), (bx, by) = pts[k], pts[k + 1]
        segs.append(f"{{'ax': {ax}, 'ay': {ay}, 'bx': {bx}, 'by': {by}}}")
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"lines AS (SELECT p_partkey, unnest([{', '.join(segs)}], recursive := true)"
        " FROM part), "
        "e AS (SELECT image_id, lon, lat, ax, ay, bx, by FROM"
        " (SELECT * FROM img WHERE cls <= 5) i JOIN lines ON src_part = p_partkey), "
        "d AS (SELECT image_id, CASE WHEN (bx-ax)*(bx-ax)+(by-ay)*(by-ay) = 0 THEN"
        " sqrt((lon-ax)*(lon-ax)+(lat-ay)*(lat-ay)) ELSE"
        " sqrt((lon-(ax+t*(bx-ax)))*(lon-(ax+t*(bx-ax)))"
        " + (lat-(ay+t*(by-ay)))*(lat-(ay+t*(by-ay)))) END AS dist FROM"
        " (SELECT *, least(greatest(((lon-ax)*(bx-ax)+(lat-ay)*(by-ay))"
        " / ((bx-ax)*(bx-ax)+(by-ay)*(by-ay)), 0.0), 1.0) AS t FROM e) t2) "
        "SELECT image_id, CAST(floor(min(dist) * 1.0e9) AS BIGINT) AS mindist_e9"
        " FROM d GROUP BY 1"
    )


QUERIES = {
    "code_mapping": (q_code_mapping, _sql_code_mapping()),
    "access_fanout": (q_access_fanout, _sql_access_fanout()),
    "pip_join": (q_pip_join, _sql_pip_join()),
    "centroid": (q_centroid, _sql_centroid()),
    "seg_explode_min": (q_seg_explode_min, _sql_seg_explode_min()),
}
