"""Task-grid tiling + raster↔vector tile assignment (A6/J10, SURVEY §2).

Reference: utilities/tm-splitter.py builds an EPSG:3857 grid over the AOI
bbox (np.arange, :103-113), clips each square to the AOI, writes one task
file per tile (:131-190); records are then assigned by clipping files per
tile polygon with ogr2ogr/osmium (contrib/update.sh:146-149).

Spark-first: tiles are axis-aligned 3857 squares, so assignment is pure
floor arithmetic — an equi-key computed in whole-stage codegen, never a
spatial predicate. The AOI-membership refinement uses the ray-cast PIP
kernel only for tiles that straddle the boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geo
from ..functions.cells import TileGrid
from ..functions.kernels import point_in_polygon_udf


def generate_tiles(spark: SparkSession, lon_min: float, lat_min: float,
                   lon_max: float, lat_max: float, grid: TileGrid,
                   aoi_ring: tuple[list[float], list[float]] | None = None) -> DataFrame:
    """Tile DataFrame covering a bbox: (tile_id, tx, ty, xmin..ymax meters).

    Generated distributively (sequence + explode — the np.arange of
    tm-splitter.py:103-104 as a Catalyst expression). With aoi_ring given,
    tiles whose center and all four corners fall outside the AOI are
    dropped (tm-splitter drops empty intersections, :112-124).
    """
    import math

    R = geo.WEB_MERCATOR_R
    mx0 = R * math.radians(lon_min)
    mx1 = R * math.radians(lon_max)
    my0 = R * math.log(math.tan(math.pi / 4 + math.radians(lat_min) / 2))
    my1 = R * math.log(math.tan(math.pi / 4 + math.radians(lat_max) / 2))
    tx0, tx1 = int(math.floor(mx0 / grid.tile_m)), int(math.floor(mx1 / grid.tile_m))
    ty0, ty1 = int(math.floor(my0 / grid.tile_m)), int(math.floor(my1 / grid.tile_m))

    tiles = (
        spark.range(tx0, tx1 + 1).withColumnRenamed("id", "tx")
        .crossJoin(spark.range(ty0, ty1 + 1).withColumnRenamed("id", "ty"))
        .select(
            (F.col("ty") * F.lit(grid.nx) + F.col("tx")).cast("long").alias("tile_id"),
            "tx", "ty",
            (F.col("tx") * grid.tile_m).alias("xmin"),
            (F.col("ty") * grid.tile_m).alias("ymin"),
            ((F.col("tx") + 1) * grid.tile_m).alias("xmax"),
            ((F.col("ty") + 1) * grid.tile_m).alias("ymax"),
        )
    )
    if aoi_ring is not None:
        # project the AOI ring to 3857 once (driver-side, tiny)
        rx = [R * math.radians(x) for x in aoi_ring[0]]
        ry = [R * math.log(math.tan(math.pi / 4 + math.radians(y) / 2)) for y in aoi_ring[1]]
        pip = point_in_polygon_udf(rx, ry)
        probe = F.lit(False)
        for cx, cy in [("xmin", "ymin"), ("xmin", "ymax"), ("xmax", "ymin"),
                       ("xmax", "ymax")]:
            probe = probe | pip(F.col(cx), F.col(cy))
        probe = probe | pip((F.col("xmin") + F.col("xmax")) / 2,
                            (F.col("ymin") + F.col("ymax")) / 2)
        tiles = tiles.filter(probe)
    return tiles


def assign_tiles(records: DataFrame, grid: TileGrid,
                 lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Attach tile_id to every record — pure arithmetic, codegen'd, no join.

    This is the 100 TB-scale replacement for per-tile file clipping
    (contrib/update.sh:146-149): downstream per-tile processing reads
    `output partitioned by tile_id` instead of N clipped files.
    """
    return records.withColumn("tile_id", grid.tile_id(F.col(lon), F.col(lat)))
