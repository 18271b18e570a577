"""DBSCAN density classification as a first-class operator.

`dbscan_classify` labels every point of a (key, lon, lat) table core /
border / noise at (eps_m, min_pts) — the density-based clustering family's
classification stage (Ester et al., KDD'96). The cluster-assignment stage
lives in queries/geo7.q_dbscan_label (bounded-round min-label propagation
over the core-core eps-graph); classification is the reusable, join-free-
output half that capture-QA and curation pipelines consume directly
(noise = the isolated captures no dedup pass should call redundant).

Reference scope: the reference gates candidate pairs on per-feature
distance only (osm_merge/conflator.py:357) and has no density notion.

Scale shape (the 100 TB story):
  - eps-graph via the engine's standard ring-1 cell self-join, cell edge
    sized to eps so ring-1 is a guaranteed cover (functions/cells.py);
    the build side keeps its single cell, so each directed pair meets in
    EXACTLY one cell — no distinct before the count;
  - quadratic cost is confined INSIDE an eps-cell (the bound every density
    method pays); hot cells fall under AQE's skew-join split
    (session.py);
  - neighbor counts: one map-side-combined hash agg; border detection: one
    shuffled-hash LEFT SEMI of the pair stream against the core set
    (corpus-scale — never broadcast); label attach: two shuffled-hash
    left joins on the slim key stream. No UDFs, no sorts, no windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo
from ..functions.cells import CellGrid

ROLE_NOISE, ROLE_BORDER, ROLE_CORE = 0, 1, 2


def eps_pairs(points: DataFrame, grid: CellGrid, eps_m: float, *,
              key: str = "id", lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Directed pairs (key, bkey) with haversine ≤ eps_m, each exactly once."""
    a = points.select(key, lon, lat).withColumn(
        "__cell",
        F.explode(grid.ring1(grid.encode(F.col(lon), F.col(lat)))),
    )
    b = points.select(
        F.col(key).alias("__bkey"),
        F.col(lon).alias("__blon"),
        F.col(lat).alias("__blat"),
    ).withColumn("__cell", grid.encode(F.col("__blon"), F.col("__blat")))
    return (
        a.join(b.hint("shuffle_hash"), "__cell")
        .where(F.col(key) != F.col("__bkey"))
        .where(
            geo.haversine_m(
                F.col(lon), F.col(lat), F.col("__blon"), F.col("__blat")
            )
            <= F.lit(eps_m)
        )
        .select(key, F.col("__bkey").alias("bkey"))
    )


def dbscan_classify(points: DataFrame, *, eps_m: float, min_pts: int,
                    key: str = "id", lon: str = "lon", lat: str = "lat",
                    max_abs_lat: float = 75.0) -> DataFrame:
    """(key, n_eps, role) for every input row — full labeling, not a sample.

    role: 2 = core (≥ min_pts neighbors within eps, self excluded),
    1 = border (sub-min_pts but some core neighbor), 0 = noise.
    """
    grid = CellGrid.for_radius(eps_m, max_abs_lat=max_abs_lat)
    pairs = eps_pairs(points, grid, eps_m, key=key, lon=lon, lat=lat)

    cnt = pairs.groupBy(key).agg(F.count("*").alias("n_eps"))
    core = cnt.where(F.col("n_eps") >= F.lit(min_pts)).select(
        F.col(key).alias("bkey")
    )
    has_core_nb = (
        pairs.join(core.hint("shuffle_hash"), "bkey", "left_semi")
        .select(key)
        .distinct()
        .withColumn("__hc", F.lit(1))
    )

    return (
        points.select(key)
        .join(cnt.hint("shuffle_hash"), key, "left")
        .join(has_core_nb.hint("shuffle_hash"), key, "left")
        .select(
            key,
            F.coalesce(F.col("n_eps"), F.lit(0)).cast("long").alias("n_eps"),
            F.when(
                F.coalesce(F.col("n_eps"), F.lit(0)) >= min_pts, ROLE_CORE
            )
            .when(F.col("__hc") == 1, ROLE_BORDER)
            .otherwise(ROLE_NOISE)
            .cast("int")
            .alias("role"),
        )
    )
