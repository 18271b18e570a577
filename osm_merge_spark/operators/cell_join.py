"""Cell-indexed spatial joins (J1/J2/J5 in SURVEY §2.3).

The reference's distance-threshold join is an O(N·M) nested loop with the
full secondary copied into every worker (conflator.py:134-188, 766-788).
Spark-first re-expression: give each row its set of grid cells, equi-join
on the cell key, refine exactly. `cell_pairs` is the one join:

  - a point's cell set is its one cell, `grid.encode(lon, lat)`;
  - a line or ring's is `covering_cells(xs, ys, grid)`, a single
    segment's `segment_cells(x1, y1, x2, y2, grid)`;
  - in a distance join (threshold ≤ cell edge) the side that is not a
    point is ring-1 dilated (`grid.ring1` / `grid.ring1_union`). Ring-1
    is symmetric, so which side carries it changes no candidate pair.

Each pair is produced in exactly one cell, so no plan needs a pair-dedup
aggregate (the reference-cell rule of PBSM duplicate avoidance): with a
point on one side the pair meets only in that point's cell; with two
geometries it is kept only in the smallest cell the two sets share.

No strategy knob: AQE picks broadcast or shuffle at runtime from measured
sizes, and its skew-join split (enabled engine-wide in session.py) splits
the shuffle partitions a hot cell makes oversized.

Candidate generation is a strict superset of the true result; exactness
comes from the caller's refine (haversine / point→polyline distance /
point-in-ring / intersection area).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..functions.cells import CellGrid


def segment_cells(x1: Column, y1: Column, x2: Column, y2: Column,
                  grid: CellGrid) -> Column:
    """The grid cells segment (x1, y1)→(x2, y2) passes through
    (array<long>, may repeat a cell).

    The segment is densified at half-cell spacing — its end cells alone
    would miss cells crossed mid-segment (a 60 m segment spans several
    10 m cells).
    """
    res = grid.res_deg
    span = F.greatest(F.abs(x2 - x1), F.abs(y2 - y1))
    nsteps = F.greatest(F.ceil(span / F.lit(res / 2.0)), F.lit(1)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), nsteps),
        lambda j: grid.encode(
            x1 + (x2 - x1) * (j.cast("double") / nsteps.cast("double")),
            y1 + (y2 - y1) * (j.cast("double") / nsteps.cast("double")),
        ),
    )


def covering_cells(xs: Column, ys: Column, grid: CellGrid) -> Column:
    """All grid cells a packed polyline/ring passes through (array<long>):
    the distinct union of segment_cells over its segments. Pure Catalyst:
    nested sequence/transform, no UDF.
    """

    def seg_cells(k: Column) -> Column:
        x1, y1 = F.element_at(xs, k), F.element_at(ys, k)
        # try_element_at: a 1-point geometry has no k+1 vertex (ANSI mode)
        x2 = F.coalesce(F.try_element_at(xs, k + 1), x1)
        y2 = F.coalesce(F.try_element_at(ys, k + 1), y1)
        return segment_cells(x1, y1, x2, y2, grid)

    nseg = F.greatest(F.size(xs) - 1, F.lit(1))
    return F.array_distinct(F.flatten(F.transform(F.sequence(F.lit(1), nseg), seg_cells)))


def cell_pairs(a: DataFrame, b: DataFrame, a_cells: Column, b_cells: Column) -> DataFrame:
    """Every (a, b) row pair whose cell sets share a cell, each exactly once.

    A cell set is a long (a point's one cell) or an array<long> of distinct
    cells; the column types pick the case at plan time. Returns a's columns
    then b's columns.
    """
    a_arr = isinstance(a.select(a_cells).schema[0].dataType, ArrayType)
    b_arr = isinstance(b.select(b_cells).schema[0].dataType, ArrayType)
    if not (a_arr and b_arr):
        # a point meets each partner only in its own cell: the array side's
        # cells are distinct, so no pair can repeat and no array rides along
        ja = a.withColumn("__jcell", F.explode(a_cells) if a_arr else a_cells)
        jb = b.withColumn("__jcell", F.explode(b_cells) if b_arr else b_cells)
        return ja.join(jb, "__jcell").drop("__jcell")
    # two geometries can share several cells: keep the pair only in the
    # smallest shared one — a row filter, not a dedup aggregate.
    # explode_outer: a plain explode of the array column infers a
    # size() > 0 filter that is pushed below the projection and recomputes
    # the cell sets there (5× the join's time at sf0.1); the null cell it
    # emits for an empty set matches nothing
    ja = a.withColumn("__acells", a_cells).withColumn("__jcell", F.explode_outer("__acells"))
    jb = b.withColumn("__bcells", b_cells).withColumn("__jcell", F.explode_outer("__bcells"))
    ref_cell = F.array_min(F.array_intersect("__acells", "__bcells"))
    return (
        ja.join(jb, "__jcell")
        .filter(F.col("__jcell") == ref_cell)
        .drop("__jcell", "__acells", "__bcells")
    )


def overlap_pairs(a: DataFrame, b: DataFrame, id_col: str, grid: CellGrid) -> DataFrame:
    """(id_a, id_b, area): the polygons of `a` and `b` (rings xs, ys, keyed
    by id_col) whose exact intersection area is positive. The area Arrow
    UDF runs once per candidate pair: without the eval_once barrier the
    pushed-down `area > 0` filter would run it a second time."""
    from ..functions.barrier import eval_once
    from ..functions.kernels import polygon_intersection_area

    pa = a.select(F.col(id_col).alias("id_a"), F.col("xs").alias("xs1"),
                  F.col("ys").alias("ys1"))
    pb = b.select(F.col(id_col).alias("id_b"), F.col("xs").alias("xs2"),
                  F.col("ys").alias("ys2"))
    pairs = cell_pairs(
        pa, pb, covering_cells(F.col("xs1"), F.col("ys1"), grid),
        covering_cells(F.col("xs2"), F.col("ys2"), grid),
    ).withColumn("area", polygon_intersection_area(
        F.col("xs1"), F.col("ys1"), F.col("xs2"), F.col("ys2")))
    return eval_once(pairs, ["area"], keep=["id_a", "id_b"]).filter(
        F.col("area") > F.lit(0.0)
    )


# perfbench-only: perfbench/workloads.py's `--trace 1` chain calls these
# two forms. Both take the orientation conflate() uses (single probe cell,
# ring-1 dilated layer); the salting keywords it passes are ignored.
def candidate_pairs_points(primary: DataFrame, secondary: DataFrame, grid: CellGrid,
                           **_ignored) -> DataFrame:
    """Images (lon, lat) × point features (s_lon, s_lat)."""
    return cell_pairs(
        primary, secondary, grid.encode(F.col("lon"), F.col("lat")),
        grid.ring1(grid.encode(F.col("s_lon"), F.col("s_lat"))),
    )


def candidate_pairs(primary: DataFrame, secondary: DataFrame, grid: CellGrid,
                    **_ignored) -> DataFrame:
    """Images (lon, lat) × line/ring features (xs, ys)."""
    return cell_pairs(
        primary, secondary, grid.encode(F.col("lon"), F.col("lat")),
        grid.ring1_union(covering_cells(F.col("xs"), F.col("ys"), grid)),
    )
