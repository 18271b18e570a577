"""Planted-truth tests for hull_cells (queries/geo7.py): the hull of the
occupied-cell lattice keeps corner/boundary row extremes, drops interior
cells, and is exact integer geometry (no float epsilon)."""

import pyspark.sql.types as T

from osm_merge_spark.queries.geo7 import hull_of_cells

SCHEMA = T.StructType([
    T.StructField("tx", T.LongType()),
    T.StructField("ty", T.LongType()),
    T.StructField("cnt", T.LongType()),
])


def _cells(spark, pts):
    return spark.createDataFrame([(x, y, 1) for x, y in pts], SCHEMA)


def _hull(spark, pts):
    rows = hull_of_cells(_cells(spark, pts)).collect()
    return {(r.tx, r.ty) for r in rows}


def test_filled_square_keeps_row_extremes_drops_interior(spark):
    pts = [(x, y) for x in range(4) for y in range(4)]
    got = _hull(spark, pts)
    # row extremes of a filled square = left and right columns; all of them
    # are on the hull boundary (vertical edges), interior never appears
    assert got == {(x, y) for x in (0, 3) for y in range(4)}


def test_diamond_hull_is_the_four_tips(spark):
    # diamond |x|+|y| <= 2 — row extremes are the diagonal boundary; every
    # one lies on a hull edge, the center and axis-interior cells do not
    pts = [(x, y) for x in range(-2, 3) for y in range(-2, 3)
           if abs(x) + abs(y) <= 2]
    got = _hull(spark, pts)
    assert got == {(x, y) for x, y in pts if abs(x) + abs(y) == 2}


def test_concave_notch_is_excluded(spark):
    # an L-shape: the notch's inner row extreme (2,2) is a row extreme but
    # NOT on the convex hull (it is strictly inside hull of the L corners)
    pts = [(x, y) for x in range(5) for y in range(5)
           if not (x >= 2 and y >= 2)]
    got = _hull(spark, pts)
    assert (4, 4) not in got          # removed corner of the full square
    assert (1, 4) in got and (4, 1) in got  # the L's outer corners
    assert (2, 2) not in got          # concave notch interior
    # the notch's row extremes above the step, e.g. (1, 3), lie on the
    # vertical hull edge x == 1? No — hull edge runs (1,4)->(4,1); (1,3)
    # is strictly inside it: cross((4,1)-(1,4), (1,3)-(1,4)) = 3*(-1)-(-3)*0
    assert (1, 3) not in got


def test_collinear_boundary_points_kept(spark):
    # single column: every cell is a row extreme AND on the (degenerate)
    # hull segment — all kept
    pts = [(7, y) for y in range(5)]
    assert _hull(spark, pts) == set(pts)


def test_single_cell(spark):
    # one cell has no q != p, so the membership test finds nothing — the
    # degenerate raster yields an empty hull rather than crashing
    assert _hull(spark, [(3, 3)]) == set()


def test_candidate_bound_is_lattice_not_corpus(spark, sf_dir):
    # the all-triples membership test (a broadcast nested-loop join) runs
    # on row-extreme candidates only: ≤ 2 rows per distinct ty, a lattice
    # bound that does NOT grow with corpus rows — this is the invariant
    # that justifies broadcasting the candidate sides
    from pyspark.sql import functions as F

    from osm_merge_spark.functions.cells import TileGrid
    from osm_merge_spark.queries import base
    from osm_merge_spark.queries.geo7 import HULL_TILE_M

    grid = TileGrid(tile_m=HULL_TILE_M)
    img = base.images_df(spark, sf_dir)
    cells = (
        img.select(grid.tile_x(F.col("lon")).alias("tx"),
                   grid.tile_y(F.col("lat")).alias("ty"))
        .groupBy("tx", "ty").agg(F.count("*").alias("cnt"))
    )
    ext = cells.groupBy("ty").agg(F.min("tx").alias("lo"),
                                  F.max("tx").alias("hi"))
    n_pts = (
        ext.select("ty", F.col("lo").alias("tx"))
        .union(ext.select("ty", F.col("hi").alias("tx")))
        .distinct().count()
    )
    n_ty = cells.select("ty").distinct().count()
    n_corpus = img.count()
    assert n_pts <= 2 * n_ty
    assert n_pts < n_corpus / 10  # candidates ride the lattice, not the data
