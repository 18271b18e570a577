"""dbscan_core — density classification invariants + plan shape.

Exact output parity vs DuckDB is covered by the registry replica in
test_oracle_parity.py; these tests pin the DBSCAN semantics (role/count
consistency, full labeling) and the distributed plan shape (cell
self-join, no cartesian/NLJ, no broadcast of the corpus-scale core set).
"""

from pyspark.sql import functions as F

from osm_merge_spark.queries import base, geo7


def test_dbscan_full_labeling_and_role_invariants(spark, sf_dir):
    df = geo7.q_dbscan_core(spark, sf_dir).cache()
    try:
        n_img = base.images_df(spark, sf_dir).count()
        assert df.count() == n_img  # one row per image, nothing dropped

        stats = {
            r["role"]: r
            for r in df.groupBy("role")
            .agg(
                F.count("*").alias("n"),
                F.min("n_eps").alias("min_n"),
                F.max("n_eps").alias("max_n"),
            )
            .collect()
        }
        # the fixture genuinely exercises all three classes: per-part image
        # clusters are dense (core), far/uniform classes 6-9 isolate
        # (noise), and cluster fringes sit within eps of a core (border)
        assert set(stats) == {0, 1, 2}
        # core  ⟺ n_eps ≥ minPts
        assert stats[2]["min_n"] >= geo7.DB_MINPTS
        # noise and border are both sub-minPts ...
        assert stats[0]["max_n"] < geo7.DB_MINPTS
        assert stats[1]["max_n"] < geo7.DB_MINPTS
        # ... but a border point has ≥1 neighbor (its core witness)
        assert stats[1]["min_n"] >= 1
    finally:
        df.unpersist()


def test_dbscan_plan_no_cartesian_no_corpus_broadcast(spark, sf_dir):
    plan = (
        geo7.q_dbscan_core(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the eps-graph and the core-semi ride shuffled-hash joins — the core
    # set is corpus-scale at 100 TB and must never be a broadcast build
    assert "ShuffledHashJoin" in plan


def test_dbscan_label_bounded_rounds_converged(spark, sf_dir):
    """R=8 static propagation rounds reach the true fixpoint at fixture
    scale: cluster ids equal the convergence-checked connected_components
    labels (min reachable core id) for every core point."""
    from osm_merge_spark.operators.components import connected_components

    lab = geo7.q_dbscan_label(spark, sf_dir).cache()
    try:
        core = lab.where(F.col("role") == 2).select(
            F.col("img_key"), F.col("cluster")
        )
        # rebuild the core-core edge list exactly as the query does
        grid = geo7.CellGrid.for_radius(geo7.DB_EPS_M, max_abs_lat=45.0)
        img = base.images_df(spark, sf_dir).select("ikey", "lon", "lat")
        a = img.withColumn(
            "__jcell",
            F.explode(grid.ring1(grid.encode(F.col("lon"), F.col("lat")))),
        )
        b = img.select(
            F.col("ikey").alias("bkey"),
            F.col("lon").alias("blon"),
            F.col("lat").alias("blat"),
        ).withColumn("__jcell", grid.encode(F.col("blon"), F.col("blat")))
        from osm_merge_spark.functions import geo as geof

        pairs = (
            a.join(b, "__jcell")
            .where(F.col("ikey") != F.col("bkey"))
            .where(
                geof.haversine_m(
                    F.col("lon"), F.col("lat"), F.col("blon"), F.col("blat")
                )
                <= F.lit(geo7.DB_EPS_M)
            )
            .select("ikey", "bkey")
        )
        core_keys = core.select(F.col("img_key").alias("ikey"))
        ed = pairs.join(core_keys, "ikey", "left_semi").join(
            core_keys.withColumnRenamed("ikey", "bkey"), "bkey", "left_semi"
        )
        cc = connected_components(ed, src="ikey", dst="bkey")
        truth = core_keys.join(cc, core_keys.ikey == cc.doc, "left").select(
            F.col("ikey").alias("img_key"),
            F.coalesce(F.col("cluster_id"), F.col("ikey")).alias("t_cluster"),
        )
        diff = (
            core.join(truth, "img_key")
            .where(F.col("cluster") != F.col("t_cluster"))
            .count()
        )
        assert diff == 0
    finally:
        lab.unpersist()


def test_dbscan_label_roles_match_core_and_noise_semantics(spark, sf_dir):
    """dbscan_label's role column equals dbscan_core's; noise ⟺ cluster
    -1; every border/core cluster id is a core point's id."""
    lab = geo7.q_dbscan_label(spark, sf_dir).cache()
    try:
        roles = geo7.q_dbscan_core(spark, sf_dir).select("img_key", "role")
        mism = (
            lab.select("img_key", F.col("role").alias("r2"))
            .join(roles, "img_key")
            .where(F.col("role") != F.col("r2"))
            .count()
        )
        assert mism == 0
        assert lab.where(
            (F.col("role") == 0) != (F.col("cluster") == -1)
        ).count() == 0
        core_ids = lab.where(F.col("role") == 2).select(
            F.col("img_key").alias("cluster")
        )
        dangling = (
            lab.where(F.col("role") != 0)
            .select("cluster")
            .join(core_ids, "cluster", "left_anti")
            .count()
        )
        assert dangling == 0
    finally:
        lab.unpersist()


def test_coverage_gini_raster_bound_and_range(spark, sf_dir):
    """The rank window's input is raster-bounded (≤ box-area / tile²), not
    corpus-bounded — the waiver condition for its single-partition window —
    and the Gini lands in [0, 1e6) with exact totals."""
    import math

    from osm_merge_spark.functions.geo import WEB_MERCATOR_R as R

    def merc_x(lon):
        return R * math.radians(lon)

    def merc_y(lat):
        return R * math.log(math.tan(math.pi / 4.0 + math.radians(lat) / 2.0))

    row = geo7.q_coverage_gini(spark, sf_dir).collect()[0]
    # theoretical raster bound: AOI box (+ the far class's +0.08° spill) in
    # mercator meters over the tile size, per axis
    mx = merc_x(base.LON_MAX + 0.1) - merc_x(base.LON_MIN)
    my = merc_y(base.LAT_MAX + 0.1) - merc_y(base.LAT_MIN)
    bound = (math.ceil(mx / geo7.GINI_TILE_M) + 2) * (
        math.ceil(my / geo7.GINI_TILE_M) + 2
    )
    assert 0 < row["n_cells"] <= bound
    assert row["total_images"] == base.images_df(spark, sf_dir).count()
    assert 0 <= row["gini_e6"] < 1_000_000
    # the fixture is genuinely unequal (hot cluster + per-part clumps)
    assert row["gini_e6"] > 200_000


def test_coverage_gini_exact_past_int64(spark):
    """gini_e6 stays integer-exact when the numerator times 10⁶ passes
    2^63 (Σ i·cnt near 10¹³), where BIGINT arithmetic would wrap."""
    rows = [(1, 1), (2, 3), (3, 10**13)]
    n, tot = len(rows), sum(c for _i, c in rows)
    num = 2 * sum(i * c for i, c in rows) - (n + 1) * tot
    assert num * 10**6 > 2**63
    got = geo7.gini_e6(spark.createDataFrame(rows, "i long, cnt long")).collect()[0]
    assert (got["n_cells"], got["total_images"]) == (n, tot)
    assert got["gini_e6"] == num * 10**6 // (n * tot)


def test_dbscan_delta_matches_batch_and_keeps_locality(spark, sf_dir):
    """The incremental result equals the batch classification row-for-row
    (the oracle also pins this vs DuckDB), and the spliced 'keep' region is
    genuinely non-trivial — the maintenance isn't a disguised recompute."""
    from osm_merge_spark.operators.density import dbscan_classify

    img = base.images_df(spark, sf_dir).select("ikey", "lon", "lat")
    batch = dbscan_classify(
        img, eps_m=geo7.DB_EPS_M, min_pts=geo7.DB_MINPTS, key="ikey",
        max_abs_lat=45.0,
    ).select(
        F.col("ikey").alias("img_key"), "n_eps", "role"
    )
    incr = geo7.q_dbscan_delta(spark, sf_dir)
    assert (
        incr.exceptAll(batch).count() == 0
        and batch.exceptAll(incr).count() == 0
    )
    # locality: with a 1-in-13 uniform delta (worst case) SOME of the
    # corpus must still ride the keep path untouched
    grid = geo7.CellGrid.for_radius(geo7.DB_EPS_M, max_abs_lat=45.0)
    full = img.withColumn("cell", grid.encode(F.col("lon"), F.col("lat")))
    delta_cells = full.where(
        F.col("ikey") % geo7.DB_DELTA_MOD == 0
    ).select("cell").distinct()
    offs = F.array(
        *[F.lit(o).cast("long") for o in geo7._ring_k_offsets(grid, 2)]
    )
    aff2 = delta_cells.select(
        F.explode(F.transform(offs, lambda o: o + F.col("cell"))).alias(
            "cell"
        )
    ).distinct()
    kept = full.join(aff2, "cell", "left_anti").count()
    assert kept > 0
