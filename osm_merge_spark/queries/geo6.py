"""Round-5 geospatial batch: globally consistent conflation matching and
spatial analytics over the image/layer fixture.

  mnn_match — one-to-one conflation via mutual-nearest-neighbor rounds.
    The reference's conflator picks each feature's best candidate
    independently (conflator.py:285-298), so two images can claim the same
    layer feature and a human has to untangle the collision. The classic
    fix is greedy global matching by distance — inherently sequential. The
    distributed equivalent: repeat "match every pair that is BOTH sides'
    current nearest" (mutual NN), remove matched endpoints, repeat. Every
    greedy-order match is mutual-NN in some round (the globally closest
    unmatched pair is always mutual), so R rounds reproduce the sequential
    greedy prefix exactly — and R is FIXED here (3), which keeps the whole
    operator one lazy Catalyst plan AND finitely SQL-expressible for the
    DuckDB oracle.

    Scale: per round, two hash aggregations over slim (ikey, feature_id,
    dist) rows (map-side partial combine — the shuffle carries one row per
    key per map task), one equi-join of the two argmin tables, two anti
    joins to retire matched endpoints. Candidate pairs ride the cell join
    (ring-1, AQE-split hot cells) exactly like the rest of the conflation
    ladder; payload columns never enter the rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geo
from ..functions.cells import CellGrid
from ..operators import cell_join, knn
from . import base

QUERIES: dict = {}

MNN_ROUNDS = 3
# The contested regime: the cls>=7 images are uniform over the AOI (no
# planted partner), so several images compete for the same isolated layer
# feature — exactly the collisions per-feature-best matching can't resolve
# and the round ladder exists for. 250 m keeps each image's candidate set
# small (~1) but non-empty often enough that losers have a second choice.
MNN_RADIUS_M = 250.0
MNN_GRID = CellGrid.for_radius(MNN_RADIUS_M, max_abs_lat=45.0)


def _mnn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir).filter(F.col("cls") >= 7)
    lyr = base.layer_df(spark, sf_dir)
    return (
        cell_join.cell_pairs(
            img, lyr, MNN_GRID.ring1(MNN_GRID.encode(F.col("lon"), F.col("lat"))),
            MNN_GRID.encode(F.col("s_lon"), F.col("s_lat")),
        )
        .withColumn(
            "dist",
            geo.haversine_m(
                F.col("lon"), F.col("lat"), F.col("s_lon"), F.col("s_lat")
            ),
        )
        .filter(F.col("dist") <= F.lit(MNN_RADIUS_M))
        .select("ikey", "image_id", "feature_id", "dist")
    )


def q_mnn_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lazy persists: each round references the previous remainder three
    # times (both argmins + the next anti-join base); InMemoryRelation
    # makes those references share one evaluation inside the single
    # action instead of re-running the subtree ~3^R times.
    rem = _mnn_pairs(spark, sf_dir).persist()
    matched = []
    for r in range(1, MNN_ROUNDS + 1):
        # argmin by (dist, tie-id) via the engine's top_k_agg (k=1):
        # ObjectHashAggregate with map-side partials — min(struct(...))
        # and min_by(…, struct) both put a struct in the aggregation
        # buffer and fall back to SortAggregate, re-sorting the pair
        # table every round.
        bp = knn.top_k_agg(rem, "ikey", "dist", "feature_id", k=1,
                           const_cols=["image_id"])
        bs = knn.top_k_agg(rem, "feature_id", "dist", "ikey", k=1) \
            .select("feature_id", "ikey")
        m = bp.hint("shuffle_hash").join(bs, ["ikey", "feature_id"]).select(
            "ikey", "image_id", "feature_id", "dist",
            F.lit(r).cast("int").alias("match_round"),
        )
        matched.append(m)
        if r < MNN_ROUNDS:
            # anti joins build the hash map on the (small) matched set —
            # hint the RIGHT side; a left-side hint is unusable for anti
            rem = (
                rem.join(m.select("ikey").hint("shuffle_hash"),
                         "ikey", "left_anti")
                .join(m.select("feature_id").hint("shuffle_hash"),
                      "feature_id", "left_anti")
                .persist()
            )
    out = matched[0]
    for m in matched[1:]:
        out = out.unionByName(m)
    return out.select(
        "image_id", "feature_id", "match_round",
        F.round("dist", 3).alias("dist_m"),
    )


def _sql_mnn_match() -> str:
    offs = ", ".join(str(o) for o in MNN_GRID.ring1_sql_values())
    hav = geo.haversine_m_sql("lon", "lat", "s_lon", "s_lat")
    sql = (
        f"WITH img AS (SELECT * FROM ({base.IMAGES_SQL}) WHERE cls >= 7), "
        f"lyr AS ({base.LAYER_SQL}), "
        "pc AS (SELECT i.*, cell0 + off AS jcell FROM "
        f"(SELECT *, {MNN_GRID.encode_sql('lon', 'lat')} AS cell0 FROM img) i "
        f"CROSS JOIN (SELECT unnest([{offs}]) AS off) o), "
        f"sc AS (SELECT l.*, {MNN_GRID.encode_sql('s_lon', 's_lat')} AS jcell"
        " FROM lyr l), "
        "rem0 AS (SELECT ikey, image_id, feature_id, dist FROM"
        f" (SELECT ikey, image_id, feature_id, {hav} AS dist"
        "  FROM pc JOIN sc USING (jcell)) t"
        f" WHERE dist <= {geo.dlit(MNN_RADIUS_M)})"
    )
    for r in range(1, MNN_ROUNDS + 1):
        p = r - 1
        sql += (
            f", bp{r} AS (SELECT ikey, image_id, feature_id, dist FROM"
            f" (SELECT *, row_number() OVER (PARTITION BY ikey"
            f" ORDER BY dist, feature_id) AS rn FROM rem{p}) t WHERE rn = 1)"
            f", bs{r} AS (SELECT ikey, feature_id FROM"
            f" (SELECT *, row_number() OVER (PARTITION BY feature_id"
            f" ORDER BY dist, ikey) AS rn FROM rem{p}) t WHERE rn = 1)"
            f", m{r} AS (SELECT ikey, image_id, feature_id, dist,"
            f" {r} AS mr FROM bp{r} JOIN bs{r} USING (ikey, feature_id))"
        )
        if r < MNN_ROUNDS:
            sql += (
                f", rem{r} AS (SELECT * FROM rem{p} WHERE"
                f" ikey NOT IN (SELECT ikey FROM m{r}) AND"
                f" feature_id NOT IN (SELECT feature_id FROM m{r}))"
            )
    unions = " UNION ALL ".join(f"SELECT * FROM m{r}"
                                for r in range(1, MNN_ROUNDS + 1))
    sql += (
        f" SELECT image_id, feature_id, CAST(mr AS INT) AS match_round,"
        f" round(dist, 3) AS dist_m FROM ({unions}) u"
    )
    return sql


QUERIES["mnn_match"] = (q_mnn_match, _sql_mnn_match())


# ---------------------------------------------------------------------------
# map_match — GPS trace → road association (coarse map matching)
# ---------------------------------------------------------------------------
# The trajectory counterpart of snap_points (geo4): each trace ping finds
# its nearest way within MM_RADIUS_M (equirectangular-meter point-to-
# polyline distance, same metric as the snap ladder), then a per-trace
# majority vote picks the trace's matched way — the "which road was this
# vehicle on" primitive that turns raw GPS corpora into per-road traffic
# layers. Reference parity: extends conflator.py's point-to-way distance
# (A1) from single features to trajectories; the reference has no
# trajectory operators at all.
#
# Scale shape: candidates ride the cell join (ring-1 probe explode ×
# covering-cells polyline explode — never all pairs); the per-candidate
# refine is an array_min over the way's segments inside codegen (no
# segment explode, no UDF); BOTH selection stages (per-ping argmin,
# per-trace vote) are the engine's hash-agg top-k — ObjectHashAggregate
# with map-side partials, no WindowExec, no SortExec. Everything shuffled
# is a slim (pkey, way_id, d2) row; trace payloads never enter the join.
# The DuckDB oracle brute-forces pings × ways — exact because the grid's
# ring-1 guarantee covers the refine radius (for_radius(1.5 R) edge ≥
# 1.5 R at 45°, and covering_cells samples at res/2, so every pair within
# R shares a (ring-1 probe cell, covered cell) — the snap_points bound).
M_PER_DEG = 111_320.0
MM_RADIUS_M = 2_000.0           # coarse trace→road association radius
MM_GRID = CellGrid.for_radius(MM_RADIUS_M * 1.5, max_abs_lat=45.0)
MM_R2 = (MM_RADIUS_M / M_PER_DEG) ** 2   # threshold in scaled-degree²
# equirect lon scale at the AOI center — x and y commensurate (geo4)
from .geo4 import SNAP_LAT0_COS as _KX  # noqa: E402


def _trace_pings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .geo5 import _dwell_trace_df

    tr = _dwell_trace_df(spark, sf_dir)
    return tr.select(
        "trace_id", F.posexplode(F.arrays_zip("xs", "ys")).alias("i", "p")
    ).select(
        (F.col("trace_id") * F.lit(100) + F.col("i") + 1).alias("pkey"),
        "trace_id",
        F.col("p.xs").alias("lon"), F.col("p.ys").alias("lat"),
    )


def q_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .geo5 import SP_N

    from ..functions.barrier import eval_once

    pings = _trace_pings(spark, sf_dir)
    # barrier the synthesized geometry arrays: without it CollapseProject
    # inlines ways_df's giant CASE array expressions into EVERY element_at
    # of the per-segment math below (the inlining refine_distance's
    # eval_once guards against) — measured 76 s → 2.9 s on the
    # 5.4M-candidate refine
    ways = eval_once(
        base.ways_df(spark, sf_dir).select("way_id", "xs", "ys"),
        ["xs", "ys"],
    )
    cand = cell_join.cell_pairs(
        pings, ways, MM_GRID.encode(F.col("lon"), F.col("lat")),
        MM_GRID.ring1_union(cell_join.covering_cells(F.col("xs"), F.col("ys"), MM_GRID)),
    )
    # min-over-segments as explode + codegen columns + hash-agg min, NOT
    # array_min(transform(...)): higher-order functions run interpreted —
    # the HOF form measured 55 s on these 5.4M candidates where the same
    # math as plain columns over exploded segments runs in seconds. min()
    # is order-independent, so the values are identical to _way_min_d2's.
    kx = F.lit(_KX)
    seg = cand.select(
        "pkey", "trace_id", "way_id", "lon", "lat", "xs", "ys",
        F.explode(F.sequence(F.lit(1), F.size("xs") - 1)).alias("k"),
    )
    ax = F.element_at("xs", F.col("k")) * kx
    ay = F.element_at("ys", F.col("k"))
    bx = F.element_at("xs", F.col("k") + 1) * kx
    by = F.element_at("ys", F.col("k") + 1)
    pxs, pys = F.col("lon") * kx, F.col("lat")
    dx, dy = bx - ax, by - ay
    seg2 = dx * dx + dy * dy
    t = F.when(seg2 == F.lit(0.0), F.lit(0.0)).otherwise(
        F.least(
            F.greatest(((pxs - ax) * dx + (pys - ay) * dy) / seg2, F.lit(0.0)),
            F.lit(1.0),
        )
    )
    cx, cy = ax + t * dx, ay + t * dy
    d2 = (pxs - cx) * (pxs - cx) + (pys - cy) * (pys - cy)
    scored = (
        seg.select("pkey", "trace_id", "way_id", d2.alias("d2"))
        .groupBy("pkey", "trace_id", "way_id")
        .agg(F.min("d2").alias("d2"))
        .filter(F.col("d2") <= F.lit(MM_R2))
    )
    best = knn.top_k_agg(scored, "pkey", "d2", "way_id", k=1,
                         const_cols=["trace_id"])
    per_way = best.groupBy("trace_id", "way_id").agg(
        F.count("*").alias("n_on_way")
    )
    vote = knn.top_k_agg(
        per_way.withColumn("neg", -F.col("n_on_way")),
        "trace_id", "neg", "way_id", k=1, payload_cols=["n_on_way"],
    )
    return vote.select(
        "trace_id", "way_id", F.col("n_on_way").cast("long").alias("n_on_way"),
        F.floor(F.col("n_on_way") * F.lit(1_000_000) / F.lit(SP_N))
        .cast("long").alias("share_e6"),
    )


def _sql_map_match() -> str:
    from .geo5 import SP_N, dwell_trace_sql

    kxs = geo.dlit(_KX)
    px, py = f"(lon * {kxs})", "lat"
    ax, ay = f"(xs[k] * {kxs})", "ys[k]"
    bx, by = f"(xs[k + 1] * {kxs})", "ys[k + 1]"
    dx, dy = f"({bx} - {ax})", f"({by} - {ay})"
    seg2 = f"({dx} * {dx} + {dy} * {dy})"
    t = (f"least(greatest((({px} - {ax}) * {dx} + ({py} - {ay}) * {dy})"
         f" / {seg2}, {geo.dlit(0.0)}), {geo.dlit(1.0)})")
    cx, cy = f"({ax} + {t} * {dx})", f"({ay} + {t} * {dy})"
    d2 = (f"CASE WHEN {seg2} = {geo.dlit(0.0)}"
          f" THEN ({px} - {ax}) * ({px} - {ax})"
          f" + ({py} - {ay}) * ({py} - {ay})"
          f" ELSE ({px} - {cx}) * ({px} - {cx})"
          f" + ({py} - {cy}) * ({py} - {cy}) END")
    return (
        f"WITH tr AS ({dwell_trace_sql()}), "
        f"p AS (SELECT trace_id, trace_id * 100 + i AS pkey,"
        f" xs[i] AS lon, ys[i] AS lat FROM tr, range(1, {SP_N} + 1) r(i)), "
        f"w AS (SELECT way_id, xs, ys FROM ({base.WAYS_SQL}) ww), "
        f"cand AS (SELECT pkey, trace_id, way_id,"
        f" list_min(list_transform(range(1, len(xs)), k -> {d2})) AS d2"
        f" FROM p CROSS JOIN w), "
        f"f AS (SELECT * FROM cand WHERE d2 <= {geo.dlit(MM_R2)}), "
        f"best AS (SELECT pkey, trace_id, way_id FROM"
        f" (SELECT *, row_number() OVER (PARTITION BY pkey"
        f" ORDER BY d2, way_id) AS rn FROM f) t WHERE rn = 1), "
        f"cnt AS (SELECT trace_id, way_id, count(*) AS n_on_way"
        f" FROM best GROUP BY 1, 2) "
        f"SELECT trace_id, way_id, CAST(n_on_way AS BIGINT) AS n_on_way,"
        f" CAST(floor(n_on_way * 1000000 / {SP_N}) AS BIGINT) AS share_e6"
        f" FROM (SELECT *, row_number() OVER (PARTITION BY trace_id"
        f" ORDER BY n_on_way DESC, way_id) AS rn FROM cnt) t WHERE rn = 1"
    )


QUERIES["map_match"] = (q_map_match, _sql_map_match())


# ---------------------------------------------------------------------------
# co_dwell — companion detection: traces dwelling together in space + time
# ---------------------------------------------------------------------------
# The trajectory-mining classic (co-location / companion discovery): two
# traces co-dwell when they hold stay points within CD_RADIUS_M of each
# other over overlapping ping spans. Composes stay_points (geo5) — the
# corpus is already collapsed to |traces|·dwells rows before any pairing.
#
# Scale shape: pair candidates come from a cell equi-join on the stay-point
# centroids (probe side ring-1-exploded, build side raw cell) — never a
# self cross join; per-cell density is bounded by geometry (a dwell cell
# holds the people PHYSICALLY at that spot), so the join has no quadratic
# tail. The exact refine (equirect d², span overlap, a<b dedup) runs on
# slim (trace_id, span, cx6, cy6) rows. Centroids are the 1e-6-rounded
# stay-point outputs, so all pair arithmetic is IEEE-identical in DuckDB.
CD_RADIUS_M = 500.0
CD_GRID = CellGrid.for_radius(CD_RADIUS_M * 1.5, max_abs_lat=45.0)
CD_R2 = (CD_RADIUS_M / M_PER_DEG) ** 2


def q_co_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .geo5 import q_stay_points

    sp = q_stay_points(spark, sf_dir).select(
        "trace_id", "i_start", "i_end", "cx6", "cy6",
        CD_GRID.encode(F.col("cx6"), F.col("cy6")).alias("cell"),
    )
    a = sp.select(
        F.col("trace_id").alias("ta"), F.col("i_start").alias("sa"),
        F.col("i_end").alias("ea"), F.col("cx6").alias("xa"),
        F.col("cy6").alias("ya"),
        F.explode(CD_GRID.ring1(F.col("cell"))).alias("jcell"),
    )
    b = sp.select(
        F.col("trace_id").alias("tb"), F.col("i_start").alias("sb"),
        F.col("i_end").alias("eb"), F.col("cx6").alias("xb"),
        F.col("cy6").alias("yb"), F.col("cell").alias("jcell"),
    )
    kx = F.lit(_KX)
    ddx = (F.col("xa") - F.col("xb")) * kx
    ddy = F.col("ya") - F.col("yb")
    pairs = (
        a.join(b, "jcell")
        .filter(F.col("ta") < F.col("tb"))
        .filter(F.col("sa") <= F.col("eb"))
        .filter(F.col("sb") <= F.col("ea"))
        .filter(ddx * ddx + ddy * ddy <= F.lit(CD_R2))
    )
    return pairs.groupBy(
        F.col("ta").alias("trace_a"), F.col("tb").alias("trace_b")
    ).agg(F.count("*").alias("n_codwells"))


def _sql_co_dwell() -> str:
    from .geo5 import _sql_stay_points

    kxs = geo.dlit(_KX)
    d2 = (f"((a.cx6 - b.cx6) * {kxs}) * ((a.cx6 - b.cx6) * {kxs})"
          f" + (a.cy6 - b.cy6) * (a.cy6 - b.cy6)")
    return (
        f"WITH sp AS ({_sql_stay_points()}) "
        f"SELECT a.trace_id AS trace_a, b.trace_id AS trace_b,"
        f" count(*) AS n_codwells"
        f" FROM sp a JOIN sp b ON a.trace_id < b.trace_id"
        f" AND a.i_start <= b.i_end AND b.i_start <= a.i_end"
        f" AND {d2} <= {geo.dlit(CD_R2)}"
        f" GROUP BY 1, 2"
    )


QUERIES["co_dwell"] = (q_co_dwell, _sql_co_dwell())


# ---------------------------------------------------------------------------
# trace_bearing — compass-rose histogram over trajectory steps
# ---------------------------------------------------------------------------
# Heading distribution of a GPS corpus (flow-direction analytics; also the
# bearing gate conflation uses to reject a candidate road crossing the
# trace sideways). The 8-bin compass comes from CASE comparisons against
# tan(22.5°) on the equirect step vector — NO atan2: transcendental
# functions are not bit-identical across engines, but sign tests and
# multiply-compares are, so the binning is exactly reproducible in the
# DuckDB oracle. Steps within a dwell phase are jitter-sized random
# directions; commute steps are ENE-ish constants — the histogram shows
# both populations.
#
# Scale shape: one posexplode (trace → 23 steps) and one 8-key hash agg;
# the shuffle carries 8 rows per map task.
_T1 = 0.41421356237309503  # tan(22.5°)


def _bearing_bin(dx, dy):
    t1 = F.lit(_T1)
    adx, ady = F.abs(dx), F.abs(dy)
    return (
        F.when((dx >= 0) & (dy > 0),
               F.when(adx <= dy * t1, F.lit("N"))
               .when(dy <= adx * t1, F.lit("E"))
               .otherwise(F.lit("NE")))
        .when((dx > 0) & (dy <= 0),
              F.when(ady <= dx * t1, F.lit("E"))
              .when(dx <= ady * t1, F.lit("S"))
              .otherwise(F.lit("SE")))
        .when((dx <= 0) & (dy < 0),
              F.when(adx <= ady * t1, F.lit("S"))
              .when(ady <= adx * t1, F.lit("W"))
              .otherwise(F.lit("SW")))
        .otherwise(
            F.when(ady <= adx * t1, F.lit("W"))
            .when(adx <= ady * t1, F.lit("N"))
            .otherwise(F.lit("NW")))
    )


def q_trace_bearing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .geo5 import SP_N, _dwell_trace_df

    tr = _dwell_trace_df(spark, sf_dir)
    steps = tr.select(
        "trace_id",
        F.explode(F.sequence(F.lit(2), F.lit(SP_N))).alias("i"),
        "xs", "ys",
    ).select(
        "trace_id",
        ((F.element_at("xs", F.col("i"))
          - F.element_at("xs", F.col("i") - 1)) * F.lit(_KX)).alias("dx"),
        (F.element_at("ys", F.col("i"))
         - F.element_at("ys", F.col("i") - 1)).alias("dy"),
    )
    return steps.select(
        _bearing_bin(F.col("dx"), F.col("dy")).alias("bearing"), "trace_id"
    ).groupBy("bearing").agg(
        F.count("*").alias("n_steps"),
        F.countDistinct("trace_id").alias("n_traces"),
    )


def _sql_trace_bearing() -> str:
    from .geo5 import SP_N, dwell_trace_sql

    t1 = geo.dlit(_T1)
    dx = f"((xs[i] - xs[i - 1]) * {geo.dlit(_KX)})"
    dy = "(ys[i] - ys[i - 1])"
    bin_sql = (
        f"CASE WHEN {dx} >= 0 AND {dy} > 0 THEN"
        f" (CASE WHEN abs({dx}) <= {dy} * {t1} THEN 'N'"
        f" WHEN {dy} <= abs({dx}) * {t1} THEN 'E' ELSE 'NE' END)"
        f" WHEN {dx} > 0 AND {dy} <= 0 THEN"
        f" (CASE WHEN abs({dy}) <= {dx} * {t1} THEN 'E'"
        f" WHEN {dx} <= abs({dy}) * {t1} THEN 'S' ELSE 'SE' END)"
        f" WHEN {dx} <= 0 AND {dy} < 0 THEN"
        f" (CASE WHEN abs({dx}) <= abs({dy}) * {t1} THEN 'S'"
        f" WHEN abs({dy}) <= abs({dx}) * {t1} THEN 'W' ELSE 'SW' END)"
        f" ELSE (CASE WHEN abs({dy}) <= abs({dx}) * {t1} THEN 'W'"
        f" WHEN abs({dx}) <= abs({dy}) * {t1} THEN 'N' ELSE 'NW' END) END"
    )
    return (
        f"WITH tr AS ({dwell_trace_sql()}), "
        f"st AS (SELECT trace_id, {bin_sql} AS bearing"
        f" FROM tr, range(2, {SP_N} + 1) r(i)) "
        f"SELECT bearing, count(*) AS n_steps,"
        f" count(DISTINCT trace_id) AS n_traces FROM st GROUP BY bearing"
    )


QUERIES["trace_bearing"] = (q_trace_bearing, _sql_trace_bearing())


# ---------------------------------------------------------------------------
# tile_mosaic — per-tile best-image selection (mosaic assembly)
# ---------------------------------------------------------------------------
# The imagery-pipeline primitive the reference's per-tile task files imply
# but never compute (tm-splitter.py writes the tiles; a human picks the
# imagery): for every 2 km EPSG:3857 tile with coverage, choose the single
# best image by a deterministic quality score — the "one chip per tile"
# reduction that turns an overlapping capture corpus into a mosaic layer.
# The score is a pure integer-hash uniform (base.u01(ikey, 21)) standing in
# for a real sharpness/cloud metric; ties break on ikey so the choice is
# total-ordered.
#
# Scale shape: tile assignment is floor arithmetic in codegen (no join);
# the selection is ONE hash aggregation — min(struct(-q, ikey)) + count —
# with map-side partial combine, so the shuffle carries one row per
# (map task, tile). No Window, no SortExec, payload (image_id) is derived
# from ikey after the cap. At 10^12 images the shuffle is bounded by
# tiles × tasks, not by rows.
from ..functions.cells import TileGrid

MOSAIC_TG = TileGrid(tile_m=2_000.0)
GAP_TG = TileGrid(tile_m=500.0)


def q_tile_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir)
    scored = img.select(
        MOSAIC_TG.tile_id(F.col("lon"), F.col("lat")).alias("tile_id"),
        "ikey",
        (-base.u01(F.col("ikey"), 21)).alias("qneg"),
    )
    # min(struct(...)) would put a struct in the aggregation buffer and
    # fall back to SortAggregate (full re-sort of the scored table — the
    # exact regression knn.top_k_agg exists to avoid). collect_list +
    # array_sort + slice keeps the whole thing ONE ObjectHashAggregate
    # with map-side partials; count(*) rides the same buffer.
    best = scored.groupBy("tile_id").agg(
        F.count("*").alias("n_images"),
        F.element_at(
            F.slice(F.array_sort(F.collect_list(F.struct("qneg", "ikey"))), 1, 1),
            1,
        ).alias("b"),
    )
    return best.select(
        "tile_id",
        F.concat(F.lit("img-"), F.col("b.ikey").cast("string")).alias("image_id"),
        "n_images",
        F.floor(-F.col("b.qneg") * F.lit(1_000_000)).cast("long").alias("q_e6"),
    )


def _sql_tile_mosaic() -> str:
    q = base.u01_sql("ikey", 21)
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"s AS (SELECT {MOSAIC_TG.tile_id_sql('lon', 'lat')} AS tile_id,"
        f" ikey, {q} AS q FROM img), "
        f"r AS (SELECT tile_id, ikey, q,"
        f" count(*) OVER (PARTITION BY tile_id) AS n_images,"
        f" row_number() OVER (PARTITION BY tile_id ORDER BY q DESC, ikey)"
        f" AS rn FROM s) "
        f"SELECT tile_id, 'img-' || CAST(ikey AS VARCHAR) AS image_id,"
        f" n_images, CAST(floor(q * 1000000) AS BIGINT) AS q_e6"
        f" FROM r WHERE rn = 1"
    )


QUERIES["tile_mosaic"] = (q_tile_mosaic, _sql_tile_mosaic())


# ---------------------------------------------------------------------------
# tile_gaps — coverage-hole detection over the capture grid
# ---------------------------------------------------------------------------
# The complement of tile_mosaic: which 500 m tiles of the AOI bbox hold NO
# image at all, and is each hole interior (all-covered neighborhood → a
# genuine sensor gap worth re-tasking) or part of a larger uncovered region?
# n_cov_neighbors counts the covered tiles among the hole's 8 neighbors.
#
# Scale shape: the tile grid is GEOMETRY-bounded (bbox/tile², independent of
# corpus size), so both the anti-join's build side and the neighbor probe
# are broadcastable by construction — the corpus is touched exactly once,
# by the distinct-tile aggregation (map-side combine shrinks it to one row
# per tile per task before the shuffle). The 8-neighbor count is an explode
# of the (small) gap set joined against the (small) covered set.
def q_tile_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tiles import generate_tiles

    img = base.images_df(spark, sf_dir)
    covered = (
        img.select(
            GAP_TG.tile_x(F.col("lon")).alias("tx"),
            GAP_TG.tile_y(F.col("lat")).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n"))
        .select("tx", "ty")
    )
    tiles = generate_tiles(
        spark, base.LON_MIN, base.LAT_MIN, base.LON_MAX, base.LAT_MAX, GAP_TG
    ).select("tile_id", "tx", "ty")
    gaps = tiles.join(F.broadcast(covered), ["tx", "ty"], "left_anti")
    off = spark.range(-1, 2).withColumnRenamed("id", "dx").crossJoin(
        spark.range(-1, 2).withColumnRenamed("id", "dy")
    ).filter((F.col("dx") != 0) | (F.col("dy") != 0))
    probes = gaps.crossJoin(F.broadcast(off)).select(
        "tile_id", "tx", "ty",
        (F.col("tx") + F.col("dx")).alias("nx"),
        (F.col("ty") + F.col("dy")).alias("ny"),
    )
    ncov = (
        probes.join(
            F.broadcast(covered.select(F.col("tx").alias("nx"),
                                       F.col("ty").alias("ny"))),
            ["nx", "ny"], "inner",
        )
        .groupBy("tile_id")
        .agg(F.count("*").alias("n_cov_neighbors"))
    )
    return (
        gaps.join(F.broadcast(ncov), "tile_id", "left")
        .select(
            "tile_id", "tx", "ty",
            F.coalesce("n_cov_neighbors", F.lit(0)).cast("long")
            .alias("n_cov_neighbors"),
        )
    )


def _sql_tile_gaps() -> str:
    import math

    R = geo.WEB_MERCATOR_R
    mx0 = R * math.radians(base.LON_MIN)
    mx1 = R * math.radians(base.LON_MAX)
    my0 = R * math.log(math.tan(math.pi / 4 + math.radians(base.LAT_MIN) / 2))
    my1 = R * math.log(math.tan(math.pi / 4 + math.radians(base.LAT_MAX) / 2))
    tx0, tx1 = math.floor(mx0 / GAP_TG.tile_m), math.floor(mx1 / GAP_TG.tile_m)
    ty0, ty1 = math.floor(my0 / GAP_TG.tile_m), math.floor(my1 / GAP_TG.tile_m)
    size = geo.dlit(GAP_TG.tile_m)
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"cov AS (SELECT DISTINCT"
        f" floor(({geo.mercator_x_sql('lon')}) / {size}) AS tx,"
        f" floor(({geo.mercator_y_sql('lat')}) / {size}) AS ty FROM img), "
        f"tiles AS (SELECT CAST(ty * {GAP_TG.nx} + tx AS BIGINT) AS tile_id,"
        f" tx, ty"
        f" FROM (SELECT unnest(range({tx0}, {tx1 + 1})) AS tx) a"
        f" CROSS JOIN (SELECT unnest(range({ty0}, {ty1 + 1})) AS ty) b), "
        f"gaps AS (SELECT * FROM tiles t WHERE NOT EXISTS"
        f" (SELECT 1 FROM cov c WHERE c.tx = t.tx AND c.ty = t.ty)), "
        f"offs AS (SELECT dx, dy FROM"
        f" (SELECT unnest(range(-1, 2)) AS dx) a"
        f" CROSS JOIN (SELECT unnest(range(-1, 2)) AS dy) b"
        f" WHERE dx <> 0 OR dy <> 0), "
        f"nc AS (SELECT g.tile_id, count(*) AS n_cov_neighbors"
        f" FROM gaps g CROSS JOIN offs o"
        f" JOIN cov c ON c.tx = g.tx + o.dx AND c.ty = g.ty + o.dy"
        f" GROUP BY g.tile_id) "
        f"SELECT g.tile_id, g.tx, g.ty,"
        f" CAST(coalesce(nc.n_cov_neighbors, 0) AS BIGINT) AS n_cov_neighbors"
        f" FROM gaps g LEFT JOIN nc ON g.tile_id = nc.tile_id"
    )


QUERIES["tile_gaps"] = (q_tile_gaps, _sql_tile_gaps())


# ---------------------------------------------------------------------------
# way_junctions — road-network topology: node-degree histogram of the
# way-refs graph
# ---------------------------------------------------------------------------
# The reference dereferences way refs one way at a time (conflator.py:
# 690-726) and never looks at the graph those refs form — but junction
# structure is what routing/validation actually needs: a node referenced
# by k distinct ways is a k-way junction; degree-1 nodes are dead ends or
# tile-cut artifacts. Same ways/nodes fixture as way_assemble (ways =
# orders, node refs = deduped lineitem suppkeys).
#
# Scale shape: THREE chained hash aggregations, no joins anywhere —
# (way,node) distinct pairs (map-side combine collapses duplicate refs),
# per-node distinct-way degree, then the counts-of-counts histogram
# (key_skew's doctrine: the histogram is bounded by max degree, not by
# nodes, so the final shuffle carries a handful of rows per task).
def q_way_junctions(spark: SparkSession, sf_dir: str) -> DataFrame:
    refs = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.min("l_suppkey").alias("node_id"))
        .select(F.col("l_orderkey").alias("way_id"), "node_id")
        .distinct()
    )
    deg = refs.groupBy("node_id").agg(F.count("*").alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
        .select(F.col("degree").cast("long").alias("degree"), "n_nodes")
    )


def _sql_way_junctions() -> str:
    return (
        "WITH refs AS (SELECT DISTINCT l_orderkey AS way_id, node_id FROM"
        " (SELECT l_orderkey, l_linenumber, min(l_suppkey) AS node_id"
        "  FROM lineitem GROUP BY 1, 2) t), "
        "deg AS (SELECT node_id, count(*) AS degree FROM refs GROUP BY 1) "
        "SELECT CAST(degree AS BIGINT) AS degree, count(*) AS n_nodes"
        " FROM deg GROUP BY 1"
    )


QUERIES["way_junctions"] = (q_way_junctions, _sql_way_junctions())


# ---------------------------------------------------------------------------
# tile_terms — geo-faceted caption term index (text × geo composition)
# ---------------------------------------------------------------------------
# The search-index shape behind "what is HERE": per 5 km tile, the top-3
# caption terms by frequency — the facet table a map UI or a captioning-
# quality audit reads. Composes the tokenizer the text queries share
# (functions/text.words — identical SQL mirror) with the EPSG:3857 tile
# key, so both the text and the geo half of the engine are exercised in
# one plan.
#
# Scale shape: explode(words) fans captions out ~3×, then ONE hash agg to
# (tile, term) counts (map-side combine absorbs the fan-out), and the
# engine's hash-agg top-k caps per tile — no Window, no sort; shuffled
# rows are slim (tile_id, term, tf).
from ..functions import text as textfn
from .geo import TILES as _FACET_TG

TILE_TERMS_K = 3


def q_tile_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir)
    tok = img.select(
        _FACET_TG.tile_id(F.col("lon"), F.col("lat")).alias("tile_id"),
        F.explode(textfn.words(F.col("caption"))).alias("term"),
    )
    tf = tok.groupBy("tile_id", "term").agg(F.count("*").alias("tf"))
    top = knn.top_k_agg(
        tf.withColumn("neg_tf", -F.col("tf")),
        "tile_id", dist_col="neg_tf", tie_col="term", k=TILE_TERMS_K,
        payload_cols=["tf"],
    )
    return top.select("tile_id", "term", F.col("tf").cast("long").alias("tf"))


def _sql_tile_terms() -> str:
    ws = textfn.words_sql("caption")
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"tok AS (SELECT {_FACET_TG.tile_id_sql('lon', 'lat')} AS tile_id,"
        f" unnest({ws}) AS term FROM img), "
        f"tf AS (SELECT tile_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), "
        f"rk AS (SELECT tile_id, term, tf, row_number() OVER"
        f" (PARTITION BY tile_id ORDER BY tf DESC, term ASC) AS r FROM tf) "
        f"SELECT tile_id, term, CAST(tf AS BIGINT) AS tf FROM rk"
        f" WHERE r <= {TILE_TERMS_K}"
    )


QUERIES["tile_terms"] = (q_tile_terms, _sql_tile_terms())


# ---------------------------------------------------------------------------
# moran_i — global spatial autocorrelation (Moran's I) of image density
# ---------------------------------------------------------------------------
# The spatial-statistics scalar every coverage audit wants: is capture
# density CLUSTERED (hot spots — I > 0), dispersed (I < 0), or random
# (I ≈ 0) over the cell raster? Queen-contiguity weights (8-neighbors,
# present cells only — same sparse-raster contract as focal_stats).
#
# Exactness: with x̄ = T/N rational, multiplying deviations through by N
# makes them integers — d_i = N·x_i − T — so the cross-product sum S·N²
# = Σ w_ij d_i d_j, the variance sum V·N² = Σ d_i², the pair count W and
# the cell count N are ALL int64-exact in both engines; only the final
# headline ratio moran_e6 = floor(1e6·N·S/(W·V)) touches doubles, with
# the identical expression order in both SQLs (the tfidf/score_e6
# contract). |d| ≤ N·max(x), so d² ≤ (N·max x)² — int64-safe far beyond
# this raster's range (overflow needs N·max(x) > 3e9).
#
# Scale shape: the corpus collapses to |cells| rows in the first map-side
# agg; the deviation table is cells × 1 broadcast scalar; the pair join is
# the focal-stats 8-offset explode joined back to the (tiny, geometry-
# bounded) cell raster — broadcast by construction; three final one-row
# aggregates.
def q_moran_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = TileGrid(tile_m=5_000.0)
    img = base.images_df(spark, sf_dir)
    counts = img.select(
        grid.tile_x(F.col("lon")).alias("tx"),
        grid.tile_y(F.col("lat")).alias("ty"),
    ).groupBy("tx", "ty").agg(F.count("*").alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").alias("t_sum"), F.count("*").alias("n_cells")
    )
    dev = counts.crossJoin(F.broadcast(tot)).select(
        "tx", "ty", "n_cells", "t_sum",
        (F.col("n_cells") * F.col("cnt") - F.col("t_sum")).alias("d"),
    )
    off = F.explode(F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        if not (dx == 0 and dy == 0)
    ])).alias("o")
    probe = dev.select(off, "tx", "ty", "d").select(
        (F.col("tx") + F.col("o.dx")).alias("tx"),
        (F.col("ty") + F.col("o.dy")).alias("ty"),
        F.col("d").alias("d_i"),
    )
    pairs = probe.join(
        F.broadcast(dev.select("tx", "ty", F.col("d").alias("d_j"))),
        ["tx", "ty"],
    )
    s = pairs.agg(
        F.sum(F.col("d_i") * F.col("d_j")).alias("s_num"),
        F.count("*").alias("w_pairs"),
    )
    v = dev.agg(
        F.sum(F.col("d") * F.col("d")).alias("v_num"),
        F.first("n_cells").alias("n_cells"),
    )
    out = s.crossJoin(F.broadcast(v))
    return out.select(
        "n_cells", "w_pairs", "s_num", "v_num",
        F.floor(
            F.col("n_cells").cast("double") * F.col("s_num").cast("double")
            * F.lit(1.0e6)
            / (F.col("w_pairs").cast("double") * F.col("v_num").cast("double"))
        ).cast("long").alias("moran_e6"),
    )


def _sql_moran_i() -> str:
    size = geo.dlit(5_000.0)
    tx = f"CAST(floor(({geo.mercator_x_sql('lon')}) / {size}) AS BIGINT)"
    ty = f"CAST(floor(({geo.mercator_y_sql('lat')}) / {size}) AS BIGINT)"
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"counts AS (SELECT {tx} AS tx, {ty} AS ty, count(*) AS cnt"
        f" FROM img GROUP BY 1, 2), "
        f"tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t_sum,"
        f" count(*) AS n_cells FROM counts), "
        f"dev AS (SELECT tx, ty, n_cells, t_sum,"
        f" n_cells * cnt - t_sum AS d FROM counts CROSS JOIN tot), "
        f"probe AS (SELECT tx + dx AS tx, ty + dy AS ty, d AS d_i FROM dev,"
        f" (SELECT unnest([-1, 0, 1]) AS dx) ox,"
        f" (SELECT unnest([-1, 0, 1]) AS dy) oy"
        f" WHERE NOT (dx = 0 AND dy = 0)), "
        f"pairs AS (SELECT p.d_i, b.d AS d_j FROM probe p"
        f" JOIN dev b USING (tx, ty)), "
        f"s AS (SELECT CAST(sum(d_i * d_j) AS BIGINT) AS s_num,"
        f" count(*) AS w_pairs FROM pairs), "
        f"v AS (SELECT CAST(sum(d * d) AS BIGINT) AS v_num,"
        f" min(n_cells) AS n_cells FROM dev) "
        f"SELECT n_cells, w_pairs, s_num, v_num,"
        f" CAST(floor(CAST(n_cells AS DOUBLE) * CAST(s_num AS DOUBLE) * 1.0e6"
        f" / (CAST(w_pairs AS DOUBLE) * CAST(v_num AS DOUBLE))) AS BIGINT)"
        f" AS moran_e6 FROM s CROSS JOIN v"
    )


QUERIES["moran_i"] = (q_moran_i, _sql_moran_i())


# ---------------------------------------------------------------------------
# hotspot_cells — local hot-spot detection (Getis-Ord-style excess) over the
# capture raster
# ---------------------------------------------------------------------------
# Moran's I says WHETHER density clusters; this says WHERE: for each present
# cell, the 3×3 neighborhood sum S_i (self included, Gi*-style) against its
# random-placement expectation E_i = T·n_i/N (n_i = present cells in the
# window). Cells whose neighborhood holds ≥ 2× expectation with material
# mass (S_i ≥ 32) are the hot spots — the fixture's planted hot cluster
# MUST surface here. excess_e6 = floor(1e6·(S_i·N − T·n_i)/(T·n_i)): the
# numerator and denominator are int64-exact (same ×N trick as moran_i);
# one double division at the end, identical expression order both engines.
#
# Scale shape: identical cost class to focal_stats — corpus → |cells| in
# one map-side-combinable agg, the 9-offset explode and the re-join ride
# cells, the T/N scalar broadcasts.
HOTSPOT_TILE_M = 500.0   # fine raster: background ≈ units/cell, so the
#   ~100 m-wide planted cluster dominates its window instead of diluting
#   into a 5 km cell (at 5 km the cluster is <1× the background window)
HOTSPOT_MIN_S = 32
HOTSPOT_MIN_EXCESS_E6 = 1_000_000  # ≥ 2× expectation


def q_hotspot_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = TileGrid(tile_m=HOTSPOT_TILE_M)
    img = base.images_df(spark, sf_dir)
    counts = img.select(
        grid.tile_x(F.col("lon")).alias("tx"),
        grid.tile_y(F.col("lat")).alias("ty"),
    ).groupBy("tx", "ty").agg(F.count("*").alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").alias("t_sum"), F.count("*").alias("n_cells")
    )
    off = F.explode(F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])).alias("o")
    nb = counts.select(off, "tx", "ty", "cnt").select(
        (F.col("tx") + F.col("o.dx")).alias("tx"),
        (F.col("ty") + F.col("o.dy")).alias("ty"),
        "cnt",
    )
    focal = nb.groupBy("tx", "ty").agg(
        F.sum("cnt").alias("s_i"), F.count("*").alias("n_i")
    )
    # present cells only (sparse-raster contract), then the excess gate
    cand = (
        counts.join(focal.hint("shuffle_hash"), ["tx", "ty"])
        .crossJoin(F.broadcast(tot))
        .select(
            "tx", "ty", "cnt", "s_i", "n_i",
            F.floor(
                (F.col("s_i") * F.col("n_cells")
                 - F.col("t_sum") * F.col("n_i")).cast("double")
                * F.lit(1.0e6)
                / (F.col("t_sum") * F.col("n_i")).cast("double")
            ).cast("long").alias("excess_e6"),
        )
    )
    return cand.filter(
        (F.col("s_i") >= F.lit(HOTSPOT_MIN_S))
        & (F.col("excess_e6") >= F.lit(HOTSPOT_MIN_EXCESS_E6))
    )


def _sql_hotspot_cells() -> str:
    size = geo.dlit(HOTSPOT_TILE_M)
    tx = f"CAST(floor(({geo.mercator_x_sql('lon')}) / {size}) AS BIGINT)"
    ty = f"CAST(floor(({geo.mercator_y_sql('lat')}) / {size}) AS BIGINT)"
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"counts AS (SELECT {tx} AS tx, {ty} AS ty, count(*) AS cnt"
        f" FROM img GROUP BY 1, 2), "
        f"tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t_sum,"
        f" count(*) AS n_cells FROM counts), "
        f"nb AS (SELECT tx + dx AS tx, ty + dy AS ty, cnt FROM counts,"
        f" (SELECT unnest([-1, 0, 1]) AS dx) ox,"
        f" (SELECT unnest([-1, 0, 1]) AS dy) oy), "
        f"focal AS (SELECT tx, ty, CAST(sum(cnt) AS BIGINT) AS s_i,"
        f" count(*) AS n_i FROM nb GROUP BY 1, 2), "
        f"cand AS (SELECT tx, ty, cnt, s_i, n_i,"
        f" CAST(floor(CAST(s_i * n_cells - t_sum * n_i AS DOUBLE) * 1.0e6"
        f" / CAST(t_sum * n_i AS DOUBLE)) AS BIGINT) AS excess_e6"
        f" FROM counts JOIN focal USING (tx, ty) CROSS JOIN tot) "
        f"SELECT * FROM cand WHERE s_i >= {HOTSPOT_MIN_S}"
        f" AND excess_e6 >= {HOTSPOT_MIN_EXCESS_E6}"
    )


QUERIES["hotspot_cells"] = (q_hotspot_cells, _sql_hotspot_cells())


# ---------------------------------------------------------------------------
# coverage_corr — capture bias: Pearson correlation of image density vs
# layer-feature density per cell
# ---------------------------------------------------------------------------
# The collection-QA scalar: are images being captured WHERE the map
# features are (corr → 1), independently of them (→ 0), or avoiding them?
# x = image count, y = layer-feature count per 5 km cell, over cells
# holding either (absent-both cells are undefined under the sparse
# contract and excluded — documented denominator choice, identical in the
# oracle). All five sufficient statistics (N, Σx, Σy, Σxy, Σx², Σy²) are
# int64-exact; corr_e6 = floor(1e6·(NΣxy−ΣxΣy)/(sqrt(NΣx²−(Σx)²)·
# sqrt(NΣy²−(Σy)²))) — sqrt is IEEE correctly-rounded, so the one double
# expression matches bit-for-bit across engines.
#
# Scale shape: two map-side-combinable cell aggregations (corpus and layer
# each touched once), one full-outer equi-join of two geometry-bounded
# cell tables, one single-row reduce.
def q_coverage_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = TileGrid(tile_m=5_000.0)
    img = base.images_df(spark, sf_dir)
    lyr = base.layer_df(spark, sf_dir)
    xc = img.select(
        grid.tile_x(F.col("lon")).alias("tx"),
        grid.tile_y(F.col("lat")).alias("ty"),
    ).groupBy("tx", "ty").agg(F.count("*").alias("x"))
    yc = lyr.select(
        grid.tile_x(F.col("s_lon")).alias("tx"),
        grid.tile_y(F.col("s_lat")).alias("ty"),
    ).groupBy("tx", "ty").agg(F.count("*").alias("y"))
    cells = (
        xc.join(yc.hint("shuffle_hash"), ["tx", "ty"], "full_outer")
        .select(
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    s = cells.agg(
        F.count("*").alias("n_cells"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n_cells") * F.col("sxy") - F.col("sx") * F.col("sy"))
    dx = (F.col("n_cells") * F.col("sxx") - F.col("sx") * F.col("sx"))
    dy = (F.col("n_cells") * F.col("syy") - F.col("sy") * F.col("sy"))
    return s.select(
        "n_cells", "sx", "sy", "sxy",
        F.floor(
            num.cast("double") * F.lit(1.0e6)
            / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double")))
        ).cast("long").alias("corr_e6"),
    )


def _sql_coverage_corr() -> str:
    size = geo.dlit(5_000.0)

    def txy(lon, lat):
        return (
            f"CAST(floor(({geo.mercator_x_sql(lon)}) / {size}) AS BIGINT)",
            f"CAST(floor(({geo.mercator_y_sql(lat)}) / {size}) AS BIGINT)",
        )

    ix, iy = txy("lon", "lat")
    lx, ly = txy("s_lon", "s_lat")
    return (
        f"WITH img AS ({base.IMAGES_SQL}), lyr AS ({base.LAYER_SQL}), "
        f"xc AS (SELECT {ix} AS tx, {iy} AS ty, count(*) AS x FROM img"
        f" GROUP BY 1, 2), "
        f"yc AS (SELECT {lx} AS tx, {ly} AS ty, count(*) AS y FROM lyr"
        f" GROUP BY 1, 2), "
        f"cells AS (SELECT coalesce(x, 0) AS x, coalesce(y, 0) AS y"
        f" FROM xc FULL OUTER JOIN yc USING (tx, ty)), "
        f"s AS (SELECT count(*) AS n_cells,"
        f" CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,"
        f" CAST(sum(x * y) AS BIGINT) AS sxy,"
        f" CAST(sum(x * x) AS BIGINT) AS sxx,"
        f" CAST(sum(y * y) AS BIGINT) AS syy FROM cells) "
        f"SELECT n_cells, sx, sy, sxy,"
        f" CAST(floor(CAST(n_cells * sxy - sx * sy AS DOUBLE) * 1.0e6"
        f" / (sqrt(CAST(n_cells * sxx - sx * sx AS DOUBLE))"
        f" * sqrt(CAST(n_cells * syy - sy * sy AS DOUBLE)))) AS BIGINT)"
        f" AS corr_e6 FROM s"
    )


QUERIES["coverage_corr"] = (q_coverage_corr, _sql_coverage_corr())


# ---------------------------------------------------------------------------
# tile_freshness — imagery currency per map cell
# ---------------------------------------------------------------------------
# Coverage exists ≠ coverage is CURRENT: a cell whose newest image predates
# the cutoff is due for re-capture even if densely covered (the audit that
# drives street-imagery re-collection planning). Capture date = the parent
# order's o_orderdate (ikey//8 recovers l_orderkey — the image key is
# l_orderkey*8 + l_linenumber by construction, base.py).
#
# Scale shape: one equi-join images ⋈ orders on the order key
# (shuffled-hash both sides — both are corpus-scale at a planet archive;
# the date column is 4 bytes, payloads never ride), then one raster-
# bounded tile hash-agg (count / max / conditional count, all map-side
# combined). Dates become integer epoch-days in BOTH engines, so the
# output is integer-exact.
FRESH_TILE_M = 5_000.0
FRESH_CUTOFF = "1995-06-01"


def q_tile_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir).select(
        F.floor(F.col("ikey") / F.lit(8)).cast("long").alias("okey"),
        "lon", "lat",
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("okey"),
        F.to_date("o_orderdate").alias("cap_date"),
    )
    j = img.join(orders.hint("shuffle_hash"), "okey")
    keyed = j.select(
        F.floor(geo.mercator_x(F.col("lon")) / F.lit(FRESH_TILE_M))
        .alias("tx"),
        F.floor(geo.mercator_y(F.col("lat")) / F.lit(FRESH_TILE_M))
        .alias("ty"),
        "cap_date",
    )
    cutoff = F.lit(FRESH_CUTOFF).cast("date")
    return keyed.groupBy("tx", "ty").agg(
        F.count("*").alias("n_images"),
        F.datediff(F.max("cap_date"), F.lit("1970-01-01").cast("date"))
        .cast("int").alias("latest_epoch_day"),
        F.sum(F.when(F.col("cap_date") < cutoff, 1).otherwise(0))
        .cast("long").alias("n_stale"),
    )


def _sql_tile_freshness() -> str:
    size = geo.dlit(FRESH_TILE_M)
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"j AS (SELECT img.lon, img.lat,"
        f" CAST(o.o_orderdate AS DATE) AS cap_date"
        f" FROM img JOIN orders o"
        f" ON o.o_orderkey = CAST(floor(img.ikey / 8) AS BIGINT)) "
        f"SELECT CAST(floor(({geo.mercator_x_sql('lon')}) / {size})"
        f" AS BIGINT) AS tx,"
        f" CAST(floor(({geo.mercator_y_sql('lat')}) / {size})"
        f" AS BIGINT) AS ty,"
        f" CAST(count(*) AS BIGINT) AS n_images,"
        f" CAST(max(cap_date) - DATE '1970-01-01' AS INT)"
        f" AS latest_epoch_day,"
        f" CAST(sum(CASE WHEN cap_date < DATE '{FRESH_CUTOFF}'"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS n_stale"
        f" FROM j GROUP BY 1, 2"
    )


QUERIES["tile_freshness"] = (q_tile_freshness, _sql_tile_freshness())


# ---------------------------------------------------------------------------
# tile_change — temporal change detection per map cell
# ---------------------------------------------------------------------------
# tile_freshness asks "is the coverage current"; this asks "did the WORLD
# under the cell change": split the archive at a pivot date and compare the
# cell's early-epoch vs late-epoch capture composition. Cells whose volume
# shifted hardest are where construction/demolition happened — the signal
# that prioritizes re-capture and map re-conflation.
#
# Scale shape: identical to tile_freshness — one equi-join images ⋈ orders
# on the order key (shuffled-hash both sides; only a 4-byte date rides),
# one raster-bounded tile hash-agg of two conditional counts (map-side
# combined). The shift ratio is integer-exact: numerator is abs() so both
# engines' integer division agree (Spark `div` truncates toward zero,
# DuckDB `//` floors — they differ on NEGATIVES, so the signed form would
# silently diverge; the sign ships as its own boolean instead).
CHANGE_TILE_M = 5_000.0
CHANGE_PIVOT = "1998-01-01"


def q_tile_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir).select(
        F.floor(F.col("ikey") / F.lit(8)).cast("long").alias("okey"),
        "lon", "lat",
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("okey"),
        F.to_date("o_orderdate").alias("cap_date"),
    )
    pivot = F.lit(CHANGE_PIVOT).cast("date")
    j = img.join(orders.hint("shuffle_hash"), "okey")
    keyed = j.select(
        F.floor(geo.mercator_x(F.col("lon")) / F.lit(CHANGE_TILE_M))
        .alias("tx"),
        F.floor(geo.mercator_y(F.col("lat")) / F.lit(CHANGE_TILE_M))
        .alias("ty"),
        (F.col("cap_date") < pivot).alias("early"),
    )
    return (
        keyed.groupBy("tx", "ty")
        .agg(
            F.sum(F.when(F.col("early"), 1).otherwise(0))
            .cast("long").alias("n_early"),
            F.sum(F.when(F.col("early"), 0).otherwise(1))
            .cast("long").alias("n_late"),
        )
        .select(
            "tx", "ty", "n_early", "n_late",
            F.expr(
                "CAST(abs(n_late - n_early) * 1000000"
                " div (n_early + n_late) AS BIGINT)"
            ).alias("shift_e6"),
            (F.col("n_late") > F.col("n_early")).alias("grew"),
        )
    )


def _sql_tile_change() -> str:
    size = geo.dlit(CHANGE_TILE_M)
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"j AS (SELECT img.lon, img.lat,"
        f" (CAST(o.o_orderdate AS DATE) < DATE '{CHANGE_PIVOT}') AS early"
        f" FROM img JOIN orders o"
        f" ON o.o_orderkey = CAST(floor(img.ikey / 8) AS BIGINT)), "
        f"cells AS (SELECT"
        f" CAST(floor(({geo.mercator_x_sql('lon')}) / {size})"
        f" AS BIGINT) AS tx,"
        f" CAST(floor(({geo.mercator_y_sql('lat')}) / {size})"
        f" AS BIGINT) AS ty,"
        f" CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_early,"
        f" CAST(sum(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT)"
        f" AS n_late"
        f" FROM j GROUP BY 1, 2) "
        f"SELECT tx, ty, n_early, n_late,"
        f" CAST(abs(n_late - n_early) * 1000000"
        f" // (n_early + n_late) AS BIGINT) AS shift_e6,"
        f" (n_late > n_early) AS grew FROM cells"
    )


QUERIES["tile_change"] = (q_tile_change, _sql_tile_change())


# ---------------------------------------------------------------------------
# frame_dedup — sequence-local near-dup drop (consecutive-frame pHash)
# ---------------------------------------------------------------------------
# The cheap FIRST dedup pass of a burst/video capture pipeline: before any
# banded all-corpus near-dup join (dedup_phash), drop frames that are
# near-identical to the PREVIOUS frame of the same capture sequence — in a
# street-imagery archive most redundancy is temporal (the car stopped at a
# light), and sequence-local lag catches it with ZERO joins. Frames =
# images of one src_part ordered by ikey; phash = the same md5-derived
# 60-bit stand-in contract as dedup_phash (production: input_hint's
# phash:int64).
#
# Scale shape: ONE window (partitionBy capture sequence — bounded per-key
# state, no global sort) + native bit_count(xor) in codegen. No shuffle
# beyond the sequence repartition; at 10^12 frames this is the pass that
# makes the banded join's input 5-10× smaller. Emits the decision row per
# frame (keep + hamming-to-prev) so the drop is auditable.
FRAME_MAX_HAMMING = 3


def q_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions import hashes

    img = base.images_df(spark, sf_dir).select(
        "ikey", "src_part", "caption",
    ).withColumn(
        "ph",
        hashes.md5i(F.col("caption"), 15).bitwiseXOR(
            F.expr("shiftleft(1L, CAST(ikey % 4 AS INT)) - 1L")
        ),
    )
    w = Window.partitionBy("src_part").orderBy("ikey")
    lagged = img.select(
        "ikey", "src_part", "ph",
        F.lag("ph").over(w).alias("prev_ph"),
    )
    ham = F.when(
        F.col("prev_ph").isNull(), F.lit(None)
    ).otherwise(F.bit_count(F.col("ph").bitwiseXOR(F.col("prev_ph"))))
    return lagged.select(
        "ikey", "src_part",
        ham.cast("int").alias("hamming_prev"),
        (ham.isNull() | (ham > F.lit(FRAME_MAX_HAMMING))).alias("keep"),
    )


def _sql_frame_dedup() -> str:
    from ..functions import hashes

    ph = (
        f"xor({hashes.md5i_sql('caption', 15)},"
        f" (1::BIGINT << CAST(ikey % 4 AS INT)) - 1)"
    )
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"ph AS (SELECT ikey, src_part, {ph} AS ph FROM img), "
        f"lagged AS (SELECT ikey, src_part, ph,"
        f" lag(ph) OVER (PARTITION BY src_part ORDER BY ikey) AS prev_ph"
        f" FROM ph) "
        f"SELECT ikey, src_part,"
        f" CAST(CASE WHEN prev_ph IS NULL THEN NULL"
        f" ELSE bit_count(xor(ph, prev_ph)) END AS INT) AS hamming_prev,"
        f" (prev_ph IS NULL"
        f" OR bit_count(xor(ph, prev_ph)) > {FRAME_MAX_HAMMING}) AS keep"
        f" FROM lagged"
    )


QUERIES["frame_dedup"] = (q_frame_dedup, _sql_frame_dedup())


# ---------------------------------------------------------------------------
# cell_kanon — k-anonymity publication gate per map cell
# ---------------------------------------------------------------------------
# Before a coverage heatmap ships publicly, cells backed by too FEW
# distinct capture sequences must be suppressed — a lone contributor's
# commute is re-identifiable from the heatmap alone (the standard
# k-anonymity release rule for mobility rasters). Sequence id = src_part
# (the same capture-sequence notion frame_dedup uses).
#
# Scale shape: ONE exact distinct-count aggregation keyed by cell —
# Spark plans count(DISTINCT) as the two-level expand/partial-agg with
# map-side dedup, so the shuffle carries (cell, seq) pairs already
# deduplicated per map task; no joins, raster-bounded output. The gate
# flag ships alongside the counts so the publisher's filter is auditable.
KANON_TILE_M = 5_000.0
KANON_K = 5


def q_cell_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir)
    keyed = img.select(
        F.floor(geo.mercator_x(F.col("lon")) / F.lit(KANON_TILE_M))
        .alias("tx"),
        F.floor(geo.mercator_y(F.col("lat")) / F.lit(KANON_TILE_M))
        .alias("ty"),
        "src_part",
    )
    return keyed.groupBy("tx", "ty").agg(
        F.count("*").alias("n_images"),
        F.countDistinct("src_part").alias("n_seqs"),
    ).select(
        "tx", "ty", "n_images", "n_seqs",
        (F.col("n_seqs") >= F.lit(KANON_K)).alias("publish"),
    )


def _sql_cell_kanon() -> str:
    size = geo.dlit(KANON_TILE_M)
    return (
        f"WITH img AS ({base.IMAGES_SQL}) "
        f"SELECT CAST(floor(({geo.mercator_x_sql('lon')}) / {size})"
        f" AS BIGINT) AS tx,"
        f" CAST(floor(({geo.mercator_y_sql('lat')}) / {size})"
        f" AS BIGINT) AS ty,"
        f" CAST(count(*) AS BIGINT) AS n_images,"
        f" CAST(count(DISTINCT src_part) AS BIGINT) AS n_seqs,"
        f" (count(DISTINCT src_part) >= {KANON_K}) AS publish"
        f" FROM img GROUP BY 1, 2"
    )


QUERIES["cell_kanon"] = (q_cell_kanon, _sql_cell_kanon())


# ---------------------------------------------------------------------------
# tile_priority — recency-weighted coverage score (exact integer decay)
# ---------------------------------------------------------------------------
# tile_freshness reports WHEN a cell was last seen; this turns the whole
# capture-age distribution into one rankable score: every image
# contributes weight 1e6 halved per HALF_LIFE of age — a capture plan
# sorts ascending and re-flies the bottom. Exponential decay is normally
# float territory; restricted to power-of-two decay it is ONE integer
# shift (1000000 >> (age_days div HALF_LIFE)) — bit-identical across
# engines, no epsilon anywhere (the decision that makes an exact oracle
# possible; shift clamped at 62 so pathological ages stay defined).
#
# Scale shape: the tile_freshness join (images ⋈ orders, shuffled-hash,
# 4-byte date rides) + one map-side-combined hash-agg sum.
PRIO_TILE_M = 5_000.0
PRIO_HALF_LIFE_D = 365
PRIO_ASOF = "2001-12-31"  # score as of a PINNED date — never wall clock


def q_tile_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir).select(
        F.floor(F.col("ikey") / F.lit(8)).cast("long").alias("okey"),
        "lon", "lat",
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("okey"),
        F.to_date("o_orderdate").alias("cap_date"),
    )
    j = img.join(orders.hint("shuffle_hash"), "okey").withColumn(
        "age_d",
        F.datediff(F.lit(PRIO_ASOF).cast("date"), F.col("cap_date"))
        .cast("long"),
    )
    # pyspark's shiftright() only takes a literal bit count — the
    # column-shift form goes through the SQL expression directly
    w = F.expr(
        f"shiftright(CAST(1000000 AS BIGINT),"
        f" CAST(least(age_d div {PRIO_HALF_LIFE_D}, 62) AS INT))"
    )
    keyed = j.select(
        F.floor(geo.mercator_x(F.col("lon")) / F.lit(PRIO_TILE_M))
        .alias("tx"),
        F.floor(geo.mercator_y(F.col("lat")) / F.lit(PRIO_TILE_M))
        .alias("ty"),
        w.alias("w"),
    )
    return keyed.groupBy("tx", "ty").agg(
        F.count("*").alias("n_images"),
        F.sum("w").cast("long").alias("priority"),
    )


def _sql_tile_priority() -> str:
    size = geo.dlit(PRIO_TILE_M)
    age = f"(DATE '{PRIO_ASOF}' - CAST(o.o_orderdate AS DATE))"
    w = (
        f"(CAST(1000000 AS BIGINT)"
        f" >> least({age} // {PRIO_HALF_LIFE_D}, 62))"
    )
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"j AS (SELECT img.lon, img.lat, {w} AS w"
        f" FROM img JOIN orders o"
        f" ON o.o_orderkey = CAST(floor(img.ikey / 8) AS BIGINT)) "
        f"SELECT CAST(floor(({geo.mercator_x_sql('lon')}) / {size})"
        f" AS BIGINT) AS tx,"
        f" CAST(floor(({geo.mercator_y_sql('lat')}) / {size})"
        f" AS BIGINT) AS ty,"
        f" CAST(count(*) AS BIGINT) AS n_images,"
        f" CAST(sum(w) AS BIGINT) AS priority"
        f" FROM j GROUP BY 1, 2"
    )


QUERIES["tile_priority"] = (q_tile_priority, _sql_tile_priority())


# ---------------------------------------------------------------------------
# curate_assemble — the round-5 capstone: dedup ∩ privacy ∩ recency in one plan
# ---------------------------------------------------------------------------
# The publishable-training-set assembly this round's operators exist for,
# composed as ONE lazy plan: keep each cell's frame-dedup SURVIVORS
# (frame_dedup), only in cells that pass the k-anonymity gate
# (cell_kanon), scored by the exact integer recency decay
# (tile_priority). Output: per publishable cell, the curated image count
# and its recency-weighted priority — the manifest a dataset release cut
# ships.
#
# Scale shape: the window (sequence-keyed, bounded state) and the two
# hash-aggs run off ONE shared images scan; the kanon gate table is
# raster-bounded (cells, not corpus) so its join back is the bounded-side
# shuffled-hash equi-join on (tx, ty); the orders join rides a 4-byte
# date. No new shuffle class beyond the parts already audited.


def q_curate_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import hashes

    img = base.images_df(spark, sf_dir)
    tx = F.floor(geo.mercator_x(F.col("lon")) / F.lit(KANON_TILE_M))
    ty = F.floor(geo.mercator_y(F.col("lat")) / F.lit(KANON_TILE_M))

    # sequence-local dedup decision (frame_dedup's window, inline so the
    # images scan is shared)
    from pyspark.sql import Window

    ph = hashes.md5i(F.col("caption"), 15).bitwiseXOR(
        F.expr("shiftleft(1L, CAST(ikey % 4 AS INT)) - 1L")
    )
    w = Window.partitionBy("src_part").orderBy("ikey")
    frames = img.select(
        "ikey", "src_part", "lon", "lat", ph.alias("ph"),
    ).withColumn("prev_ph", F.lag("ph").over(w))
    ham = F.when(F.col("prev_ph").isNull(), F.lit(None)).otherwise(
        F.bit_count(F.col("ph").bitwiseXOR(F.col("prev_ph")))
    )
    kept = frames.where(
        ham.isNull() | (ham > F.lit(FRAME_MAX_HAMMING))
    ).select("ikey", tx.alias("tx"), ty.alias("ty"))

    # k-anonymity gate over the FULL corpus (suppression must count every
    # image, not just survivors — dropping a frame must never unlock a cell)
    gate = (
        img.select(tx.alias("tx"), ty.alias("ty"), "src_part")
        .groupBy("tx", "ty")
        .agg(F.countDistinct("src_part").alias("n_seqs"))
        .where(F.col("n_seqs") >= F.lit(KANON_K))
        .select("tx", "ty")
    )

    # recency weight per kept frame
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("okey"),
        F.to_date("o_orderdate").alias("cap_date"),
    )
    kept_w = (
        kept.withColumn(
            "okey", F.floor(F.col("ikey") / F.lit(8)).cast("long")
        )
        .join(orders.hint("shuffle_hash"), "okey")
        .withColumn(
            "age_d",
            F.datediff(F.lit(PRIO_ASOF).cast("date"), F.col("cap_date"))
            .cast("long"),
        )
        .withColumn(
            "wgt",
            F.expr(
                f"shiftright(CAST(1000000 AS BIGINT),"
                f" CAST(least(age_d div {PRIO_HALF_LIFE_D}, 62) AS INT))"
            ),
        )
    )
    return (
        kept_w.join(gate.hint("shuffle_hash"), ["tx", "ty"])
        .groupBy("tx", "ty")
        .agg(
            F.count("*").alias("n_curated"),
            F.sum("wgt").cast("long").alias("priority"),
        )
    )


def _sql_curate_assemble() -> str:
    from ..functions import hashes

    size = geo.dlit(KANON_TILE_M)
    phx = (
        f"xor({hashes.md5i_sql('caption', 15)},"
        f" (1::BIGINT << CAST(ikey % 4 AS INT)) - 1)"
    )
    age = f"(DATE '{PRIO_ASOF}' - CAST(o.o_orderdate AS DATE))"
    wgt = (
        f"(CAST(1000000 AS BIGINT)"
        f" >> least({age} // {PRIO_HALF_LIFE_D}, 62))"
    )
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"cells AS (SELECT ikey, src_part, lon, lat, caption,"
        f" CAST(floor(({geo.mercator_x_sql('lon')}) / {size})"
        f" AS BIGINT) AS tx,"
        f" CAST(floor(({geo.mercator_y_sql('lat')}) / {size})"
        f" AS BIGINT) AS ty FROM img), "
        f"ph AS (SELECT ikey, src_part, tx, ty, {phx} AS ph FROM cells), "
        f"lagged AS (SELECT ikey, tx, ty, ph,"
        f" lag(ph) OVER (PARTITION BY src_part ORDER BY ikey) AS prev_ph"
        f" FROM ph), "
        f"kept AS (SELECT ikey, tx, ty FROM lagged"
        f" WHERE prev_ph IS NULL"
        f" OR bit_count(xor(ph, prev_ph)) > {FRAME_MAX_HAMMING}), "
        f"gate AS (SELECT tx, ty FROM cells GROUP BY tx, ty"
        f" HAVING count(DISTINCT src_part) >= {KANON_K}), "
        f"wk AS (SELECT k.tx, k.ty, {wgt} AS wgt"
        f" FROM kept k JOIN orders o"
        f" ON o.o_orderkey = CAST(floor(k.ikey / 8) AS BIGINT)) "
        f"SELECT w.tx, w.ty, CAST(count(*) AS BIGINT) AS n_curated,"
        f" CAST(sum(w.wgt) AS BIGINT) AS priority"
        f" FROM wk w JOIN gate g ON g.tx = w.tx AND g.ty = w.ty"
        f" GROUP BY w.tx, w.ty"
    )


QUERIES["curate_assemble"] = (q_curate_assemble, _sql_curate_assemble())


# ---------------------------------------------------------------------------
# grid_orientation — street-grid orientation histogram per map cell
# ---------------------------------------------------------------------------
# The city-orientation analysis (Boeing 2019, "Urban spatial order"):
# per cell, how way-segment ORIENTATIONS distribute over four 45° classes —
# gridded cities spike in one class, organic ones spread flat. Streets are
# undirected, so each segment folds to the upper half-plane (dy<0, or dy=0
# & dx<0 → negate both) before the pure-comparison class coding
#   class = [dx>0] + 2·[|dx|≥|dy|]
# (0: W-leaning steep, 1: E-leaning steep, 2/3: shallow — the same
# exact-integer-logic trick as hog_hist, no atan2; deltas are planar
# lon/lat, the documented convention for one city-scale AOI). Zero-length
# segments are excluded. IEEE double subtraction and comparison evaluate
# identically in both engines, so the oracle is exact without quantizing.
#
# Scale shape: ONE posexplode of the vertex arrays (segments = vertices−1
# per way, streamed map-side), the comparison coding in codegen, one
# raster-bounded hash-agg with map-side combine. No joins at all.
GRID_TILE_M = 5_000.0


def seg_orientation_cells(ways: DataFrame) -> DataFrame:
    """(way_id, xs, ys) → per-cell 4-class orientation histogram (module
    comment above). The supplier-way fixture is shallow-dominant (every
    synthetic way has |dx| ≥ |dy|), so the steep classes o0/o1 are
    exercised by the hand-built-ways unit test rather than the oracle."""
    seg = ways.select(
        F.explode(
            F.sequence(F.lit(2), F.size("xs"))
        ).alias("i"), "xs", "ys",
    ).select(
        (F.element_at("xs", F.col("i"))
         - F.element_at("xs", F.col("i") - 1)).alias("dx0"),
        (F.element_at("ys", F.col("i"))
         - F.element_at("ys", F.col("i") - 1)).alias("dy0"),
        ((F.element_at("xs", F.col("i"))
          + F.element_at("xs", F.col("i") - 1)) / F.lit(2.0)).alias("mx"),
        ((F.element_at("ys", F.col("i"))
          + F.element_at("ys", F.col("i") - 1)) / F.lit(2.0)).alias("my"),
    ).where((F.col("dx0") != 0) | (F.col("dy0") != 0))
    flip = (F.col("dy0") < 0) | (
        (F.col("dy0") == 0) & (F.col("dx0") < 0)
    )
    dx = F.when(flip, -F.col("dx0")).otherwise(F.col("dx0"))
    dy = F.when(flip, -F.col("dy0")).otherwise(F.col("dy0"))
    cls = (
        F.when(dx > 0, 1).otherwise(0)
        + F.when(F.abs(dx) >= F.abs(dy), 2).otherwise(0)
    )
    keyed = seg.select(
        F.floor(geo.mercator_x(F.col("mx")) / F.lit(GRID_TILE_M))
        .alias("tx"),
        F.floor(geo.mercator_y(F.col("my")) / F.lit(GRID_TILE_M))
        .alias("ty"),
        cls.alias("cls"),
    )
    aggs = [
        F.sum(F.when(F.col("cls") == b, 1).otherwise(0))
        .cast("long").alias(f"o{b}")
        for b in range(4)
    ]
    return keyed.groupBy("tx", "ty").agg(
        F.count("*").alias("n_segs"), *aggs
    )


def q_grid_orientation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return seg_orientation_cells(base.ways_df(spark, sf_dir))


def _sql_grid_orientation() -> str:
    size = geo.dlit(GRID_TILE_M)
    dx0, dy0 = "(xs[i] - xs[i - 1])", "(ys[i] - ys[i - 1])"
    mx = f"((xs[i] + xs[i - 1]) / {geo.dlit(2.0)})"
    my = f"((ys[i] + ys[i - 1]) / {geo.dlit(2.0)})"
    flip = f"({dy0} < 0 OR ({dy0} = 0 AND {dx0} < 0))"
    dx = f"(CASE WHEN {flip} THEN -{dx0} ELSE {dx0} END)"
    dy = f"(CASE WHEN {flip} THEN -{dy0} ELSE {dy0} END)"
    cls = (
        f"((CASE WHEN {dx} > 0 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN abs({dx}) >= abs({dy}) THEN 2 ELSE 0 END))"
    )
    octs = ", ".join(
        f"CAST(sum(CASE WHEN cls = {b} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS o{b}"
        for b in range(4)
    )
    return (
        f"WITH ways AS ({base.WAYS_SQL}), "
        f"seg AS (SELECT {cls} AS cls, {mx} AS mx, {my} AS my"
        f" FROM ways, unnest(range(2, len(xs) + 1)) t(i)"
        f" WHERE NOT ({dx0} = 0 AND {dy0} = 0)) "
        f"SELECT CAST(floor(({geo.mercator_x_sql('mx')}) / {size})"
        f" AS BIGINT) AS tx,"
        f" CAST(floor(({geo.mercator_y_sql('my')}) / {size})"
        f" AS BIGINT) AS ty,"
        f" CAST(count(*) AS BIGINT) AS n_segs, {octs}"
        f" FROM seg GROUP BY 1, 2"
    )


QUERIES["grid_orientation"] = (q_grid_orientation, _sql_grid_orientation())


# ---------------------------------------------------------------------------
# road_density — way-length raster (meters of way per map cell)
# ---------------------------------------------------------------------------
# The infrastructure-density layer every coverage/equity analysis starts
# from (and grid_orientation's magnitude complement — that query counts
# segments, this one measures them). Per-segment haversine length floors
# to INTEGER MILLIMETERS before the cell rollup: float sums are
# summation-order-dependent (Spark's hash agg vs DuckDB's group order
# WOULD diverge), integer sums are exact in any order — the same
# quantize-then-aggregate discipline as the e6 score columns. Segment →
# cell by midpoint (documented convention; at 5 km cells vs ≤0.1° ways
# the boundary-straddle error is the standard raster tradeoff).
#
# Scale shape: ONE posexplode (segments stream map-side off the ways
# scan), haversine + floor in codegen, one raster-bounded hash-agg with
# map-side combine. No joins.
DENS_TILE_M = 5_000.0


def q_road_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    ways = base.ways_df(spark, sf_dir)
    seg = ways.select(
        F.explode(F.sequence(F.lit(2), F.size("xs"))).alias("i"),
        "xs", "ys",
    ).select(
        F.floor(
            geo.haversine_m(
                F.element_at("xs", F.col("i") - 1),
                F.element_at("ys", F.col("i") - 1),
                F.element_at("xs", F.col("i")),
                F.element_at("ys", F.col("i")),
            ) * F.lit(1000.0)
        ).cast("long").alias("len_mm"),
        ((F.element_at("xs", F.col("i"))
          + F.element_at("xs", F.col("i") - 1)) / F.lit(2.0)).alias("mx"),
        ((F.element_at("ys", F.col("i"))
          + F.element_at("ys", F.col("i") - 1)) / F.lit(2.0)).alias("my"),
    )
    return seg.select(
        F.floor(geo.mercator_x(F.col("mx")) / F.lit(DENS_TILE_M))
        .alias("tx"),
        F.floor(geo.mercator_y(F.col("my")) / F.lit(DENS_TILE_M))
        .alias("ty"),
        "len_mm",
    ).groupBy("tx", "ty").agg(
        F.count("*").alias("n_segs"),
        F.sum("len_mm").cast("long").alias("len_mm"),
    )


def _sql_road_density() -> str:
    size = geo.dlit(DENS_TILE_M)
    hav = geo.haversine_m_sql("xs[i - 1]", "ys[i - 1]", "xs[i]", "ys[i]")
    mx = f"((xs[i] + xs[i - 1]) / {geo.dlit(2.0)})"
    my = f"((ys[i] + ys[i - 1]) / {geo.dlit(2.0)})"
    return (
        f"WITH ways AS ({base.WAYS_SQL}), "
        f"seg AS (SELECT"
        f" CAST(floor(({hav}) * {geo.dlit(1000.0)}) AS BIGINT) AS len_mm,"
        f" {mx} AS mx, {my} AS my"
        f" FROM ways, unnest(range(2, len(xs) + 1)) t(i)) "
        f"SELECT CAST(floor(({geo.mercator_x_sql('mx')}) / {size})"
        f" AS BIGINT) AS tx,"
        f" CAST(floor(({geo.mercator_y_sql('my')}) / {size})"
        f" AS BIGINT) AS ty,"
        f" CAST(count(*) AS BIGINT) AS n_segs,"
        f" CAST(sum(len_mm) AS BIGINT) AS len_mm"
        f" FROM seg GROUP BY 1, 2"
    )


QUERIES["road_density"] = (q_road_density, _sql_road_density())


# ---------------------------------------------------------------------------
# spatial_folds — checkerboard CV split + cross-fold leakage audit
# ---------------------------------------------------------------------------
# Random train/test splits LEAK for geodata: a test image 3 m from a train
# image is effectively memorized (the spatial-autocorrelation trap; block
# cross-validation is the standard fix). This assigns every image to one
# of 4 checkerboard folds on a 20 km block lattice and AUDITS the split:
# how many image pairs within the conflation threshold straddle folds —
# the number a leakage-safe split must drive toward the block-boundary
# minimum. cluster_split is the hash (random) splitter; this is its
# spatial twin plus the metric that says WHY it exists.
#
# Scale shape: the same ring-1 cell self-join discipline as dist_join
# (each unordered pair meets exactly once: single-cell probe side ×
# ring-dilated build side + ikey ordering), shuffled-hash on the cell
# key, exact haversine refine in codegen, then a hash-agg onto ≤6
# fold-pair keys. Folds from integer block parity ((v % 2 + 2) % 2 —
# Spark and DuckDB % both follow the dividend sign, normalized
# identically).
FOLD_BLOCK_M = 20_000.0


def _fold_expr(lon, lat):
    bx = F.floor(geo.mercator_x(lon) / F.lit(FOLD_BLOCK_M))
    by = F.floor(geo.mercator_y(lat) / F.lit(FOLD_BLOCK_M))
    return (
        ((bx % 2 + 2) % 2) * 2 + ((by % 2 + 2) % 2)
    ).cast("int")


def q_spatial_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .geo import GRID

    img = base.images_df(spark, sf_dir)
    p = img.select(
        F.col("ikey").alias("ia"), F.col("lon").alias("la"),
        F.col("lat").alias("pa"),
        _fold_expr(F.col("lon"), F.col("lat")).alias("fa"),
        GRID.encode(F.col("lon"), F.col("lat")).alias("jcell"),
    )
    s = img.select(
        F.col("ikey").alias("ib"), F.col("lon").alias("lb"),
        F.col("lat").alias("pb"),
        _fold_expr(F.col("lon"), F.col("lat")).alias("fb"),
        F.explode(
            GRID.ring1(GRID.encode(F.col("lon"), F.col("lat")))
        ).alias("jcell"),
    )
    pairs = (
        p.join(s.hint("shuffle_hash"), "jcell")
        .where(F.col("ia") < F.col("ib"))
        .where(
            geo.haversine_m(F.col("la"), F.col("pa"),
                            F.col("lb"), F.col("pb"))
            <= F.lit(base.THRESHOLD_M)
        )
        .where(F.col("fa") != F.col("fb"))
    )
    return pairs.select(
        F.least("fa", "fb").alias("fold_a"),
        F.greatest("fa", "fb").alias("fold_b"),
    ).groupBy("fold_a", "fold_b").agg(
        F.count("*").cast("long").alias("n_leak")
    )


def _sql_spatial_folds() -> str:
    from .geo import GRID

    block = geo.dlit(FOLD_BLOCK_M)

    def fold(lon, lat):
        bx = f"floor(({geo.mercator_x_sql(lon)}) / {block})"
        by = f"floor(({geo.mercator_y_sql(lat)}) / {block})"
        return (
            f"CAST(((CAST({bx} AS BIGINT) % 2 + 2) % 2) * 2"
            f" + ((CAST({by} AS BIGINT) % 2 + 2) % 2) AS INT)"
        )

    offs = ", ".join(str(o) for o in GRID.ring1_sql_values())
    hav = geo.haversine_m_sql("la", "pa", "lb", "pb")
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"p AS (SELECT ikey AS ia, lon AS la, lat AS pa,"
        f" {fold('lon', 'lat')} AS fa,"
        f" {GRID.encode_sql('lon', 'lat')} AS jcell FROM img), "
        f"s0 AS (SELECT ikey AS ib, lon AS lb, lat AS pb,"
        f" {fold('lon', 'lat')} AS fb,"
        f" {GRID.encode_sql('lon', 'lat')} AS cell0 FROM img), "
        f"s AS (SELECT ib, lb, pb, fb, cell0 + off AS jcell FROM s0"
        f" CROSS JOIN (SELECT unnest([{offs}]) AS off) o), "
        f"pairs AS (SELECT fa, fb FROM p JOIN s USING (jcell)"
        f" WHERE ia < ib AND {hav} <= {geo.dlit(base.THRESHOLD_M)}"
        f" AND fa != fb) "
        f"SELECT least(fa, fb) AS fold_a, greatest(fa, fb) AS fold_b,"
        f" CAST(count(*) AS BIGINT) AS n_leak FROM pairs GROUP BY 1, 2"
    )


QUERIES["spatial_folds"] = (q_spatial_folds, _sql_spatial_folds())
