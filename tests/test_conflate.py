"""Golden tests: the conflation pipeline vs a brute-force O(N·M) NumPy
oracle with reference semantics (the same role the reference's nested loop
plays — conflator.py:134-330), on deterministic synthetic tables.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_merge_spark.data import synth
from osm_merge_spark.functions.fuzzy import indel_ratio_oracle
from osm_merge_spark.operators.conflate import ConflateParams, conflate

N_IMAGES = 400
PARAMS = ConflateParams(threshold_m=7.0)


def _haversine(lon1, lat1, lon2, lat2):
    R = 6371008.8
    p1, p2 = math.radians(lat1), math.radians(lat2)
    a = (math.sin((p2 - p1) / 2) ** 2
         + math.cos(p1) * math.cos(p2) * math.sin((math.radians(lon2 - lon1)) / 2) ** 2)
    return 2 * R * math.asin(math.sqrt(a))


def _point_line_dist_m(plon, plat, xs, ys):
    """Planar mercator point→polyline × cos(lat) — engine's line metric."""
    R = 6378137.0

    def mx(lon):
        return R * math.radians(lon)

    def my(lat):
        return R * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))

    px, py = mx(plon), my(plat)
    best = float("inf")
    for k in range(len(xs) - 1):
        ax, ay, bx, by = mx(xs[k]), my(ys[k]), mx(xs[k + 1]), my(ys[k + 1])
        dx, dy = bx - ax, by - ay
        seg2 = dx * dx + dy * dy
        t = 0.0 if seg2 == 0 else max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / seg2))
        best = min(best, math.hypot(px - (ax + t * dx), py - (ay + t * dy)))
    return best * math.cos(math.radians(plat))


def _parts(xs, ys):
    """Split NaN-separated packed arrays into their (xs, ys) parts."""
    parts, cur = [], ([], [])
    for x, y in zip(xs, ys):
        if math.isnan(x):
            parts.append(cur)
            cur = ([], [])
        else:
            cur[0].append(x)
            cur[1].append(y)
    parts.append(cur)
    return [pt for pt in parts if pt[0]]


def _dist_m(lon, lat, xs, ys):
    """Distance to a feature: the minimum over its parts
    (conflator.py:485-528)."""
    return min(
        _haversine(lon, lat, px[0], py[0]) if len(px) == 1
        else _point_line_dist_m(lon, lat, px, py)
        for px, py in _parts(xs, ys)
    )


def _oracle(images, layer, params: ConflateParams):
    """Brute-force reference-semantics conflation. Returns
    {image_id: (feature_id, hits)} for matches and set of new image_ids."""
    matches, new = {}, set()
    for img in images:
        cands = []
        for f in layer:
            d = _dist_m(img["lon"], img["lat"], f["xs"], f["ys"])
            if d <= params.threshold_m:
                cands.append((d, f))
        cands.sort(key=lambda t: (t[0], t[1]["feature_id"]))
        cands = cands[: params.candidate_cap]
        scored = []
        for d, f in cands:
            ratio = indel_ratio_oracle(img["caption"], f["caption"])
            name_hit = int(ratio > params.fuzz_min
                           and abs(len(img["caption"]) - len(f["caption"])) <= params.len_diff_max)
            geom_hit = int(d == 0.0)
            scored.append((name_hit + geom_hit, d, f["feature_id"]))
        if scored:
            scored.sort(key=lambda t: (-t[0], t[1], t[2]))
            matches[img["image_id"]] = (scored[0][2], scored[0][0])
        else:
            new.add(img["image_id"])
    return matches, new


@pytest.fixture(scope="module")
def data(spark):
    images = synth.synth_images(spark, N_IMAGES).collect()
    layer = synth.synth_layer(spark, N_IMAGES).collect()
    return ([r.asDict() for r in images], [r.asDict() for r in layer])


def _run_engine(spark):
    images = synth.synth_images(spark, N_IMAGES)
    layer = synth.synth_layer(spark, N_IMAGES)
    matched, new = conflate(images, layer, PARAMS)
    got_m = {r["image_id"]: (r["feature_id"], r["hits"]) for r in matched.collect()}
    got_new = {r["image_id"] for r in new.collect()}
    return got_m, got_new


def test_conflate_matches_bruteforce_oracle(spark, data):
    """The production path (AQE picks the join, points and lines split by
    geometry) against the brute-force oracle."""
    images, layer = data
    want_m, want_new = _oracle(images, layer, PARAMS)
    got_m, got_new = _run_engine(spark)
    assert got_new == want_new
    assert set(got_m) == set(want_m)
    for iid, (fid, hits) in want_m.items():
        assert got_m[iid][0] == fid, f"{iid}: engine {got_m[iid]} vs oracle {(fid, hits)}"
        assert got_m[iid][1] == hits, f"{iid}: hits differ"


def _with_second_parts(images, layer):
    """Give two planted features in three a short second line part: for
    i%3 == 0 it lies near another image (7 further on), for i%3 == 1 near
    the feature's own image, so that image has both parts within the
    threshold. Even i put the new part first in the packed arrays."""
    m = 1.0 / 110_574.0
    by_i = {img["i"]: img for img in images}
    out = []
    for f in layer:
        f = dict(f)
        i = f["src_img"]
        if i is not None and i % 3 != 2:
            tgt = by_i[(i + 7) % len(images)] if i % 3 == 0 else by_i[i]
            off = (1.0 + i % 5) * m
            px = [tgt["lon"] - 10 * m, tgt["lon"] + 10 * m]
            py = [tgt["lat"] + off, tgt["lat"] + off]
            nan = [float("nan")]
            if i % 2 == 0:
                f["xs"], f["ys"] = px + nan + f["xs"], py + nan + f["ys"]
            else:
                f["xs"], f["ys"] = f["xs"] + nan + px, f["ys"] + nan + py
            f["geom_type"] = "MultiLineString"
        out.append(f)
    return out


def test_multipart_conflate_matches_bruteforce_oracle(spark, data):
    """conflate() against the oracle's
    min-over-parts distance, on a layer where some features have a second
    part near another image and some images have both parts in range."""
    images, layer = data
    layer = _with_second_parts(images, layer)
    want_m, want_new = _oracle(images, layer, PARAMS)
    cols = ["feature_id", "version", "geom_type", "xs", "ys", "tags", "caption"]
    layer_df = spark.createDataFrame(
        [tuple(f[c] for c in cols) for f in layer],
        "feature_id long, version int, geom_type string,"
        " xs array<double>, ys array<double>,"
        " tags map<string,string>, caption string",
    )
    matched, new = conflate(synth.synth_images(spark, N_IMAGES), layer_df, PARAMS)
    rows = matched.collect()
    got_m = {r["image_id"]: (r["feature_id"], r["hits"]) for r in rows}
    assert {r["image_id"] for r in new.collect()} == want_new
    assert got_m == want_m
    # the winner's distance is its nearest part's
    img_by_id = {img["image_id"]: img for img in images}
    f_by_id = {f["feature_id"]: f for f in layer}
    for r in rows:
        img, f = img_by_id[r["image_id"]], f_by_id[r["feature_id"]]
        assert abs(r["dist_m"] - _dist_m(img["lon"], img["lat"], f["xs"], f["ys"])) < 1e-6


def test_planted_classes_behave(spark, data):
    """Generative sanity: planted duplicates match their source feature with
    dist 0; class 6/7-9 images that the oracle calls new are new."""
    images, layer = data
    want_m, want_new = _oracle(images, layer, PARAMS)
    # exact dups (i%10==4, not hot: i%5!=0 → class 4 is never hot? 4%5!=0 ok)
    for img in images:
        i = img["i"]
        if i % 10 == 4 and img["image_id"] in want_m:
            # its own planted feature should win (dist 0 + caption equal)
            assert want_m[img["image_id"]][0] == i + 1


def test_match_and_version_semantics(spark):
    images = synth.synth_images(spark, 100)
    layer = synth.synth_layer(spark, 100)
    matched, new = conflate(images, layer, PARAMS)
    m = matched.collect()
    assert all(r["version"] >= 2 for r in m)  # bump (conflator.py:945-947)
    tag_keys = {k for r in m for k in r["tags"]}
    assert {"hits", "dist", "ratio"} <= tag_keys  # debug counters (conflator.py:250-253)
    n = new.collect()
    assert all(r["version"] == 1 for r in n)
    assert all(r["tags"]["informal"] == "yes" for r in n)
    # every image lands in exactly one of the two outputs
    assert len(m) + len(n) == 100


def test_outputs_share_one_pairs_checkpoint(spark):
    """matched and new read one local checkpoint of the refined pairs:
    once both ran, new's executed plan holds no cell join (its `__jcell`
    key) and no broadcast of the layer side, and the call left nothing in
    the CacheManager (a persist() would)."""
    # earlier tests in the shared session leave their own caches behind
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    matched, new = conflate(synth.synth_images(spark, N_IMAGES),
                            synth.synth_layer(spark, N_IMAGES), PARAMS)
    n_matched, n_new = len(matched.collect()), len(new.collect())
    assert n_matched + n_new == N_IMAGES and n_matched and n_new
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "__jcell" not in plan and "BroadcastHashJoin" not in plan, plan
    assert cache.isEmpty()


def test_second_call_reads_rewritten_images(spark, tmp_path):
    """A call over the same parquet path after another writer replaced its
    files sees the new rows: nothing from the first call's pairs is reused.
    (A Spark write to the path would refresh any cache over it; a write
    from outside Spark does not, so a persisted plan would serve the old
    pairs.)"""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path = tmp_path / "images"
    path.mkdir()
    images = synth.synth_images(spark, N_IMAGES).toArrow()
    layer = synth.synth_layer(spark, N_IMAGES)
    pq.write_table(images, path / "part-0.parquet")
    matched, new = conflate(spark.read.parquet(str(path)), layer, PARAMS)
    assert matched.count() > 0 and new.count() < N_IMAGES
    # every image moves ~110 km north, away from every layer feature
    lat = images.schema.get_field_index("lat")
    pq.write_table(images.set_column(lat, "lat", pc.add(images["lat"], 1.0)),
                   path / "part-0.parquet")
    matched, new = conflate(spark.read.parquet(str(path)), layer, PARAMS)
    assert matched.count() == 0 and new.count() == N_IMAGES


def test_suppress_identical_props(spark):
    """U2: a match whose incoming tags are already a subset of the existing
    feature's tags is suppressed (nothing to edit)."""
    from pyspark.sql import functions as F

    from osm_merge_spark.operators.conflate import suppress_identical

    rows = [
        ("a", {"name": "Cedar Lake Road"}, {"name": "Cedar Lake Road", "surface": "dirt"}),
        ("b", {"name": "Pine Creek Trail"}, {"name": "Pine Ck Trail"}),
        ("c", {"name": "Elk Ridge", "ref": "FR 12"}, {"name": "Elk Ridge"}),
    ]
    df = spark.createDataFrame(rows, ["image_id", "p_tags", "s_tags"])
    kept = {r.image_id for r in suppress_identical(df).collect()}
    assert kept == {"b", "c"}  # 'a' adds nothing → suppressed


def test_cell_join_hot_cell_is_split_by_aqe(spark):
    """Skew handling is AQE's skew-join split: with its thresholds lowered
    to this fixture's scale and broadcast off, the hot cluster's cell makes
    a partition that the final plan splits, and the split changes no pair."""
    from osm_merge_spark.data.synth import synth_images, synth_layer
    from osm_merge_spark.functions.cells import CellGrid
    from osm_merge_spark.operators.cell_join import cell_pairs
    from osm_merge_spark.operators.conflate import prepare_images

    n = 4000
    # coarse grid (~300 m cells): the whole hot cluster lands in ONE cell
    grid = CellGrid.for_radius(100.0, max_abs_lat=70.0)
    p = prepare_images(synth_images(spark, n)).select("image_id", "lon", "lat")
    s = synth_layer(spark, n).filter(F.size("xs") == 1).select(
        "feature_id", F.element_at("xs", 1).alias("s_lon"),
        F.element_at("ys", 1).alias("s_lat"),
    )

    def pairs():
        return cell_pairs(p, s, grid.encode(F.col("lon"), F.col("lat")),
                          grid.ring1(grid.encode(F.col("s_lon"), F.col("s_lat"))))

    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        qe = pairs()._jdf.queryExecution()
        n_split = qe.toRdd().count()
        plan = qe.executedPlan().toString()
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        n_plain = pairs().count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "isFinalPlan=true" in plan
    assert "Join(skew=true)" in plan or "skewed" in plan, plan[:2000]
    assert n_split == n_plain > 0


# -- per-segment line refine parity -------------------------------------------

_M_LAT = 1.0 / 110_574.0  # degrees of latitude per meter (about)
_LAYER_DDL = ("feature_id long, version int, geom_type string,"
              " xs array<double>, ys array<double>,"
              " tags map<string,string>, caption string")


def _walk(rng, lon0, lat0, n):
    """A random polyline of n vertices, steps of 3-25 m; about one step in
    six repeats its vertex (a zero-length segment)."""
    xs, ys = [lon0], [lat0]
    kx = 1.0 / math.cos(math.radians(lat0))
    for _ in range(n - 1):
        if rng.random() < 0.17:
            xs.append(xs[-1])
            ys.append(ys[-1])
            continue
        a, d = rng.uniform(0, 2 * math.pi), rng.uniform(3.0, 25.0)
        xs.append(xs[-1] + d * math.cos(a) * _M_LAT * kx)
        ys.append(ys[-1] + d * math.sin(a) * _M_LAT)
    return xs, ys


def _near(rng, xs, ys, k, at_vertex, lat0):
    """A point a few meters off segment k's midpoint, or off vertex k."""
    kx = 1.0 / math.cos(math.radians(lat0))
    if at_vertex:
        x, y = xs[k], ys[k]
    else:
        x, y = (xs[k] + xs[k + 1]) / 2, (ys[k] + ys[k + 1]) / 2
    a, d = rng.uniform(0, 2 * math.pi), rng.choice([0.0, 0.5, 2.0, 4.5, 9.0, 14.0])
    return x + d * math.cos(a) * _M_LAT * kx, y + d * math.sin(a) * _M_LAT


def _segment_fixture():
    """Lines of 2-40 vertices (zero-length segments, repeated vertices)
    and images near interior segments and near vertices shared by two
    segments, at 0-14 m."""
    import random

    rng = random.Random(11)
    lat0 = 44.0
    lines, images = [], []
    for f in range(60):
        n = 2 if f < 6 else rng.randint(3, 40)
        xs, ys = _walk(rng, -110.0 + f * 0.004, lat0 + (f % 7) * 0.0005, n)
        if f % 5 == 0 and n >= 4:
            xs[2], ys[2] = xs[1], ys[1]  # a repeated vertex
        lines.append((xs, ys))
        for j in range(4):
            at_vertex = j % 2 == 1 and n >= 3
            k = rng.randint(1, n - 2) if at_vertex else rng.randint(0, n - 2)
            lon, lat = _near(rng, xs, ys, k, at_vertex, lat0)
            images.append((f"s{f:02d}-{j}", f"Road {f % 9}", lon, lat))
    return lines, images


def _layer_rows(lines):
    return [(i + 1, 1, "LineString", xs, ys, {"name": f"Road {i % 9}"}, f"Road {i % 9}")
            for i, (xs, ys) in enumerate(lines)]


def _np_dist_m(lon, lat, xs, ys):
    """NumPy brute force: min point→segment distance in mercator meters ×
    cos(lat) over every segment of a NaN/None-separated polyline."""
    r = 6378137.0
    x = np.array([np.nan if v is None else v for v in xs], dtype=float)
    y = np.array([np.nan if v is None else v for v in ys], dtype=float)
    mx, my = r * np.radians(x), r * np.log(np.tan(np.pi / 4 + np.radians(y) / 2))
    px, py = r * math.radians(lon), r * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))
    ax, ay, bx, by = mx[:-1], my[:-1], mx[1:], my[1:]
    ok = ~(np.isnan(ax) | np.isnan(ay) | np.isnan(bx) | np.isnan(by))
    ax, ay, bx, by = ax[ok], ay[ok], bx[ok], by[ok]
    dx, dy = bx - ax, by - ay
    seg2 = dx * dx + dy * dy
    with np.errstate(invalid="ignore", divide="ignore"):
        t = np.where(seg2 == 0, 0.0, np.clip(((px - ax) * dx + (py - ay) * dy) / seg2, 0, 1))
    return float(np.min(np.hypot(px - (ax + t * dx), py - (ay + t * dy)))) * math.cos(math.radians(lat))


def test_segment_refine_matches_polyline_refine(spark):
    """conflate() refines lines per exploded segment; each winner's dist_m
    is bit-identical to the per-polyline point_polyline_dist_native ×
    cos(lat) form, and `new` is the NumPy brute force's set of images with
    no line within the threshold."""
    from osm_merge_spark.functions import geo
    from osm_merge_spark.operators.conflate import point_polyline_dist_native

    lines, images = _segment_fixture()
    brute = {iid: min(_np_dist_m(lon, lat, xs, ys) for xs, ys in lines)
             for iid, _c, lon, lat in images}
    # the fixture keeps clear of the threshold, where NumPy's and the JVM's
    # transcendentals could round a distance to opposite sides
    assert all(abs(d - PARAMS.threshold_m) > 1e-6 for d in brute.values())
    img_df = spark.createDataFrame(images, "image_id string, caption string, lon double, lat double")
    layer_df = spark.createDataFrame(_layer_rows(lines), _LAYER_DDL)
    matched, new = conflate(img_df, layer_df, PARAMS)

    assert {r["image_id"] for r in new.collect()} == {
        i for i, d in brute.items() if d > PARAMS.threshold_m}
    merc = layer_df.select(
        "feature_id",
        F.transform("xs", geo.mercator_x).alias("mxs"),
        F.transform("ys", geo.mercator_y).alias("mys"),
    )
    ref = F.round(point_polyline_dist_native(
        geo.mercator_x(F.col("lon")), geo.mercator_y(F.col("lat")), F.col("mxs"), F.col("mys"),
    ) * F.cos(F.radians(F.col("lat"))), 9)
    rows = matched.join(merc, "feature_id").select("image_id", "dist_m", ref.alias("ref")).collect()
    assert len(rows) == sum(d <= PARAMS.threshold_m for d in brute.values()) > 100
    for r in rows:
        assert r["dist_m"] == r["ref"], (r["image_id"], r["dist_m"], r["ref"])


@pytest.mark.parametrize("sep", [float("nan"), None], ids=["nan", "null"])
def test_separated_multiline_refines_like_its_parts(spark, sep):
    """A two-part MultiLineString packed with a NaN or a null separator
    refines part by part: both packings give the same matched and new, and
    each matches the per-part NumPy brute force (segments touching the
    separator belong to no part)."""
    lines, images = _segment_fixture()
    img_df = spark.createDataFrame(images, "image_id string, caption string, lon double, lat double")

    def packed(s):
        return [(x1 + [s] + x2, y1 + [s] + y2)
                for (x1, y1), (x2, y2) in zip(lines[0::2], lines[1::2])]

    def run(s):
        rows = [(fid, v, "MultiLineString", xs, ys, t, c)
                for fid, v, _g, xs, ys, t, c in _layer_rows(packed(s))]
        m, n = conflate(img_df, spark.createDataFrame(rows, _LAYER_DDL), PARAMS)
        return (sorted(m.collect(), key=lambda r: r["image_id"]),
                sorted(r["image_id"] for r in n.collect()))

    matched, new = run(sep)
    assert (matched, new) == run(None if sep is not None else float("nan"))

    multi = packed(sep)
    brute = {iid: [_np_dist_m(lon, lat, xs, ys) for xs, ys in multi]
             for iid, _c, lon, lat in images}
    assert new == sorted(i for i, d in brute.items() if min(d) > PARAMS.threshold_m)
    assert len(matched) > 50 and len(new) > 10
    assert len(matched) + len(new) == len(images)
    for r in matched:
        assert abs(r["dist_m"] - brute[r["image_id"]][r["feature_id"] - 1]) < 1e-6
