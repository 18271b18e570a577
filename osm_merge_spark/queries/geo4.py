"""Round-3 additions: geohash addressing, polyline length, and the
image-side corpus quality gate.

- geohash_stats completes the addressing family (S2 cells, quadkeys,
  hex bins, z-order) with the scheme lake tables are most often
  partitioned by in practice; prefix truncation = hierarchy, same as the
  quadkey parent column.
- way_length is the A-family length aggregate the reference computes with
  shapely/pyproj line length (osm_merge/conflator.py:477-484 projects to
  meters for all planar measurement); here it is a per-row left fold of
  native haversine segments — no explode, no shuffle, one codegen'd
  projection per way.
- image_filter is the image-axis twin of corpus_filter (queries/text2.py):
  the LAION/DataComp-style keep/drop gate over (w, h, fmt, caption) with
  machine-readable reason codes — the first pass any 10^12-image
  training-data pipeline runs before dedup. Width/height/format derive
  deterministically from the image key (same u01 scheme as every other
  synthetic column) so the DuckDB oracle reproduces them bit-identically.
- aspect_buckets is the SDXL-style multi-aspect bucketing step of batched
  image training: the nearest-log-aspect bucket argmin compiled to a CASE
  ladder (pure projection — no join, no shuffle for the assignment).
- simplify_ways drives operators/simplify.py (one-pass Visvalingam filter,
  array intrinsics only) over a planted corner/jitter trace fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geo, geohash
from . import base

# ---------------------------------------------------------------------------
# geohash_stats — per-geohash6 density with the precision-4 parent prefix
# ---------------------------------------------------------------------------
GH_PARENT = 4


def q_geohash_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir)
    return (
        img.select(geohash.geohash(F.col("lon"), F.col("lat")).alias("gh"))
        .groupBy("gh")
        .agg(F.count("*").alias("n_images"))
        .select("gh", F.substring("gh", 1, GH_PARENT).alias("parent_gh4"),
                "n_images")
    )


def _sql_geohash_stats() -> str:
    v = geohash._interleaved_sql("lon", "lat", geohash.PRECISION)
    gh = geohash.geohash_chars_sql("v", geohash.PRECISION)
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"t AS (SELECT {v} AS v FROM img), "
        f"g AS (SELECT {gh} AS gh, count(*) AS n_images FROM t GROUP BY 1) "
        f"SELECT gh, substr(gh, 1, {GH_PARENT}) AS parent_gh4, n_images FROM g"
    )


# ---------------------------------------------------------------------------
# way_length — haversine length of each packed polyline (A-family)
# ---------------------------------------------------------------------------
def q_way_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    ways = base.ways_df(spark, sf_dir)
    # left fold over consecutive vertex pairs: ((0 + d1) + d2) + ... —
    # IEEE-identical to the oracle's explicit d1 + d2 sum, and a single
    # codegen'd projection (no explode → no shuffle, no row blowup at
    # 10^12 ways, unlike the seg_explode_min per-segment form which only
    # exists because that query needs the per-segment MINIMUM).
    length = F.aggregate(
        F.sequence(F.lit(1), F.size("xs") - 1),
        F.lit(0.0),
        lambda acc, k: acc + geo.haversine_m(
            F.element_at("xs", k), F.element_at("ys", k),
            F.element_at("xs", k + 1), F.element_at("ys", k + 1),
        ),
    )
    return ways.select(
        "way_id", "wcls", F.round(length, 3).alias("length_m")
    )


def _sql_way_length() -> str:
    d1 = geo.haversine_m_sql("xs[1]", "ys[1]", "xs[2]", "ys[2]")
    d2 = geo.haversine_m_sql("xs[2]", "ys[2]", "xs[3]", "ys[3]")
    return (
        f"WITH ways AS ({base.WAYS_SQL}) "
        f"SELECT way_id, wcls, round({d1} + CASE WHEN len(xs) > 2"
        f" THEN {d2} ELSE 0.0 END, 3) AS length_m FROM ways"
    )


# ---------------------------------------------------------------------------
# image_filter — LAION-style keep/drop gate on image metadata + caption
# ---------------------------------------------------------------------------
MIN_DIM = 64          # smallest acceptable side, px
MAX_ASPECT = 3.0      # max(w,h)/min(w,h) ceiling
FORMATS = ("jpeg", "png", "webp")   # gif/bmp are dropped
MIN_CAPTION = 8       # chars
_FMT_ALL = ("jpeg", "png", "webp", "gif", "bmp")


def _dims(key):
    # u01 is affine in the key, so u01(k, s1) and u01(k, s2) differ by a
    # CONSTANT (mod 1) — w and h derived from the same salt family would be
    # ~perfectly correlated (aspect ≈ 1 for every image, leaving the aspect
    # gate and the bucket ladder untested). Decorrelate h with a nonlinear
    # (squared, mod-reduced first so it never overflows at any key scale)
    # transform of the key.
    k2 = (key % F.lit(base._M)) * (key % F.lit(base._M)) % F.lit(base._M)
    w = F.floor(F.lit(16.0) + base.u01(key, 21) * F.lit(2048.0)).cast("int")
    h = F.floor(F.lit(16.0) + base.u01(k2, 22) * F.lit(2048.0)).cast("int")
    return w, h


_W_SQL = f"CAST(floor(16.0e0 + {base.u01_sql('ikey', 21)} * 2048.0e0) AS INT)"
_K2_SQL = f"(((ikey % {base._M}) * (ikey % {base._M})) % {base._M})"
_H_SQL = f"CAST(floor(16.0e0 + {base.u01_sql(_K2_SQL, 22)} * 2048.0e0) AS INT)"


def q_image_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir)
    key = F.col("ikey")
    w, h = _dims(key)
    fmt = F.element_at(F.array(*[F.lit(f) for f in _FMT_ALL]),
                       (key % 5).cast("int") + 1)
    df = img.select("image_id", "caption", w.alias("w"), h.alias("h"),
                    fmt.alias("fmt"))
    small = F.least("w", "h") < F.lit(MIN_DIM)
    aspect = (F.greatest("w", "h").cast("double")
              / F.least("w", "h").cast("double")) > F.lit(MAX_ASPECT)
    badfmt = ~F.col("fmt").isin(*FORMATS)
    shortcap = F.length("caption") < F.lit(MIN_CAPTION)
    reasons = F.concat(
        F.when(small, F.lit("small;")).otherwise(F.lit("")),
        F.when(aspect, F.lit("aspect;")).otherwise(F.lit("")),
        F.when(badfmt, F.lit("format;")).otherwise(F.lit("")),
        F.when(shortcap, F.lit("caption;")).otherwise(F.lit("")),
    )
    return df.select(
        "image_id", "w", "h", "fmt",
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    )


def _sql_image_filter() -> str:
    w, h = _W_SQL, _H_SQL
    fmts = ", ".join(f"'{f}'" for f in _FMT_ALL)
    keep_fmts = ", ".join(f"'{f}'" for f in FORMATS)
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"m AS (SELECT image_id, caption, {w} AS w, {h} AS h,"
        f" ([{fmts}])[CAST(ikey % 5 AS INT) + 1] AS fmt FROM img), "
        "r AS (SELECT image_id, w, h, fmt,"
        f" (CASE WHEN least(w, h) < {MIN_DIM} THEN 'small;' ELSE '' END ||"
        " CASE WHEN CAST(greatest(w, h) AS DOUBLE) / CAST(least(w, h) AS DOUBLE)"
        f" > {geo.dlit(MAX_ASPECT)} THEN 'aspect;' ELSE '' END ||"
        f" CASE WHEN fmt NOT IN ({keep_fmts}) THEN 'format;' ELSE '' END ||"
        f" CASE WHEN length(caption) < {MIN_CAPTION} THEN 'caption;' ELSE '' END)"
        " AS reasons FROM m) "
        "SELECT image_id, w, h, fmt, reasons = '' AS keep, reasons FROM r"
    )


# ---------------------------------------------------------------------------
# aspect_buckets — SDXL-style aspect-ratio bucketing for batched training
# ---------------------------------------------------------------------------
# Diffusion/vision training batches images of one resolution together; the
# standard recipe (SDXL appendix: multi-aspect buckets of ~1024² pixels)
# assigns each image to the bucket whose aspect ratio is nearest in log
# space. The argmin over a FIXED sorted 1-D bucket list is an interval
# lookup: bucket i wins exactly when aspect < geometric-midpoint(i, i+1) —
# so the whole assignment compiles to one CASE ladder of double compares, a
# pure codegen'd projection with NO join, NO shuffle, and no per-row loop at
# 10^12 images (a naive small-dim cross join + argmin would shuffle the
# world for a 9-row table). The rollup then counts one row per bucket.
# Upscale flag: bucket fill scale = max(bw/w, bh/h) (cover-fit) > 1 means
# the source is smaller than its bucket and would be upscaled — a quality
# signal training pipelines track per bucket.
BUCKETS = [
    (512, 2048), (576, 1728), (724, 1448), (896, 1152), (1024, 1024),
    (1152, 896), (1448, 724), (1728, 576), (2048, 512),
]
_ASPECTS = [bw / bh for bw, bh in BUCKETS]
_THRESH = [
    (_ASPECTS[i] * _ASPECTS[i + 1]) ** 0.5 for i in range(len(_ASPECTS) - 1)
]


def q_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir)
    key = F.col("ikey")
    w, h = _dims(key)
    df = img.select(w.alias("w"), h.alias("h"))
    aspect = F.col("w").cast("double") / F.col("h").cast("double")
    bid = F.when(aspect < F.lit(_THRESH[0]), F.lit(0))
    for i in range(1, len(_THRESH)):
        bid = bid.when(aspect < F.lit(_THRESH[i]), F.lit(i))
    bid = bid.otherwise(F.lit(len(_ASPECTS) - 1)).cast("int")
    assigned = df.select("w", "h", bid.alias("bucket_id"))
    barr = F.array(*[
        F.struct(F.lit(bw).alias("bw"), F.lit(bh).alias("bh"))
        for bw, bh in BUCKETS
    ])
    b = F.element_at(barr, F.col("bucket_id") + 1)
    upscaled = F.greatest(
        b["bw"].cast("double") / F.col("w").cast("double"),
        b["bh"].cast("double") / F.col("h").cast("double"),
    ) > F.lit(1.0)
    return (
        assigned
        .select("bucket_id", b["bw"].alias("bw"), b["bh"].alias("bh"),
                upscaled.cast("int").alias("up"))
        .groupBy("bucket_id", "bw", "bh")
        .agg(F.count("*").alias("n_images"),
             F.sum("up").alias("n_upscaled"))
    )


def _sql_aspect_buckets() -> str:
    w, h = _W_SQL, _H_SQL
    aspect = "(CAST(w AS DOUBLE) / CAST(h AS DOUBLE))"
    case = "CASE " + " ".join(
        f"WHEN {aspect} < {geo.dlit(t)} THEN {i}"
        for i, t in enumerate(_THRESH)
    ) + f" ELSE {len(_ASPECTS) - 1} END"
    bws = ", ".join(str(bw) for bw, _ in BUCKETS)
    bhs = ", ".join(str(bh) for _, bh in BUCKETS)
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"d AS (SELECT {w} AS w, {h} AS h FROM img), "
        f"a AS (SELECT w, h, CAST({case} AS INT) AS bucket_id FROM d), "
        f"b AS (SELECT w, h, bucket_id, ([{bws}])[bucket_id + 1] AS bw,"
        f" ([{bhs}])[bucket_id + 1] AS bh FROM a) "
        "SELECT bucket_id, bw, bh, count(*) AS n_images,"
        " CAST(sum(CASE WHEN greatest(CAST(bw AS DOUBLE) / CAST(w AS DOUBLE),"
        " CAST(bh AS DOUBLE) / CAST(h AS DOUBLE)) > 1.0e0 THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_upscaled"
        " FROM b GROUP BY bucket_id, bw, bh"
    )


# ---------------------------------------------------------------------------
# simplify_ways — one-pass Visvalingam polyline simplification (operators/
# simplify.py) over a 24-vertex GPS-trace fixture: a straight eastward track
# with two planted corners (i = 8, 16, +0.01° ≈ 1.1 km excursion — must be
# KEPT) and sub-meter per-vertex jitter everywhere (area ≪ eps — must be
# DROPPED). The whole query is one codegen'd projection per way.
# ---------------------------------------------------------------------------
N_TRACE = 24
TRACE_CORNERS = (8, 16)
SIMPLIFY_EPS_M2 = 5000.0


def _trace_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.barrier import eval_once

    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    k = F.col("s_suppkey").cast("long")
    x0 = F.lit(base.LON_MIN) + F.lit(0.1) + base.u01(k, 31) * F.lit(0.6)
    y0 = F.lit(base.LAT_MIN) + F.lit(0.1) + base.u01(k, 32) * F.lit(0.4)
    idx = F.sequence(F.lit(1), F.lit(N_TRACE))
    xs = F.transform(idx, lambda i: x0 + i.cast("double") * F.lit(0.002))
    ys = F.transform(
        idx,
        lambda i: y0
        + F.when(i.isin(*TRACE_CORNERS), F.lit(0.01)).otherwise(F.lit(0.0))
        + (base.u01(k * F.lit(97) + i, 33) - F.lit(0.5)) * F.lit(2.0e-5),
    )
    return eval_once(
        sup.select(k.alias("way_id"), xs.alias("xs"), ys.alias("ys")),
        ["xs", "ys"],
    )


_TRACE_SQL = (
    "SELECT k AS way_id,"
    f" list_transform(range(1, {N_TRACE} + 1),"
    " i -> x0 + CAST(i AS DOUBLE) * 2.0e-3) AS xs,"
    f" list_transform(range(1, {N_TRACE} + 1),"
    " i -> y0 + (CASE WHEN i IN (8, 16) THEN 1.0e-2 ELSE 0.0e0 END)"
    f" + ({base.u01_sql('k * 97 + i', 33)} - 5.0e-1) * 2.0e-5) AS ys"
    " FROM (SELECT k,"
    f" {geo.dlit(base.LON_MIN)} + 1.0e-1 + {base.u01_sql('k', 31)} * 6.0e-1 AS x0,"
    f" {geo.dlit(base.LAT_MIN)} + 1.0e-1 + {base.u01_sql('k', 32)} * 4.0e-1 AS y0"
    " FROM (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier) s) t"
)


def q_simplify_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import simplify

    tr = _trace_df(spark, sf_dir)
    kept = simplify.kept_indices(F.col("xs"), F.col("ys"), SIMPLIFY_EPS_M2)
    return tr.select(
        "way_id",
        F.size("xs").alias("n_in"),
        F.size(kept).alias("n_out"),
        F.array_join(
            F.transform(kept, lambda i: i.cast("string")), ","
        ).alias("kept_csv"),
    )


def _sql_simplify_ways() -> str:
    from ..operators.simplify import kept_indices_sql

    kept = kept_indices_sql("xs", "ys", SIMPLIFY_EPS_M2)
    return (
        f"WITH tr AS ({_TRACE_SQL}), "
        f"s AS (SELECT way_id, CAST(len(xs) AS INT) AS n_in, {kept} AS kept"
        " FROM tr) "
        "SELECT way_id, n_in, CAST(len(kept) AS INT) AS n_out,"
        " array_to_string(kept, ',') AS kept_csv FROM s"
    )


# ---------------------------------------------------------------------------
# trace_sinuosity — path length ÷ endpoint chord per trace (the classic
# road-geometry quality metric: ≈1 for straight ways, ≫1 for switchbacks or
# noisy GPS tracks; the field-data triage the reference does by eye in JOSM).
# Same shape as way_length: a per-row haversine fold, no explode, no shuffle.
# ---------------------------------------------------------------------------
def q_trace_sinuosity(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _trace_df(spark, sf_dir)
    length = F.aggregate(
        F.sequence(F.lit(1), F.size("xs") - 1),
        F.lit(0.0),
        lambda acc, k: acc + geo.haversine_m(
            F.element_at("xs", k), F.element_at("ys", k),
            F.element_at("xs", k + 1), F.element_at("ys", k + 1),
        ),
    )
    chord = geo.haversine_m(
        F.element_at("xs", 1), F.element_at("ys", 1),
        F.element_at("xs", F.size("xs")), F.element_at("ys", F.size("xs")),
    )
    return tr.select(
        "way_id",
        F.round(length, 3).alias("length_m"),
        F.round(chord, 3).alias("chord_m"),
        F.round(length / chord, 6).alias("sinuosity"),
    )


def _sql_trace_sinuosity() -> str:
    hav = geo.haversine_m_sql("xs[i]", "ys[i]", "xs[i+1]", "ys[i+1]")
    length = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, len(xs)), i -> {hav})), (a, b) -> a + b)"
    )
    chord = geo.haversine_m_sql(
        "xs[1]", "ys[1]", "xs[len(xs)]", "ys[len(xs)]"
    )
    return (
        f"WITH tr AS ({_TRACE_SQL}) "
        f"SELECT way_id, round({length}, 3) AS length_m,"
        f" round({chord}, 3) AS chord_m,"
        f" round(({length}) / ({chord}), 6) AS sinuosity FROM tr"
    )


# ---------------------------------------------------------------------------
# geo_sample — geo-stratified capping: at most K images per 5 km tile,
# chosen by a deterministic md5 rank. Imagery corpora are brutally skewed
# toward cities; capping per tile is the standard de-biasing step (the
# geographic analog of per-language stratified sampling in queries/text.py).
# Plan: tile id is floor arithmetic (no join), then ONE ordered window per
# tile — Spark's WindowGroupLimit cuts each map partition to K rows per
# tile before the exchange, so the shuffle carries ≤ K·partitions rows per
# tile, never the raw stream (same pushdown pinned for hard_negatives).
# ---------------------------------------------------------------------------
GEO_SAMPLE_K = 20


def q_geo_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from ..functions import hashes
    from .geo import TILES

    img = base.images_df(spark, sf_dir)
    ranked = img.select(
        "image_id",
        TILES.tile_id(F.col("lon"), F.col("lat")).alias("tile_id"),
        hashes.md5i(F.col("ikey"), 12).alias("rk"),
        "ikey",
    )
    w = Window.partitionBy("tile_id").orderBy(F.asc("rk"), F.asc("ikey"))
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= GEO_SAMPLE_K)
        .select("tile_id", "image_id", F.col("rank").cast("int").alias("rank"))
    )


def _sql_geo_sample() -> str:
    from ..functions import hashes
    from .geo import TILES

    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"r AS (SELECT image_id, {TILES.tile_id_sql('lon', 'lat')} AS tile_id,"
        f" {hashes.md5i_sql('ikey', 12)} AS rk, ikey FROM img) "
        "SELECT tile_id, image_id, CAST(rank AS INT) AS rank FROM ("
        " SELECT tile_id, image_id, row_number() OVER (PARTITION BY tile_id"
        " ORDER BY rk ASC, ikey ASC) AS rank FROM r) t"
        f" WHERE rank <= {GEO_SAMPLE_K}"
    )


# ---------------------------------------------------------------------------
# image_assemble — the image-corpus capstone (twin of corpus_assemble in
# queries/text.py): an image enters the training corpus iff it (a) passes
# the LAION-style metadata gate and (b) survives the geo-stratified cap.
# One lazy plan: the gate is a pushed-down projection-filter, the cap is
# the geo_sample window, the intersection a broadcast-able semi-join on the
# (small) capped set.
# ---------------------------------------------------------------------------
def q_image_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept = q_image_filter(spark, sf_dir).filter(F.col("keep")).select(
        "image_id", "w", "h"
    )
    sampled = q_geo_sample(spark, sf_dir)
    # both legs are corpus-scale → shuffled-hash, not SMJ (no ordering value)
    return sampled.join(kept.hint("shuffle_hash"), "image_id", "inner").select(
        "image_id", "tile_id", "w", "h"
    )


def _sql_image_assemble() -> str:
    return (
        f"SELECT s.image_id, s.tile_id, f.w, f.h FROM ({_sql_geo_sample()}) s"
        f" JOIN (SELECT image_id, w, h FROM ({_sql_image_filter()}) ff"
        "  WHERE keep) f ON s.image_id = f.image_id"
    )


QUERIES = {
    "geohash_stats": (q_geohash_stats, _sql_geohash_stats()),
    "way_length": (q_way_length, _sql_way_length()),
    "image_filter": (q_image_filter, _sql_image_filter()),
    "aspect_buckets": (q_aspect_buckets, _sql_aspect_buckets()),
    "simplify_ways": (q_simplify_ways, _sql_simplify_ways()),
    "trace_sinuosity": (q_trace_sinuosity, _sql_trace_sinuosity()),
    "geo_sample": (q_geo_sample, _sql_geo_sample()),
    "image_assemble": (q_image_assemble, _sql_image_assemble()),
}


# ---------------------------------------------------------------------------
# conflate_delta — incremental conflation (the reference's "re-run batch ETL
# every ~24 h" framing, README.md:60-62 / docs/highways.md:142, done as a
# delta job instead of a full recompute)
# ---------------------------------------------------------------------------
# Only the increment's images conflate, and — the part that matters at a
# 10^12-row layer — the LAYER is pruned to cells near the delta BEFORE the
# join: distinct delta cells, ring-1 dilated (a tiny set for any real daily
# increment), broadcast semi-join against the layer's cell key. A 1%
# increment then reads ~1% of a cell-partitioned layer (partition pruning
# composes with the semi-join) instead of rebuilding the world. The prune is
# a pure optimization — the oracle computes the same answer from the
# unpruned join — and the plan shape is pinned by
# tests/test_geo4.py::test_conflate_delta_prunes_layer.
DELTA_MOD = 16  # ikey % 16 == 1 → the synthetic "daily increment" (~6%;
# residue 1 because ikey = orderkey*8 + linenumber with linenumber ≥ 1 —
# residue 0 is structurally unpopulated)


def q_conflate_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cell_join
    from .geo import GRID

    img = base.images_df(spark, sf_dir).filter(
        (F.col("ikey") % DELTA_MOD) == 1
    )
    lyr = base.layer_df(spark, sf_dir)
    offs = GRID.ring1_sql_values()
    d9 = (
        img.select(GRID.encode(F.col("lon"), F.col("lat")).alias("c0"))
        .distinct()
        .select(F.explode(
            F.array(*[F.col("c0") + F.lit(o) for o in offs])
        ).alias("cell0"))
        .distinct()
    )
    lyr_pruned = lyr.join(
        F.broadcast(d9),
        GRID.encode(F.col("s_lon"), F.col("s_lat")) == F.col("cell0"),
        "left_semi",
    )
    pairs = cell_join.cell_pairs(
        img, lyr_pruned, GRID.encode(F.col("lon"), F.col("lat")),
        GRID.ring1(GRID.encode(F.col("s_lon"), F.col("s_lat"))),
    )
    ref = pairs.withColumn(
        "dist",
        geo.haversine_m(F.col("lon"), F.col("lat"),
                        F.col("s_lon"), F.col("s_lat")),
    ).filter(F.col("dist") <= F.lit(base.THRESHOLD_M))
    best = ref.groupBy("image_id").agg(
        F.min(F.struct(F.col("dist"), F.col("feature_id"))).alias("b")
    )
    return best.select(
        "image_id",
        F.col("b.feature_id").alias("feature_id"),
        F.round("b.dist", 3).alias("dist_m"),
    )


def _sql_conflate_delta() -> str:
    from .geo import _sql_pairs

    # the layer prune is plan-side only; the oracle filters the increment at
    # the end of the unpruned join and must produce identical rows
    return (
        f"WITH {_sql_pairs()} "
        "SELECT image_id, feature_id, round(dist, 3) AS dist_m FROM"
        " (SELECT *, row_number() OVER (PARTITION BY image_id"
        " ORDER BY dist, feature_id) AS rn FROM ref"
        f" WHERE dist <= {geo.dlit(base.THRESHOLD_M)}"
        f" AND ikey % {DELTA_MOD} = 1) t WHERE rn = 1"
    )


QUERIES["conflate_delta"] = (q_conflate_delta, _sql_conflate_delta())


# ---------------------------------------------------------------------------
# phash_pixel_pairs — perceptual-hash near-dup computed FROM PIXELS
# ---------------------------------------------------------------------------
# End-to-end image near-dup: decode bytes → DCT pHash (operators/phash.py)
# → banded hamming join (operators/dedup.phash_near_dup). The corpus is the
# deterministic synth image table (BASELINE.json input_hint shape) with a
# planted lossy twin (same pixels, QNT re-encode) for every 5th image. The
# oracle states the ground-truth pair set by construction — non-tautological
# because the Spark side must recover it through the full decode → luma →
# resize → DCT → median-threshold → band-join ladder: a single unstable bit
# path would break the match (measured margins: twin hamming ≤ 4 over 300
# seeds, distinct-image hamming ≥ 18, threshold 7).
PHPX_N = 240         # base images (decode cost ~300 tiny images — test-sized)
PHPX_TWIN_MOD = 5    # i % 5 == 0 → a QNT twin row is planted
PHPX_HAMMING = 7     # ≤7 bits: twins max 4, distinct min 18 — wide margin


def q_phash_pixel_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..data import synth
    from ..operators import dedup
    from ..operators.phash import compute_phash

    img = synth.synth_images(spark, PHPX_N, with_bytes=True)
    twins = (
        synth.synth_images(spark, PHPX_N)
        .filter((F.col("i") % PHPX_TWIN_MOD) == 0)
        .select(
            F.concat(F.lit("twn-"), F.col("i")).alias("image_id"),
            "w", "h", F.lit("qnt").alias("fmt"), "i",
        )
    )
    twins = twins.withColumn(
        "bytes",
        synth._encode_bytes_udf(F.col("i"), F.col("w"), F.col("h"), F.col("fmt")),
    )
    corpus = img.select("image_id", "bytes", "fmt").unionByName(
        twins.select("image_id", "bytes", "fmt")
    )
    hashes = compute_phash(corpus)
    pairs = dedup.phash_near_dup(
        hashes, phash_col="phash_px", id_col="image_id",
        max_hamming=PHPX_HAMMING, n_bands=8,
    )
    return pairs.select("d1", "d2")


def _sql_phash_pixel_pairs() -> str:
    # ground-truth pair set by construction: every planted twin pairs with
    # its base image ('img-i' < 'twn-i' lexically), and nothing else comes
    # within hamming 7 (distinct-image floor is 18 bits)
    return (
        f"SELECT 'img-' || CAST(i AS VARCHAR) AS d1,"
        f" 'twn-' || CAST(i AS VARCHAR) AS d2"
        f" FROM range({PHPX_N}) t(i) WHERE i % {PHPX_TWIN_MOD} = 0"
    )


QUERIES["phash_pixel_pairs"] = (q_phash_pixel_pairs, _sql_phash_pixel_pairs())


# ---------------------------------------------------------------------------
# image_shards — WebDataset-style byte-budgeted shard assignment
# ---------------------------------------------------------------------------
# Vision-training corpora ship as fixed-size shard archives (WebDataset tar /
# TFRecord); the packing step assigns each image a (shard, offset) by running
# byte cumsum in a DEFINED order. Packing in z-order makes shards spatially
# coherent — an epoch that streams shard k reads one compact region, and
# nearby images (likely near-dups / same scene) land in the same shard where
# in-shard dedup can see them. Scale shape: the cumsum window is PARTITIONED
# by a coarse z-order prefix (bounded rows per partition — never the global
# single-partition window), so shard ids are (prefix, local_shard) pairs —
# the same skew-safe construction as token_shards' per-language offsets. The
# byte size is the decoded-size proxy w·h·3 + a fixed header (the planner
# packs on decoded budget; true encoded sizes arrive only after the encode
# stage). Integer arithmetic end-to-end.
SHARD_BUDGET = 256 * 1024 * 1024  # 256 MiB decoded bytes per shard
ZPREFIX_SHIFT = 24                # top 8 bits of the 32-bit zkey → ≤256 tiles
IMG_HEADER = 64


def q_image_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions import zorder
    from .geo import _Z_LAT, _Z_LON

    img = base.images_df(spark, sf_dir)
    w, h = _dims(F.col("ikey"))
    df = img.select(
        "image_id",
        zorder.zorder_key(F.col("lon"), F.col("lat"), _Z_LON, _Z_LAT)
        .alias("zkey"),
        (w.cast("long") * h.cast("long") * F.lit(3) + F.lit(IMG_HEADER))
        .alias("nbytes"),
    ).withColumn("prefix", F.shiftright(F.col("zkey"), ZPREFIX_SHIFT))
    win = Window.partitionBy("prefix").orderBy("zkey", "image_id")
    cum = df.withColumn(
        "cum_end",
        F.sum("nbytes").over(
            win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).withColumn("offset", F.col("cum_end") - F.col("nbytes"))
    return cum.select(
        "image_id", "prefix",
        F.floor(F.col("offset") / F.lit(SHARD_BUDGET)).cast("long")
        .alias("shard_id"),
        (F.col("offset") % F.lit(SHARD_BUDGET)).alias("offset"),
        "nbytes",
    )


def _sql_image_shards() -> str:
    from ..functions import zorder
    from .geo import _Z_LAT, _Z_LON

    zk = zorder.zorder_key_sql("lon", "lat", _Z_LON, _Z_LAT)
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"m AS (SELECT image_id, {zk} AS zkey,"
        f" CAST({_W_SQL} AS BIGINT) * CAST({_H_SQL} AS BIGINT) * 3"
        f" + {IMG_HEADER} AS nbytes FROM img), "
        f"p AS (SELECT *, zkey >> {ZPREFIX_SHIFT} AS prefix FROM m), "
        "c AS (SELECT *, sum(nbytes) OVER (PARTITION BY prefix"
        " ORDER BY zkey, image_id ROWS BETWEEN UNBOUNDED PRECEDING AND"
        " CURRENT ROW) - nbytes AS off FROM p) "
        "SELECT image_id, prefix,"
        f" CAST(floor(off / {SHARD_BUDGET}) AS BIGINT) AS shard_id,"
        f" CAST(off % {SHARD_BUDGET} AS BIGINT) AS offset, nbytes FROM c"
    )


QUERIES["image_shards"] = (q_image_shards, _sql_image_shards())


# ---------------------------------------------------------------------------
# image_dedup_assemble — the corpus capstone with the near-dup pass fused in
# ---------------------------------------------------------------------------
# image_assemble (LAION gate ∩ geo-stratified cap) plus the image pipeline's
# missing third leg: perceptual-hash near-dup removal. The phash here is the
# metadata-column form (derived deterministically from caption+part so the
# oracle reproduces it; the pixel-derived path is phash_pixel_pairs /
# operators/phash.py) with a ≤3-bit perturbation per copy — exactly the
# banded-hamming regime dedup.phash_near_dup guarantees exact recall for.
# Keep rule: lower ikey wins each pair; near-dup families are cliques here
# (same caption+part ⇒ pairwise ≤3 bits apart), so the pairwise rule keeps
# exactly the family minimum — one representative per family (for chain
# topologies use dedup_cluster's connected components instead). Scale shape:
# the dedup leg is the banded equi-join (never all-pairs), the drop set
# joins back as a broadcast-able anti-join on ikey, and the three legs fuse
# into ONE lazy plan over the shared cached images_df scan.
def q_image_dedup_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import hashes
    from ..operators import dedup

    img = base.images_df(spark, sf_dir)
    pert = F.expr("shiftleft(1L, CAST(ikey % 4 AS INT)) - 1L")
    ph = img.select(
        "ikey",
        hashes.md5i(
            F.concat(F.col("caption"), F.lit("|"), F.col("src_part")), 15
        ).bitwiseXOR(pert).alias("phash"),
    )
    pairs = dedup.phash_near_dup(ph, phash_col="phash", id_col="ikey")
    dropped = pairs.select(F.col("d2").alias("ikey")).distinct()
    asm = q_image_assemble(spark, sf_dir)
    return (
        # shuffle_hash: both sides are corpus-scale at 10^12 rows (no
        # broadcast), and the equi-keys have no ordering worth SMJ's sorts
        asm.join(img.select("image_id", "ikey").hint("shuffle_hash"),
                 "image_id")
        .join(dropped.hint("shuffle_hash"), "ikey", "left_anti")
        .select("image_id", "tile_id", "w", "h")
    )


def _sql_image_dedup_assemble() -> str:
    from ..functions import hashes
    from ..operators import dedup

    key_sql = "caption || '|' || CAST(src_part AS VARCHAR)"
    ph_expr = (
        f"xor({hashes.md5i_sql(key_sql, 15)}, (1 << (ikey % 4)) - 1)"
    )
    pairs = dedup.phash_near_dup_sql("img", ph_expr, id_col="ikey")
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"drp AS (SELECT DISTINCT d2 AS ikey FROM ({pairs}) p) "
        f"SELECT a.image_id, a.tile_id, a.w, a.h"
        f" FROM ({_sql_image_assemble()}) a"
        " JOIN img ON a.image_id = img.image_id"
        " LEFT JOIN drp ON img.ikey = drp.ikey"
        " WHERE drp.ikey IS NULL"
    )


QUERIES["image_dedup_assemble"] = (
    q_image_dedup_assemble, _sql_image_dedup_assemble()
)


# ---------------------------------------------------------------------------
# snap_points — map matching: project each point onto its nearest way segment
# ---------------------------------------------------------------------------
# The GPS-trace → road-network snap (map matching's geometric core): for
# every image point, the closest point ON the closest way segment — way id,
# segment index, parametric position t, snapped coordinates, distance. The
# reference stops at point-to-way DISTANCE (A1/seg_explode_min,
# conflator.py's shapely `distance`); snapping also returns WHERE on the way
# the point lands, which is what turns a conflation candidate into a
# geometry edit. Geometry runs in equirectangular meters (lon pre-scaled by
# cos(AOI center lat) so x and y are commensurate — plain degree space would
# bias the argmin toward north-south segments by ~38% at this latitude).
# Scale shape (round-4: the r3 broadcast cartesian is GONE): candidates come
# from the cell join (operators/cell_join.cell_pairs: each point keeps its
# one cell, the segments are ring-1 dilated, so the probe is never exploded
# 9× and each pair meets once), in
# geometrically growing radius rounds à la knn_unbounded: a round's best is
# FINAL only when its distance is inside the round grid's coverage guarantee,
# so the argmin is exact over ALL segments, not just ring-1 candidates.
# Points isolated beyond the last round fall back to a constant-key
# shuffled-hash equi-join (never a BroadcastNestedLoopJoin) over only the
# stragglers. Every shuffle scales with executors; AQE splits skewed cells.
SNAP_LAT0_COS = 0.7229569579100136  # cos(43.7° · π/180) — AOI center
_M_PER_DEG = 111_320.0
# Radius ladder: two rounds, then the salted fallback. A third 48 km round
# used to close the tail, but at that radius the grid has 2-4 cells over
# the whole AOI — every straggler×segment pair lands on a couple of join
# keys and ONE task computes them all (measured 235 s of the ladder's
# 316 s at sf0.1, pure single-key skew). The salted fallback does the
# identical exact-argmin work spread over FB_SALT reducers, so stragglers
# go straight there (round-3 removal changes no output row: rounds accept
# only provably-global argmins; the fallback scans all segments exactly).
SNAP_RADII_M = (1_000.0, 8_000.0)
# A round's best is provably the global argmin when its equirect distance is
# ≤ 0.7·cell_edge·kx: covering_cells samples at res/2 spacing (the nearest
# sample is within res/4 of the true foot point), ring-1 reaches ±1 cell, so
# every segment within 0.75·res raw degrees of the probe is a candidate;
# d_deg ≤ d_eq/kx keeps 0.7 strictly inside that bound.
SNAP_ACCEPT_FACTOR = 0.7


def _snap_refine_best(cand: DataFrame) -> DataFrame:
    """Exact point→segment projection + per-image argmin over candidates
    carrying (image_id, lon, lat, sid=struct(way_id,k), sxs=[ax,bx],
    sys=[ay,by]).

    Expression FORMS mirror the SQL exactly — (lon-ax)*kx, not lon*kx-ax*kx
    — algebraically equal forms differ at the ulp and flip argmin ties /
    floor boundaries between engines.
    """
    ax, ay = F.element_at("sxs", 1), F.element_at("sys", 1)
    bx, by = F.element_at("sxs", 2), F.element_at("sys", 2)
    kx = F.lit(SNAP_LAT0_COS)
    dx = (bx - ax) * kx
    dy = by - ay
    ex = (F.col("lon") - ax) * kx
    ey = F.col("lat") - ay
    seg2 = dx * dx + dy * dy
    t = F.when(seg2 == F.lit(0.0), F.lit(0.0)).otherwise(
        F.least(
            F.greatest((ex * dx + ey * dy) / seg2, F.lit(0.0)),
            F.lit(1.0),
        )
    )
    snap_lon = ax + t * (bx - ax)
    snap_lat = ay + t * (by - ay)
    d2 = (ex - t * dx) * (ex - t * dx) + (ey - t * dy) * (ey - t * dy)
    return (
        cand.select(
            "image_id",
            F.struct(
                d2.alias("d2"),
                F.col("sid.way_id").alias("way_id"),
                F.col("sid.k").alias("k"),
                t.alias("t"), snap_lon.alias("sx"), snap_lat.alias("sy"),
            ).alias("c"),
        )
        .groupBy("image_id")
        .agg(F.min("c").alias("b"))
    )


def _snap_round_candidates(remaining: DataFrame, seg_geoms: DataFrame,
                           radius_m: float) -> tuple[DataFrame, float]:
    """One expansion round's candidate pairs + its acceptance bound (m)."""
    from ..functions.cells import CellGrid
    from ..operators import cell_join

    grid = CellGrid.for_radius(radius_m, max_abs_lat=60.0)
    accept_m = SNAP_ACCEPT_FACTOR * grid.res_deg * SNAP_LAT0_COS * _M_PER_DEG
    # shuffle_hash on the probe: its per-partition hash map stays small
    # while the dilated segments stream, and no driver-side broadcast build
    cand = cell_join.cell_pairs(
        remaining.hint("shuffle_hash"), seg_geoms,
        grid.encode(F.col("lon"), F.col("lat")),
        grid.ring1_union(cell_join.covering_cells(F.col("sxs"), F.col("sys"), grid)),
    )
    return cand, accept_m


def q_snap_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = base.images_df(spark, sf_dir)
    ways = base.ways_df(spark, sf_dir)
    seg_geoms = ways.select(
        "way_id", "xs", "ys",
        F.explode(F.sequence(F.lit(1), F.size("xs") - 1)).alias("k"),
    ).select(
        F.struct("way_id", "k").alias("sid"),
        F.array(
            F.element_at("xs", F.col("k")), F.element_at("xs", F.col("k") + 1)
        ).alias("sxs"),
        F.array(
            F.element_at("ys", F.col("k")), F.element_at("ys", F.col("k") + 1)
        ).alias("sys"),
    )
    remaining = img.select("image_id", "lon", "lat")
    n_rem = remaining.count()
    parts: list[DataFrame] = []
    rem_handles: list[DataFrame] = []
    for radius in SNAP_RADII_M:
        if n_rem == 0:
            break
        cand, accept_m = _snap_round_candidates(remaining, seg_geoms, radius)
        ok = _snap_refine_best(cand).filter(
            F.sqrt(F.col("b.d2")) * F.lit(_M_PER_DEG) <= F.lit(accept_m)
        ).persist()
        parts.append(ok)
        n_rem -= ok.count()  # the one action per round (fills ok's cache)
        if n_rem == 0:
            break
        remaining = remaining.join(
            ok.select("image_id"), "image_id", "left_anti"
        ).persist()
        rem_handles.append(remaining)
    if n_rem > 0:
        # isolated stragglers (no way inside the last guarantee): exhaustive
        # scan of ONLY the remainder via a salted shuffled-hash equi-join —
        # semantically the cartesian the argmin needs, but never a
        # BroadcastNestedLoopJoin and never over the full corpus. The key is
        # hashed from data (a literal key constant-folds to TRUE and Catalyst
        # rewrites the join into the nested loop this query must not ship);
        # salting over FB_SALT reducers spreads the straggler work.
        fb_salt = 32
        fb_cand = (
            remaining.withColumn(
                "__fb", F.pmod(F.xxhash64("image_id"), F.lit(fb_salt))
            )
            .hint("shuffle_hash")
            .join(
                seg_geoms.withColumn(
                    "__fb",
                    F.explode(F.sequence(F.lit(0), F.lit(fb_salt - 1))
                              .cast("array<bigint>")),
                ),
                "__fb",
            )
            .drop("__fb")
        )
        fb = _snap_refine_best(fb_cand).persist()
        fb.count()
        parts.append(fb)
    for h in rem_handles:
        h.unpersist()
    if not parts:
        return spark.createDataFrame(
            [],
            "image_id string, way_id bigint, seg_idx int, t_e6 bigint,"
            " snap_lon_e9 bigint, snap_lat_e9 bigint, dist_mm bigint",
        )
    best = parts[0]
    for p_ in parts[1:]:
        best = best.unionByName(p_)
    return best.select(
        "image_id",
        F.col("b.way_id").alias("way_id"),
        F.col("b.k").cast("int").alias("seg_idx"),
        F.floor(F.col("b.t") * F.lit(1.0e6)).cast("long").alias("t_e6"),
        F.floor(F.col("b.sx") * F.lit(1.0e9)).cast("long").alias("snap_lon_e9"),
        F.floor(F.col("b.sy") * F.lit(1.0e9)).cast("long").alias("snap_lat_e9"),
        F.floor(F.sqrt(F.col("b.d2")) * F.lit(_M_PER_DEG) * F.lit(1.0e3))
        .cast("long").alias("dist_mm"),
    )


def _sql_snap_points() -> str:
    kx = geo.dlit(SNAP_LAT0_COS)
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"ways AS ({base.WAYS_SQL}), "
        "segs AS (SELECT way_id, xs, ys,"
        " unnest(range(1, len(xs))) AS k FROM ways), "
        "sg AS (SELECT way_id, k, xs[k] AS ax, ys[k] AS ay,"
        " xs[k + 1] AS bx, ys[k + 1] AS by FROM segs), "
        "c AS (SELECT image_id, way_id, k,"
        f" (bx - ax) * {kx} AS dx, by - ay AS dy,"
        f" (lon - ax) * {kx} AS ex, lat - ay AS ey,"
        " ax, ay, bx, by, lon, lat FROM img CROSS JOIN sg), "
        "ct AS (SELECT *, CASE WHEN dx * dx + dy * dy = 0.0e0 THEN 0.0e0"
        " ELSE least(greatest((ex * dx + ey * dy) / (dx * dx + dy * dy),"
        " 0.0e0), 1.0e0) END AS t FROM c), "
        "cd AS (SELECT image_id, way_id, k, t,"
        " ax + t * (bx - ax) AS sx, ay + t * (by - ay) AS sy,"
        " (ex - t * dx) * (ex - t * dx) + (ey - t * dy) * (ey - t * dy)"
        " AS d2 FROM ct), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY image_id"
        " ORDER BY d2, way_id, k) AS rn FROM cd) "
        "SELECT image_id, way_id, CAST(k AS INT) AS seg_idx,"
        " CAST(floor(t * 1.0e6) AS BIGINT) AS t_e6,"
        " CAST(floor(sx * 1.0e9) AS BIGINT) AS snap_lon_e9,"
        " CAST(floor(sy * 1.0e9) AS BIGINT) AS snap_lat_e9,"
        f" CAST(floor(sqrt(d2) * {geo.dlit(_M_PER_DEG)} * 1.0e3) AS BIGINT)"
        " AS dist_mm"
        " FROM r WHERE rn = 1"
    )


QUERIES["snap_points"] = (q_snap_points, _sql_snap_points())
