"""Round-4 registry additions: the per-tile pixel rollup and depth-limited
Douglas–Peucker, promoted from pytest-only to oracle-checked (r3 verdict
item #4).

tile_image_stats — raster rollup over REAL pixels: decode each synthetic
image (Arrow-batched zlib codec), roll integer channel sums up per map tile.
Non-tautological oracle: the Spark side must recover the sums through the
full encode → decode ladder (PNG roundtrip / QNT quantization), while the
DuckDB side replays the pixel GENERATOR's closed form — splitmix64
(data/images.py:29) emulated in SQL with 32-bit-half arithmetic (HUGEINT
only inside the two multiplies) plus the QNT dequantization formula. One
unstable bit anywhere in the codec or the decode path breaks the match.

dp_simplify — Douglas–Peucker kept-index sets over the 24-vertex GPS-trace
fixture (geo4._trace_df), depth-limited so the recursion is finitely
SQL-expressible: the oracle is a recursive CTE over (way_id, lo, hi, depth)
chord intervals; kept vertices = the union of all interval endpoints. The
reference reaches DP through shapely's geometry.simplify (GEOS) when
preparing fieldwork payloads (osm_merge/utilities tile prep).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashes
from ..functions.cells import TileGrid
from ..functions.geo import dlit
from ..operators.multimodal import channel_sums, map_decoded, per_image

QUERIES: dict = {}

# ---------------------------------------------------------------------------
# tile_image_stats
# ---------------------------------------------------------------------------
TIS_N = 240            # decode cost ~240 tiny 16×16 images — test-sized
TIS_W = TIS_H = 16     # synth_images default dims
TIS_TILE_M = 20_000.0  # ~20 km tiles → a handful over the AOI

_B32 = 1 << 32


def _halves(v: int) -> tuple[int, int]:
    return v >> 32, v & 0xFFFFFFFF


_SM_C = 0x9E3779B97F4A7C15   # splitmix64 golden-ratio increment
_SM_M1 = 0xBF58476D1CE4E5B9
_SM_M2 = 0x94D049BB133111EB


def _mul64_sql(h: str, l: str, k: int) -> tuple[str, str]:
    """(h,l) * k mod 2^64 as 32-bit halves. Only the partial products go
    through HUGEINT (each < 2^64 — BIGINT would overflow); the result comes
    back as BIGINT halves."""
    kh, kl = _halves(k)
    p = (
        f"(CAST({l} AS HUGEINT) * {kl}"
        f" + ((CAST({l} AS HUGEINT) * {kh} + CAST({h} AS HUGEINT) * {kl})"
        f" % {_B32}) * {_B32})"
    )
    return (
        f"CAST((({p}) // {_B32}) % {_B32} AS BIGINT)",
        f"CAST(({p}) % {_B32} AS BIGINT)",
    )


def _shr64_sql(h: str, l: str, s: int) -> tuple[str, str]:
    """(h,l) >> s for 0 < s < 32, via exact integer division."""
    return (
        f"(({h}) // {1 << s})",
        f"((({h}) % {1 << s}) * {1 << (32 - s)} + ({l}) // {1 << s})",
    )


def _xor64(h1: str, l1: str, h2: str, l2: str) -> tuple[str, str]:
    return f"xor({h1}, {h2})", f"xor({l1}, {l2})"


def _splitmix_word_sql(x: str) -> tuple[str, str]:
    """splitmix64(x) for BIGINT x < 2^40 (our seeds never exceed it, so the
    first addition cannot wrap 2^64), as (high, low) 32-bit halves."""
    ch, cl = _halves(_SM_C)
    al = f"((({x}) % {_B32} + {cl}) % {_B32})"
    carry = f"((({x}) % {_B32} + {cl}) // {_B32})"
    ah = f"((({x}) // {_B32} + {ch} + {carry}) % {_B32})"
    sh, sl = _shr64_sql(ah, al, 30)
    bh, bl = _xor64(ah, al, sh, sl)
    ch_, cl_ = _mul64_sql(bh, bl, _SM_M1)
    sh, sl = _shr64_sql(ch_, cl_, 27)
    dh, dl = _xor64(ch_, cl_, sh, sl)
    eh, el = _mul64_sql(dh, dl, _SM_M2)
    sh, sl = _shr64_sql(eh, el, 31)
    return _xor64(eh, el, sh, sl)


def _decode_channel_sums(images: DataFrame) -> DataFrame:
    """(image_id, bytes, fmt) → (image_id, sr, sg, sb): integer per-channel
    pixel sums from the REAL decoded bytes; pixels reduce to three longs
    executor-side, so bytes never shuffle. Undecodable images: no row."""
    return map_decoded(images, channel_sums,
                       "image_id string, sr long, sg long, sb long")


def _decoded_bytes_cte() -> str:
    """CTE chain `imgs → xs → wd → pxb → dec`: for every image i (from an
    `imgs(i)` CTE the caller prepends), every decoded byte as (i, p, dv)
    where p is the byte position in row-major (h, w, 3) layout and dv the
    DECODED value — splitmix64 replayed in 32-bit-half SQL arithmetic, then
    the codec's effect: PNG is lossless; QNT (i%3=0) dequantizes to bin
    centers (v//6)*6+3, always in [3,255] so the clip is identity."""
    n_bytes = TIS_W * TIS_H * 3
    n_words = n_bytes // 8  # 768 % 8 == 0: the generator's +1 pad word is
    #                         sliced off before it contributes any byte
    wh, wl = _splitmix_word_sql("x")
    return (
        f"xs AS (SELECT i, j, CAST(i AS BIGINT) * 2654435761 + 1 + j AS x"
        f" FROM imgs, range({n_words}) w(j)), "
        f"wd AS (SELECT i, j, {wh} AS wh, {wl} AS wl FROM xs), "
        # little-endian byte t of word j = byte position p = 8j + t
        f"pxb AS (SELECT i, 8 * j + t AS p,"
        f" CASE WHEN t < 4 THEN (wl // CAST(power(256, t) AS BIGINT)) % 256"
        f" ELSE (wh // CAST(power(256, t - 4) AS BIGINT)) % 256 END AS v"
        f" FROM wd, range(8) r(t)), "
        f"dec AS (SELECT i, p,"
        f" CASE WHEN i % 3 = 0 THEN (v // 6) * 6 + 3 ELSE v END AS dv"
        f" FROM pxb)"
    )


def _channel_sums_sql() -> str:
    """CTE chain ending in `sums(i, sr, sg, sb)`: per-image integer channel
    sums via the splitmix64 replay (channel = byte position % 3)."""
    return (
        f"{_decoded_bytes_cte()}, "
        f"sums AS (SELECT i,"
        f" CAST(sum(dv) FILTER (p % 3 = 0) AS BIGINT) AS sr,"
        f" CAST(sum(dv) FILTER (p % 3 = 1) AS BIGINT) AS sg,"
        f" CAST(sum(dv) FILTER (p % 3 = 2) AS BIGINT) AS sb"
        f" FROM dec GROUP BY i)"
    )


def _synth_pos_sql(n: int) -> str:
    """`pos(i, lon, lat)` CTE body: the data/synth._position mirror for
    synth_images(n) — hot-cluster CASE + md5-derived uniforms, the exact
    expression forms Spark evaluates (shared by every geo5 oracle that
    needs positions)."""
    from ..data import synth

    spread = synth._hot_spread(n)
    h1 = hashes.md5i_sql("'lon' || CAST(i AS VARCHAR)")
    h2 = hashes.md5i_sql("'lat' || CAST(i AS VARCHAR)")
    u1 = f"(CAST(({h1}) % 1000000 AS DOUBLE) / {dlit(1_000_000.0)})"
    u2 = f"(CAST(({h2}) % 1000000 AS DOUBLE) / {dlit(1_000_000.0)})"
    lon = (
        f"(CASE WHEN i % {synth.HOT_FRAC_MOD} = 0 THEN {dlit(synth.HOT_LON)}"
        f" + ({u1} - {dlit(0.5)}) * {dlit(spread)}"
        f" ELSE {dlit(synth.LON_MIN)}"
        f" + {u1} * {dlit(synth.LON_MAX - synth.LON_MIN)} END)"
    )
    lat = (
        f"(CASE WHEN i % {synth.HOT_FRAC_MOD} = 0 THEN {dlit(synth.HOT_LAT)}"
        f" + ({u2} - {dlit(0.5)}) * {dlit(spread)}"
        f" ELSE {dlit(synth.LAT_MIN)}"
        f" + {u2} * {dlit(synth.LAT_MAX - synth.LAT_MIN)} END)"
    )
    return f"SELECT i, {lon} AS lon, {lat} AS lat FROM imgs"


def q_tile_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..data import synth

    img = synth.synth_images(spark, TIS_N, with_bytes=True)
    sums = _decode_channel_sums(img)
    grid = TileGrid(tile_m=TIS_TILE_M)
    keyed = img.select(
        "image_id", grid.tile_id(F.col("lon"), F.col("lat")).alias("tile_id")
    ).join(sums, "image_id")
    return keyed.groupBy("tile_id").agg(
        F.count("*").alias("n_images"),
        F.sum("sr").alias("sum_r"),
        F.sum("sg").alias("sum_g"),
        F.sum("sb").alias("sum_b"),
    )


def _sql_tile_image_stats() -> str:
    sums = _channel_sums_sql()
    grid = TileGrid(tile_m=TIS_TILE_M)
    tile = grid.tile_id_sql("lon", "lat")
    return (
        f"WITH imgs AS (SELECT CAST(i AS BIGINT) AS i FROM range({TIS_N}) t(i)), "
        f"{sums}, "
        f"pos AS ({_synth_pos_sql(TIS_N)}), "
        f"tiled AS (SELECT i, {tile} AS tile_id FROM pos) "
        f"SELECT tile_id, count(*) AS n_images,"
        f" CAST(sum(sr) AS BIGINT) AS sum_r,"
        f" CAST(sum(sg) AS BIGINT) AS sum_g,"
        f" CAST(sum(sb) AS BIGINT) AS sum_b"
        f" FROM tiled JOIN sums USING (i) GROUP BY tile_id"
    )


QUERIES["tile_image_stats"] = (q_tile_image_stats, _sql_tile_image_stats())


# ---------------------------------------------------------------------------
# image_sharpness — gradient-energy blur gate over REAL decoded pixels
# ---------------------------------------------------------------------------
# The classic training-data quality filter (variance-of-Laplacian family):
# drop blurry/flat images before they enter the corpus. Here the score is
# integer gradient energy — sum over |v(x+1,y,c) − v(x,y,c)| of the decoded
# image — so both engines compute it EXACTLY (no float reduction order).
# QNT dequantizes to bin centers, so every QNT image's score is a
# multiple of 6 (bin-center diffs are) while PNG scores keep arbitrary
# residues — an invariant that only holds if the gate reads the DECODED
# bytes, i.e. it sees the real codec, not the generator. 100 TB story: pixels reduce to one long
# per image executor-side inside mapInPandas (bytes never shuffle); the
# gate itself is a scalar predicate.
SHARP_MIN = 61_100  # ≈ E|ΔU8|·720 pairs; straddles the synth distribution


def _grad_energy(px):
    return (np.abs(np.diff(px.astype(np.int64), axis=1)).sum(),)


def _decode_grad_energy(images: DataFrame) -> DataFrame:
    """(image_id, grad_e) per image; undecodable images: no row."""
    return map_decoded(images, per_image(_grad_energy, ["grad_e"]),
                       "image_id string, grad_e long")


def q_image_sharpness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..data import synth

    img = synth.synth_images(spark, TIS_N, with_bytes=True)
    return _decode_grad_energy(img).select(
        "image_id", "grad_e",
        (F.col("grad_e") >= F.lit(SHARP_MIN)).alias("keep"),
    )


def _sql_image_sharpness() -> str:
    # horizontal neighbor of byte p (pixel q = p//3, x = q % W, channel
    # p%3) is byte p+3; valid while x < W-1
    return (
        f"WITH imgs AS (SELECT CAST(i AS BIGINT) AS i"
        f" FROM range({TIS_N}) t(i)), "
        f"{_decoded_bytes_cte()}, "
        f"grad AS (SELECT a.i, CAST(sum(abs(b.dv - a.dv)) AS BIGINT) AS grad_e"
        f" FROM dec a JOIN dec b ON b.i = a.i AND b.p = a.p + 3"
        f" WHERE (a.p // 3) % {TIS_W} < {TIS_W - 1}"
        f" GROUP BY a.i) "
        f"SELECT 'img-' || CAST(i AS VARCHAR) AS image_id, grad_e,"
        f" grad_e >= {SHARP_MIN} AS keep FROM grad"
    )


QUERIES["image_sharpness"] = (q_image_sharpness, _sql_image_sharpness())


# ---------------------------------------------------------------------------
# augment_checksum — deterministic augmentation fan-out, oracle-checked
# ---------------------------------------------------------------------------
# operators/augment.augment_images was pytest-only (round-trip identities);
# this promotes it to the oracle gate end-to-end: synth → encode → decode →
# apply view → RE-ENCODE → decode again → position-weighted checksum
# Σ (p'+1)·v over the augmented bytes. Every view is an exact pixel-index
# permutation/selection, so the DuckDB oracle computes the same checksum
# directly from the generator's decoded bytes with the permutation folded
# into the weight: weight(x,y,c) = output byte position under the view.
# The re-encode leg is covered because PNG is lossless and QNT is
# idempotent on bin centers — any instability there breaks the hash.
# 100 TB story: fan-out is a pure mapInPandas projection (one input row →
# ≤5 output rows, no shuffle); the checksum reduces pixels to one long
# executor-side.
_AUG_W, _AUG_H = TIS_W, TIS_H
_CROP = _AUG_W // 4  # crop offset for CROP_FRAC=2 on 16×16 → y0=x0=4


def _checksum(px):
    v = px.astype(np.int64).ravel()
    return v.size, ((np.arange(v.size) + 1) * v).sum()


def _decode_checksums(aug: DataFrame) -> DataFrame:
    """(image_id, aug, n_bytes, checksum) per augmented image;
    undecodable images: no row."""
    return map_decoded(
        aug, per_image(_checksum, ["n_bytes", "checksum"]),
        "image_id string, aug string, n_bytes long, checksum long",
        carry=("aug",),
    )


def q_augment_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..data import synth
    from ..operators.augment import augment_images

    img = synth.synth_images(spark, TIS_N, with_bytes=True)
    return _decode_checksums(augment_images(img))


def _sql_augment_checksum() -> str:
    W, H, C = _AUG_W, _AUG_H, _CROP
    # source byte p → (x, y, c); weight = output position + 1 under the view
    x, y, c = f"((p // 3) % {W})", f"(p // {3 * W})", "(p % 3)"
    wexpr = (
        f"CASE aug"
        f" WHEN 'identity' THEN p + 1"
        f" WHEN 'hflip' THEN 3 * ({y} * {W} + ({W - 1} - {x})) + {c} + 1"
        f" WHEN 'vflip' THEN 3 * (({H - 1} - {y}) * {W} + {x}) + {c} + 1"
        # np.rot90 (CCW): out[y', x'] = in[x', W-1-y']  ⇒  src (x, y) lands
        # at y' = W-1-x, x' = y on an (W, H)-shaped output
        f" WHEN 'rot90' THEN 3 * (({W - 1} - {x}) * {H} + {y}) + {c} + 1"
        f" WHEN 'crop' THEN CASE WHEN {x} >= {C} AND {x} < {W - C}"
        f"  AND {y} >= {C} AND {y} < {H - C}"
        f"  THEN 3 * (({y} - {C}) * {W // 2} + ({x} - {C})) + {c} + 1"
        f"  END"
        f" END"
    )
    return (
        f"WITH imgs AS (SELECT CAST(i AS BIGINT) AS i"
        f" FROM range({TIS_N}) t(i)), "
        f"{_decoded_bytes_cte()}, "
        f"views AS (SELECT unnest(['identity','hflip','vflip','rot90',"
        f"'crop']) AS aug), "
        f"wtd AS (SELECT i, aug, {wexpr} AS wt, dv FROM dec, views) "
        f"SELECT 'img-' || CAST(i AS VARCHAR) AS image_id, aug,"
        f" CAST(count(*) AS BIGINT) AS n_bytes,"
        f" CAST(sum(wt * dv) AS BIGINT) AS checksum"
        f" FROM wtd WHERE wt IS NOT NULL GROUP BY i, aug"
    )


QUERIES["augment_checksum"] = (q_augment_checksum, _sql_augment_checksum())


# ---------------------------------------------------------------------------
# dp_simplify — depth-limited Douglas–Peucker kept-index sets
# ---------------------------------------------------------------------------
DP_EPS_M = 25.0     # jitter (~1 m) dropped, planted corners (~1.1 km) kept
DP_MAX_DEPTH = 6    # ≤ 2^6 chord intervals per way; n=24 → effectively full


def q_dp_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import simplify
    from .geo4 import _trace_df

    tr = _trace_df(spark, sf_dir)
    udf = simplify.dp_kept_indices_udf(DP_EPS_M, max_depth=DP_MAX_DEPTH)
    kept = udf(F.col("xs"), F.col("ys"))
    return tr.select(
        "way_id",
        F.size("xs").alias("n_in"),
        F.size(kept).alias("n_out"),
        F.array_join(
            F.transform(kept, lambda i: i.cast("string")), ","
        ).alias("kept_csv"),
    )


def _sql_dp_simplify() -> str:
    from ..operators.simplify import MX, MY
    from .geo4 import _TRACE_SQL

    # per-chord deviation of vertex k from the (lo, hi) chord — the exact
    # numpy forms from operators/simplify.dp_keep_mask, elementwise IEEE
    dist = (
        "(CASE WHEN (X[hi] - X[lo]) * (X[hi] - X[lo])"
        " + (Y[hi] - Y[lo]) * (Y[hi] - Y[lo]) = 0.0e0"
        " THEN sqrt((X[k] - X[lo]) * (X[k] - X[lo])"
        " + (Y[k] - Y[lo]) * (Y[k] - Y[lo]))"
        " ELSE abs((X[k] - X[lo]) * (Y[hi] - Y[lo])"
        " - (Y[k] - Y[lo]) * (X[hi] - X[lo]))"
        " / sqrt((X[hi] - X[lo]) * (X[hi] - X[lo])"
        " + (Y[hi] - Y[lo]) * (Y[hi] - Y[lo])) END)"
    )
    return (
        f"WITH RECURSIVE tr AS ({_TRACE_SQL}), "
        f"sc AS (SELECT way_id,"
        f" list_transform(xs, v -> v * {dlit(MX)}) AS X,"
        f" list_transform(ys, v -> v * {dlit(MY)}) AS Y,"
        f" len(xs) AS n FROM tr), "
        # chord intervals: root (1, n); an interval splits at its argmax-
        # deviation vertex (first max — numpy argmax ties) while the max
        # deviation exceeds eps and depth < DP_MAX_DEPTH. Kept vertices =
        # the union of every interval endpoint ever created.
        "iv(way_id, lo, hi, depth) AS ("
        " SELECT way_id, 1, n, 0 FROM sc"
        " UNION ALL"
        " SELECT t.way_id,"
        "  CASE WHEN r.side = 0 THEN t.lo ELSE t.ks END,"
        "  CASE WHEN r.side = 0 THEN t.ks ELSE t.hi END,"
        "  t.depth + 1"
        " FROM ("
        "  SELECT iv.way_id, iv.lo, iv.hi, iv.depth,"
        "   iv.lo + list_position(ds, list_max(ds)) AS ks,"
        "   list_max(ds) AS dmax"
        "  FROM (SELECT iv.way_id, iv.lo, iv.hi, iv.depth,"
        f"    list_transform(range(iv.lo + 1, iv.hi), k -> {dist}) AS ds"
        "   FROM iv JOIN sc ON sc.way_id = iv.way_id"
        f"   WHERE iv.hi > iv.lo + 1 AND iv.depth < {DP_MAX_DEPTH}) iv"
        " ) t, range(2) r(side)"
        f" WHERE t.dmax > {dlit(DP_EPS_M)}"
        "), "
        # DuckDB 1.0 fails to dedup a plain UNION whose branches both read a
        # recursive CTE — outer DISTINCT over UNION ALL is the reliable form
        "kept AS (SELECT DISTINCT way_id, idx FROM"
        " (SELECT way_id, lo AS idx FROM iv"
        "  UNION ALL SELECT way_id, hi AS idx FROM iv)) "
        "SELECT k.way_id, CAST(s.n AS INT) AS n_in,"
        " CAST(k.n_out AS INT) AS n_out, k.kept_csv"
        " FROM (SELECT way_id, count(*) AS n_out,"
        " string_agg(CAST(idx AS VARCHAR), ',' ORDER BY idx) AS kept_csv"
        " FROM kept GROUP BY way_id) k"
        " JOIN sc s ON s.way_id = k.way_id"
    )


QUERIES["dp_simplify"] = (q_dp_simplify, _sql_dp_simplify())


# ---------------------------------------------------------------------------
# audio_features — the third modality, oracle-checked (r4 verdict item #4):
# pcm16 decode is a dtype view (operators/multimodal.py:215) and the synth
# payload is the same splitmix64 stream the pixel oracle already replays in
# 32-bit-half SQL — so every feature (sample count, integer energy, peak,
# clip count, window count) is recomputable by DuckDB from the row id alone.
# The Spark side must recover them THROUGH the real byte path (generate →
# binary column → np.frombuffer('<i2') decode); one wrong byte anywhere
# breaks the integer-exact match.
# ---------------------------------------------------------------------------
AF_N = 96  # keeps i * 2654435761 + salt < 2^40 (the SQL splitmix domain)


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..data import synth
    from ..operators.multimodal import audio_features

    return audio_features(synth.synth_audio(spark, AF_N))


def _sql_audio_features() -> str:
    from ..data import synth

    base_s = synth.AUDIO_BASE_SAMPLES
    step_s = synth.AUDIO_STEP_SAMPLES
    salt = synth.AUDIO_SEED_SALT
    max_words = (2 * (base_s + 4 * step_s)) // 8
    wh, wl = _splitmix_word_sql("x")
    # word j of audio i → 4 little-endian int16 samples: chunk 0 = low 16
    # bits of the low half, ..., chunk 3 = high 16 bits of the high half
    return (
        f"WITH auds AS (SELECT CAST(i AS BIGINT) AS i,"
        f" CAST({base_s} + (i % 5) * {step_s} AS BIGINT) AS ns"
        f" FROM range({AF_N}) t(i)), "
        f"xs AS (SELECT i, ns, i * 2654435761 + {salt} + j AS x"
        f" FROM auds, range({max_words}) w(j) WHERE j < ns // 4), "
        f"wd AS (SELECT i, ns, {wh} AS wh, {wl} AS wl FROM xs), "
        "smp AS (SELECT i, ns, u - (CASE WHEN u >= 32768 THEN 65536 ELSE 0"
        " END) AS s FROM (SELECT i, ns, unnest([wl % 65536, wl // 65536,"
        " wh % 65536, wh // 65536]) AS u FROM wd) t) "
        "SELECT 'aud-' || CAST(i AS VARCHAR) AS audio_id,"
        " ns AS n_samples,"
        " CAST(sum(s * s) AS BIGINT) AS energy,"
        " CAST(max(abs(s)) AS BIGINT) AS peak,"
        " CAST(count(*) FILTER (abs(s) >= 32767) AS BIGINT) AS n_clipped,"
        " ns // 1024 AS n_windows"
        " FROM smp GROUP BY i, ns"
    )


QUERIES["audio_features"] = (q_audio_features, _sql_audio_features())


# ---------------------------------------------------------------------------
# zonal_stats — raster×vector zonal statistics over REAL decoded pixels
# ---------------------------------------------------------------------------
# The classic raster-analysis operator (rasterstats / PostGIS ST_SummaryStats
# by zone): per-polygon-zone aggregates of the pixel values whose images fall
# inside the zone. Reference behavior: the AOI-clipping + per-boundary rollups
# of osm_merge/geosupport.py, lifted from "count features in a boundary" to
# "aggregate decoded raster content by boundary". Zones are slanted
# (non-axis-aligned) quads so the ray cast is exercised for real (a bbox test
# cannot reproduce them); they deliberately OVERLAP (hot ⊂ east, south ∩
# west/east) — the general zonal-stats contract is per-zone fan-out, not a
# partition of space. One zone covers the synth hot cluster, so the skewed
# key is present in the output.
#
# 100 TB story: pixels reduce to three longs per image executor-side inside
# mapInPandas (bytes never shuffle, same kernel as tile_image_stats); zone
# membership is ONE scan with an array_compact fan-out over the literal zone
# list (≤|zones| rows out per image, whole-stage codegen, no join); the agg
# is map-side-combinable on |zones| keys. With millions of zones instead of a
# literal handful, membership becomes the cell-indexed PIP join (J8,
# queries/etl2.q_pip_join) — the kernel and the rollup stay unchanged.
ZONES: dict[str, list[tuple[float, float]]] = {
    # slanted quads in the synth AOI (lon −109.2..−108.2, lat 43.4..44.0)
    "west": [(-109.15, 43.45), (-108.75, 43.50), (-108.80, 43.95),
             (-109.10, 43.90)],
    "east": [(-108.72, 43.42), (-108.25, 43.48), (-108.30, 43.97),
             (-108.68, 43.93)],
    "hot":  [(-108.78, 43.62), (-108.62, 43.64), (-108.60, 43.78),
             (-108.80, 43.76)],
    "south": [(-109.00, 43.41), (-108.40, 43.43), (-108.45, 43.58),
              (-108.95, 43.55)],
}


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..data import synth
    from ..functions import geo

    img = synth.synth_images(spark, TIS_N, with_bytes=True)
    sums = _decode_channel_sums(img)
    zhits = F.array_compact(F.array(*[
        F.when(
            geo.point_in_fixed_ring(F.col("lon"), F.col("lat"), ring),
            F.lit(zid),
        ).otherwise(F.lit(None).cast("string"))
        for zid, ring in ZONES.items()
    ]))
    member = img.select("image_id", F.explode(zhits).alias("zone_id"))
    return member.join(sums, "image_id").groupBy("zone_id").agg(
        F.count("*").alias("n_images"),
        F.sum("sr").alias("sum_r"),
        F.sum("sg").alias("sum_g"),
        F.sum("sb").alias("sum_b"),
    )


def _sql_zonal_stats() -> str:
    from ..functions.geo import point_in_fixed_ring_sql

    member = " UNION ALL ".join(
        f"SELECT i, '{zid}' AS zone_id FROM pos"
        f" WHERE {point_in_fixed_ring_sql('lon', 'lat', ring)}"
        for zid, ring in ZONES.items()
    )
    return (
        f"WITH imgs AS (SELECT CAST(i AS BIGINT) AS i"
        f" FROM range({TIS_N}) t(i)), "
        f"{_channel_sums_sql()}, "
        f"pos AS ({_synth_pos_sql(TIS_N)}), "
        f"member AS ({member}) "
        f"SELECT zone_id, count(*) AS n_images,"
        f" CAST(sum(sr) AS BIGINT) AS sum_r,"
        f" CAST(sum(sg) AS BIGINT) AS sum_g,"
        f" CAST(sum(sb) AS BIGINT) AS sum_b"
        f" FROM member JOIN sums USING (i) GROUP BY zone_id"
    )


QUERIES["zonal_stats"] = (q_zonal_stats, _sql_zonal_stats())


# ---------------------------------------------------------------------------
# pyramid_pixel_rollup — raster overview levels from decoded pixel sums
# ---------------------------------------------------------------------------
# The overview/pyramid build every tile service runs (gdaladdo, COG
# overviews, tm-splitter's zoom ladder): level-0 per-tile channel sums from
# REAL decoded pixels, then L parent levels where tile (tx,ty) at level k
# aggregates its 2×2 children at level k−1. floor(x/2.0) — not integer
# division — so negative web-mercator tile coords floor identically in both
# engines (Spark div truncates toward zero, DuckDB // floors).
#
# 100 TB story: level 0 is the tile_image_stats shape (pixels reduce
# executor-side, map-side combine onto |tiles| keys); every level above
# aggregates the PREVIOUS level's |tiles_k| rows — corpus bytes are read
# exactly once no matter how many overview levels are built, and each
# rollup's shuffle carries ≤|tiles_k|/4 rows per task.
PYR_LEVELS = 2  # parent levels above level 0


def q_pyramid_pixel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..data import synth

    img = synth.synth_images(spark, TIS_N, with_bytes=True)
    sums = _decode_channel_sums(img)
    grid = TileGrid(tile_m=TIS_TILE_M)
    keyed = img.select(
        "image_id",
        grid.tile_x(F.col("lon")).alias("tx"),
        grid.tile_y(F.col("lat")).alias("ty"),
    ).join(sums, "image_id")
    cur = keyed.groupBy("tx", "ty").agg(
        F.count("*").alias("n_images"),
        F.sum("sr").alias("sum_r"),
        F.sum("sg").alias("sum_g"),
        F.sum("sb").alias("sum_b"),
    )
    out = cur.select(F.lit(0).alias("level"), "tx", "ty", "n_images",
                     "sum_r", "sum_g", "sum_b")
    for lvl in range(1, PYR_LEVELS + 1):
        cur = (
            cur.groupBy(
                F.floor(F.col("tx") / F.lit(2.0)).alias("tx"),
                F.floor(F.col("ty") / F.lit(2.0)).alias("ty"),
            )
            .agg(
                F.sum("n_images").alias("n_images"),
                F.sum("sum_r").alias("sum_r"),
                F.sum("sum_g").alias("sum_g"),
                F.sum("sum_b").alias("sum_b"),
            )
        )
        out = out.unionByName(
            cur.select(F.lit(lvl).alias("level"), "tx", "ty", "n_images",
                       "sum_r", "sum_g", "sum_b")
        )
    return out


def _sql_pyramid_pixel_rollup() -> str:
    from ..functions.geo import dlit as _dlit
    from ..functions.geo import mercator_x_sql, mercator_y_sql

    size = _dlit(TIS_TILE_M)
    levels = [
        "l0 AS (SELECT tx, ty, count(*) AS n_images,"
        " CAST(sum(sr) AS BIGINT) AS sum_r,"
        " CAST(sum(sg) AS BIGINT) AS sum_g,"
        " CAST(sum(sb) AS BIGINT) AS sum_b"
        " FROM t0 JOIN sums USING (i) GROUP BY tx, ty)"
    ]
    for lvl in range(1, PYR_LEVELS + 1):
        levels.append(
            f"l{lvl} AS (SELECT CAST(floor(tx / 2.0) AS BIGINT) AS tx,"
            f" CAST(floor(ty / 2.0) AS BIGINT) AS ty,"
            f" CAST(sum(n_images) AS BIGINT) AS n_images,"
            f" CAST(sum(sum_r) AS BIGINT) AS sum_r,"
            f" CAST(sum(sum_g) AS BIGINT) AS sum_g,"
            f" CAST(sum(sum_b) AS BIGINT) AS sum_b"
            f" FROM l{lvl - 1} GROUP BY 1, 2)"
        )
    union = " UNION ALL ".join(
        f"SELECT {lvl} AS level, tx, ty, n_images, sum_r, sum_g, sum_b"
        f" FROM l{lvl}"
        for lvl in range(PYR_LEVELS + 1)
    )
    return (
        f"WITH imgs AS (SELECT CAST(i AS BIGINT) AS i"
        f" FROM range({TIS_N}) t(i)), "
        f"{_channel_sums_sql()}, "
        f"pos AS ({_synth_pos_sql(TIS_N)}), "
        f"t0 AS (SELECT i,"
        f" CAST(floor(({mercator_x_sql('lon')}) / {size}) AS BIGINT) AS tx,"
        f" CAST(floor(({mercator_y_sql('lat')}) / {size}) AS BIGINT) AS ty"
        f" FROM pos), "
        f"{', '.join(levels)} "
        f"{union}"
    )


QUERIES["pyramid_pixel_rollup"] = (
    q_pyramid_pixel_rollup, _sql_pyramid_pixel_rollup()
)


# ---------------------------------------------------------------------------
# focal_stats — 3×3 neighborhood (focal) statistics over the cell raster
# ---------------------------------------------------------------------------
# The raster "focal mean" / kernel-density-lite every cartographic heatmap
# runs (GDAL focal statistics, PostGIS ST_MapAlgebra neighborhood): rasterize
# the image stream to per-cell counts, then each cell aggregates its 3×3
# neighborhood. Sparse-raster semantics: only PRESENT neighbors contribute
# (nodata cells are absent rows, not zeros), so the output carries the
# neighbor count alongside the sum — integer-exact in both engines; a mean
# would be sum/n downstream.
#
# 100 TB story: the corpus collapses to |cells| rows in the FIRST map-side-
# combinable agg; the 9× neighbor explode and the second agg ride |cells|,
# never corpus rows (same cost class as the pyramid rollup's upper levels).
# The hot cluster's skew is absorbed by the first agg's partial combine —
# the neighbor shuffle sees one row per (cell, offset), whatever the count.
FOCAL_TILE_M = 5_000.0  # ~5 km cells → a few hundred over the AOI


def q_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import base

    grid = TileGrid(tile_m=FOCAL_TILE_M)
    img = base.images_df(spark, sf_dir)
    counts = img.select(
        grid.tile_x(F.col("lon")).alias("tx"),
        grid.tile_y(F.col("lat")).alias("ty"),
    ).groupBy("tx", "ty").agg(F.count("*").alias("cnt"))
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
        F.sum("cnt").alias("focal_sum"),
        F.count("*").alias("n_neighbors"),
    )
    # report only cells that exist in the raster (join back to counts),
    # keeping the sparse-raster contract: no rows for empty cells;
    # shuffle_hash per engine doctrine — both sides are |cells| rows and
    # already hash-clustered, SMJ would add two needless sorts
    return counts.join(focal.hint("shuffle_hash"), ["tx", "ty"]).select(
        "tx", "ty", "cnt", "focal_sum", "n_neighbors"
    )


def _sql_focal_stats() -> str:
    from . import base
    from ..functions.geo import dlit as _dlit
    from ..functions.geo import mercator_x_sql, mercator_y_sql

    size = _dlit(FOCAL_TILE_M)
    return (
        f"WITH img AS ({base.IMAGES_SQL}), "
        f"counts AS (SELECT"
        f" CAST(floor(({mercator_x_sql('lon')}) / {size}) AS BIGINT) AS tx,"
        f" CAST(floor(({mercator_y_sql('lat')}) / {size}) AS BIGINT) AS ty,"
        f" count(*) AS cnt FROM img GROUP BY 1, 2), "
        f"nb AS (SELECT tx + dx AS tx, ty + dy AS ty, cnt"
        f" FROM counts, (SELECT unnest([-1, 0, 1]) AS dx) ox,"
        f" (SELECT unnest([-1, 0, 1]) AS dy) oy), "
        f"focal AS (SELECT tx, ty, CAST(sum(cnt) AS BIGINT) AS focal_sum,"
        f" count(*) AS n_neighbors FROM nb GROUP BY tx, ty) "
        f"SELECT tx, ty, cnt, focal_sum, n_neighbors"
        f" FROM counts JOIN focal USING (tx, ty)"
    )


QUERIES["focal_stats"] = (q_focal_stats, _sql_focal_stats())


# ---------------------------------------------------------------------------
# stay_points — trajectory dwell detection (stay-point mining)
# ---------------------------------------------------------------------------
# The standard trajectory-mining primitive (Li/Zheng 2008 stay points, GPS
# trace segmentation): split each trace where the inter-ping step exceeds a
# movement threshold, keep maximal dwell runs of >= SP_MIN_PINGS pings.
# Fixture: per-supplier traces that MOVE at 0.002 deg/step except two frozen
# phases (pings 7-12 and 17-22) holding position with ±1e-6 jitter — so the
# expected output is exactly two stay points per trace, found by the
# operator, not planted in it. Segmentation = lag-window break flags +
# cumsum run ids, both partitioned by trace (per-key window state — the
# scalable window shape; no global sort). Centroids are avg() rounded to
# 1e-6, three orders above the engines' float-sum order jitter; the span
# columns are integer-exact.
#
# 100 TB story: windows partition by trace id (bounded per-key state, the
# same contract as sessionize); the explode fans each trace row to its ping
# count and the rollup collapses it back — corpus bytes ride the shuffle
# once, as (trace, ping) slim rows.
SP_N = 24
SP_DWELL = ((7, 12, 0.0), (17, 22, 120.0))  # (lo, hi, x-anchor offset
#   in steps): phase 2 dwells 0.24 deg east of its trace — the "commute"
#   leg that makes the OD matrix carry real cross-zone flows
SP_STEP = 0.002                  # moving step in degrees
SP_THR2 = 1.0e-6                 # squared-degree break threshold (~110 m)
SP_MIN_PINGS = 4


def _dwell_trace_df(spark: SparkSession, sf_dir: str):
    from ..functions.barrier import eval_once
    from . import base

    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    k = F.col("s_suppkey").cast("long")
    x0 = F.lit(base.LON_MIN) + F.lit(0.1) + base.u01(k, 41) * F.lit(0.6)
    y0 = F.lit(base.LAT_MIN) + F.lit(0.1) + base.u01(k, 42) * F.lit(0.4)
    idx = F.sequence(F.lit(1), F.lit(SP_N))

    def anchor(i):
        # dwell phases freeze the position at the phase's entry index,
        # displaced by the phase's x-anchor offset (y ignores the offset:
        # the commute is an eastward leg)
        a = i.cast("double")
        for lo, hi, _ in SP_DWELL:
            a = F.when((i >= lo) & (i <= hi), F.lit(float(lo))).otherwise(a)
        return a

    def anchor_x(i):
        a = anchor(i)
        for lo, hi, off in SP_DWELL:
            if off:
                a = F.when((i >= lo) & (i <= hi),
                           F.lit(float(lo) + off)).otherwise(a)
        return a

    def jit(i, salt):
        return (base.u01(k * F.lit(131) + i, salt) - F.lit(0.5)) * F.lit(2.0e-6)

    xs = F.transform(idx, lambda i: x0 + anchor_x(i) * F.lit(SP_STEP) + jit(i, 43))
    ys = F.transform(idx, lambda i: y0 + anchor(i) * F.lit(5.0e-4) + jit(i, 44))
    return eval_once(
        sup.select(k.alias("trace_id"), xs.alias("xs"), ys.alias("ys")),
        ["xs", "ys"],
    )


def q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tr = _dwell_trace_df(spark, sf_dir)
    p = tr.select(
        "trace_id", F.posexplode(F.arrays_zip("xs", "ys")).alias("i", "p")
    ).select(
        "trace_id", (F.col("i") + 1).alias("idx"),
        F.col("p.xs").alias("x"), F.col("p.ys").alias("y"),
    )
    w = Window.partitionBy("trace_id").orderBy("idx")
    dx = F.col("x") - F.lag("x").over(w)
    dy = F.col("y") - F.lag("y").over(w)
    brk = F.when(
        F.lag("x").over(w).isNull() | (dx * dx + dy * dy > F.lit(SP_THR2)),
        F.lit(1),
    ).otherwise(F.lit(0))
    seg = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = p.withColumn("seg", seg).groupBy("trace_id", "seg").agg(
        F.count("*").alias("n_pings"),
        F.min("idx").alias("i_start"),
        F.max("idx").alias("i_end"),
        F.round(F.avg("x"), 6).alias("cx6"),
        F.round(F.avg("y"), 6).alias("cy6"),
    )
    return runs.filter(F.col("n_pings") >= SP_MIN_PINGS).select(
        "trace_id", "i_start", "i_end", "n_pings", "cx6", "cy6"
    )


def dwell_trace_sql() -> str:
    """DuckDB mirror of _dwell_trace_df: `SELECT trace_id, xs, ys` — shared
    by every oracle that consumes the dwell-trace fixture (stay_points,
    od_matrix, map_match, co_dwell)."""
    from ..functions.geo import dlit as _dlit
    from . import base

    anchor = "CAST(i AS DOUBLE)"
    anchor_x = "CAST(i AS DOUBLE)"
    for lo, hi, off in SP_DWELL:
        anchor = (f"CASE WHEN i >= {lo} AND i <= {hi}"
                  f" THEN {_dlit(float(lo))} ELSE {anchor} END")
        anchor_x = (f"CASE WHEN i >= {lo} AND i <= {hi}"
                    f" THEN {_dlit(float(lo) + off)} ELSE {anchor_x} END")

    def jit(salt):
        return f"({base.u01_sql('k * 131 + i', salt)} - 5.0e-1) * 2.0e-6"

    return (
        f"SELECT k AS trace_id,"
        f" list_transform(range(1, {SP_N} + 1),"
        f" i -> x0 + ({anchor_x}) * {_dlit(SP_STEP)} + {jit(43)}) AS xs,"
        f" list_transform(range(1, {SP_N} + 1),"
        f" i -> y0 + ({anchor}) * 5.0e-4 + {jit(44)}) AS ys"
        f" FROM (SELECT k,"
        f" {_dlit(base.LON_MIN)} + 1.0e-1 + {base.u01_sql('k', 41)} * 6.0e-1 AS x0,"
        f" {_dlit(base.LAT_MIN)} + 1.0e-1 + {base.u01_sql('k', 42)} * 4.0e-1 AS y0"
        f" FROM (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier) s) t"
    )


def _sql_stay_points() -> str:
    from ..functions.geo import dlit as _dlit

    return (
        f"WITH tr AS ({dwell_trace_sql()}), "
        f"p AS (SELECT trace_id, i AS idx, xs[i] AS x, ys[i] AS y"
        f" FROM tr, range(1, {SP_N} + 1) r(i)), "
        f"st AS (SELECT trace_id, idx, x, y,"
        f" lag(x) OVER w AS px, lag(y) OVER w AS py"
        f" FROM p WINDOW w AS (PARTITION BY trace_id ORDER BY idx)), "
        f"bk AS (SELECT trace_id, idx, x, y,"
        f" CASE WHEN px IS NULL OR (x - px) * (x - px)"
        f" + (y - py) * (y - py) > {_dlit(SP_THR2)} THEN 1 ELSE 0 END AS brk"
        f" FROM st), "
        f"sg AS (SELECT trace_id, idx, x, y,"
        f" sum(brk) OVER (PARTITION BY trace_id ORDER BY idx"
        f" ROWS UNBOUNDED PRECEDING) AS seg FROM bk), "
        f"runs AS (SELECT trace_id, seg, count(*) AS n_pings,"
        f" min(idx) AS i_start, max(idx) AS i_end,"
        f" round(avg(x), 6) AS cx6, round(avg(y), 6) AS cy6"
        f" FROM sg GROUP BY trace_id, seg) "
        f"SELECT trace_id, i_start, i_end, n_pings, cx6, cy6"
        f" FROM runs WHERE n_pings >= {SP_MIN_PINGS}"
    )


QUERIES["stay_points"] = (q_stay_points, _sql_stay_points())


# ---------------------------------------------------------------------------
# od_matrix — origin→destination flows between zones, from stay points
# ---------------------------------------------------------------------------
# The mobility-analytics staple (OD matrices drive transit planning and the
# reference's fieldwork-allocation question "which AOI do mappers move to
# next"): consecutive stay points of a trace become a trip; trips aggregate
# to (zone_from, zone_to) counts. Composes two r5 operators — stay_points
# supplies the dwells, ZONES + the ray cast supply the zoning; zone
# assignment is first-match in declaration order ('none' when outside all),
# so overlapping zones stay deterministic in both engines.
#
# 100 TB story: runs entirely on the stay-point table (|traces|·dwells
# rows, already corpus-collapsed); the lead() window partitions by trace;
# the final agg carries ≤|zones|² keys through one exchange.
def _zone_case(x, y):
    from ..functions import geo as geofn

    z = F.lit("none")
    for zid, ring in reversed(list(ZONES.items())):
        z = F.when(geofn.point_in_fixed_ring(x, y, ring), F.lit(zid)) \
             .otherwise(z)
    return z


def q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    sp = q_stay_points(spark, sf_dir).withColumn(
        "zone", _zone_case(F.col("cx6"), F.col("cy6"))
    )
    w = Window.partitionBy("trace_id").orderBy("i_start")
    trips = sp.select(
        "trace_id",
        F.col("zone").alias("zone_from"),
        F.lead("zone").over(w).alias("zone_to"),
    ).filter(F.col("zone_to").isNotNull())
    return trips.groupBy("zone_from", "zone_to").agg(
        F.count("*").alias("n_trips")
    )


def _sql_od_matrix() -> str:
    from ..functions.geo import point_in_fixed_ring_sql

    case = "'none'"
    for zid, ring in reversed(list(ZONES.items())):
        case = (f"CASE WHEN {point_in_fixed_ring_sql('cx6', 'cy6', ring)}"
                f" THEN '{zid}' ELSE {case} END")
    return (
        f"WITH sp AS ({_sql_stay_points()}), "
        f"z AS (SELECT trace_id, i_start, {case} AS zone FROM sp), "
        f"trips AS (SELECT trace_id, zone AS zone_from,"
        f" lead(zone) OVER (PARTITION BY trace_id ORDER BY i_start)"
        f" AS zone_to FROM z) "
        f"SELECT zone_from, zone_to, count(*) AS n_trips FROM trips"
        f" WHERE zone_to IS NOT NULL GROUP BY zone_from, zone_to"
    )


QUERIES["od_matrix"] = (q_od_matrix, _sql_od_matrix())


# ---------------------------------------------------------------------------
# image_patches — ViT-style patchify over REAL decoded pixels
# ---------------------------------------------------------------------------
# The patch-embedding front end of every vision transformer: each decoded
# image splits into (H/P)×(W/P) non-overlapping P×P patches; per patch the
# pipeline emits integer channel sums — the sufficient statistic a
# mean-pool patch embedder (or a patch-level quality/blackness gate)
# consumes. Per-patch sums are integer-exact in both engines, and the
# DuckDB oracle replays splitmix64 + the QNT codec byte-for-byte, so the
# match proves the patch GEOMETRY (row-major (y,x,c) → (y//P, x//P)
# mapping) as well as the decode.
#
# 100 TB story: bytes→patches happens inside one mapInPandas pass — pixels
# reduce executor-side to (H/P·W/P) rows of five ints per image and the
# raw bytes never shuffle; downstream consumers (patch dedup, patch-level
# filtering, shard assembly) join on the slim (image_id, py, px) keys.
IP_P = 4  # patch edge: 16×16 fixture images → 4×4 grid of 4×4 patches


def patchify_sums(images: DataFrame, patch: int = IP_P) -> DataFrame:
    """(image_id, bytes, fmt) → one row per P×P patch: integer channel
    sums; the reshape is numpy view arithmetic, no copy. Undecodable
    images: no row."""

    def reduce(batch, pixels):
        import pandas as pd

        ids, rows = [], [np.zeros((0, 5), np.int64)]
        for iid, im in zip(batch["image_id"], pixels):
            if im is None:
                continue
            ny, nx = im.shape[0] // patch, im.shape[1] // patch
            # (ny, P, nx, P, 3) → sum over the two P axes
            sums = (im[: ny * patch, : nx * patch]
                    .reshape(ny, patch, nx, patch, 3)
                    .sum(axis=(1, 3), dtype=np.int64))
            yx = np.indices((ny, nx)).reshape(2, -1).T
            rows.append(np.hstack([yx, sums.reshape(-1, 3)]))
            ids += [iid] * (ny * nx)
        cols = np.vstack(rows).T
        return pd.DataFrame({"image_id": ids, **dict(zip(
            ["py", "px", "pr", "pg", "pb"], cols))})

    return map_decoded(
        images, reduce,
        "image_id string, py int, px int, pr long, pg long, pb long",
    )


def q_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..data import synth

    img = synth.synth_images(spark, TIS_N, with_bytes=True)
    return patchify_sums(img, IP_P)


def _sql_image_patches() -> str:
    row_bytes = TIS_W * 3
    return (
        f"WITH imgs AS (SELECT CAST(i AS BIGINT) AS i FROM range({TIS_N}) t(i)), "
        f"{_decoded_bytes_cte()}, "
        # byte position p in row-major (y, x, c): y = p // (W·3),
        # x = (p % (W·3)) // 3, c = p % 3 → patch cell (y//P, x//P)
        f"px AS (SELECT i, p // {row_bytes} AS y,"
        f" (p % {row_bytes}) // 3 AS x, p % 3 AS c, dv FROM dec) "
        f"SELECT 'img-' || CAST(i AS VARCHAR) AS image_id,"
        f" CAST(y // {IP_P} AS INT) AS py, CAST(x // {IP_P} AS INT) AS px,"
        f" CAST(sum(dv) FILTER (c = 0) AS BIGINT) AS pr,"
        f" CAST(sum(dv) FILTER (c = 1) AS BIGINT) AS pg,"
        f" CAST(sum(dv) FILTER (c = 2) AS BIGINT) AS pb"
        f" FROM px GROUP BY 1, 2, 3"
    )


QUERIES["image_patches"] = (q_image_patches, _sql_image_patches())


# ---------------------------------------------------------------------------
# tile_luma_hist — per-tile luma HISTOGRAM over real decoded pixels
# ---------------------------------------------------------------------------
# tile_image_stats proves channel SUMS survive the encode→decode ladder;
# this proves a weighted per-pixel TRANSFORM does: integer Rec.601 luma
# ((77 r + 150 g + 29 b) >> 8 — the JFIF/ITU fixed-point form) binned into
# four brightness quartiles and rolled up per map tile. The exposure/
# contrast audit a capture campaign runs per region (night/overexposed
# tiles), and the shape a dataset-curation gate consumes (histogram
# pruning). All arithmetic is integer, so both engines are exact; the
# DuckDB oracle replays splitmix64 + the QNT dequantization AND the luma
# fixed-point form per pixel — a cross-byte (3-bytes-per-pixel) recombination
# the channel-sum oracle never exercises.
#
# 100 TB story: pixels reduce to four longs per image inside mapInPandas
# (bytes never shuffle); the tile rollup rides slim (tile_id, h0..h3) rows
# with map-side combine — same cost class as tile_image_stats.


def _luma8(px):
    """Integer Rec.601 luma (77 r + 150 g + 29 b) >> 8, shape (h, w)."""
    p = px.astype(np.int64)
    return (77 * p[..., 0] + 150 * p[..., 1] + 29 * p[..., 2]) >> 8


def _luma_hist(px):
    return np.bincount(_luma8(px).ravel() >> 6, minlength=4)


def _decode_luma_hist(images: DataFrame) -> DataFrame:
    """(image_id, h0..h3): luma quartile counts; undecodable: no row."""
    return map_decoded(
        images, per_image(_luma_hist, ["h0", "h1", "h2", "h3"]),
        "image_id string, h0 long, h1 long, h2 long, h3 long",
    )


def q_tile_luma_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..data import synth

    img = synth.synth_images(spark, TIS_N, with_bytes=True)
    hist = _decode_luma_hist(img)
    grid = TileGrid(tile_m=TIS_TILE_M)
    keyed = img.select(
        "image_id", grid.tile_id(F.col("lon"), F.col("lat")).alias("tile_id")
    ).join(hist, "image_id")
    return keyed.groupBy("tile_id").agg(
        F.count("*").alias("n_images"),
        F.sum("h0").alias("lum_q0"),
        F.sum("h1").alias("lum_q1"),
        F.sum("h2").alias("lum_q2"),
        F.sum("h3").alias("lum_q3"),
    )


def _sql_tile_luma_hist() -> str:
    grid = TileGrid(tile_m=TIS_TILE_M)
    tile = grid.tile_id_sql("lon", "lat")
    return (
        f"WITH imgs AS (SELECT CAST(i AS BIGINT) AS i"
        f" FROM range({TIS_N}) t(i)), "
        f"{_decoded_bytes_cte()}, "
        # recombine the 3 bytes of pixel q = p//3 into fixed-point luma
        "lum AS (SELECT i, p // 3 AS q,"
        " CAST(sum(CASE WHEN p % 3 = 0 THEN 77 * dv"
        "              WHEN p % 3 = 1 THEN 150 * dv"
        "              ELSE 29 * dv END) // 256 AS BIGINT) AS luma"
        " FROM dec GROUP BY i, p // 3), "
        "hist AS (SELECT i,"
        " count(*) FILTER (luma // 64 = 0) AS h0,"
        " count(*) FILTER (luma // 64 = 1) AS h1,"
        " count(*) FILTER (luma // 64 = 2) AS h2,"
        " count(*) FILTER (luma // 64 = 3) AS h3"
        " FROM lum GROUP BY i), "
        f"pos AS ({_synth_pos_sql(TIS_N)}), "
        f"tiled AS (SELECT i, {tile} AS tile_id FROM pos) "
        "SELECT tile_id, count(*) AS n_images,"
        " CAST(sum(h0) AS BIGINT) AS lum_q0,"
        " CAST(sum(h1) AS BIGINT) AS lum_q1,"
        " CAST(sum(h2) AS BIGINT) AS lum_q2,"
        " CAST(sum(h3) AS BIGINT) AS lum_q3"
        " FROM tiled JOIN hist USING (i) GROUP BY tile_id"
    )


QUERIES["tile_luma_hist"] = (q_tile_luma_hist, _sql_tile_luma_hist())


# ---------------------------------------------------------------------------
# hog_hist — per-image gradient-orientation histogram (the HOG front end)
# ---------------------------------------------------------------------------
# image_sharpness proves total gradient ENERGY survives the decode ladder;
# this proves per-pixel gradient DIRECTION does — the first stage of every
# HOG/edge-based feature extractor and the cheapest "is there structure and
# which way does it point" gate a curation pipeline runs on pixels. Central
# differences on the integer Rec.601 luma plane, classified into 8
# orientation classes by the pure-comparison coding
#   class = [dx>0] + 2·[dy>0] + 4·[|dx|≥|dy|]
# (a fixed relabeling of the 8 half-octants with ties folded
# deterministically — chosen over atan2 octants because it is EXACT
# integer logic both engines evaluate identically; flat pixels dx=dy=0
# are counted separately, not binned). Interior 14×14 of the 16×16 frame.
#
# 100 TB story: pixels reduce to 9 longs per image inside ONE mapInPandas
# pass (bytes never shuffle); the oracle replays splitmix64 + the QNT
# codec + the luma recombination per pixel, then takes the SAME central
# differences via q±1 / q±16 self-joins on the byte-position lattice —
# the first oracle to replay a 2-D neighborhood op in pure SQL.


def _hog(px):
    luma = _luma8(px)
    dx = luma[1:-1, 2:] - luma[1:-1, :-2]
    dy = luma[2:, 1:-1] - luma[:-2, 1:-1]
    flat_m = (dx == 0) & (dy == 0)
    cls = ((dx > 0).astype(np.int64)
           + 2 * (dy > 0).astype(np.int64)
           + 4 * (np.abs(dx) >= np.abs(dy)).astype(np.int64))
    return np.append(np.bincount(cls[~flat_m], minlength=8), flat_m.sum())


def _decode_hog(images: DataFrame) -> DataFrame:
    """(image_id, o0..o7, n_flat) per image; undecodable images: no row."""
    names = [f"o{b}" for b in range(8)] + ["n_flat"]
    return map_decoded(
        images, per_image(_hog, names),
        "image_id string, " + ", ".join(f"{n} long" for n in names),
    )


def q_hog_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..data import synth

    img = synth.synth_images(spark, TIS_N, with_bytes=True)
    return _decode_hog(img)


def _sql_hog_hist() -> str:
    w = TIS_W
    cls = (
        "(CASE WHEN dx > 0 THEN 1 ELSE 0 END)"
        " + 2 * (CASE WHEN dy > 0 THEN 1 ELSE 0 END)"
        " + 4 * (CASE WHEN abs(dx) >= abs(dy) THEN 1 ELSE 0 END)"
    )
    octs = ", ".join(
        f"CAST(count(*) FILTER (NOT (dx = 0 AND dy = 0)"
        f" AND {cls} = {b}) AS BIGINT) AS o{b}"
        for b in range(8)
    )
    return (
        f"WITH imgs AS (SELECT CAST(i AS BIGINT) AS i"
        f" FROM range({TIS_N}) t(i)), "
        f"{_decoded_bytes_cte()}, "
        "lum AS (SELECT i, p // 3 AS q,"
        " CAST(sum(CASE WHEN p % 3 = 0 THEN 77 * dv"
        "              WHEN p % 3 = 1 THEN 150 * dv"
        "              ELSE 29 * dv END) // 256 AS BIGINT) AS luma"
        " FROM dec GROUP BY i, p // 3), "
        "grad AS (SELECT a.i, a.q,"
        " bp.luma - bm.luma AS dx, cp.luma - cm.luma AS dy"
        " FROM lum a"
        " JOIN lum bp ON bp.i = a.i AND bp.q = a.q + 1"
        " JOIN lum bm ON bm.i = a.i AND bm.q = a.q - 1"
        f" JOIN lum cp ON cp.i = a.i AND cp.q = a.q + {w}"
        f" JOIN lum cm ON cm.i = a.i AND cm.q = a.q - {w}"
        f" WHERE (a.q % {w}) BETWEEN 1 AND {w - 2}"
        f" AND (a.q // {w}) BETWEEN 1 AND {TIS_H - 2}) "
        f"SELECT 'img-' || CAST(i AS VARCHAR) AS image_id, {octs},"
        " CAST(count(*) FILTER (dx = 0 AND dy = 0) AS BIGINT) AS n_flat"
        " FROM grad GROUP BY i"
    )


QUERIES["hog_hist"] = (q_hog_hist, _sql_hog_hist())


# ---------------------------------------------------------------------------
# gps_spikes — single-fix outlier detection (the A-B-A telemetry cleaner)
# ---------------------------------------------------------------------------
# The first cleaning pass of every GPS/telemetry ingest: a fix whose legs
# to BOTH neighbors exceed the spike gate while the neighbors sit close to
# each other is a reflection/multipath artifact, not motion — drop it and
# the trace heals (the A-B-A test; speed gates need timestamps, this form
# doesn't). Spikes are PLANTED in the fixture (trace_id % 5 displaces
# point 12 by +0.01° ≈ 1.1 km against ~100 m legs), so the detector's
# output is exact planted truth, not an empty-result vacuity. Distances
# floor to integer mm (order-independent, engine-exact).
#
# Scale shape: pure array arithmetic — one lateral explode of interior
# indices, three haversines per fix in codegen, no windows (the neighbors
# live in the SAME row's arrays), no joins, no shuffle at all before the
# (tiny) output.
# Gate sits between the spiked point's neighbor gap (p11→p13 spans the
# dwell exit, ~1022 m measured) and the spike legs (~3-4 km): natural
# commute legs reach 19.5 km but their skip ≈ leg sum (forward motion),
# so the ds<gate arm rejects them — measured, the reason the A-B-A form
# needs no speed/timestamp at all.
SPIKE_GATE_M = 1_500.0
SPIKE_EVERY = 5       # trace_id % SPIKE_EVERY == 0 gets the planted spike
SPIKE_IDX = 12
SPIKE_OFF_DEG = 0.05


def _spiked_trace_df(spark: SparkSession, sf_dir: str):
    tr = _dwell_trace_df(spark, sf_dir)
    return tr.select(
        "trace_id",
        F.when(
            F.col("trace_id") % SPIKE_EVERY == 0,
            F.transform(
                "xs",
                lambda x, j: F.when(
                    j == SPIKE_IDX - 1, x + F.lit(SPIKE_OFF_DEG)
                ).otherwise(x),
            ),
        ).otherwise(F.col("xs")).alias("xs"),
        "ys",
    )


def q_gps_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import geo

    tr = _spiked_trace_df(spark, sf_dir)
    pts = tr.select(
        "trace_id",
        F.explode(F.sequence(F.lit(2), F.lit(SP_N - 1))).alias("i"),
        "xs", "ys",
    )

    def hav(i1, i2):
        return geo.haversine_m(
            F.element_at("xs", i1), F.element_at("ys", i1),
            F.element_at("xs", i2), F.element_at("ys", i2),
        )

    i = F.col("i")
    d_prev = hav(i - 1, i)
    d_next = hav(i, i + 1)
    d_skip = hav(i - 1, i + 1)
    g = F.lit(SPIKE_GATE_M)
    return pts.where(
        (d_prev > g) & (d_next > g) & (d_skip < g)
    ).select(
        "trace_id",
        F.col("i").cast("int").alias("spike_idx"),
        F.floor(d_prev * F.lit(1000.0)).cast("long").alias("leg_in_mm"),
        F.floor(d_next * F.lit(1000.0)).cast("long").alias("leg_out_mm"),
    )


def _sql_gps_spikes() -> str:
    from ..functions.geo import dlit as _dlit
    from ..functions.geo import haversine_m_sql

    spiked_xs = (
        f"CASE WHEN trace_id % {SPIKE_EVERY} = 0 THEN"
        f" list_transform(list_zip(xs, range(1, len(xs) + 1)),"
        f" s -> CASE WHEN s[2] = {SPIKE_IDX}"
        f" THEN s[1] + {_dlit(SPIKE_OFF_DEG)} ELSE s[1] END)"
        f" ELSE xs END"
    )
    hv = haversine_m_sql
    d_prev = hv("xs[i - 1]", "ys[i - 1]", "xs[i]", "ys[i]")
    d_next = hv("xs[i]", "ys[i]", "xs[i + 1]", "ys[i + 1]")
    d_skip = hv("xs[i - 1]", "ys[i - 1]", "xs[i + 1]", "ys[i + 1]")
    g = _dlit(SPIKE_GATE_M)
    return (
        f"WITH tr0 AS ({dwell_trace_sql()}), "
        f"tr AS (SELECT trace_id, {spiked_xs} AS xs, ys FROM tr0), "
        f"pts AS (SELECT trace_id, i, xs, ys FROM tr,"
        f" unnest(range(2, {SP_N})) t(i)) "
        f"SELECT trace_id, CAST(i AS INT) AS spike_idx,"
        f" CAST(floor(({d_prev}) * {_dlit(1000.0)}) AS BIGINT)"
        f" AS leg_in_mm,"
        f" CAST(floor(({d_next}) * {_dlit(1000.0)}) AS BIGINT)"
        f" AS leg_out_mm"
        f" FROM pts WHERE ({d_prev}) > {g} AND ({d_next}) > {g}"
        f" AND ({d_skip}) < {g}"
    )


QUERIES["gps_spikes"] = (q_gps_spikes, _sql_gps_spikes())
