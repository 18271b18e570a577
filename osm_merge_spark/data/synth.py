"""Deterministic, Spark-native synthesis of the engine's input tables.

Everything is derived per-row from md5 of the row index — no RNG state, no
driver-side loops — so synthesis itself scales to 10^12 rows on a cluster
(spark.range → column expressions; the only Python is the optional image
payload encoder, an Arrow pandas UDF).

Tables (schemas per /root/repo/FIXTURES.md and BASELINE.json input_hint):
  images : image_id, bytes?, w, h, fmt, caption, phash, lon, lat
  layer  : feature_id, version, geom_type, xs, ys, tags, caption, src_img*
  aoi    : one polygon ring (module constants)

(*) src_img records which image a planted feature was derived from — ground
truth for tests ONLY; the engine never reads it.

Planted structure (match classes, known by construction — FIXTURES.md §2):
  i%10 == 0,1 : same caption, jittered within ~threshold/2  → match, hits≥1
  i%10 == 2,3 : 1-char caption typo (indel ratio ≈ 93 > 85) → match, hits≥1
  i%10 == 4   : exact duplicate position, same caption      → match, dist=0
  i%10 == 5   : within threshold, unrelated caption         → match by dist,
                hits=0 (reference ladder conflator.py:293-298)
  i%10 == 6   : matching caption but planted FAR away       → NEW (distance
                gates before tags, conflator.py:188)
  i%10 == 7-9 : no layer feature at all                     → NEW
Plus a 20% hot cluster inside one grid cell (skew-split test) and decoy
layer features derived from no image.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

from ..functions import hashes

# AOI bounding box (Wyoming-ish, mirrors the reference's test region scale)
LON_MIN, LON_MAX = -109.2, -108.2
LAT_MIN, LAT_MAX = 43.4, 44.0
HOT_LON, HOT_LAT = -108.70003, 43.70007  # hot cluster center (one cell)
HOT_FRAC_MOD = 5  # i % 5 == 0 → hot (20%)

# AOI polygon: the bbox with the north-east corner cut off, so a slice of
# the images falls outside (boundary-clip test, geosupport.py:164 semantics).
AOI_RING_X = [LON_MIN, LON_MAX, LON_MAX, LON_MIN + 0.7, LON_MIN, LON_MIN]
AOI_RING_Y = [LAT_MIN, LAT_MIN, LAT_MAX - 0.25, LAT_MAX, LAT_MAX - 0.1, LAT_MIN]

_W1 = ["Cedar", "Pine", "Bear", "Elk", "Aspen", "Juniper", "Willow", "Eagle",
       "Stone", "Birch", "Maple", "Otter", "Falcon", "Granite", "Shadow", "Silver"]
_W2 = ["Lake", "Ridge", "Creek", "Canyon", "Mesa", "Spring", "Hollow", "Valley"]
_SUF = ["Road", "Trail", "Lane", "Loop", "Drive", "Pass"]

DEFAULT_THRESHOLD_M = 7.0  # reference class default (conflator.py:357)

_DEG_PER_M_LAT = 1.0 / 110_574.0


def _h(col, salt: str, nchars: int = 8):
    return hashes.md5i(F.concat(F.lit(salt), col.cast("string")), nchars)


def _pick(arr: list[str], h):
    return F.element_at(F.array(*[F.lit(w) for w in arr]), (h % F.lit(len(arr))).cast("int") + F.lit(1))


def _caption(i):
    return F.concat_ws(" ", _pick(_W1, _h(i, "w1")), _pick(_W2, _h(i, "w2")), _pick(_SUF, _h(i, "w3")))


def _hot_spread(n: int) -> float:
    """Hot-cluster box side (degrees), scaled with sqrt(n) so the cluster
    DENSITY is constant in n: the hot cells stay ~3 orders of magnitude
    denser than the uniform background (real skew), but per-image candidate
    counts — and therefore join work — stay O(1), not O(n). A fixed box
    would make the hot cross-product quadratic and no partitioning strategy
    could save it (it's genuinely O(n²) output)."""
    import math

    return 0.0009 * math.sqrt(max(n, 2000) / 2000.0)


def _position(i, spread: float = 0.0009):
    """(lon, lat) columns for image index i — hot cluster or uniform AOI."""
    h1, h2 = _h(i, "lon"), _h(i, "lat")
    u1 = (h1 % F.lit(1_000_000)).cast("double") / F.lit(1_000_000.0)
    u2 = (h2 % F.lit(1_000_000)).cast("double") / F.lit(1_000_000.0)
    hot = (i % F.lit(HOT_FRAC_MOD)) == F.lit(0)
    lon = F.when(hot, F.lit(HOT_LON) + (u1 - F.lit(0.5)) * F.lit(spread)) \
        .otherwise(F.lit(LON_MIN) + u1 * F.lit(LON_MAX - LON_MIN))
    lat = F.when(hot, F.lit(HOT_LAT) + (u2 - F.lit(0.5)) * F.lit(spread)) \
        .otherwise(F.lit(LAT_MIN) + u2 * F.lit(LAT_MAX - LAT_MIN))
    return lon, lat


def synth_images(spark: SparkSession, n: int, with_bytes: bool = False,
                 w: int = 16, h: int = 16) -> DataFrame:
    """The primary table per BASELINE.json input_hint."""
    df = spark.range(n).withColumnRenamed("id", "i")
    lon, lat = _position(F.col("i"), _hot_spread(n))
    out = df.select(
        F.concat(F.lit("img-"), F.col("i")).alias("image_id"),
        F.lit(w).cast("int").alias("w"),
        F.lit(h).cast("int").alias("h"),
        F.when(F.col("i") % 3 == 0, F.lit("qnt")).otherwise(F.lit("png")).alias("fmt"),
        _caption(F.col("i")).alias("caption"),
        _h(F.col("i"), "ph", 15).alias("phash"),
        lon.alias("lon"), lat.alias("lat"),
        F.col("i"),
    )
    if with_bytes:
        out = out.withColumn("bytes", _encode_bytes_udf(F.col("i"), F.col("w"), F.col("h"), F.col("fmt")))
    return out


def _encode_bytes_udf(i, w, h, fmt):
    @pandas_udf(BinaryType())
    def _enc(iv: pd.Series, wv: pd.Series, hv: pd.Series, fv: pd.Series) -> pd.Series:
        from . import images as codec
        out = []
        for k in range(len(iv)):
            px = codec.pixels_for_seed(int(iv.iat[k]), int(wv.iat[k]), int(hv.iat[k]))
            out.append(codec.encode(px, fv.iat[k]))
        return pd.Series(out)

    return _enc(i, w, h, fmt)


def synth_layer(spark: SparkSession, n_images: int, threshold_m: float = DEFAULT_THRESHOLD_M,
                decoy_frac: float = 0.1) -> DataFrame:
    """The existing/'OSM' layer, derived from the image stream with planted
    match classes (see module docstring)."""
    img = synth_images(spark, n_images)
    cls = F.col("i") % F.lit(10)
    has_feature = cls <= F.lit(6)
    jit = threshold_m * 0.45 * _DEG_PER_M_LAT
    uj1 = ((_h(F.col("i"), "j1") % F.lit(1000)).cast("double") / F.lit(500.0) - F.lit(1.0))
    uj2 = ((_h(F.col("i"), "j2") % F.lit(1000)).cast("double") / F.lit(500.0) - F.lit(1.0))
    dlon = F.when(cls == 4, F.lit(0.0)).when(cls == 6, F.lit(0.08)).otherwise(uj1 * F.lit(jit))
    dlat = F.when(cls == 4, F.lit(0.0)).when(cls == 6, F.lit(0.08)).otherwise(uj2 * F.lit(jit))
    typo_cap = F.concat(F.substring(F.col("caption"), 1, 2), F.lit("x"),
                        F.expr("substring(caption, 4)"))
    cap = (F.when(cls.isin(2, 3), typo_cap)
           .when(cls == 5, F.lit("Unrelated Gravel Pit"))
           .otherwise(F.col("caption")))
    flon, flat = F.col("lon") + dlon, F.col("lat") + dlat
    is_line = cls == 1
    seg = 30.0 * _DEG_PER_M_LAT  # ~30 m segments for planted lines
    xs = F.when(is_line, F.array(flon - F.lit(seg), flon, flon + F.lit(seg))).otherwise(F.array(flon))
    ys = F.when(is_line, F.array(flat - F.lit(seg * 0.3), flat, flat + F.lit(seg * 0.3))).otherwise(F.array(flat))

    planted = (img.filter(has_feature).select(
        (F.col("i") + 1).alias("feature_id"),
        ((_h(F.col("i"), "v") % 3) + 1).cast("int").alias("version"),
        F.when(is_line, F.lit("LineString")).otherwise(F.lit("Point")).alias("geom_type"),
        xs.alias("xs"), ys.alias("ys"),
        F.map_from_arrays(
            F.array(F.lit("name"), F.lit("highway"), F.lit("surface")),
            F.array(cap, F.when(is_line, F.lit("track")).otherwise(F.lit("path")), F.lit("dirt")),
        ).alias("tags"),
        cap.alias("caption"),
        F.col("i").alias("src_img"),
    ))

    n_decoys = int(n_images * decoy_frac)
    dec = spark.range(n_decoys).withColumnRenamed("id", "i")
    dlon2, dlat2 = _position((F.col("i") + F.lit(7_777_777)), _hot_spread(n_images))
    decoys = dec.select(
        (F.col("i") + 1 + n_images).alias("feature_id"),
        F.lit(1).alias("version"),
        F.lit("Point").alias("geom_type"),
        F.array(dlon2).alias("xs"), F.array(dlat2).alias("ys"),
        F.map_from_arrays(F.array(F.lit("name")),
                          F.array(_caption(F.col("i") + F.lit(9_999_999)))).alias("tags"),
        _caption(F.col("i") + F.lit(9_999_999)).alias("caption"),
        F.lit(None).cast("long").alias("src_img"),
    )
    return planted.unionByName(decoys)


# -- audio (pcm16, third modality) --------------------------------------------
AUDIO_SEED_SALT = 7       # distinct splitmix stream from the pixel salt (+1)
AUDIO_BASE_SAMPLES = 1024
AUDIO_STEP_SAMPLES = 256  # n_samples = base + (i % 5) * step — varies the
#                           window count so n_windows isn't a constant


def audio_pcm16_for_seed(i: int, n_samples: int) -> bytes:
    """Deterministic 16-bit LE mono PCM payload for audio row i — the same
    splitmix64 stream data/images.pixels_for_seed draws from, at a
    different salt. n_samples must be a multiple of 4 (whole words)."""
    import numpy as np

    from .images import _splitmix

    assert n_samples % 4 == 0
    nw = (2 * n_samples) // 8
    words = _splitmix(
        np.arange(nw, dtype=np.uint64)
        + np.uint64(i * 2654435761 + AUDIO_SEED_SALT)
    )
    return words.view(np.uint8)[: 2 * n_samples].tobytes()


def synth_audio(spark: SparkSession, n: int) -> DataFrame:
    """(audio_id, fmt='pcm16', bytes, i) — payloads generated executor-side
    (Arrow-batched), never on the driver."""
    df = spark.range(n).withColumnRenamed("id", "i")

    @pandas_udf(BinaryType())
    def _pcm(iv: pd.Series) -> pd.Series:
        return pd.Series([
            audio_pcm16_for_seed(
                int(k),
                AUDIO_BASE_SAMPLES + (int(k) % 5) * AUDIO_STEP_SAMPLES,
            )
            for k in iv
        ])

    return df.select(
        F.concat(F.lit("aud-"), F.col("i")).alias("audio_id"),
        F.lit("pcm16").alias("fmt"),
        _pcm(F.col("i")).alias("bytes"),
        F.col("i"),
    )
