"""Multimodal payload operators — image bytes as opaque binary columns with
typed metadata (BASELINE.json input_hint schema), processed in Arrow
batches via mapInPandas.

Design rules for 10^12-image scale:
  - payload bytes NEVER enter joins/shuffles of the conflation path —
    operators here run on slim (image_id, bytes, w, h, fmt) projections
    and results re-attach by image_id equi-join (operators re-shuffle ids,
    not pixels);
  - every pixel operator is a reduction on `map_decoded`, the one
    mapInPandas that decodes each payload once per Arrow batch and hands
    the whole batch to NumPy;
  - codecs are the engine's own deterministic PNG/QNT (data/images.py);
    formats needing external libs (JPEG) raise NotImplementedError in the
    codec, and map_decoded hands such a payload to the reduction as None;
    video frame-sampling is a stub that raises.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, DoubleType, IntegerType, StringType, StructField,
    StructType,
)

from ..data import images as codec

DECODE_STATS_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("mean_r", DoubleType()),
    StructField("mean_g", DoubleType()),
    StructField("mean_b", DoubleType()),
    StructField("decode_ok", BooleanType()),
])

VERIFY_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("psnr_db", DoubleType()),
    StructField("caption_ok", BooleanType()),
    StructField("ok", BooleanType()),
])

RESIZE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("bytes", BinaryType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("fmt", StringType()),
])


def map_decoded(images: DataFrame, reduce, schema, carry=()) -> DataFrame:
    """The one executor-side image decode: a mapInPandas over
    (image_id, *carry, bytes, fmt) that decodes each payload of an Arrow
    batch once and hands the whole batch to `reduce(batch, pixels)`.

    `batch` is the pandas frame of (image_id, *carry, fmt); `pixels` holds
    one (h, w, 3) uint8 array per row, or None where the codec has no
    decoder for the row's fmt (NotImplementedError). Any other decode
    error fails the task. `reduce` returns a pandas frame of `schema`; its
    docstring says what a None yields."""

    def run(batches):
        for batch in batches:
            pixels = []
            for buf, fmt in zip(batch.pop("bytes"), batch["fmt"]):
                try:
                    pixels.append(codec.decode(bytes(buf), fmt))
                except NotImplementedError:
                    pixels.append(None)
            yield reduce(batch, pixels)

    return images.select("image_id", *carry, "bytes", "fmt").mapInPandas(
        run, schema=schema
    )


def per_image(fn, names):
    """A map_decoded reduction from fn(px) → the integer values of `names`
    for one image, emitted after the batch's carried columns. An
    undecodable image (None) yields no row."""

    def reduce(batch, pixels):
        keep = [p is not None for p in pixels]
        vals = pd.DataFrame([fn(p) for p in pixels if p is not None],
                            columns=names, dtype="int64")
        carried = batch.loc[keep].drop(columns="fmt").reset_index(drop=True)
        return pd.concat([carried, vals], axis=1)

    return reduce


def _sums(px):
    """Integer per-channel pixel sums of one image."""
    return px.reshape(-1, 3).sum(axis=0, dtype=np.int64)


# (sr, sg, sb) per decodable image, after the carried columns
channel_sums = per_image(_sums, ["sr", "sg", "sb"])


def _channel_means(batch, pixels):
    """Per-channel means; an undecodable image yields NaN means (null in
    Spark: Arrow reads a pandas NaN as null) and decode_ok false."""
    nan = np.full(3, np.nan)
    m = np.array([nan if p is None else p.reshape(-1, 3).mean(axis=0)
                  for p in pixels]).reshape(-1, 3)
    return pd.DataFrame({
        "image_id": batch["image_id"], "mean_r": m[:, 0], "mean_g": m[:, 1],
        "mean_b": m[:, 2], "decode_ok": [p is not None for p in pixels],
    })


def decode_stats(images: DataFrame) -> DataFrame:
    """Per-image decode + channel means. Input: (image_id, bytes, fmt)."""
    return map_decoded(images, _channel_means, DECODE_STATS_SCHEMA)


def verify_payload(images: DataFrame, psnr_min: float = 40.0) -> DataFrame:
    """X15: the per-row invariant — decoded pixels vs the deterministic
    reference pixels (PSNR ≥ psnr_min; ∞ for lossless) + caption equality
    under re-synthesis. Input: synth table with (image_id, i, w, h, fmt,
    bytes, caption). An undecodable image is not ok, with a NaN psnr_db
    (null in Spark)."""

    def expected_caption(i: int) -> str:
        """Python mirror of synth._caption (md5-pick word chain) — an
        independent recomputation, not a tautology."""
        import hashlib

        from ..data.synth import _SUF, _W1, _W2

        def pick(arr, salt):
            h = int(hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:8], 16)
            return arr[h % len(arr)]

        return f"{pick(_W1, 'w1')} {pick(_W2, 'w2')} {pick(_SUF, 'w3')}"

    def reduce(batch, pixels):
        rows = []
        for iid, i, w, h, cap, got in zip(batch["image_id"], batch["i"],
                                          batch["w"], batch["h"],
                                          batch["caption"], pixels):
            psnr = float("nan") if got is None else codec.psnr_db(
                codec.pixels_for_seed(int(i), int(w), int(h)), got)
            cap_ok = bool(cap == expected_caption(int(i)))
            rows.append((iid, psnr, cap_ok, cap_ok and psnr >= psnr_min))
        return pd.DataFrame(rows, columns=VERIFY_SCHEMA.names)

    return map_decoded(images, reduce, VERIFY_SCHEMA,
                       carry=("i", "w", "h", "caption"))


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize, re-encoded with the same fmt — pure NumPy
    index arithmetic (no image library needed). An undecodable image
    yields no row."""
    from .phash import resize_nn

    def reduce(batch, pixels):
        rows = [(iid, codec.encode(resize_nn(px, out_h, out_w), fmt), out_w,
                 out_h, fmt)
                for iid, fmt, px in zip(batch["image_id"], batch["fmt"], pixels)
                if px is not None]
        return pd.DataFrame(rows, columns=RESIZE_SCHEMA.names)

    return map_decoded(images, reduce, RESIZE_SCHEMA)


def frame_sample(videos: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame sampling — STUB: no video codec ships in this
    environment. The operator contract (schema + partition shape) is real;
    the decode step raises."""

    def run(batches):
        raise NotImplementedError(
            "video decode requires an external codec library not present "
            "in this environment; plumbing is schema-complete"
        )
        yield  # pragma: no cover

    return videos.mapInPandas(run, schema=videos.schema)


def attach_payload(slim_result: DataFrame, images_with_bytes: DataFrame,
                   key: str = "image_id") -> DataFrame:
    """Re-attach the binary payload AFTER the conflation/join pipeline —
    the join shuffles ids + metadata only; bytes move once, here."""
    return slim_result.join(
        images_with_bytes.select(key, "bytes"), key, "left"
    )


def tile_image_stats(images_with_bytes: DataFrame, grid=None) -> DataFrame:
    """Raster rollup over REAL pixels: decode each image (Arrow-batched),
    assign its covering tile (pure arithmetic — tiles.assign_tiles), and
    aggregate per-tile image counts + mean channel intensities — the
    "statistics per map tile" product of the raster↔vector assignment
    (north rule J10 composed with the decode path).

    Scale shape: pixels never shuffle — decode_stats reduces each image to
    3 doubles executor-side, the tile key is a projection, and the groupBy
    ships 4 numbers per image. Input: (image_id, bytes, fmt, lon, lat)."""
    from ..functions.cells import TileGrid
    from .tiles import assign_tiles

    grid = grid or TileGrid(tile_m=20000.0)
    stats = decode_stats(images_with_bytes.select("image_id", "bytes", "fmt"))
    keyed = assign_tiles(
        images_with_bytes.select("image_id", "lon", "lat"), grid
    ).join(stats, "image_id")
    return (
        keyed.filter(F.col("decode_ok"))
        .groupBy("tile_id")
        .agg(
            F.count("*").alias("n_images"),
            F.round(F.avg("mean_r"), 4).alias("avg_r"),
            F.round(F.avg("mean_g"), 4).alias("avg_g"),
            F.round(F.avg("mean_b"), 4).alias("avg_b"),
        )
    )


def audio_features(audio: DataFrame, window: int = 1024) -> DataFrame:
    """Audio feature extraction over opaque binary payloads — the third
    modality of the image/audio/video triplet.

    fmt='pcm16' (raw 16-bit little-endian mono) decodes FOR REAL — raw PCM
    needs no codec library, just a dtype view — and reduces to
    integer-exact features executor-side: sample count, per-file energy
    (Σ s² as int64 — no float accumulation), peak |amplitude|, count of
    clipped samples, and the number of full analysis windows. Compressed
    formats (mp3/flac/ogg) follow the engine's honest env-limit policy:
    schema-complete plumbing, decode raises NotImplementedError.

    100 TB shape: bytes → 5 longs inside one mapInPandas projection;
    payloads never shuffle, features join by id downstream like
    decode_stats' image moments."""

    def run(batches):
        for pdf in batches:
            out = {"audio_id": [], "n_samples": [], "energy": [],
                   "peak": [], "n_clipped": [], "n_windows": []}
            for aid, buf, fmt in zip(pdf["audio_id"], pdf["bytes"],
                                     pdf["fmt"]):
                if fmt != "pcm16":
                    raise NotImplementedError(
                        f"audio codec {fmt!r} requires an external library "
                        "not present in this environment; pcm16 is the "
                        "real decode path"
                    )
                s = np.frombuffer(bytes(buf), dtype="<i2").astype(np.int64)
                out["audio_id"].append(aid)
                out["n_samples"].append(int(s.size))
                out["energy"].append(int((s * s).sum()))
                out["peak"].append(int(np.abs(s).max()) if s.size else 0)
                out["n_clipped"].append(int((np.abs(s) >= 32767).sum()))
                out["n_windows"].append(int(s.size // window))
            yield pd.DataFrame(out)

    return audio.select("audio_id", "bytes", "fmt").mapInPandas(
        run,
        schema="audio_id string, n_samples long, energy long, peak long,"
               " n_clipped long, n_windows long",
    )
