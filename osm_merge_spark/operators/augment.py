"""Deterministic image augmentation — the training-data fan-out step
(flip / rotate / center-crop), over the engine's own codec.

Contrastive and supervised vision training multiplies each source image
into several deterministic views; at 10^12 rows the fan-out must happen
executor-side with no shuffle (each output row derives from exactly one
input row). This operator decodes once per image, applies every requested
view to the in-memory array, and re-encodes with the same codec — one
`mapInPandas` projection, bytes never join anything.

All views are exact pixel-index permutations/selections (no resampling, no
float math), so round-trip identities hold bit-for-bit and are pinned by
tests: hflip∘hflip = id, rot90⁴ = id, crop keeps the exact center block.
Non-PNG/QNT formats yield no rows for that image (the payload reaches
the reduction as None, see multimodal.map_decoded).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType,
)

AUG_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("aug", StringType()),
    StructField("bytes", BinaryType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("fmt", StringType()),
])

CROP_FRAC = 2  # center-crop keeps the middle 1/CROP_FRAC of each side


def apply_view(px: np.ndarray, aug: str) -> np.ndarray:
    """One named deterministic view of an (h, w, 3) array."""
    if aug == "identity":
        return px
    if aug == "hflip":
        return px[:, ::-1]
    if aug == "vflip":
        return px[::-1, :]
    if aug == "rot90":
        return np.rot90(px)  # CCW, axes (0, 1)
    if aug == "crop":
        h, w, _ = px.shape
        ch, cw = h // CROP_FRAC, w // CROP_FRAC
        y0, x0 = (h - ch) // 2, (w - cw) // 2
        return px[y0 : y0 + ch, x0 : x0 + cw]
    raise ValueError(f"unknown aug {aug!r}")


DEFAULT_VIEWS = ("identity", "hflip", "vflip", "rot90", "crop")


def augment_images(images: DataFrame,
                   views: tuple[str, ...] = DEFAULT_VIEWS) -> DataFrame:
    """(image_id, bytes, fmt) → one row per (image, view): decode once,
    emit every view re-encoded. Pure projection — no shuffle at any scale.
    An undecodable image yields no row."""
    from .multimodal import map_decoded

    views = tuple(views)

    def reduce(batch, pixels):
        import pandas as pd

        from ..data import images as codec

        rows = []
        for iid, fmt, px in zip(batch["image_id"], batch["fmt"], pixels):
            if px is None:
                continue
            for aug in views:
                v = np.ascontiguousarray(apply_view(px, aug))
                rows.append((iid, aug, codec.encode(v, fmt), v.shape[1],
                             v.shape[0], fmt))
        return pd.DataFrame(rows, columns=AUG_SCHEMA.names)

    return map_decoded(images, reduce, AUG_SCHEMA)
