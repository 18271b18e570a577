"""Pixel-derived perceptual hash (DCT pHash) — computed from the image
BYTES, not carried as metadata.

The input contract ships a precomputed phash:int64 column and
`operators/dedup.phash_near_dup` dedups on it; this module closes the loop
for corpora that arrive WITHOUT one: decode → luma → resize 32×32 → 2-D
DCT-II → 8×8 low-frequency block → bit i = coef_i > median (the classic
pHash construction, matching the public `imagehash.phash` semantics:
median over the full 8×8 block including DC).

Scale design (10^12 images):
  - decode+DCT run as ONE `mapInPandas` projection over a slim
    (image_id, bytes, fmt) scan — no shuffle, no join; the hash re-attaches
    downstream by image_id exactly like `multimodal.attach_payload`;
  - the DCT is a whole-Arrow-batch tensor contraction (two matmuls over a
    stacked (B,32,32) array), not a per-image Python transform — the only
    per-image Python is the codec call itself;
  - the output is 8 bytes/row; the banded near-dup join downstream never
    sees pixels.

Reference parity: the reference has no pixel hashing (images are out of
scope for osm-merge); this is a training-data-pipeline operator per the
LLM addendum (image near-dup) and BASELINE.json's image+caption contract.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

PHASH_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("phash_px", LongType()),
])

_N = 32       # DCT input side (resize target)
_LOW = 8      # low-frequency block side → 64 bits


def dct_matrix(n: int = _N) -> np.ndarray:
    """Orthonormal DCT-II matrix: X_dct = C @ X @ C.T."""
    k = np.arange(n, dtype=np.float64)
    c = np.sqrt(2.0 / n) * np.cos(np.pi * (2.0 * k[None, :] + 1.0) * k[:, None] / (2.0 * n))
    c[0, :] *= 1.0 / np.sqrt(2.0)
    return c


def luma(px: np.ndarray) -> np.ndarray:
    """Rec.601 luma, float64 (h, w). Deterministic: fixed coefficients."""
    p = px.astype(np.float64)
    return 0.299 * p[..., 0] + 0.587 * p[..., 1] + 0.114 * p[..., 2]


def resize_nn(a: np.ndarray, n: int = _N, m: int | None = None) -> np.ndarray:
    """Nearest-neighbor resample of an (h, w, ...) array to (n, m or n) —
    the engine's one resampler (multimodal.resize_images uses it too)."""
    h, w = a.shape[:2]
    yi = (np.arange(n) * h // n).astype(np.int64)
    xi = (np.arange(m or n) * w // (m or n)).astype(np.int64)
    return a[yi][:, xi]


def phash_batch(grays: np.ndarray) -> np.ndarray:
    """(B, 32, 32) float64 → (B,) int64 pHash. Whole-batch tensor math:
    two matmuls, one median, one bit-pack — zero per-image Python."""
    c = dct_matrix(_N)
    # batched C @ X @ C.T: (B,32,32) -> (B,32,32)
    d = np.einsum("ij,bjk,lk->bil", c, grays, c, optimize=True)
    low = d[:, :_LOW, :_LOW].reshape(len(grays), _LOW * _LOW)
    med = np.median(low, axis=1, keepdims=True)
    bits = (low > med).astype(np.uint64)
    weights = (np.uint64(1) << np.arange(_LOW * _LOW, dtype=np.uint64))[::-1]
    return (bits * weights[None, :]).sum(axis=1, dtype=np.uint64).view(np.int64)


def phash_single(px: np.ndarray) -> int:
    """One image (h, w, 3) uint8 → int pHash (test/driver convenience)."""
    return int(phash_batch(resize_nn(luma(px))[None, :, :])[0])


def _phash_reduce(batch, pixels):
    """pHash of each image; an undecodable image yields a NULL hash."""
    import pandas as pd

    grays = [resize_nn(luma(p)) for p in pixels if p is not None]
    hashes = iter(phash_batch(np.stack(grays)) if grays else ())
    return pd.DataFrame({
        "image_id": batch["image_id"],
        "phash_px": pd.array([None if p is None else next(hashes)
                              for p in pixels], dtype="Int64"),
    })


def compute_phash(images: DataFrame) -> DataFrame:
    """(image_id, bytes, fmt) → (image_id, phash_px:int64).

    One Arrow-batched projection; feed the result straight into
    `dedup.phash_near_dup(df, phash_col='phash_px', id_col='image_id')`.
    Undecodable formats (no codec in env) yield NULL rather than failing
    the batch — the dedup join drops NULLs naturally.
    """
    from .multimodal import map_decoded

    return map_decoded(images, _phash_reduce, PHASH_SCHEMA)
