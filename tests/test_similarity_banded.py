"""Banded ANN LSH (VERDICT #5): on planted near-duplicates the b×r banded
configuration must BEAT a single 8-bit signature (the same primitive with
one band of 8 bits) on recall while generating far fewer candidate pairs
(smaller buckets → cheaper refine)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from osm_merge_spark.operators import similarity

DIM = 64


def _planted(spark, n_base=200, n_dup=50, noise=0.02):
    # noise 0.02 across 64 dims → |perturbation| ≈ 0.16 → cos ≈ 0.987:
    # per-plane agreement s ≈ 0.95, so banded 4×16 recall ≈ 1-(1-s^16)^4
    # ≈ 0.9 while the single 8-bit signature's is s^8 ≈ 0.66
    rng = np.random.RandomState(0)
    base = rng.randn(n_base, DIM)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    dups = base[:n_dup] + noise * rng.randn(n_dup, DIM)
    dups /= np.linalg.norm(dups, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in base[i]]) for i in range(n_base)]
    rows += [(n_base + j, [float(x) for x in dups[j]]) for j in range(n_dup)]
    truth = {(j, n_base + j) for j in range(n_dup)}  # cos ≈ 0.997
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, truth


def _recall(pairs_df, truth):
    got = {(r.v1, r.v2) for r in pairs_df.collect()}
    return len(got & truth) / len(truth), len(got)


def test_banded_beats_single_signature_on_planted_dups(spark):
    df, truth = _planted(spark)
    planes_banded = similarity.hyperplanes(
        DIM, similarity.LSH_BANDS * similarity.LSH_BAND_BITS
    )
    banded = similarity.lsh_banded_pairs(df, planes_banded)
    single = similarity.lsh_banded_pairs(
        df, similarity.hyperplanes(DIM, 8), n_bands=1, band_bits=8
    )
    r_banded, n_banded = _recall(banded, truth)
    r_single, n_single = _recall(single, truth)

    # the banded union finds MORE of the planted near-dups ...
    assert r_banded > r_single
    assert r_banded >= 0.8
    # ... from FEWER candidate pairs (2^16-bucket bands vs 2^8 buckets)
    assert n_banded < n_single


def test_banded_bucket_sizes_shrink(spark):
    """Max bucket occupancy: single 8-bit signature packs N/256-ish rows
    per bucket; each 16-bit band spreads the same rows over 65k buckets."""
    df, _ = _planted(spark)
    planes_banded = similarity.hyperplanes(
        DIM, similarity.LSH_BANDS * similarity.LSH_BAND_BITS
    )
    from osm_merge_spark.functions.barrier import eval_once

    sigs = eval_once(
        df.withColumn(
            "bits", similarity.lsh_bits(F.col("embedding"), planes_banded)
        ),
        ["bits"],
    )
    band_sizes = (
        sigs.select(F.explode(similarity.lsh_band_keys(
            F.col("bits"), similarity.LSH_BANDS, similarity.LSH_BAND_BITS
        )).alias("bk"))
        .groupBy("bk").count()
    )
    # one band over the first 8 bits: the single 8-bit signature
    single_sizes = (
        sigs.select(similarity.lsh_band_keys(F.col("bits"), 1, 8)[0].alias("sig"))
        .groupBy("sig").count()
    )
    max_band = band_sizes.agg(F.max("count")).collect()[0][0]
    max_single = single_sizes.agg(F.max("count")).collect()[0][0]
    assert max_band < max_single


def test_banded_pairs_are_verified_subset(spark):
    """Every banded candidate's cosine is exact (equals the brute-force
    cosine), and candidates agree on at least one full band."""
    df, _ = _planted(spark, n_base=60, n_dup=10)
    planes = similarity.hyperplanes(DIM, 8)  # 2 bands × 4 bits: small test
    pairs = similarity.lsh_banded_pairs(df, planes, n_bands=2, band_bits=4)
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in df.collect()}
    for r in pairs.collect():
        a, b = vecs[r.v1], vecs[r.v2]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.cos - round(want, 6)) < 2e-6
