"""Unbounded kNN via cell-ring expansion must equal brute force exactly."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from osm_merge_spark.data.synth import synth_images, synth_layer
from osm_merge_spark.operators.knn import knn_unbounded


def test_knn_unbounded_matches_bruteforce(spark):
    n = 400
    primary = synth_images(spark, n).select("image_id", "lon", "lat").limit(60)
    layer = synth_layer(spark, n).filter(F.size("xs") == 1).select(
        "feature_id", "xs", "ys"
    )
    k = 3
    # earlier tests in the shared session leave their own caches behind
    spark.catalog.clearCache()
    got = knn_unbounded(primary, layer, k=k, initial_radius_m=50.0)
    gm = {(r.image_id, r.rank): r.feature_id for r in got.collect()}
    # rounds are local checkpoints and the remaining caches are released:
    # the call leaves no CacheManager entry to leak or to serve a later
    # call stale pairs
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    # brute force oracle
    prim = primary.collect()
    feats = [(r.feature_id, r.xs[0], r.ys[0]) for r in layer.collect()]

    def hav(lon1, lat1, lon2, lat2):
        a = (
            math.sin(math.radians(lat2 - lat1) / 2) ** 2
            + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2))
            * math.sin(math.radians(lon2 - lon1) / 2) ** 2
        )
        return 2 * 6371008.8 * math.asin(math.sqrt(a))

    want = {}
    for p in prim:
        cand = sorted(
            ((hav(p.lon, p.lat, x, y), fid) for fid, x, y in feats)
        )[:k]
        for rank, (_, fid) in enumerate(cand, 1):
            want[(p.image_id, rank)] = fid
    assert gm == want and len(gm) == 60 * k
