"""Round-4 verdict-item pins: ann top-k selection plan shape (item #2) and
snap_points plan shape companions (item #1 lives in test_geo4)."""

from pyspark.sql import functions as F

from osm_merge_spark.operators import similarity
from osm_merge_spark.queries import vectors


def _scored(spark, sf_dir):
    emb = vectors._emb(spark, sf_dir)
    qs = emb.filter(F.col("vec_id") % vectors.QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return emb, qs


def test_cosine_topk_default_plan_has_no_window_sort(spark, sf_dir):
    """r3 verdict #2: the exact re-rank's selection must be the
    hash-agg top-k (ObjectHashAggregate over collect_list), not the
    row_number window — no Window node, no SortExec feeding one."""
    emb, qs = _scored(spark, sf_dir)
    plan = similarity.cosine_topk(emb, qs, k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan
    assert "ObjectHashAggregate" in plan
    plan8 = similarity.q8_topk(emb, qs.select(
        "qid", F.col("qvec")), k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan8
    assert "ObjectHashAggregate" in plan8


def test_image_sharpness_sees_the_codec(spark, sf_dir):
    """The gradient-energy gate must score the DECODED bytes: QNT
    dequantizes every value to a bin center (v//6)*6+3, so all its pixel
    diffs — and therefore each QNT image's grad_e — are multiples of 6.
    The generator's raw (pre-codec) bytes have no such structure, so a
    score computed upstream of the codec would break this invariant, and
    lossless PNG scores retain arbitrary residues."""
    from osm_merge_spark.queries.geo5 import q_image_sharpness

    rows = q_image_sharpness(spark, sf_dir).collect()
    qnt = [r["grad_e"] for r in rows if int(r["image_id"][4:]) % 3 == 0]
    png = [r["grad_e"] for r in rows if int(r["image_id"][4:]) % 3 != 0]
    assert qnt and png
    assert all(g % 6 == 0 for g in qnt)
    assert any(g % 6 != 0 for g in png)
    # non-degenerate gate: both classes present
    keeps = {r["keep"] for r in rows}
    assert keeps == {True, False}


def test_augment_checksum_fanout_shape(spark, sf_dir):
    """Every image yields exactly the 5 deterministic views; crop has 1/4
    the bytes, rot90/flips preserve the byte count; no view duplicates the
    identity checksum (the planted pixels are not symmetric)."""
    from collections import defaultdict

    from osm_merge_spark.queries.geo5 import TIS_N, q_augment_checksum

    rows = q_augment_checksum(spark, sf_dir).collect()
    per_img = defaultdict(dict)
    for r in rows:
        per_img[r["image_id"]][r["aug"]] = r
    assert len(per_img) == TIS_N
    for _iid, views in per_img.items():
        assert set(views) == {"identity", "hflip", "vflip", "rot90", "crop"}
        full = views["identity"]["n_bytes"]
        assert views["crop"]["n_bytes"] == full // 4
        for v in ("hflip", "vflip", "rot90"):
            assert views[v]["n_bytes"] == full
            assert views[v]["checksum"] != views["identity"]["checksum"]
