"""multimodal.map_decoded is the one image decode: every pixel operator is
a reduction on it, and an undecodable payload reaches the reduction as
None with one documented answer per operator."""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_merge_spark.data import synth
from osm_merge_spark.operators import augment, multimodal, phash
from osm_merge_spark.queries import geo5
from osm_merge_spark.streaming import jobs

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "osm_merge_spark")


@pytest.fixture(scope="module")
def qnt_and_jpeg(spark):
    """One decodable qnt image and one jpeg (no codec here), both inside
    the geo5 'hot' zone, with every column any pixel operator reads."""
    from pyspark.sql import functions as F

    r = synth.synth_images(spark, 1, with_bytes=True).filter(F.col("i") == 0).first()
    assert r.fmt == "qnt" and r.w == r.h == 16
    rows = [(iid, i, b, fmt, -108.7, 43.7, r.caption)
            for iid, i, b, fmt in [("img-0", 0, bytes(r.bytes), "qnt"),
                                   ("img-jpeg", 1, b"\xff\xd8\xff", "jpeg")]]
    return spark.createDataFrame(
        rows, "image_id string, i long, bytes binary, fmt string, lon double,"
              " lat double, caption string",
    ).selectExpr("*", "16 AS w", "16 AS h", "'identity' AS aug")


def _by_id(df):
    return {r["image_id"]: r for r in df.collect()}


def _no_row(fn):
    def check(df):
        got = _by_id(fn(df))
        assert "img-0" in got and "img-jpeg" not in got
    return check


def _decode_stats(df):
    got = _by_id(multimodal.decode_stats(df))
    assert got["img-0"].decode_ok
    j = got["img-jpeg"]
    # the reduction's NaN means arrive null: Arrow reads a pandas NaN as null
    assert not j.decode_ok and (j.mean_r, j.mean_g, j.mean_b) == (None, None, None)


def _verify(df):
    got = _by_id(multimodal.verify_payload(df))
    assert got["img-0"].ok
    assert not got["img-jpeg"].ok and got["img-jpeg"].psnr_db is None


def _phash(df):
    got = _by_id(phash.compute_phash(df))
    assert got["img-0"].phash_px is not None and got["img-jpeg"].phash_px is None


def _zonal(df):
    (row,) = [r for r in jobs.zonal_image_rollup(df).collect() if r.zone_id == "hot"]
    assert row.n_images == 1


OPERATORS = {
    "decode_stats": _decode_stats,
    "verify_payload": _verify,
    "compute_phash": _phash,
    "resize_images": _no_row(lambda df: multimodal.resize_images(df, 8, 8)),
    "augment_images": _no_row(augment.augment_images),
    "channel_sums": _no_row(geo5._decode_channel_sums),
    "zonal_image_rollup": _zonal,
    "grad_energy": _no_row(geo5._decode_grad_energy),
    "augment_checksum": _no_row(geo5._decode_checksums),
    "patchify_sums": _no_row(geo5.patchify_sums),
    "luma_hist": _no_row(geo5._decode_luma_hist),
    "hog": _no_row(geo5._decode_hog),
}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_undecodable_payload_rule(spark, qnt_and_jpeg, name):
    OPERATORS[name](qnt_and_jpeg)


def test_codec_decode_has_one_caller():
    callers = []
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    n = len(re.findall(r"\bcodec\.decode\(", fh.read()))
                callers += [os.path.relpath(path, PKG)] * n
    assert callers == [os.path.join("operators", "multimodal.py")]

