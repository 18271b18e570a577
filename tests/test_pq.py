"""PQ (product quantization) ANN: representation invariants, exact
equivalence of the Arrow encoder and the ADC scorer vs a numpy reference,
offline training gains, and recall vs the exact scorer.

Context for the recall bars: the synthetic embeddings are uniform-ish
random 64-d vectors — the WORST case for PQ (no cluster structure for the
codebook to exploit; FAISS's own benchmarks use real-feature vectors).
The bars below pin the measured values on this data, and the trained-vs-
random comparison pins the training signal itself.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_merge_spark.operators import pq
from osm_merge_spark.queries import vectors


@pytest.fixture(scope="module")
def data(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id").collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, x


def _np_encode(x, cb):
    codes = np.zeros((len(x), pq.M_SUB), dtype=int)
    for m in range(pq.M_SUB):
        sub = x[:, m * pq.D_SUB:(m + 1) * pq.D_SUB]
        d2 = ((sub[:, None, :] - cb[m][None, :, :]) ** 2).sum(axis=2)
        codes[:, m] = d2.argmin(axis=1)
    return codes


def _np_adc(q, codes, cb):
    lut = np.array([
        ((q[m * pq.D_SUB:(m + 1) * pq.D_SUB][None, :] - cb[m]) ** 2).sum(axis=1)
        for m in range(pq.M_SUB)
    ])
    return lut[np.arange(pq.M_SUB)[None, :], codes].sum(axis=1)


def _qerr(x, cb):
    e = 0.0
    for m in range(pq.M_SUB):
        sub = x[:, m * pq.D_SUB:(m + 1) * pq.D_SUB]
        d2 = ((sub[:, None, :] - cb[m][None, :, :]) ** 2).sum(axis=2)
        e += d2.min(axis=1).mean()
    return e


def test_codes_match_numpy_and_are_in_range(spark, sf_dir, data):
    ids, x = data
    cb = pq.codebook()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        r["vec_id"]: r["code"]
        for r in emb.select(
            "vec_id", pq.pq_encode_udf(cb)(F.col("embedding")).alias("code")
        ).collect()
    }
    want = _np_encode(x, np.array(cb))
    for i, vid in enumerate(ids):
        code = got[vid]
        assert len(code) == pq.M_SUB
        assert all(0 <= c < pq.K_CODES for c in code)
        assert list(code) == list(want[i]), vid


def test_adc_scores_match_numpy(spark, sf_dir, data):
    ids, x = data
    cb = np.array(pq.codebook())
    codes = _np_encode(x, cb)
    res = vectors.q_ann_pq_topk(spark, sf_dir).collect()
    idx_of = {v: i for i, v in enumerate(ids)}
    for r in res:
        qi = idx_of[r["qid"]]
        adc = _np_adc(x[qi], codes, cb)
        assert r["adc"] == pytest.approx(adc[idx_of[r["nid"]]], abs=5e-7)
    # ranks are dense 1..k per query, nid-tie-broken ascending
    byq: dict[int, list] = {}
    for r in res:
        byq.setdefault(r["qid"], []).append(r)
    for q, rs in byq.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, vectors.PQ_TOPK + 1))
        assert all(
            (a["adc"], a["nid"]) <= (b["adc"], b["nid"])
            for a, b in zip(rs, rs[1:])
        )


def test_train_reduces_quantization_error(spark, sf_dir, data):
    _, x = data
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb0 = np.array(pq.codebook())
    cbt = np.array(pq.pq_train(emb))
    e0, et = _qerr(x, cb0), _qerr(x, cbt)
    # measured: 0.91 → 0.55 on sf0.001 (8 Lloyd iters); pin a 10% floor
    assert et < 0.9 * e0, (e0, et)


def test_recall_vs_exact_and_training_gain(spark, sf_dir, data):
    ids, x = data
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def recall(cb, kq, kt=3):
        codes = _np_encode(x, cb)
        out = []
        for qi in np.where(ids % vectors.PQ_QUERY_MOD == 0)[0]:
            d = ((x - x[qi]) ** 2).sum(axis=1)
            d[qi] = np.inf
            exact = set(ids[np.argsort(d)[:kt]])
            adc = _np_adc(x[qi], codes, cb)
            adc[qi] = np.inf
            out.append(len(exact & set(ids[np.argsort(adc)[:kq]])) / kt)
        return float(np.mean(out))

    cb0 = np.array(pq.codebook())
    cbt = np.array(pq.pq_train(emb))
    # measured on sf0.001 (uniform-random worst case): md5 0.70 @ k=50
    assert recall(cb0, 50) >= 0.6
    # the trained codebook must not be worse where it was measured better
    assert recall(cbt, 10) >= recall(cb0, 10)


def test_encode_plan_is_shuffle_free(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.select(
        "vec_id", pq.pq_encode_udf(pq.codebook())(F.col("embedding")).alias("code")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
