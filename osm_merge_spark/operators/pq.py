"""Product quantization (PQ) ANN — the 64× memory lever at 10^12 vectors.

Completes the engine's FAISS-shaped family (brute-force cosine, banded
hyperplane LSH, IVF coarse quantizer, SQ8 scalar quantization): PQ splits
each 64-d vector into M=8 subvectors of 8 dims, quantizes every subvector
to one of K=16 per-subspace centroids (a 4-bit code), and scores queries
against the codes with an asymmetric-distance (ADC) lookup table —
Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011). Per vector the corpus side carries 8 small codes through
the topology instead of 256 float bytes.

Spark-first shape:
  - ENCODE is a pure projection: an Arrow-batched numpy UDF takes the
    per-subspace argmin over K centroids — no shuffle, vectorized over
    rows and centroids.
  - ADC SCORING broadcasts the (tiny) query side; each query row carries
    its precomputed M×K lookup table as a nested array expression, and the
    per-pair score is M array lookups + adds. The corpus codes are scanned
    once; the only shuffle is the final per-query top-k cut.
  - CODEBOOKS are plain literals in the plan. That is faithful to
    production PQ: codebooks are trained OFFLINE (on a driver/GPU sample —
    FAISS's own train() collects a sample) and shipped to executors as
    constants. `pq_train` below does exactly that with numpy k-means on a
    sampled collect; the deterministic md5 codebook is the no-training
    stand-in that the SQL oracle can reproduce literally.

The DuckDB oracle mirrors encode + ADC bit-identically (same literals,
same fold order — a 0.0-seeded left fold of non-negative squares is
IEEE-identical to the plain left-associated sum), so the APPROXIMATE
scores themselves are oracle-checked, not just the mechanics. Recall vs
the exact scorer is pinned in tests/test_pq.py.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geo import dlit

M_SUB = 8       # subspaces
D_SUB = 8       # dims per subspace (M_SUB * D_SUB = 64)
K_CODES = 16    # centroids per subspace → 4-bit codes


def codebook(m: int = M_SUB, k: int = K_CODES, dsub: int = D_SUB,
             spread: float = 0.24) -> list[list[list[float]]]:
    """Deterministic pseudo-random codebook [m][k][dsub], entries in
    [-spread, spread] (≈±2σ of the synthetic embedding components) —
    md5-derived like similarity.hyperplanes, so both engines embed the
    exact same literals and no RNG state exists at runtime."""
    out = []
    for mi in range(m):
        cents = []
        for c in range(k):
            row = []
            for d in range(dsub):
                h = int(hashlib.md5(f"pq:{mi}:{c}:{d}".encode())
                        .hexdigest()[:8], 16)
                row.append((h % 2001 - 1000) / 1000.0 * spread)
            cents.append(row)
        out.append(cents)
    return out


def pq_train(emb: DataFrame, vec_col: str = "embedding",
             sample: int = 4096, iters: int = 8):
    """Offline codebook training, the way FAISS does it: k-means per
    subspace on a driver-side SAMPLE (only `sample`×64 floats ever leave
    the executors — at 10^12 vectors the sample is still tiny). Returns a
    plain nested list ready to pass as literals to pq_encode_udf/pq_adc_topk."""
    import numpy as np

    rows = emb.select(vec_col).limit(sample).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    cb = np.array(codebook())
    for mi in range(M_SUB):
        sub = x[:, mi * D_SUB:(mi + 1) * D_SUB]
        cents = cb[mi]
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(K_CODES):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        cb[mi] = cents
    return cb.tolist()


# --- encode ------------------------------------------------------------------
# pq_encode_udf is Arrow-batched numpy (what FAISS does with BLAS):
# vectorized over rows and centroids, SEQUENTIAL over the 8 dims with `+=`
# so the float accumulation is exactly the 0.0-seeded left fold of the SQL
# mirror (numpy's own .sum() does pairwise summation — different rounding,
# so it is NOT used); np.argmin takes the first minimum, matching the SQL
# fold's strict-< rule. An interpreted Catalyst fold of the same argmin
# measured 18.5 s against 0.94 s for this encoder. tests/test_pq.py pins
# UDF == numpy reference equality; the DuckDB oracle checks the codes.
def _sub_dist(vec: Column, mi: int, cent: list[float]) -> Column:
    """||vec_sub(mi) - cent||²: 0.0-seeded left fold over the 8 dims (the
    exact order the SQL mirror and the UDF reproduce) — builds the ADC
    lookup table."""
    carr = F.array(*[F.lit(c) for c in cent])

    def term(d: Column) -> Column:
        v = (F.element_at(vec, F.lit(mi * D_SUB) + d).cast("double")
             - F.element_at(carr, d))
        return v * v

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(D_SUB)),
        F.lit(0.0),
        lambda acc, d: acc + term(d),
    )


def _sub_dist_sql(vec: str, mi: int, cent: list[float]) -> str:
    carr = "[" + ", ".join(dlit(c) for c in cent) + "]"
    v = (f"(CAST({vec}[{mi * D_SUB} + d] AS DOUBLE)"
         f" - ({carr})[d])")
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, {D_SUB} + 1), d -> {v} * {v})),"
        " (acc, t) -> acc + t)"
    )


def np_encode_block(x, cb):
    """numpy encode with the exact fold arithmetic: x (n, 64) float64,
    cb (M, K, D) float64 → (n, M) int codes. Sequential += over dims keeps
    IEEE left-fold order; argmin keeps the first minimum."""
    import numpy as np

    n = x.shape[0]
    codes = np.zeros((n, M_SUB), dtype=np.int32)
    for mi in range(M_SUB):
        sub = x[:, mi * D_SUB:(mi + 1) * D_SUB]
        d2 = np.zeros((n, K_CODES), dtype=np.float64)
        for d in range(D_SUB):
            diff = sub[:, d:d + 1] - cb[mi][None, :, d]
            d2 += diff * diff
        codes[:, mi] = d2.argmin(axis=1)
    return codes


def pq_encode_udf(cb: list[list[list[float]]]):
    """pandas_udf array<float> -> array<int>: the vectorized production
    encoder (Arrow batches in, one numpy matmul-shaped pass per batch)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cba = [[list(c) for c in sub] for sub in cb]

    @pandas_udf("array<int>")
    def _enc(vecs: pd.Series) -> pd.Series:
        cbn = np.array(cba, dtype=np.float64)
        x = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(x) == 0:
            return pd.Series([], dtype=object)
        codes = np_encode_block(x, cbn)
        return pd.Series(list(codes.tolist()))

    return _enc


def pq_encode_sql(vec: str, cb: list[list[list[float]]]) -> str:
    codes = []
    for mi in range(M_SUB):
        structs = ", ".join(
            f"struct_pack(d := {_sub_dist_sql(vec, mi, cent)}, i := {ci})"
            for ci, cent in enumerate(cb[mi])
        )
        codes.append(
            "(list_reduce(list_prepend(struct_pack(d := 'infinity'::DOUBLE,"
            f" i := -1), [{structs}]),"
            " (acc, x) -> CASE WHEN x.d < acc.d THEN x ELSE acc END)).i"
        )
    return "[" + ", ".join(codes) + "]"


# --- ADC scoring -------------------------------------------------------------
def _adc_lut(qvec: Column, cb: list[list[list[float]]]) -> Column:
    """Per-query M×K lookup table: lut[m][c] = ||q_sub(m) - cb[m][c]||²."""
    return F.array(*[
        F.array(*[_sub_dist(qvec, mi, cent) for cent in cb[mi]])
        for mi in range(M_SUB)
    ])


def pq_adc_topk(emb: DataFrame, queries: DataFrame,
                cb: list[list[list[float]]], k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "qid", qvec_col: str = "qvec") -> DataFrame:
    """Top-k by ADC distance (ascending, nid-asc ties). queries:
    (qid, qvec), broadcast. The corpus ships only (id, M codes) into the
    join — the full vectors never leave their scan; codes come from the
    vectorized Arrow encoder."""
    from ..functions.barrier import eval_once

    coded = eval_once(
        emb.select(F.col(id_col).alias("nid"),
                   pq_encode_udf(cb)(F.col(vec_col)).alias("code")),
        ["code"],
    )
    q = eval_once(
        queries.select(
            F.col(qid_col).alias("qid"),
            _adc_lut(F.col(qvec_col), cb).alias("lut"),
        ),
        ["lut"],
    )
    pairs = coded.join(F.broadcast(q), F.col("qid") != F.col("nid"))
    adc = None
    for mi in range(M_SUB):
        term = F.element_at(
            F.element_at("lut", mi + 1),
            F.element_at("code", mi + 1) + 1,
        )
        adc = term if adc is None else adc + term
    scored = pairs.withColumn("adc", adc)
    # hash-agg top-k (no WindowExec/SortExec): (adc ASC, nid ASC) is the
    # natural ascending struct order, so array_sort + slice selects the
    # same rows the row_number window would — shuffle carries 16-byte
    # (adc, nid) structs only
    agg = (
        scored.select(
            "qid", F.struct(F.col("adc"), F.col("nid")).alias("c")
        )
        .groupBy("qid")
        .agg(F.slice(F.array_sort(F.collect_list("c")), 1, k).alias("top"))
    )
    return agg.select("qid", F.posexplode("top").alias("pos", "t")).select(
        "qid",
        F.col("t.nid").alias("nid"),
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.round(F.col("t.adc"), 6).alias("adc"),
    )


def pq_adc_topk_sql(table: str, cb: list[list[list[float]]], k: int,
                    query_mod: int) -> str:
    """DuckDB mirror over `table`(vec_id, embedding): same codes, same ADC
    arithmetic. The query side precomputes the same M×K LUT (one nested
    list per query row, shared via CTE so the codebook literal appears
    exactly once per subspace), then the pair score is M lookups + adds in
    the identical order."""
    code = pq_encode_sql("embedding", cb)
    lut = "[" + ", ".join(
        "[" + ", ".join(
            _sub_dist_sql("embedding", mi, cent) for cent in cb[mi]
        ) + "]"
        for mi in range(M_SUB)
    ) + "]"
    adc = " + ".join(
        f"q.lut[{mi + 1}][n.code[{mi + 1}] + 1]" for mi in range(M_SUB)
    )
    return (
        f"WITH coded AS (SELECT vec_id, {code} AS code FROM {table}), "
        f"qs AS (SELECT vec_id, {lut} AS lut FROM {table}"
        f" WHERE vec_id % {query_mod} = 0), "
        "s AS (SELECT q.vec_id AS qid, n.vec_id AS nid,"
        f" {adc} AS adc FROM qs q"
        " JOIN coded n ON q.vec_id != n.vec_id) "
        "SELECT qid, nid, CAST(rank AS INT) AS rank, round(adc, 6) AS adc"
        " FROM (SELECT *, row_number() OVER (PARTITION BY qid"
        f" ORDER BY adc ASC, nid ASC) AS rank FROM s) t WHERE rank <= {k}"
    )
