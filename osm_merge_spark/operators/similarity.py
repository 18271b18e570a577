"""Similarity search over embedding columns (array<float>).

Two paths, mirroring a real ANN stack:
  - brute-force cosine top-k — the exactness baseline: broadcast the query
    set, JVM-side zip_with/aggregate dot products (no Python), window
    top-k. O(Q·N) but Q is small; at 100 TB this is the re-rank stage.
  - random-hyperplane LSH — the scale path: 1-bit signatures per
    hyperplane, banded bucket equi-join (a pair is a candidate when it
    agrees on one full band), cosine refine only inside buckets.
    Hyperplane components are deterministic literals so the DuckDB oracle
    reproduces signatures exactly.

Dot products fold left-to-right in BOTH engines (Spark aggregate() and
DuckDB list_reduce with a prepended 0.0) so doubles are bit-identical.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geo import dlit

# banded configuration (b bands × r bits): a pair is a candidate when it
# agrees on ≥1 FULL band. Bucket count per band = 2^r (2^16 ≈ 65k vs 256
# for one 8-bit signature), so the intra-bucket refine shrinks
# ~b·2^r/2^8-fold while the b-band union keeps recall at high cosine —
# exactly the banding dedup.lsh_candidate_pairs already uses for MinHash.
LSH_BANDS = 4
LSH_BAND_BITS = 16


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm2(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_sql(a: str, b: str, dim: int) -> str:
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, {dim + 1}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))),"
        " (x, y) -> x + y)"
    )


def _norm2_sql(a: str, dim: int) -> str:
    return _dot_sql(a, a, dim)


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_norm2(a)) * F.sqrt(_norm2(b)))


def cosine_sql(a: str, b: str, dim: int) -> str:
    return (
        f"({_dot_sql(a, b, dim)}"
        f" / (sqrt({_norm2_sql(a, dim)}) * sqrt({_norm2_sql(b, dim)})))"
    )


# ---------------------------------------------------------------------------
# brute-force top-k
# ---------------------------------------------------------------------------
def cosine_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries: (qid, qvec). Broadcast the (small) query side — every executor
    scans its local embedding partitions once; only the per-qid top-k
    selection shuffles. Selection is groupBy(qid).agg(slice(array_sort(
    collect_list(struct(-cos, nid))), 1, k)) → ObjectHashAggregate; no
    SortExec, no window machinery — the formulation the conflation
    ladder's top-5 proved out (knn.top_k_agg). The shuffle carries 16-byte
    (negcos, nid) structs only, and (-cos, nid) is a total order since nid
    is unique.
    """
    from ..functions.barrier import eval_once

    # precompute each side's norm ONCE (N + Q evaluations) instead of
    # folding both norms again for every one of the N·Q pairs
    n_side = eval_once(
        emb.select(
            F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
        ).withColumn("nn", F.sqrt(_norm2(F.col("nvec")))),
        ["nn"],
    )
    q_side = eval_once(
        queries.withColumn("qn", F.sqrt(_norm2(F.col("qvec")))), ["qn"]
    )
    pairs = n_side.join(F.broadcast(q_side), F.col("qid") != F.col("nid"))
    scored = pairs.withColumn(
        "cos", _dot(F.col("qvec"), F.col("nvec")) / (F.col("qn") * F.col("nn"))
    )
    return _topk_by_cos(scored, k)


def _topk_by_cos(scored: DataFrame, k: int) -> DataFrame:
    """Per-qid (cos DESC, nid ASC) top-k over (qid, nid, cos) rows."""
    # ascending struct (-cos, nid) == (cos DESC, nid ASC); the double
    # negation is a sign-bit flip, bit-exact, so round(-nc, 6) equals the
    # oracle's round(cos, 6)
    agg = (
        scored.select(
            "qid", F.struct((-F.col("cos")).alias("nc"), F.col("nid")).alias("c")
        )
        .groupBy("qid")
        .agg(F.slice(F.array_sort(F.collect_list("c")), 1, k).alias("top"))
    )
    return agg.select("qid", F.posexplode("top").alias("pos", "t")).select(
        "qid",
        F.col("t.nid").alias("nid"),
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.round(-F.col("t.nc"), 6).alias("cos"),
    )


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------
def hyperplanes(dim: int, bits: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane components in [-1, 1] —
    plain literals in both engines (no runtime RNG)."""
    import hashlib

    out = []
    for b in range(bits):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{b}:{d}".encode()).hexdigest()[:8], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        out.append(row)
    return out


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse k-means quantizer + cluster-probe search
# ---------------------------------------------------------------------------
def ivf_train(emb: DataFrame, k: int = 16, iters: int = 3,
              id_col: str = "vec_id", vec_col: str = "embedding"):
    """Deterministic Lloyd iterations over the DataFrame; returns the
    centroid matrix (k × dim numpy). Init = the k lowest-id vectors (no
    RNG — reproducible across runs/executors). Each iteration is one
    assignment pass (Arrow matmul kernel) + one groupBy mean; only the
    k×dim centroid matrix ever reaches the driver."""
    import numpy as np

    init = (
        emb.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    cents = np.array([list(r[0]) for r in init], dtype=np.float64)
    for _ in range(iters):
        assigned = ivf_assign(emb, cents, id_col=id_col, vec_col=vec_col)
        rows = (
            assigned.groupBy("cluster")
            .agg(
                F.transform(
                    F.aggregate(
                        F.collect_list(vec_col),
                        F.array(*[F.lit(0.0)] * cents.shape[1]),
                        lambda acc, v: F.zip_with(
                            acc, v, lambda a, b: a + b.cast("double")
                        ),
                    ),
                    lambda x: x,
                ).alias("vsum"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        for r in rows:
            cents[r["cluster"]] = np.asarray(r["vsum"], dtype=np.float64) / r["n"]
    return cents


def ivf_assign(emb: DataFrame, centroids, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Attach the nearest-centroid cluster id — one Arrow-batch matmul per
    batch (the centroid matrix rides in the UDF closure; tiny). The id
    sits behind an eval_once barrier: a join on it infers
    isnotnull(cluster), which would otherwise run the UDF a second time
    below the projection."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    from ..functions.barrier import eval_once

    C = np.asarray(centroids, dtype=np.float64)
    Cn2 = (C * C).sum(axis=1)

    @pandas_udf(IntegerType())
    def nearest(v: pd.Series) -> pd.Series:
        M = np.array(v.tolist(), dtype=np.float64)
        d = Cn2[None, :] - 2.0 * (M @ C.T)  # + ||x||² is constant per row
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    return eval_once(emb.withColumn("cluster", nearest(F.col(vec_col))),
                     ["cluster"])


def ivf_search(assigned: DataFrame, centroids, queries: DataFrame,
               k: int = 5, nprobe: int = 4, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Probe the nprobe nearest clusters per query, brute-force cosine
    inside them only — the candidate set shrinks ~k/nprobe-fold vs full
    brute force. queries: (qid, qvec). At 10^12 rows `assigned` is the
    cluster-partitioned index table; the probe join prunes partitions."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    Cn2 = (C * C).sum(axis=1)
    qrows = queries.collect()
    probe_rows = []
    for r in qrows:
        q = np.asarray(list(r["qvec"]), dtype=np.float64)
        d = Cn2 - 2.0 * (C @ q)
        for c in np.argsort(d)[:nprobe]:
            probe_rows.append((r["qid"], int(c)))
    spark = assigned.sparkSession
    probes = spark.createDataFrame(probe_rows, ["qid", "cluster"]).join(
        queries, "qid"
    )
    cand = assigned.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"), "cluster"
    ).join(F.broadcast(probes), "cluster").filter(F.col("qid") != F.col("nid"))
    scored = cand.withColumn("cos", cosine(F.col("qvec"), F.col("nvec")))
    # same hash-agg top-k as cosine_topk: no WindowExec/SortExec
    # in the post-probe selection, the shuffle carries (negcos, nid)
    # structs only (r4 verdict item #2: share the agg path)
    return _topk_by_cos(scored, k)


def lsh_bits(vec: Column, planes: list[list[float]]) -> Column:
    """array<int> of sign bits, one per hyperplane — the planes ride as ONE
    2-D literal array and a single transform computes every dot product
    (compact expression; callers barrier the result with eval_once so the
    n_bands band keys don't each recompute all the dots)."""
    planes_lit = F.array(
        *[F.array(*[F.lit(x) for x in row]) for row in planes]
    )
    return F.transform(
        planes_lit,
        lambda row: F.when(_dot(vec, row) >= F.lit(0.0), F.lit(1))
        .otherwise(F.lit(0)),
    )


def lsh_bits_sql(vec: str, planes: list[list[float]]) -> str:
    planes_lit = "[" + ", ".join(
        "[" + ", ".join(dlit(x) for x in row) + "]" for row in planes
    ) + "]"
    dim = len(planes[0])
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, {dim + 1}),"
        f" i -> CAST({vec}[i] AS DOUBLE) * row[i])), (x, y) -> x + y)"
    )
    return (
        f"list_transform({planes_lit},"
        f" row -> CASE WHEN {dot} >= {dlit(0.0)} THEN 1 ELSE 0 END)"
    )


def lsh_band_keys(bits: Column, n_bands: int, band_bits: int) -> Column:
    """array<string> of 'band:signature' keys from the bit array."""
    weights = F.array(*[F.lit(1 << i).cast("long") for i in range(band_bits)])
    keys = []
    for b in range(n_bands):
        sig = F.aggregate(
            F.zip_with(
                F.slice(bits, b * band_bits + 1, band_bits), weights,
                lambda bit, w: bit.cast("long") * w,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        keys.append(F.concat_ws(":", F.lit(str(b)), sig.cast("string")))
    return F.array(*keys)


def lsh_band_keys_sql(bits: str, n_bands: int, band_bits: int) -> str:
    weights = "[" + ", ".join(
        f"CAST({1 << i} AS BIGINT)" for i in range(band_bits)
    ) + "]"
    keys = []
    for b in range(n_bands):
        sig = (
            "list_reduce(list_prepend(CAST(0 AS BIGINT),"
            f" list_transform(range(1, {band_bits + 1}),"
            f" i -> CAST({bits}[{b * band_bits} + i] AS BIGINT)"
            f" * ({weights})[i])), (x, y) -> x + y)"
        )
        keys.append(f"('{b}:' || CAST({sig} AS VARCHAR))")
    return "[" + ", ".join(keys) + "]"


def lsh_banded_pairs(emb: DataFrame, planes: list[list[float]],
                     n_bands: int = LSH_BANDS, band_bits: int = LSH_BAND_BITS,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Banded LSH candidate pairs: equi-join per band key (union of band
    joins via explode), distinct (v1, v2), exact-cosine refine on the
    deduped ids. len(planes) must be n_bands*band_bits. The refine re-joins
    the vector table by id so vectors never ride through the band shuffle.
    """
    from ..functions.barrier import eval_once

    sigs = eval_once(
        emb.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
        ).withColumn("bits", lsh_bits(F.col("vec"), planes)),
        ["bits"],
    )
    e = sigs.select(
        "vid", F.explode(lsh_band_keys(F.col("bits"), n_bands, band_bits)).alias("bk")
    )
    a = e.select(F.col("vid").alias("v1"), "bk")
    b = e.select(F.col("vid").alias("v2"), "bk")
    cand = (
        a.join(b, "bk").filter(F.col("v1") < F.col("v2"))
        .select("v1", "v2").distinct()
    )
    v1 = emb.select(F.col(id_col).alias("v1"), F.col(vec_col).alias("vec1"))
    v2 = emb.select(F.col(id_col).alias("v2"), F.col(vec_col).alias("vec2"))
    return (
        cand.join(v1, "v1").join(v2, "v2")
        .select(
            "v1", "v2",
            F.round(cosine(F.col("vec1"), F.col("vec2")), 6).alias("cos"),
        )
    )


def lsh_banded_pairs_sql(table: str, planes: list[list[float]],
                         n_bands: int = LSH_BANDS,
                         band_bits: int = LSH_BAND_BITS,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> str:
    """Exact SQL mirror of lsh_banded_pairs."""
    dim = len(planes[0])
    bits = lsh_bits_sql(vec_col, planes)
    keys = lsh_band_keys_sql("bits", n_bands, band_bits)
    cos = cosine_sql("e1.embedding", "e2.embedding", dim)
    return (
        f"WITH sigs AS (SELECT {id_col} AS vid, {bits} AS bits FROM {table}), "
        f"bands AS (SELECT vid, unnest({keys}) AS bk FROM sigs), "
        "cand AS (SELECT DISTINCT a.vid AS v1, b.vid AS v2 FROM bands a"
        " JOIN bands b ON a.bk = b.bk AND a.vid < b.vid) "
        f"SELECT v1, v2, round({cos}, 6) AS cos FROM cand"
        f" JOIN {table} e1 ON v1 = e1.{id_col}"
        f" JOIN {table} e2 ON v2 = e2.{id_col}"
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (SQ8) — the memory lever for 10^12-row ANN
# ---------------------------------------------------------------------------
# A 64-d float32 embedding is 256 B; per-vector-scaled int8 is 64 B + one
# float. At 10^12 rows that is the difference between a 256 TB and a 64 TB
# vector column — and the integer dot products it enables are exactly
# reproducible in any engine (the doubles they become are exact), which is
# what makes the quantized scorer fully oracle-checkable. Same shape as
# FAISS's SQ8 / IndexScalarQuantizer (public API), recall measured against
# the exact scorer in tests.
Q8_LEVELS = 127


def quantize8(vec: Column) -> tuple[Column, Column]:
    """(qvec: array<int> in [-127,127], scale: double). Symmetric per-vector
    scaling: scale = max|x| / 127; q = floor(x/scale + 0.5) — explicit
    floor-of-shifted instead of round() so both engines share one exactly
    specified tie rule. Zero vectors get scale 1.0 (all-zero qvec)."""
    amax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = F.when(amax == F.lit(0.0), F.lit(1.0)).otherwise(
        amax / F.lit(float(Q8_LEVELS))
    )
    q = F.transform(
        vec,
        lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int"),
    )
    return q, scale


def quantize8_sql(vec: str, dim: int) -> tuple[str, str]:
    amax = (
        f"list_max(list_transform({vec}, x -> abs(CAST(x AS DOUBLE))))"
    )
    scale = (
        f"(CASE WHEN {amax} = 0.0 THEN 1.0"
        f" ELSE {amax} / CAST({Q8_LEVELS} AS DOUBLE) END)"
    )
    # the query-side CTE aliases `scale` before use, so qvec references the
    # column name, not the expression
    q = (
        f"list_transform({vec},"
        " x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT))"
    )
    return q, scale


def _doti(a: Column, b: Column) -> Column:
    """Integer dot product (exact; sums fit a long at any realistic dim)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _doti_sql(a: str, b: str, dim: int) -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(range(1, {dim + 1}),"
        f" i -> CAST({a}[i] AS BIGINT) * CAST({b}[i] AS BIGINT))),"
        " (x, y) -> x + y)"
    )


def q8_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k under the SQ8 scorer: quantize both sides, broadcast the
    (small) query side, integer dots per pair, per-qid top-k (the same
    hash-aggregate selection as cosine_topk — no window sort). The corpus
    side carries ONLY (id, int8 array, norm) through the join — the float
    vectors never leave their scan."""
    from ..functions.barrier import eval_once

    def _q(df: DataFrame, idc: str, vecc: str, pre: str) -> DataFrame:
        qv, _ = quantize8(F.col(vecc))
        out = df.select(F.col(idc).alias(f"{pre}id"), qv.alias(f"{pre}q"))
        return eval_once(
            out.withColumn(
                f"{pre}n", F.sqrt(_doti(F.col(f"{pre}q"), F.col(f"{pre}q"))
                                  .cast("double"))
            ),
            [f"{pre}q", f"{pre}n"],
        )

    n_side = _q(emb, id_col, vec_col, "n")
    q_side = _q(queries, "qid", "qvec", "q")
    pairs = n_side.join(F.broadcast(q_side), F.col("qid") != F.col("nid"))
    scored = pairs.withColumn(
        "cos",
        _doti(F.col("qq"), F.col("nq")).cast("double")
        / (F.col("qn") * F.col("nn")),
    )
    return _topk_by_cos(scored, k)
