"""The benchmark workloads.

Each workload builds its inputs from the seed (``setup``), runs one pass of
the program on them (``run_pass``: fresh plans, outputs materialized with
``write.format("noop")`` and checked), and can run the same pass as a chain
of layer calls with every boundary materialized and timed (``trace``).
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import pyarrow.parquet as pq

import inputs
from checks import conflation_errors, digest

SIZES = {
    # images per pass; tables scale factor
    "full": {"conflate_skewed": 5_000, "pipeline_commit": 40_000, "queries_sf001": 0.01},
    "smoke": {"conflate_skewed": 3_000, "pipeline_commit": 3_000, "queries_sf001": 0.001},
}

JOIN_QUERIES = ["dist_join", "s2_dist_join", "conflate_best", "conflate_new", "way_crossings"]
CURATION_QUERIES = ["dedup_minhash_pairs", "ann_cosine_topk", "image_dedup_assemble",
                    "curate_assemble"]
OTHER_QUERIES = ["tile_assign", "cell_stats", "aoi_clip", "zlayout_aoi_clip"]
QUERIES = OTHER_QUERIES + JOIN_QUERIES + CURATION_QUERIES
PIPELINE_STAGES = ["images_normalized", "layer_normalized", "matched", "new_features",
                   "tile_assignment"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def materialize(df):
    """Time a noop write of df; df is persisted while it is written, so the
    rows can be checked afterwards without computing them again."""
    df = df.persist()
    try:
        t0 = time.perf_counter()
        noop(df)
        wall = time.perf_counter() - t0
        return wall, df.toArrow()
    finally:
        df.unpersist(blocking=True)


def _files(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under path."""
    n = size = 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Digests:
    """Remembers the first digest seen under each key; later passes must
    reproduce it."""

    def __init__(self):
        self.first: dict[str, str] = {}

    def check(self, key: str, value: str) -> list[str]:
        ref = self.first.setdefault(key, value)
        return [] if ref == value else [f"{key}: digest {value} != first pass {ref}"]


class ConflateSkewed:
    name = "conflate_skewed"

    def setup(self, spark, work: str, seed: int, size: str) -> None:
        self.inp = inputs.conflation_inputs(work, SIZES[size][self.name], seed)
        self.all_ids = set(pq.read_table(self.inp.images, columns=["image_id"])
                           .column("image_id").to_pylist())
        self.digests = Digests()

    def _frames(self, spark):
        return spark.read.parquet(self.inp.images), spark.read.parquet(self.inp.layer)

    def run_pass(self, spark) -> tuple[float, list[str], dict]:
        from osm_merge_spark.operators.conflate import ConflateParams, conflate

        img, lyr = self._frames(spark)
        t0 = time.perf_counter()
        matched, new = conflate(img, lyr, ConflateParams(), explode_multipart=True)
        plan_s = time.perf_counter() - t0  # building the lazy plan is driver work
        wall_m, m = materialize(matched)
        wall_n, n = materialize(new)
        errs = conflation_errors(m, n, self.all_ids, self.inp.must_match)
        errs += self.digests.check("matched", digest(m))
        errs += self.digests.check("new", digest(n))
        errs += self.digests.check("pairs", digest(m.select(["image_id", "feature_id"])))
        wall = plan_s + wall_m + wall_n
        return wall, errs, {"plan_s": plan_s, "matched_s": wall_m, "new_s": wall_n,
                            "images_per_s": self.inp.n_images / wall}

    def trace(self, spark, tracer, untraced_wall: float) -> tuple[dict, list[str]]:
        """conflate(..., explode_multipart=True) as the chain of layer calls
        it makes, each boundary persisted and written once. conflate()'s
        `new` output recomputes the join; here it reuses the persisted
        winners, so the traced wall can come out below the plain one."""
        from pyspark.sql import functions as F

        from osm_merge_spark.functions import geo
        from osm_merge_spark.functions.cells import CellGrid
        from osm_merge_spark.operators import cell_join, knn
        from osm_merge_spark.operators.conflate import (
            ConflateParams, new_features, prepare_images, refine_distance, score_hits)
        from osm_merge_spark.operators.multipart import explode_parts

        prm = ConflateParams()
        kept = []

        def keep(step, df):
            df = df.persist()
            kept.append(df)
            tracer.timed(step, lambda: noop(df))
            return df

        img, lyr = self._frames(spark)
        t0 = time.perf_counter()  # as in run_pass, plan building counts
        grid = CellGrid.for_radius(prm.threshold_m * 1.05, max_abs_lat=70.0)
        p = prepare_images(img)
        s = (lyr.withColumnRenamed("tags", "s_tags").withColumnRenamed("caption", "s_caption")
             .withColumn("s_ref", F.element_at("s_tags", "ref:usfs")))
        p_slim = p.select("image_id", "lon", "lat", "caption")
        s_slim = explode_parts(s.select("feature_id", "xs", "ys")).drop("part_idx")
        s_pts = s_slim.filter(F.size("xs") == 1).select(
            "feature_id", F.element_at("xs", 1).alias("s_lon"),
            F.element_at("ys", 1).alias("s_lat"))
        kw = {"n_salt": prm.n_salt, "hot_threshold": prm.hot_threshold}
        pt_pairs = keep("cell_join", cell_join.candidate_pairs_points(p_slim, s_pts, grid, **kw))
        ln_pairs = keep("cell_join", cell_join.candidate_pairs(
            p_slim, s_slim.filter(F.size("xs") > 1), grid, secondary_points=False, **kw))

        deg = prm.threshold_m * 1.2 / 110_574.0
        deg_lon = F.lit(deg) / F.cos(F.radians(F.col("lat")))
        cols = ["image_id", "lon", "lat", "feature_id", "dist_m", "caption"]
        thr = F.col("dist_m") <= F.lit(prm.threshold_m)

        def bbox(x0, x1, y0, y1):
            return ((F.col("lat") >= y0 - F.lit(deg)) & (F.col("lat") <= y1 + F.lit(deg))
                    & (F.col("lon") >= x0 - deg_lon) & (F.col("lon") <= x1 + deg_lon))

        sx, sy = F.col("s_lon"), F.col("s_lat")
        pt_ref = (pt_pairs.filter(bbox(sx, sx, sy, sy))
                  .withColumn("dist_m", geo.haversine_m(F.col("lon"), F.col("lat"), sx, sy))
                  .filter(thr).select(*cols))
        ln_ref = refine_distance(ln_pairs.filter(bbox(
            F.array_min("xs"), F.array_max("xs"), F.array_min("ys"), F.array_max("ys")
        ))).filter(thr).select(*cols)
        refined = keep("refine", pt_ref.unionByName(ln_ref))

        best_part = refined.groupBy("image_id", "feature_id").agg(
            F.min("dist_m").alias("dist_m"),
            *[F.first(c).alias(c) for c in ("lon", "lat", "caption")])
        capped = keep("knn.top_k", knn.top_k_agg(
            best_part, "image_id", "dist_m", "feature_id", prm.candidate_cap,
            const_cols=["lon", "lat", "caption"]))
        enriched = (capped
                    .withColumn("p_tags", F.map_from_arrays(F.array(F.lit("name")),
                                                            F.array(F.col("caption"))))
                    .withColumn("p_ref", F.lit(None).cast("string"))
                    .join(s.select("feature_id", "s_caption", "s_tags", "s_ref", "version"),
                          "feature_id"))
        scored = keep("fuzzy", score_hits(enriched, prm))
        best = keep("knn.best", knn.best_candidate(scored, "image_id"))
        new = keep("conflate.new", new_features(p, best.select("image_id")))
        traced_wall = time.perf_counter() - t0

        n_cand = pt_pairs.count() + ln_pairs.count()
        n_ref = refined.count()
        errs = self.digests.check(
            "pairs", digest(best.select("image_id", "feature_id").toArrow()))
        st = tracer.steps
        out = {
            "cell_join.s": st["cell_join"].wall_s,
            "cell_join.pairs_out": n_cand,
            "cell_join.shuffle_bytes": st["cell_join"].shuffle_bytes,
            "refine.s": st["refine"].wall_s,
            "refine.pairs_out": n_ref,
            "refine.keep_ratio": n_ref / n_cand,
            "knn.top_k.s": st["knn.top_k"].wall_s,
            "knn.top_k.rows_out": capped.count(),
            "knn.top_k.peak_mem_bytes": st["knn.top_k"].peak_mem_bytes,
            "knn.best.s": st["knn.best"].wall_s,
            "fuzzy.s": st["fuzzy"].wall_s,
            "fuzzy.pairs_scored": scored.count(),
            "conflate.new.s": st["conflate.new"].wall_s,
            "conflate.new.rows_out": new.count(),
            "conflate.images_per_s": self.inp.n_images / untraced_wall,
            "trace.overhead_s": traced_wall - untraced_wall,
        }
        for df in kept:
            df.unpersist(blocking=True)
        return out, errs


class PipelineCommit:
    name = "pipeline_commit"

    def setup(self, spark, work: str, seed: int, size: str) -> None:
        self.work = work
        self.inp = inputs.pipeline_inputs(work, SIZES[size][self.name], seed)
        self.all_ids = set(pq.read_table(self.inp.images, columns=["image_id"])
                           .column("image_id").to_pylist())
        self.digests = Digests()
        self._k = 0

    def _fresh_dir(self) -> str:
        self._k += 1
        return os.path.join(self.work, f"pipeline-{self._k}")

    def _run(self, spark, base: str):
        from osm_merge_spark.plans.pipeline import PipelineContext, conflation_pipeline

        ctx = PipelineContext(spark, base)
        img = spark.read.parquet(self.inp.images)
        lyr = spark.read.parquet(self.inp.layer)
        t0 = time.perf_counter()
        conflation_pipeline(ctx, img, lyr)
        return time.perf_counter() - t0, ctx

    def _pass(self, spark, run):
        """run(step, fn) times fn; returns wall, errors, extras, stage dir."""
        base = self._fresh_dir()
        fresh_s, ctx = run("pipeline", lambda: self._run(spark, base))
        resume_s, ctx2 = run("pipeline.resume", lambda: self._run(spark, base))
        errs = []
        if ctx2.executed or sorted(ctx2.skipped) != sorted(PIPELINE_STAGES):
            errs.append(f"resume re-ran {ctx2.executed}")
        m = pq.read_table(ctx.stage_path("matched"))
        n = pq.read_table(ctx.stage_path("new_features"))
        errs += conflation_errors(m, n, self.all_ids, self.inp.must_match)
        errs += self.digests.check("matched", digest(m))
        errs += self.digests.check("new", digest(n))
        out_bytes = sum(_files(ctx.stage_path(s))[1] for s in PIPELINE_STAGES)
        extras = {"fresh_s": fresh_s, "resume_s": resume_s,
                  "images_per_s": self.inp.n_images / fresh_s,
                  "bytes_out_per_byte_in": out_bytes / self.inp.input_bytes}
        return fresh_s, errs, extras, ctx

    def run_pass(self, spark) -> tuple[float, list[str], dict]:
        wall, errs, extras, ctx = self._pass(spark, lambda _step, fn: fn())
        shutil.rmtree(ctx.base_dir)
        return wall, errs, extras

    def trace(self, spark, tracer, untraced_wall: float) -> tuple[dict, list[str]]:
        from osm_merge_spark.sources.tables import commit_table

        target = os.path.join(self.work, "commit-probe")
        commit_s, _ = tracer.timed(
            "tables.commit", lambda: commit_table(spark.read.parquet(self.inp.images), target))
        files, nbytes = _files(target)
        shutil.rmtree(target)

        def traced(step, fn):
            _wall, (inner, ctx) = tracer.timed(step, fn)
            return inner, ctx

        fresh_s, errs, extras, ctx = self._pass(spark, traced)
        stage = {m["stage"]: m for m in ctx.manifest()}
        out = {
            "tables.commit_s": commit_s,
            "tables.files_written": files,
            "tables.bytes_written": nbytes,
            "pipeline.lineage_overhead_s": stage["images_normalized"]["wall_s"] - commit_s,
            "pipeline.resume_s": extras["resume_s"],
            "pipeline.images_per_s": self.inp.n_images / untraced_wall,
            "pipeline.bytes_out_per_byte_in": extras["bytes_out_per_byte_in"],
            "tiles.assign.s": stage["tile_assignment"]["wall_s"],
            "tiles.files_written": _files(ctx.stage_path("tile_assignment"))[0],
            "trace.overhead_s": fresh_s - untraced_wall,
        }
        for s in PIPELINE_STAGES:
            out[f"pipeline.{s}.s"] = stage[s]["wall_s"]
            out[f"pipeline.{s}.rows_out"] = stage[s]["rows_out"]
            out[f"pipeline.{s}.files"] = _files(ctx.stage_path(s))[0]
        shutil.rmtree(ctx.base_dir)
        return out, errs


class QueriesSf001:
    """The registered headline queries over seed-ordered generated tables,
    each checked against its DuckDB oracle."""

    name = "queries_sf001"

    def setup(self, spark, work: str, seed: int, size: str) -> None:
        import __spark_entry__ as contract

        self.sf_dir = os.path.join(work, "tables")
        self.input_bytes = inputs.write_tables(self.sf_dir, SIZES[size][self.name], seed)
        self.queries = contract.queries()
        sqls = contract.oracle_sql()
        con = duckdb.connect()
        try:
            for t in inputs.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.sf_dir, t)}.parquet')")
            self.oracle = {q: digest(con.execute(sqls[q]).arrow()) for q in QUERIES}
        finally:
            con.close()

    def _query(self, spark, q: str, timer):
        wall, tab = timer(q, lambda: materialize(self.queries[q](spark, self.sf_dir)))
        errs = [] if digest(tab) == self.oracle[q] else [f"{q}: differs from DuckDB oracle"]
        return wall, tab.num_rows, errs

    def _walls(self, spark, timer):
        walls, rows, errs = {}, {}, []
        for q in QUERIES:
            walls[q], rows[q], e = self._query(spark, q, timer)
            errs += e
        return walls, rows, errs

    @staticmethod
    def _sums(walls: dict) -> dict:
        return {"queries.total_s": sum(walls.values()),
                "queries.join_s": sum(walls[q] for q in JOIN_QUERIES),
                "queries.curation_s": sum(walls[q] for q in CURATION_QUERIES)}

    def run_pass(self, spark) -> tuple[float, list[str], dict]:
        walls, rows, errs = self._walls(spark, lambda _q, fn: fn())
        sums = self._sums(walls)
        return sums["queries.total_s"], errs, {**sums, "per_query_s": walls}

    def trace(self, spark, tracer, untraced_wall: float) -> tuple[dict, list[str]]:
        out, plan_s = {}, {}

        def timer(q, fn):
            df = self.queries[q](spark, self.sf_dir)
            t = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            plan_s[q] = time.perf_counter() - t
            _w, res = tracer.timed(f"queries.{q}", fn)
            return res

        walls, rows, errs = self._walls(spark, timer)
        for q in QUERIES:
            out[f"queries.{q}.s"] = walls[q]
            out[f"queries.{q}.plan_s"] = plan_s[q]
            out[f"queries.{q}.rows"] = rows[q]
            out[f"queries.{q}.shuffle_bytes"] = tracer.steps[f"queries.{q}"].shuffle_bytes
        out.update(self._sums(walls))
        out["trace.overhead_s"] = out["queries.total_s"] - untraced_wall
        return out, errs


WORKLOADS = {w.name: w for w in (ConflateSkewed, PipelineCommit, QueriesSf001)}
