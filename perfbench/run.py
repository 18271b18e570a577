"""Benchmark driver: one workload, one closed-loop client, local[n_cpus].

    python3 perfbench/run.py --workload conflate_skewed --seed 1 --seconds 5 --trace 0

Run from the repository root. The run builds its inputs from the seed under
``.perfbench-work/`` (removed at exit), starts Spark through the engine's
``get_spark`` and runs one untimed warm-up pass (``setup_s`` covers all of
this), then

- ``--trace 0``: repeats timed passes until ``--seconds`` have passed (one
  pass at least), and reports the end-to-end metrics (``pass_s`` is the
  median pass);
- ``--trace 1``: runs one plain pass and one traced pass (every layer
  boundary materialized under its own Spark job group) and reports the
  per-layer metrics; ``trace.overhead_s`` is traced minus plain wall, and
  ``pass.cpu_s`` the CPU time of the whole process tree (driver, JVM,
  Python workers) over the plain pass, output checks included.

Every pass checks its outputs; ``attempted``/``failed`` count passes. The
last stdout line is the result object; the line before it is a run record
(configuration, per-pass walls, workload-specific figures, and in trace
mode the per-layer metrics that the workload does not exercise, reported
as 0). ``--size smoke`` runs tiny inputs for the benchmark's own test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import sparkstats  # noqa: E402
from workloads import PIPELINE_STAGES, QUERIES, WORKLOADS  # noqa: E402

END_TO_END = {"pass_s": "s", "setup_s": "s"}

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "tables.commit_s": ("s", "lower"),
    "tables.files_written": ("count", "lower"),
    "tables.bytes_written": ("B", "lower"),
    **{f"pipeline.{s}.{m}": u for s in PIPELINE_STAGES for m, u in
       (("s", ("s", "lower")), ("rows_out", ("count", "higher")), ("files", ("count", "lower")))},
    "pipeline.lineage_overhead_s": ("s", "lower"),
    "pipeline.resume_s": ("s", "lower"),
    "pipeline.images_per_s": ("1/s", "higher"),
    "pipeline.bytes_out_per_byte_in": ("ratio", "lower"),
    "cell_join.s": ("s", "lower"),
    "cell_join.pairs_out": ("count", "lower"),
    "cell_join.shuffle_bytes": ("B", "lower"),
    "refine.s": ("s", "lower"),
    "refine.pairs_out": ("count", "higher"),
    "refine.keep_ratio": ("ratio", "higher"),
    "knn.top_k.s": ("s", "lower"),
    "knn.top_k.rows_out": ("count", "lower"),
    "knn.top_k.peak_mem_bytes": ("B", "lower"),
    "knn.best.s": ("s", "lower"),
    "fuzzy.s": ("s", "lower"),
    "fuzzy.pairs_scored": ("count", "lower"),
    "conflate.new.s": ("s", "lower"),
    "conflate.new.rows_out": ("count", "higher"),
    "conflate.images_per_s": ("1/s", "higher"),
    "tiles.assign.s": ("s", "lower"),
    "tiles.files_written": ("count", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.shuffle_bytes": ("B", "lower"),
    "spark.cpu_busy_ratio": ("ratio", "higher"),
    "pass.cpu_s": ("s", "lower"),
    "pass.cpu_busy_ratio": ("ratio", "higher"),
    "spark.tasks": ("count", "lower"),
    "spark.input_bytes": ("B", "lower"),
    "spark.peak_rss_mb": ("MB", "lower"),
    "trace.overhead_s": ("s", "lower"),
}
# Reported in addition by queries_sf001, which BENCHMARK.json does not list.
QUERY_LAYER = {
    **{f"queries.{q}.{m}": u for q in QUERIES for m, u in
       (("s", ("s", "lower")), ("plan_s", ("s", "lower")), ("rows", ("count", "higher")),
        ("shuffle_bytes", ("B", "lower")))},
    "queries.total_s": ("s", "lower"),
    "queries.join_s": ("s", "lower"),
    "queries.curation_s": ("s", "lower"),
}

# The first pass pays JIT, codegen and Python worker start-up (about 2x a
# later pass) and is not timed. The second is still ~10% above later ones,
# but session start plus that first pass already cost ~40 s, and a run has to
# stay near a minute: at these sizes one pass fills --seconds, and faster
# code fits more passes, of which the median is reported.
WARM_PASSES = 1


def _pass(wl, spark, outcome):
    outcome["attempted"] += 1
    try:
        wall, errs, extras = wl.run_pass(spark)
    except Exception:
        outcome["failed"] += 1
        outcome["errors"].append(traceback.format_exc(limit=3))
        return float("nan"), {}
    if errs:
        outcome["failed"] += 1
        outcome["errors"].extend(errs[:3])
    return wall, extras


def run(workload: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    sparkstats.refuse_strategy_env()
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench-work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    outcome = {"attempted": 0, "failed": 0, "errors": []}
    try:
        t0 = time.perf_counter()
        spark = sparkstats.start_session(work)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[workload]()
        wl.setup(spark, work, seed, size)
        warm = [_pass(wl, spark, outcome)[0] for _ in range(WARM_PASSES)]
        setup_s = time.perf_counter() - t0
        record = {"workload": workload, "seed": seed, "size": size,
                  "config": sparkstats.run_config(spark), "session_s": session_s,
                  "warm_walls": warm}
        if trace:
            c0, t1 = sparkstats.tree_cpu_s(), time.perf_counter()
            untraced, _ = _pass(wl, spark, outcome)
            pass_cpu_s = sparkstats.tree_cpu_s() - c0
            pass_elapsed = time.perf_counter() - t1
            tracer = sparkstats.Tracer(spark)
            t1 = time.perf_counter()
            layers, errs = wl.trace(spark, tracer, untraced)
            traced_wall = time.perf_counter() - t1
            outcome["attempted"] += 1
            if errs:
                outcome["failed"] += 1
                outcome["errors"].extend(errs[:3])
            layers.update(tracer.runtime_metrics(traced_wall))
            layers["session.start_s"] = session_s
            layers["pass.cpu_s"] = pass_cpu_s
            layers["pass.cpu_busy_ratio"] = pass_cpu_s / (pass_elapsed * sparkstats.n_cpus())
            layers["spark.peak_rss_mb"] = sparkstats.jvm_peak_rss_mb(spark)
            names = {**PER_LAYER, **(QUERY_LAYER if workload == "queries_sf001" else {})}
            record["not_on_this_workload"] = sorted(set(names) - set(layers))
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, (u, _b) in names.items()}
        else:
            walls, extras = [], []
            t1 = time.perf_counter()
            while not walls or time.perf_counter() - t1 < seconds:
                wall, ex = _pass(wl, spark, outcome)
                walls.append(wall)
                extras.append(ex)
            record["timed_walls"] = walls
            record["extras"] = extras
            ok = [w for w in walls if w == w]  # a pass that raised has no wall
            metrics = {
                "pass_s": statistics.median(ok) if ok else 0.0,
                "setup_s": setup_s,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        record["errors"] = outcome["errors"]
        print(json.dumps(record, default=str))
    finally:
        if spark is not None:
            sparkstats.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return {"correct": outcome["failed"] == 0, "attempted": outcome["attempted"],
            "failed": outcome["failed"], "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "osm_merge_spark")):
        print("osm_merge_spark not found next to perfbench/: run from a full checkout",
              file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
