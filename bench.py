"""Benchmark harness: the headline query suite.

Run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on get_spark's default master, local[$SPARK_GRAFT_CPUS]
(local[*] when unset); print ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
   "sf": ..., "rows": {...}, "master": ...}

Conflation scaling across core counts is scripts/scaling_bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "tile_assign",
    "cell_stats",
    "dist_join",
    "conflate_best",
    "conflate_new",
    "aoi_clip",
    "dedup_minhash_pairs",
    "ann_cosine_topk",
    # the fused LLM-pipeline capstone (decode → pHash → banded near-dup →
    # quality gates → shard assignment) — driver-tracked since r4 so its
    # round-over-round trend is in the official artifacts (r3 verdict #7;
    # ad-hoc r3 measurement: 2.68 s)
    "image_dedup_assemble",
    # aoi_clip through the Z-order layout (r5): the one-time write_zordered
    # happens in the untimed warmup (cached per session), so the timed reps
    # measure the pruned read_bbox plan — the access path a 100 TB table
    # actually serves AOI queries from; compare against the flat `aoi_clip`
    # row above
    "zlayout_aoi_clip",
    # the round-5 curation capstone (sequence dedup ∩ k-anonymity gate ∩
    # integer recency decay, one lazy plan) — tracked from r5 so future
    # rounds see its trend next to image_dedup_assemble's
    "curate_assemble",
]


def _sf_label(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def run_once(sf_dir: str) -> dict:
    """Pinned protocol (round-3 fix for the r2 16.5→18.3 s phantom
    regression): per query, one UNTIMED warmup pass (JIT, codegen cache,
    parquet footer/page cache), then min of SPARK_GRAFT_BENCH_REPS
    fresh-plan repetitions — the same warm/min-of-N discipline as
    scripts/scaling_bench.py. Single-shot timings at sf0.1 are dominated
    by per-query job overhead and swing ±30% run-to-run; min-of-N of
    fresh plans measures the engine, not the scheduler's mood."""
    from osm_merge_spark.session import get_spark

    import __spark_entry__ as contract

    spark = get_spark("osm-merge-spark-bench")
    qs = contract.queries()
    # Adaptive reps: C2 JIT + the Arrow fuzzy worker pool converge over a
    # variable number of executions depending on co-tenant load (measured
    # 3 reps on a quiet host, 5+ at load ~6: fresh-plan walls
    # 14.9 → 12.0 → 6.1 → 3.5 → 2.0 s for conflate_best at sf0.1).
    # A fixed rep count under-warms on a noisy day, so: one untimed
    # warmup, then fresh-plan reps until the running min stops improving
    # by >8% for two consecutive reps (min MIN_REPS, cap MAX_REPS).
    min_reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    max_reps = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_REPS", "8"))
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    reps_used: dict[str, int] = {}
    for name in HEADLINE:
        if name not in qs:
            continue
        qs[name](spark, sf_dir).count()  # warmup, untimed
        best = float("inf")
        n = 0
        stale = 0
        r = 0
        while r < max_reps:
            df = qs[name](spark, sf_dir)  # fresh plan per rep
            t0 = time.perf_counter()
            n = df.count()
            wall = time.perf_counter() - t0
            stale = stale + 1 if wall > best * 0.92 else 0
            best = min(best, wall)
            r += 1
            if r >= min_reps and stale >= 2:
                break
        timings[name] = round(best, 3)
        rows[name] = n
        reps_used[name] = r
    return {
        "metric": "headline suite wall time (conflation join + tiling + dedup/ann)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": _sf_label(sf_dir),
        "rows": rows,
        "master": spark.sparkContext.master,
        "reps": reps_used,
        "protocol": "per-query warmup + fresh-plan reps to convergence "
                    f"(min {min_reps}, cap {max_reps}, stop after 2 non-improving)",
    }


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    print(json.dumps(run_once(sf_dir)))
