"""North-rule scaling benchmark: the conflation job at two parallelism
levels on the SAME input (BASELINE.md §2 row 4 — the single-host stand-in
for N vs 4N executor clusters).

Protocol (the fresh-plan protocol of the earlier-host runs, BASELINE.md §5):
  - each parallelism level runs in its OWN process, pinned with taskset to
    exactly its core budget (an unpinned local[8] silently borrows the
    other 24 cores for GC/Python workers and inflates the baseline);
  - the synthetic input is written to parquet ONCE and both levels read the
    same files (identical input, not identical plan objects);
  - every timed repetition rebuilds the logical plan from scratch (Spark
    reuses materialized shuffle outputs when re-counting one DataFrame);
  - warmup run + min of --reps fresh-plan repetitions (single-shot noise
    in the sandbox is ±50%);
  - driver heap scales with the thread count.

Usage:
    python scripts/scaling_bench.py --n 2000000 --levels 8,32 --reps 3
Prints one JSON line:
    {"n": ..., "levels": {"8": {...}, "32": {...}}, "speedup": ..,
     "efficiency": ..}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _worker(args) -> None:
    """One pinned parallelism level: synth → conflate → count, fresh plan
    per rep. Prints one JSON line with the min wall."""
    from osm_merge_spark.session import get_spark

    # tmpfs shuffle dirs: each simulated "cluster" gets memory-speed local
    # IO, standing in for the per-node local disks a real N/4N deployment
    # has — one shared spinning/virtual disk would otherwise couple the
    # two legs through a bandwidth ceiling neither would see in production.
    shm = "/dev/shm/spark-scaling-tmp"
    os.makedirs(shm, exist_ok=True)
    spark = get_spark(
        f"scaling-{args.cores}",
        master=f"local[{args.cores}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(args.cores * 4),
            "spark.driver.memory": f"{max(8, args.cores)}g",
            "spark.local.dir": shm,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from osm_merge_spark.operators.conflate import ConflateParams, conflate

    images = spark.read.parquet(f"{args.input}/images")
    layer = spark.read.parquet(f"{args.input}/layer")

    def run() -> tuple[float, int]:
        t0 = time.time()
        matched, _ = conflate(images, layer, ConflateParams())
        n_out = matched.count()
        return time.time() - t0, n_out

    def release_dead_shuffles() -> None:
        # fresh-plan protocol: each rep abandons its plan, but the shuffle
        # files it wrote stay on (tmpfs!) disk until the driver GC lets
        # the ContextCleaner collect them — at large n the accumulated
        # reps' shuffles compete with the heap for physical RAM and the
        # later reps degrade (observed: growing walls at n=16M). Nudge.
        spark.sparkContext._jvm.System.gc()

    run()  # warmup (JVM/JIT/codegen caches)
    release_dead_shuffles()
    # convergence-based reps (same discipline as bench.py run_once, the
    # r2-verdict-mandated protocol): C2 JIT + the Arrow worker pool take a
    # variable number of executions to converge, and co-tenant noise means
    # a fixed rep count can leave the min 40% above the converged floor
    # (observed r4: 8-core walls 173.7 → 120.8 across 3 reps). Keep timing
    # fresh plans until the running min stops improving by >8% for two
    # consecutive reps (min --reps, cap --max-reps).
    walls, n_out = [], 0
    best, stale = float("inf"), 0
    while len(walls) < args.max_reps:
        w, n_out = run()
        walls.append(w)
        release_dead_shuffles()
        stale = stale + 1 if w > best * 0.92 else 0
        best = min(best, w)
        if len(walls) >= args.reps and stale >= 2:
            break
    print(json.dumps({
        "cores": args.cores, "wall_s": round(best, 2),
        "walls": [round(w, 2) for w in walls], "matched": n_out,
        "throughput_img_s": round(args.n / best),
    }))


def _synth_input(n: int, path: str) -> None:
    """Write the synthetic input once (both levels read the same files)."""
    from osm_merge_spark.data.synth import synth_images, synth_layer
    from osm_merge_spark.session import get_spark

    spark = get_spark("scaling-synth", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    synth_images(spark, n).write.mode("overwrite").parquet(f"{path}/images")
    synth_layer(spark, n).write.mode("overwrite").parquet(f"{path}/layer")
    spark.stop()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=2_000_000)
    ap.add_argument("--levels", default="8,32")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--max-reps", type=int, default=6,
                    help="cap for the convergence-based rep loop")
    ap.add_argument("--input", default=None, help="reuse a synth dir")
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument(
        "--pin-factor", type=int, default=1,
        help="pin local[k] to k*pin_factor cores; 2 = the driver-decoupled"
             " variant (BASELINE.md §5): same k executor threads, but"
             " driver, GC, and Python workers get spare cores, like a real"
             " cluster's separate driver node",
    )
    args = ap.parse_args()

    if args.worker:
        _worker(args)
        return 0

    levels = [int(x) for x in args.levels.split(",")]
    tmp = args.input or tempfile.mkdtemp(prefix="scaling_input_")
    own_tmp = args.input is None
    try:
        if own_tmp or not os.path.exists(f"{tmp}/images"):
            print(f"synthesizing n={args.n} → {tmp}", file=sys.stderr)
            _synth_input(args.n, tmp)

        results: dict[str, dict] = {}
        for cores in levels:
            n_pin = min(cores * args.pin_factor, os.cpu_count() or cores)
            cmd = [
                "taskset", "-c", f"0-{n_pin - 1}",
                sys.executable, os.path.abspath(__file__),
                "--worker", "--cores", str(cores), "--n", str(args.n),
                "--reps", str(args.reps), "--max-reps", str(args.max_reps),
                "--input", tmp,
            ]
            print(f"running local[{cores}] @ {n_pin}-core pin ...",
                  file=sys.stderr)
            out = subprocess.run(cmd, capture_output=True, text=True,
                                 cwd=REPO, check=True)
            line = [ln for ln in out.stdout.splitlines()
                    if ln.startswith("{")][-1]
            results[str(cores)] = json.loads(line)
            print(line, file=sys.stderr)

        lo, hi = str(min(levels)), str(max(levels))
        speed = results[hi]["throughput_img_s"] / results[lo]["throughput_img_s"]
        factor = max(levels) / min(levels)
        print(json.dumps({
            "n": args.n, "levels": results,
            "speedup": round(speed, 2),
            "efficiency": round(speed / factor, 2),
        }))
    finally:
        if own_tmp:
            shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
