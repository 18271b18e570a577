"""Time registry queries at a given sf dir — the quick pathological-plan
sweep bench.py's curated suite doesn't cover.

One shared session on get_spark's default master (local[$SPARK_GRAFT_CPUS],
local[*] when unset), one warm-up collect of a tiny query, then
each named query (default: all) is built fresh and timed over `--reps`
runs (min taken). Prints `name  best_s  rows`, slowest first.

Usage: python scripts/time_queries.py [--sf DIR] [--reps 2] [names...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract  # noqa: E402
from osm_merge_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.1"
    reps = 2
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        del args[i : i + 2]
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]

    qs = contract.queries()
    names = args or sorted(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark(
        "time-queries",
        extra_conf={"spark.sql.shuffle.partitions": "32"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()  # JVM warm-up

    rows_out: list[tuple[str, float, int]] = []
    for n in names:
        best, rows = float("inf"), -1
        try:
            for _ in range(reps):
                t0 = time.monotonic()
                rows = qs[n](spark, sf).count()
                best = min(best, time.monotonic() - t0)
        except Exception as e:  # noqa: BLE001 — report and keep sweeping
            print(f"{n:28s} ERROR {type(e).__name__}: {e}", file=sys.stderr)
            continue
        rows_out.append((n, best, rows))

    for n, s, r in sorted(rows_out, key=lambda t: -t[1]):
        print(f"{n:28s} {s:8.3f}s  rows={r}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
