"""Spot-check named queries()/oracle_sql() entries against DuckDB at a given
sf dir — the DuckDB views and canonicalization of
tests/test_oracle_parity.py, runnable for a subset without the whole
pytest session.

Usage: python scripts/check_queries.py [--sf /root/testdata/sf0.01] q1 q2 ...
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract  # noqa: E402
from osm_merge_spark.session import get_spark  # noqa: E402
from tests.test_oracle_parity import canon, duck_views  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i:i + 2]
    qs, os_ = contract.queries(), contract.oracle_sql()
    names = args or sorted(qs)
    spark = get_spark("check-queries")
    con = duck_views(sf_dir)
    failed = []
    for name in names:
        try:
            sp = canon(qs[name](spark, sf_dir).toPandas())
            if name not in os_:
                print(f"{name}: rows={len(sp)} (no oracle — rows-only)")
                continue
            du = canon(con.execute(os_[name]).df())
            ok_rows = len(sp) == len(du)
            ok_cols = list(sp.columns) == list(du.columns)
            ok_vals = ok_rows and ok_cols and sp.astype(str).equals(du.astype(str))
            status = "OK" if (ok_rows and ok_cols and ok_vals) else "FAIL"
            print(f"{name}: {status} rows={len(sp)}/{len(du)} cols_match={ok_cols} vals_match={ok_vals}")
            if status == "FAIL":
                failed.append(name)
                print("  spark cols:", list(sp.columns))
                print("  duck  cols:", list(du.columns))
                if ok_rows and ok_cols:
                    neq = (sp.astype(str) != du.astype(str)).any(axis=1)
                    print("  first diffs:\n", sp[neq].head(3), "\n  vs\n", du[neq].head(3))
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
    print("FAILED:" if failed else "ALL GREEN", failed if failed else "")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
