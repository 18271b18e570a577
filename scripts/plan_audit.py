"""Plan-shape audit over the whole query registry.

For every `queries()` entry, compile the physical plan at a given sf dir and
flag scale anti-patterns: SortMergeJoin (two needless full sorts on hash
keys), CartesianProduct, a Python UDF evaluated by two plan nodes over the
same input attributes (DUP-UDF: an inferred filter pushed below the
projection re-runs it — functions/barrier.eval_once prevents that), a
dedup aggregate straight over a cell join (PAIR-DEDUP: cell_join.cell_pairs
emits each pair once, so the aggregate only costs a shuffle), a
higher-order function evaluated per pair over a cell join's output
(PAIR-HOF: HOFs run interpreted; explode the geometry into scalar pieces
before the join instead), and count Exchanges / Sorts / broadcast joins.
This is the tool that caught the banded-join SMJ (fixed with shuffle_hash
hints); run it after adding any join.

Exits non-zero on any unwaived flag and on any WAIVED entry whose flag no
longer fires for an audited query.

Usage: python scripts/plan_audit.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract  # noqa: E402
from osm_merge_spark.session import get_spark  # noqa: E402

# Named waivers: queries whose flagged construct is PROVEN bounded by a
# data-independent quantity (each must cite the pinning test). A waiver is
# not an exemption from review — the audit still prints the flag, it just
# doesn't count it against the run. A waiver whose flag no longer fires is
# dead and fails the run until it is removed here.
WAIVED = {
    # rank window over the per-tile count table: input is raster-bounded
    # (≤ box-area/tile² cells, NOT corpus rows) — bound pinned by
    # tests/test_dbscan.py::test_coverage_gini_raster_bound_and_range
    "coverage_gini": "NOPART-WINDOW",
}


def udf_calls(plan: str) -> list[str]:
    """The UDF calls of every Python-eval node in a plan string, one entry
    per (node, call), with the call's result id stripped: equal entries
    are the same UDF over the same input attributes."""
    calls = []
    for m in re.finditer(r"(?:Arrow|Batch)EvalPython \[", plan):
        depth, start, parts = 1, m.end(), []
        for i in range(m.end(), len(plan)):
            c = plan[i]
            depth += (c in "([") - (c in ")]")
            if depth == 0 or (depth == 1 and c == ","):
                parts.append(plan[start:i])
                start = i + 1
            if depth == 0:
                break
        calls += {re.sub(r"#\d+L?$", "", p.strip()) for p in parts}
    return calls


def plan_nodes(plan: str) -> list[dict]:
    """The operators of a plan tree string, each as {name, text, children}
    (children are indices into the returned list), in line order."""
    nodes, stack = [], []  # stack: (depth, index)
    for line in plan.splitlines():
        m = re.match(r"[\s:+\-|]*(?:\*\(\d+\) )?", line)
        text = line[m.end():]
        if not text or text.startswith("=="):
            continue
        depth = m.end()
        while stack and stack[-1][0] >= depth:
            stack.pop()
        nodes.append({"name": text.split(" ")[0].split("(")[0], "text": text,
                      "children": []})
        if stack:
            nodes[stack[-1][1]]["children"].append(len(nodes) - 1)
        stack.append((depth, len(nodes) - 1))
    return nodes


def reaches_cell_join(nodes: list[dict], node: dict) -> bool:
    """node's input reaches a join on the cell key `__jcell` through only
    row-preserving Project/Filter/Generate/Sort nodes."""
    cur = node
    while len(cur["children"]) == 1:
        cur = nodes[cur["children"][0]]
        if cur["name"] not in ("Project", "Filter", "Generate", "Sort"):
            break
    return "Join" in cur["name"] and "__jcell" in cur["text"]


def pair_hof(plan: str) -> bool:
    """A Project or Filter holding a higher-order function (a
    `lambdafunction`) over a cell join's output: Spark runs HOFs
    interpreted, so a per-pair refine over geometry arrays there costs
    interpreted work for every candidate pair. Exploding the build side
    into scalar pieces (one row per segment) before the join keeps the
    per-pair math in codegen."""
    nodes = plan_nodes(plan)
    return any(
        node["name"] in ("Project", "Filter") and "lambdafunction" in node["text"]
        and reaches_cell_join(nodes, node)
        for node in nodes
    )


def pair_dedup(plan: str) -> bool:
    """A dedup aggregate (no functions, or only first() — what distinct()
    and dropDuplicates() plan to) keyed on two or more columns (a pair's
    ids; a distinct over one side's key is not a pair dedup) whose input
    reaches a join on the cell key `__jcell` through only row-preserving
    Project/Filter/Generate/Sort nodes: it removes pairs the cell join
    repeated."""
    nodes = plan_nodes(plan)
    for node in nodes:
        if not node["name"].endswith(("Aggregate", "Deduplicate")):
            continue
        keys = re.search(r"keys?=\[([^\]]*)\]", node["text"])
        funcs = re.search(r"functions=\[(.*?)\], output=", node["text"])
        if (keys and len(keys.group(1).split(", ")) < 2) or (
                funcs and re.sub(r"(?:partial_|merge_)?first\([^()]*\)|[\s,]", "",
                                 funcs.group(1))):
            continue
        if reaches_cell_join(nodes, node):
            return True
    return False


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        del args[i : i + 2]
    spark = get_spark("plan-audit", master="local[8]")
    qs = contract.queries()
    names = args or sorted(qs)
    flagged = 0
    dead = []
    for name in names:
        try:
            plan = (
                qs[name](spark, sf)._jdf.queryExecution()
                .executedPlan().toString()
            )
        except Exception as exc:  # surface, keep auditing
            print(f"{name:24s} ERROR {type(exc).__name__}: {exc}")
            flagged += 1
            continue
        smj = "SortMergeJoin" in plan
        cart = "CartesianProduct" in plan
        # a windowspecdefinition whose FIRST argument is already an
        # ordering (ASC/DESC) has no partition columns — the
        # single-partition WindowExec Spark itself warns about
        nopart = bool(re.search(
            r"windowspecdefinition\([^(),]*\s(?:ASC|DESC)\sNULLS", plan
        ))
        n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
        n_sort = len(re.findall(r"\bSort \[", plan))
        n_bc = len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoop", plan))
        dup_udf = any(n > 1 for n in Counter(udf_calls(plan)).values())
        dedup = pair_dedup(plan)
        hof = pair_hof(plan)
        flags = (("SMJ " if smj else "") + ("CARTESIAN " if cart else "")
                 + ("NOPART-WINDOW " if nopart else "")
                 + ("DUP-UDF " if dup_udf else "")
                 + ("PAIR-DEDUP " if dedup else "")
                 + ("PAIR-HOF" if hof else ""))
        waived = flags.strip() and WAIVED.get(name) == flags.strip()
        if (smj or cart or nopart or dup_udf or dedup or hof) and not waived:
            flagged += 1
        if name in WAIVED and not waived:
            dead.append(name)
        if waived:
            flags += "(waived: bounded, see WAIVED)"
        print(f"{name:24s} exchanges={n_ex} sorts={n_sort}"
              f" bcast={n_bc} {flags}")
    print(f"\n{flagged} flagged / {len(names)} audited")
    if dead:
        print(f"dead waivers (flag no longer fires): {', '.join(dead)}")
    return 1 if flagged or dead else 0


if __name__ == "__main__":
    raise SystemExit(main())
