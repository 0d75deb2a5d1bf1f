"""Registry-wide physical-plan hygiene sweep: explain EVERY registered
query (no execution beyond the few eager localCheckpoint operators) and
flag plan anti-patterns —

  - CartesianProduct anywhere (always a bug in this codebase)
  - BroadcastNestedLoopJoin beyond the sanctioned single-row scalar
    broadcast convention (> 1 per plan, or any BNLJ whose build side
    isn't a one-row aggregate is suspicious — we flag count > 1 and
    print counts for manual review)
  - row-at-a-time Python UDFs (BatchEvalPython) — the banned slow path;
    the declared pandas-UDF surface shows as ArrowEvalPython /
    FlatMapGroupsInPandas / MapInPandas and is allowed
  - per-plan FileScan / Exchange counts, to spot rescans (a query whose
    scan count jumped between rounds re-runs its upstream), and Window /
    join node counts, so a diff of two full audits shows any plan-shape
    change
  - derived shuffle columns (``derived=``): Alias outputs of a Project
    directly under a shuffle exchange that only re-derive columns the same
    Project ships plainly and are not partitioning keys — bytes a shuffle
    ships twice (see ``plans.derived_shuffle_columns``)

Usage: python tools/plan_audit.py [sf_dir] [name ...]
Prints one line per query and a summary; exits 1 on hard violations
(CartesianProduct or BatchEvalPython).
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from artigraph_spark.plans import derived_shuffle_columns
from artigraph_spark.queries import queries
from artigraph_spark.session import get_spark

# a physical node's name: the first word of a plan line, after the tree
# drawing and any whole-stage-codegen "*(n)" marker
_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?(\w+)", re.M)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    only = [a for a in args if "/" not in a]
    spark = get_spark("plan_audit")
    spark.range(10).count()
    qs = queries()
    names = only or sorted(qs)
    hard, soft = [], []
    derived_total = derived_queries = 0
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            derived = len(derived_shuffle_columns(df))
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            hard.append((name, f"EXPLAIN FAILED: {exc}"))
            print(f"FAIL {name}: explain failed: {str(exc)[:200]}")
            continue
        cart = plan.count("CartesianProduct")
        bnlj = plan.count("BroadcastNestedLoopJoin")
        pyudf = plan.count("BatchEvalPython")
        scans = plan.count("FileScan")
        exch = plan.count("Exchange")
        nodes = _NODE.findall(plan)
        windows = nodes.count("Window")
        joins = sum(n.endswith("Join") or n == "CartesianProduct" for n in nodes)
        derived_total += derived
        derived_queries += bool(derived)
        flags = []
        if cart:
            flags.append(f"CARTESIAN x{cart}")
            hard.append((name, f"CartesianProduct x{cart}"))
        if pyudf:
            flags.append(f"PY_UDF x{pyudf}")
            hard.append((name, f"BatchEvalPython x{pyudf}"))
        if bnlj > 1:
            flags.append(f"BNLJ x{bnlj}")
            soft.append((name, f"BroadcastNestedLoopJoin x{bnlj}"))
        status = "WARN" if flags else "ok  "
        print(
            f"{status} {name}: scans={scans} exchanges={exch} windows={windows} "
            f"joins={joins} bnlj={bnlj} derived={derived}"
            + (f"  [{', '.join(flags)}]" if flags else "")
        )
    print(
        f"\n{len(names)} plans audited: {len(hard)} hard violations, "
        f"{len(soft)} soft flags, derived={derived_total} in {derived_queries} queries"
    )
    for name, why in hard:
        print(f"  HARD {name}: {why}")
    for name, why in soft:
        print(f"  soft {name}: {why}")
    return 1 if hard else 0


if __name__ == "__main__":
    sys.exit(main())
