"""Committed per-query physical-plan census -> PLAN_AUDIT.json.

tests/test_plans.py ASSERTS the plan properties the 100 TB design
relies on; this script RECORDS them per query so the committed tree
carries a browsable audit: shuffle (Exchange) count, broadcast joins,
filter pushdown, scan schema width, Python (Arrow) eval presence,
single-task Sort/Window sites, and BNLJ/cartesian flags. Plans are
shape-stable across scale factors, so the census runs at sf0.001.

Usage:
    python scripts/plan_audit.py [sf_dir] [out_name]
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from open_rust_timeseries_db_spark.plans import (  # noqa: E402
    count_exchanges,
    has_broadcast_hash_join,
    has_python_eval,
    plan_string,
    pushed_filters,
    read_schemas,
)
from open_rust_timeseries_db_spark.queries import all_queries  # noqa: E402
from open_rust_timeseries_db_spark.session import get_spark  # noqa: E402


def _single_task_sort_or_window(plan: str) -> bool:
    """Exchange SinglePartition feeding a Sort/Window (tree-parsed) —
    same detection as tests/test_plans.py's census gate."""
    sp = {
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) Exchange\b", plan)
        if re.search(
            r"\(%s\) Exchange[^\n]*\nInput[^\n]*\nArguments: SinglePartition"
            % m.group(1),
            plan,
        )
    }
    if not sp:
        return False
    tree = []
    for line in plan.splitlines():
        m = re.match(r"^([ +:-]*)([A-Za-z][A-Za-z0-9]*)[^(]*\((\d+)\)", line)
        if m:
            tree.append((len(m.group(1)), m.group(2), int(m.group(3))))
        elif tree:
            break
    for i, (ind, _name, nid) in enumerate(tree):
        if nid in sp:
            cur, anc = ind, []
            for j in range(i - 1, -1, -1):
                if tree[j][0] < cur:
                    anc.append(tree[j][1])
                    cur = tree[j][0]
                if len(anc) >= 2:
                    break
            if any(a in ("Sort", "Window", "WindowGroupLimit") for a in anc):
                return True
    return False


def audit_entry(spark, sf_dir: str, spec) -> dict:
    """One registered query's PLAN_AUDIT.json entry: the census of the
    plan its (unmemoized) builder returns, or a marker for streaming and
    iterative queries, whose plans are not audited."""
    if {"streaming", "iterative"} & set(spec.tags):
        return {"kind": "streaming_or_iterative_not_plan_audited"}
    df = getattr(spec.fn, "__wrapped__", spec.fn)(spark, sf_dir)
    p = plan_string(df)
    return {
        "exchanges": count_exchanges(df),
        "broadcast_hash_join": has_broadcast_hash_join(df),
        "bnlj": "BroadcastNestedLoopJoin" in p,
        "cartesian": "CartesianProduct" in p,
        "python_eval": has_python_eval(df),
        "pushed_filters": len([f for f in pushed_filters(df) if f]),
        "scan_schemas": read_schemas(df),
        "single_task_sort_or_window": _single_task_sort_or_window(p),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_name = sys.argv[2] if len(sys.argv) > 2 else "PLAN_AUDIT.json"
    spark = get_spark()
    audit = {
        name: audit_entry(spark, sf_dir, spec)
        for name, spec in sorted(all_queries().items())
    }
    out = {
        "policy": (
            "per-query physical-plan census at sf0.001 (plans are "
            "shape-stable across sf); the invariants themselves are "
            "ASSERTED in tests/test_plans.py — zero cartesians, BNLJ "
            "and single-task Sort/Window only on rationale-carrying "
            "allowlists, Python eval only in the designated Arrow "
            "kernels"
        ),
        "queries": audit,
    }
    (Path(__file__).resolve().parent.parent / out_name).write_text(
        json.dumps(out, indent=1, sort_keys=True) + "\n"
    )
    n_st = sum(
        1 for v in audit.values() if v.get("single_task_sort_or_window")
    )
    n_py = sum(1 for v in audit.values() if v.get("python_eval"))
    print(
        f"audited {len(audit)} queries -> {out_name}: "
        f"{n_py} with Arrow kernels, {n_st} single-task (allowlisted), "
        f"0 cartesian"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
