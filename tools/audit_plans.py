"""Registry-wide physical-plan audit (r11): build every registry query
against $SPARK_GRAFT_SF_DIR (default sf0.01 — plan shape, not timing) and
count the structural red-flag nodes in `explain("formatted")`:
BatchEvalPython/ArrowEvalPython (row-at-a-time Python), CartesianProduct,
SortMergeJoin, Exchange counts. Prints one JSON line per run; the r11
optimization round's whole-surface sweep evidence (OPTIMIZATION_r11.md).

Usage: python tools/audit_plans.py [query ...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _nodes(p: str, *names: str) -> int:
    """Count the numbered detail headers ("(53) SortMergeJoin", or with a
    " [codegen id : 5]" suffix) of the named node types: one per node,
    whatever the tree line carries."""
    return sum(
        len(re.findall(rf"^\(\d+\) {n}(?: \[codegen id : \d+\])?$", p, re.M))
        for n in names
    )


def plan_counts(p: str) -> dict:
    """Structural node counts for one explain("formatted") string.

    Every counter reads the numbered detail headers, which are one per
    node and type-free. A tree-line substring misses joins, whose tree
    lines carry the join type between the name and the id
    ("SortMergeJoin LeftOuter (53)"), and counts mentions of a node name
    inside argument lines. Pinned in tests/test_audit_counts.py against a
    committed plan dump."""
    return {
        "exch": _nodes(p, "Exchange"),
        "bcast": _nodes(p, "BroadcastExchange"),
        "smj": _nodes(p, "SortMergeJoin"),
        "bnlj": _nodes(p, "BroadcastNestedLoopJoin"),
        "cart": _nodes(p, "CartesianProduct"),
        "rowudf": _nodes(p, "BatchEvalPython", "ArrowEvalPython"),
        "arrow_kernels": _nodes(p, "MapInPandas", "FlatMapGroupsInPandas"),
        "wind": _nodes(p, "Window"),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from roar_spark.registry import QUERIES
    from roar_spark.session import get_spark

    spark = get_spark(app_name="roar_spark_audit")
    names = sys.argv[1:] or list(QUERIES)
    rows = []
    for name in names:
        try:
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            p = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            rows.append(
                {
                    "q": name,
                    "build_s": round(time.perf_counter() - t0, 2),
                    **plan_counts(p),
                }
            )
        except Exception as e:  # noqa: BLE001 — audit must cover every row
            rows.append({"q": name, "err": str(e)[:120]})
    print(json.dumps(rows))
    flags = [
        r for r in rows if r.get("rowudf") or r.get("cart") or "err" in r
    ]
    print(
        f"# {len(rows)} queries audited; {len(flags)} flagged "
        f"(row-UDF / cartesian / error)",
        file=sys.stderr,
    )
    for r in flags:
        print(f"# FLAG {r}", file=sys.stderr)
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
