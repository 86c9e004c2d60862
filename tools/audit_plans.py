"""Registry-wide physical-plan audit: build every registry query against
$SPARK_GRAFT_SF_DIR (default sf0.01 — plan shape, not timing) and count
the structural red-flag nodes in `explain("formatted")`:
BatchEvalPython/ArrowEvalPython (row-at-a-time Python), CartesianProduct,
SortMergeJoin, BroadcastNestedLoopJoin, Exchange counts. Prints one JSON
line per run.

Exits 1 when any query has a row-at-a-time Python node, a cartesian
product or a build error, or more SortMergeJoin / BroadcastNestedLoopJoin
nodes than its entry in JOIN_BASELINE.

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


# Vetted per-query join counts at sf0.01 (the default audit SF): every
# SortMergeJoin / BroadcastNestedLoopJoin node in the registry's plans.
# The BNLJs are broadcast theta/cross joins against a bounded side (a
# 1-row scalar aggregate, the query set, the bracket table, the small-
# corpus simhash all-pairs); the SMJs are AQE initial-plan joins. A query
# absent here, or a key absent from its entry, has a baseline of 0. A
# plan change that adds such a join fails the audit until the new plan is
# read and its entry raised here.
JOIN_BASELINE: dict[str, dict[str, int]] = {
    "dedup_clusters_star": {"smj": 1},
    "dedup_embedding": {"smj": 1},
    "dedup_embedding_lsh": {"smj": 1},
    "dedup_simhash": {"bnlj": 1},
    "embedding_knn_classify": {"bnlj": 1},
    "embedding_knn_classify_bulk": {"smj": 1},
    "events_range_join": {"smj": 1},
    "join_full_outer": {"smj": 1},
    "join_non_equi": {"bnlj": 1},
    "q11_important_parts": {"bnlj": 1},
    "q20_excess_suppliers": {"smj": 1},
    "q21_waiting_supplier": {"smj": 1},
    "q22_idle_customers": {"bnlj": 1},
    "sample_temperature": {"bnlj": 1},
    "sim_brute_topk": {"bnlj": 1},
}

JOIN_KEYS = ("smj", "bnlj")


def join_regressions(rows: list[dict], baseline: dict = JOIN_BASELINE) -> list[dict]:
    """The audit rows whose smj or bnlj count exceeds the query's
    baseline, each as {"q", key: (count, baseline), ...}. Error rows carry
    no counts and are flagged separately."""
    out = []
    for r in rows:
        base = baseline.get(r["q"], {})
        over = {
            k: (r[k], base.get(k, 0))
            for k in JOIN_KEYS
            if r.get(k, 0) > base.get(k, 0)
        }
        if over:
            out.append({"q": r["q"], **over})
    return out


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
    joins = join_regressions(rows)
    print(
        f"# {len(rows)} queries audited; {len(flags)} flagged "
        f"(row-UDF / cartesian / error), {len(joins)} over the join baseline",
        file=sys.stderr,
    )
    for r in flags:
        print(f"# FLAG {r}", file=sys.stderr)
    for r in joins:
        print(f"# JOIN REGRESSION (count, baseline) {r}", file=sys.stderr)
    sys.exit(1 if flags or joins else 0)


if __name__ == "__main__":
    main()
