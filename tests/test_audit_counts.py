"""Pin tools/audit_plans.plan_counts against a committed plan dump, and
the join-baseline comparison that fails the audit on a new join.

The r11 audit counted joins with a bare 'SortMergeJoin (' pattern, but
formatted-plan join tree-lines interleave the join type between name and
id ("SortMergeJoin LeftOuter (53)") — the pattern could never match and
the smj/bnlj columns read 0 unconditionally. Every counter now reads the
numbered detail headers ("(53) SortMergeJoin"), which are one per node
and type-free, so a node name mentioned inside an argument line counts
nothing. These tests lock the counting against a real committed
plan file (so the fixture cannot drift from what explain actually emits)
plus synthetic corner cases.
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from audit_plans import join_regressions, plan_counts  # noqa: E402

_REPO = os.path.join(os.path.dirname(__file__), "..")


def test_counts_on_committed_knn_bulk_plan():
    """The committed knn_bulk after-plan has exactly one SortMergeJoin —
    the final corpus LeftOuter join (AdaptiveSparkPlan initial plan; AQE
    rewrites it to broadcast at driver SFs) — which the r11 pattern
    missed entirely."""
    p = open(
        os.path.join(_REPO, "plans", "r12", "embedding_knn_classify_bulk_after.txt")
    ).read()
    c = plan_counts(p)
    assert c["smj"] == 1
    assert c["rowudf"] == 0
    assert c["cart"] == 0
    assert c["arrow_kernels"] >= 1  # the screen's MapInPandas kernel
    assert c["exch"] >= 1


def test_join_type_in_tree_line_does_not_hide_the_join():
    p = (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan (3)\n"
        "+- SortMergeJoin LeftOuter (2)\n"
        "   +- Scan parquet  (1)\n"
        "\n"
        "(2) SortMergeJoin\n"
        "Left keys [1]: [k]\n"
    )
    assert plan_counts(p)["smj"] == 1


def test_detail_header_only_counted_once_per_node():
    p = (
        "(5) BroadcastNestedLoopJoin\n(9) CartesianProduct\n(6) Window\n"
        "(7) WindowGroupLimit\n(8) SortMergeJoin [codegen id : 3]\n"
    )
    c = plan_counts(p)
    assert c["smj"] == 1
    assert c["bnlj"] == 1
    assert c["cart"] == 1
    assert c["wind"] == 1  # WindowGroupLimit is not a Window


def test_mid_line_mention_not_counted():
    # a comment-like mention inside an argument line must not count
    for line, key in [
        ("Arguments: something SortMergeJoin (12) said", "smj"),
        ("Arguments: partitioned like Window (7) upstream", "wind"),
        ("Arguments: replaces BatchEvalPython (3) here", "rowudf"),
        ("Arguments: fused into MapInPandas (4) below", "arrow_kernels"),
        ("Arguments: reads Exchange (9) output", "exch"),
    ]:
        assert plan_counts(line + "\n")[key] == 0, line


def test_join_regression_flags_one_extra_smj():
    rows = [
        {"q": "a", "smj": 2, "bnlj": 0},
        {"q": "b", "smj": 0, "bnlj": 0},
    ]
    assert join_regressions(rows, {"a": {"smj": 1}}) == [{"q": "a", "smj": (2, 1)}]


def test_join_regression_equal_counts_not_flagged():
    rows = [{"q": "a", "smj": 1, "bnlj": 1}, {"q": "b", "smj": 0, "bnlj": 0}]
    assert join_regressions(rows, {"a": {"smj": 1, "bnlj": 1}}) == []


def test_join_regression_missing_query_baseline_is_zero():
    rows = [{"q": "new", "smj": 0, "bnlj": 1}, {"q": "broken", "err": "boom"}]
    assert join_regressions(rows, {}) == [{"q": "new", "bnlj": (1, 0)}]
