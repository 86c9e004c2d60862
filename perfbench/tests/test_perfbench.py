"""Tests of the benchmark's own pure logic (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402


def test_percentile_is_nearest_rank_with_count():
    p = stats.percentile(range(1, 101), 90)
    assert (p.value, p.count, p.beyond) == (90.0, 100, 10)
    assert p.supported
    assert stats.percentile([3.0, 1.0, 2.0], 50).value == 2.0


def test_percentile_support_needs_ten_samples_beyond():
    assert not stats.percentile(range(99), 90).supported  # 9 beyond
    assert stats.percentile(range(1000), 99).supported  # 10 beyond
    assert stats.percentile(range(27), 60).supported  # 10 beyond
    assert stats.percentile([1.0], 50).supported  # a median needs no tail


def test_percentile_of_nothing_has_count_zero():
    p = stats.percentile([], 50)
    assert p.count == 0 and np.isnan(p.value)


def test_freshness_from_first_seen_log_drops_setup_traffic():
    log = [
        (100.0, np.array([90.0, 99.5])),  # 90.0 predates the window
        (101.0, np.array([100.2, 100.4])),
        (102.0, np.array([])),
    ]
    got = stats.freshness(log, since=95.0)
    np.testing.assert_allclose(np.sort(got), [0.5, 0.6, 0.8])
    assert stats.freshness([], since=0.0).size == 0


def test_checker_marks_only_first_sightings():
    c = stats.ExactlyOnceChecker()
    fresh = c.observe(np.array([0, 0, 1]), np.array([0, 1, 0]))
    assert fresh.tolist() == [True, True, True]
    fresh = c.observe(np.array([0, 0, 0, 1]), np.array([0, 1, 2, 0]))
    assert fresh.tolist() == [False, False, True, False]
    assert c.failures == []


def test_checker_accepts_eviction_from_the_front():
    c = stats.ExactlyOnceChecker()
    c.observe(np.zeros(4, dtype=int), np.arange(4))
    c.observe(np.zeros(4, dtype=int), np.arange(2, 6))
    assert c.failures == []


def test_checker_counts_records_not_yet_visible():
    c = stats.ExactlyOnceChecker()
    assert c.unseen({0: 3, 1: 2}) == 5  # nothing read yet
    c.observe(np.array([0, 0, 1]), np.array([0, 1, 0]))
    assert c.unseen({0: 3, 1: 2}) == 2
    c.observe(np.array([0, 0, 1, 1]), np.array([1, 2, 0, 1]))
    assert c.unseen({0: 3, 1: 2}) == 0


@pytest.mark.parametrize(
    "reads, problem",
    [
        ([[0, 1, 1, 2]], "duplicate"),
        ([[0, 1, 3]], "gap"),
        ([[0, 1, 2, 3], [0, 1, 2]], "moved back"),
        ([[0, 1, 2], [5, 6]], "never visible"),
    ],
)
def test_checker_flags_lost_and_duplicated_messages(reads, problem):
    c = stats.ExactlyOnceChecker()
    for offsets in reads:
        c.observe(np.zeros(len(offsets), dtype=int), np.array(offsets))
    assert any(problem in f for f in c.failures), c.failures


@pytest.mark.parametrize("name", ["setup_s", "query.q1_pricing_summary.build_ms", "a-b.c_1"])
def test_metric_names_accepted(name):
    assert stats.validate_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "bad name", "ms/s", "_leading", "x" * 65, "p99%"])
def test_metric_names_rejected(name):
    with pytest.raises(ValueError):
        stats.validate_metric_name(name)


def test_result_line_has_exactly_the_contract_keys():
    line = stats.result_line(True, 0, 0, {"setup_s": (1.5, "s")})
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["attempted"] == 1
    assert line["metrics"] == {"setup_s": {"value": 1.5, "unit": "s"}}


def test_result_line_refuses_a_metric_without_samples():
    with pytest.raises(ValueError, match="latency_p50_s"):
        stats.result_line(True, 1, 0, {"latency_p50_s": (float("nan"), "s")})


def test_payloads_carry_the_seeded_checksum_and_amount():
    offsets = range(5, 25)
    for off, raw in zip(offsets, gen.payloads(7, 2, offsets)):
        doc = json.loads(raw)
        assert doc["id"] == off
        assert doc["chk"] == int(gen.expected_chk(7, 2, off))
        assert round(doc["amount"] * 100) == int(gen.expected_amount_cents(7, 2, off))
    assert gen.payloads(7, 2, offsets) == gen.payloads(7, 2, offsets)
    assert gen.payloads(7, 2, offsets) != gen.payloads(8, 2, offsets)


def test_benchmark_json_lists_what_run_py_prints():
    import run

    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


def test_spans_nest_per_thread_and_report_self_time():
    from spans import Tracer

    class Layer:
        def outer(self):
            return self.inner()

        def inner(self):
            return 1

    tracer = Tracer()
    tracer.wrap(Layer, "outer", "outer")
    tracer.wrap(Layer, "inner", "inner", when=lambda open_, layer: "outer" in open_ and isinstance(layer, Layer))
    try:
        Layer().outer()
        Layer().inner()  # outside an outer span: not timed
    finally:
        tracer.unwrap_all()
    by_name = {name: (sid, parent, root) for name, _s, _e, sid, parent, root in tracer.spans}
    assert set(by_name) == {"outer", "inner"} and len(tracer.spans) == 2
    outer_id = by_name["outer"][0]
    assert by_name["inner"][1:] == (outer_id, outer_id)
    self_ms = tracer.self_times_ms()
    total_outer = tracer.durations_ms("outer")[0]
    assert self_ms["outer"] <= total_outer
    assert Layer.outer.__name__ == "outer" and not hasattr(Layer.outer, "__wrapped__")



@pytest.mark.skipif(not os.path.isdir("/proc"), reason="needs /proc")
def test_reap_descendants_leaves_no_child_running_or_zombie():
    import subprocess
    import time

    import run

    running = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    zombie = subprocess.Popen([sys.executable, "-c", "pass"])  # never waited for
    time.sleep(0.5)
    assert {running.pid, zombie.pid} <= set(run._children())
    run._reap_descendants(grace_s=1.0, timeout_s=10.0)
    assert not run._children()
    assert not os.path.exists(f"/proc/{running.pid}") and not os.path.exists(f"/proc/{zombie.pid}")
