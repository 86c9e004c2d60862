"""roar_spark benchmark: one command, two workloads, end-to-end and per-layer.

    python3 perfbench/run.py --workload gateway --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Workloads:

- ``gateway``: produce → Kafka wire source → decode/infer/coerce → store →
  Flight DoGet on two topics: one flooded far above what serve defaults
  admit (ingest throughput), one fed below it into a prefilled byte-capped
  buffer that two closed-loop Flight readers read (freshness);
- ``query_mix``: six of the gated registry queries over a seeded corpus,
  warm, each result checked against its DuckDB oracle.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer ones
(spans recorded around calls into each layer, written to ``.perfbench_out/``).
The line before the last holds the named lane metrics, sample counts and the
validity of the run; the last line is the result. An invalid run (see
perfbench/README.md) prints the detail line only and exits with code 2.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("gateway", "query_mix")

END_TO_END = {
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
# The percentile latency_tail_s reports. gateway: the highest one whose
# sample count leaves at least ten samples beyond it. query_mix: its
# latencies are six distinct queries, not samples of one distribution, so
# its tail is the slowest query.
TAIL_Q = {"gateway": 99, "query_mix": 100}


def per_layer_units() -> dict[str, str]:
    from querymix import QUERIES

    units = {
        "session.start_ms": "ms",
        "session.python_warm_ms": "ms",
        "sources.latest_offset_ms": "ms",
        "sources.rows_per_trigger": "count",
        "sources.lag_msgs": "count",
        "ingest.bootstrap_ms": "ms",
        "ingest.query_planning_ms": "ms",
        "store.trigger_ms": "ms",
        "store.append_ms": "ms",
        "store.to_arrow_ms": "ms",
        "store.commit_ms": "ms",
        "store.busy_share": "share",
        "store.records_dropped": "count",
        "flight.flight_info_ms": "ms",
        "flight.doget_server_ms": "ms",
        "flight.fetch_ms": "ms",
        "flight.to_arrow_ms": "ms",
        "flight.touch_ms": "ms",
        "flight.transfer_ms": "ms",
        "flight.rows_served": "count",
    }
    for name in QUERIES:
        for key in ("build_ms", "action_ms", "execute_ms"):
            units[f"query.{name}.{key}"] = "ms"
        units[f"query.{name}.jobs"] = "count"
    return units


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _checkout_root() -> str:
    """The benchmark runs from the root of a checkout holding roar_spark."""
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "roar_spark", "__init__.py")):
        _fail(f"no roar_spark package under {root}: run from the repository root")
    sys.path.insert(0, root)
    try:
        import pyspark  # noqa: F401

        import roar_spark  # noqa: F401
    except ImportError as exc:
        _fail(f"cannot import the engine: {exc}")
    return root


def _make_session(tmp: str, t_begin: float) -> dict:
    session = {"t_begin": t_begin, "marks": {"imported": time.perf_counter()}}

    def start(cores: int | None = None):
        """Start Spark at ``$SPARK_GRAFT_CPUS`` cores, or at ``cores``."""
        from roar_spark.session import get_spark, warm_python_workers

        t = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]" if cores else None,
            shuffle_partitions=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            },
        )
        session["spark"] = spark
        spark.range(1000).selectExpr("sum(id)").collect()
        session["start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        warm_python_workers(spark)
        session["warm_s"] = time.perf_counter() - t
        session["marks"]["spark_ready"] = time.perf_counter()
        return spark

    session["start"] = start
    return session


def _cleanup(session: dict, procs: list, tmp: str) -> None:
    """Stop the helper processes first (their clients would keep the Flight
    server and the stream busy), then the engine, the server and Spark."""
    for proc in procs:
        if proc.is_alive():
            proc.terminate()
        proc.join(10)
        if proc.is_alive():
            proc.kill()
            proc.join(10)
    for name, method in (("engine", "stop"), ("server", "shutdown"), ("spark", "stop")):
        if name in session:
            try:
                getattr(session[name], method)()
            except Exception as exc:  # noqa: BLE001 — keep tearing down the rest
                print(f"perfbench: cleanup: {exc!r}", file=sys.stderr)
    _stop_jvm()
    # multiprocessing's resource tracker outlives the helpers it served
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    _reap_descendants()
    shutil.rmtree(tmp, ignore_errors=True)


def _become_subreaper() -> None:
    """Have orphaned descendants (the Python workers the JVM forked, say)
    re-parented to this process instead of to init, so that
    ``_reap_descendants`` can wait for them before the benchmark exits."""
    import ctypes

    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass  # not Linux: orphans go to init, which reaps them


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended meanwhile
        # the fields after the parenthesised command: state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(entry))
    return kids


def _reap_descendants(grace_s: float = 10.0, timeout_s: float = 40.0) -> None:
    """Stop every process still a child of this one and wait for each: its
    own helpers and, as subreaper, whatever they left behind. SIGTERM first,
    SIGKILL after ``grace_s``; returns once none is left or at ``timeout_s``."""
    if not os.path.isdir("/proc"):
        return
    start = time.monotonic()
    while True:
        kids = _children()
        if not kids:
            return
        waited = time.monotonic() - start
        if waited > timeout_s:
            print(f"perfbench: cleanup: processes {kids} did not end", file=sys.stderr)
            return
        sig = signal.SIGKILL if waited > grace_s else signal.SIGTERM
        for pid in kids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == 0:
                    os.kill(pid, sig)
            except (ChildProcessError, ProcessLookupError):
                pass  # reaped or ended meanwhile
        time.sleep(0.1)


def _stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits when its stdin
    closes, which otherwise happens only after this process is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def _end_to_end(workload: str, out: dict) -> tuple[dict, dict, list[str]]:
    """(contract metrics, named lane metrics, invalid reasons).

    gateway: throughput = messages made visible per second, latency =
    freshness. query_mix: throughput = queries per second, latency =
    per-query wall time (build + collect, best of the warm passes). DoGet times stay in the lane
    metrics: with two closed-loop readers saturating the main interpreter
    they swing with host load by more than any bound the benchmark may set."""
    import gateway
    import numpy as np

    invalid = []
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    if workload == "query_mix":
        walls = np.asarray(list(out["walls"].values()))
        throughput, latency = walls.size / walls.sum(), walls
        lane = {
            "query_relational_s": {"value": out["query_relational_s"], "unit": "s"},
            "query_llm_s": {"value": out["query_llm_s"], "unit": "s"},
            "query_wall_s": out["walls"],
        }
    else:
        throughput, latency = out["ingest_msgs_per_s"], out["freshness"]
        lane = {"ingest_msgs_per_s": {"value": throughput, "unit": "1/s"}}
        for name, arr, qs in (
            ("freshness", latency, (50, 99)),
            ("doget_tail", out["doget_tail"], (50, 90)),
            ("doget_full", out["doget_full"], (50, 90)),
        ):
            for qq in qs:
                p = stats.percentile(arr, qq)
                lane[f"{name}_p{qq}_s"] = {"value": p.value if p.count else None, "unit": "s", "n": p.count}
        v = out["validity"]
        for topic, late in v["generator_lateness_p99_s"].items():
            if late > gateway.MAX_LATENESS_S:
                invalid.append(f"generator lagged on {topic}: p99 {late:.3f} s behind schedule")
        if v["broker_cpu_share"] > gateway.MAX_BROKER_CPU_SHARE:
            invalid.append(f"broker stand-in saturated: cpu share {v['broker_cpu_share']:.2f}")
        if v["unseen_live_records"]:
            invalid.append(
                f"{v['unseen_live_records']} live records not visible {gateway.DRAIN_S:.0f} s after the window"
            )
    q = TAIL_Q[workload]
    p50, tail = stats.percentile(latency, 50), stats.percentile(latency, q)
    if workload == "gateway" and not tail.supported:
        invalid.append(f"latency p{q} has {tail.beyond} samples beyond it (needs {stats.MIN_BEYOND})")
    lane["latency_samples"] = {"n": p50.count, "tail_percentile": q}
    metrics = {
        "throughput_per_s": throughput,
        "latency_p50_s": p50.value,
        "latency_tail_s": tail.value,
        "setup_s": out["setup_s"],
        "peak_rss_mb": rss,
    }
    return metrics, lane, invalid


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_begin = time.perf_counter()

    root = _checkout_root()
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(root, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    # Spark's Python workers and the helper processes import roar_spark and
    # the benchmark modules from the checkout; Spark's local files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _become_subreaper()

    import gateway
    import querymix
    from spans import Tracer

    tracer = Tracer() if args.trace else None
    session = _make_session(tmp, t_begin)
    procs: list = []
    try:
        if args.workload == "query_mix":
            out = querymix.run(args.seed, tracer, tmp, procs, session)
            failures = {"query_failures": len(out["failures"])}
            attempted = out["attempted"]
            failure_notes = out["failures"][:5]
        else:
            out = gateway.run(args.seed, args.seconds, tracer, tmp, procs, session)
            failures = out["failures"]
            attempted = out["attempted"]
            failure_notes = out["checker_failures"]
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        session["marks"]["measured"] = time.perf_counter()
        _cleanup(session, procs, tmp)
        session["marks"]["cleaned_up"] = time.perf_counter()

    failed = sum(failures.values())
    metrics, lane, invalid = _end_to_end(args.workload, out)
    lane["failed_ops"] = {"value": failed / max(attempted, 1), "unit": "share", "failed": failed, "attempted": attempted}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "valid": not invalid,
        "invalid_reasons": invalid,
        "lane_metrics": lane,
        "failures": failures,
        "failure_notes": failure_notes,
        "validity": out.get("validity", {}),
        # seconds since the process started at which each phase ended
        "phases_s": {k: round(v - t_begin, 2) for k, v in session["marks"].items()},
        "setup_parts_s": {k: out[k] for k in ("bootstrap_s", "prefill_s") if k in out},
    }
    if tracer is not None:
        units = per_layer_units()
        layers = dict.fromkeys(units, 0.0)
        layers["session.start_ms"] = session["start_s"] * 1e3
        layers["session.python_warm_ms"] = session["warm_s"] * 1e3
        layers.update(out.get("layers", {}))
        result_metrics = {k: (layers[k], units[k]) for k in units}
        detail["traced_end_to_end"] = metrics  # minus an untraced run's = tracing overhead
        detail["self_time_ms"] = tracer.self_times_ms()
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
    else:
        result_metrics = {k: (metrics[k], END_TO_END[k]) for k in END_TO_END}
    print(json.dumps({"detail": detail}, default=float), flush=True)
    if invalid:
        _fail("invalid run, not recorded: " + "; ".join(invalid))
    print(json.dumps(stats.result_line(failed == 0, attempted, failed, result_metrics)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
