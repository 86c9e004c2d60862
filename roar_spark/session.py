"""SparkSession construction.

One place to encode the execution-engine posture:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition guess is always wrong; AQE re-plans from actual map
  output sizes.
- Arrow on for any pandas interchange (the reference is Arrow end-to-end,
  art/article.md:22; our Python boundary should be too).
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  the reference's ``timestamp[ns]`` columns (kafka/consumer.go:836).
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE coalescing makes the initial number mostly a ceiling.
- Python workers fork from our own daemon, ``roar_spark._worker_daemon``
  (``spark.python.daemon.module``). Every Python task calls
  ``importlib.invalidate_caches()``, which before Python 3.13 re-reads the
  directory of pyspark.zip once per zip importer, 16 times in a worker; in
  the gateway benchmark's micro-batches that cost 146-630 ms a task,
  against a median of 8 ms reading a live-topic task's records. The daemon re-reads an archive only when it
  changed, so a Kafka micro-batch (one task per partition) and every
  pandas/Arrow kernel start in milliseconds. The package root goes on the
  workers' PYTHONPATH so the daemon imports from any working directory.
  Like every conf here, it applies only when ``get_spark`` creates the
  SparkContext; on a cluster the executors must be able to import
  roar_spark, as the registry's Python kernels already require.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def warm_python_workers(spark: SparkSession) -> None:
    """Pre-spawn the Python worker pool with a trivial applyInPandas: the
    first pandas-importing worker spawn costs ~15 s and would otherwise
    land on whichever measured query happens to run first (shared by
    bench.py and tools/scale_smoke.py)."""
    spark.range(64).selectExpr("id", "id % 8 as g").groupBy("g").applyInPandas(
        lambda p: p, "id long, g long"
    ).collect()


def _default_driver_memory() -> str:
    """~60% of physical RAM, capped at 48g and floored at 2g — a fixed
    48g -Xmx on a small host invites an OS OOM-kill (uncatchable) instead
    of a Java OOM; SPARK_DRIVER_MEMORY overrides."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
        gb = max(2, min(48, int(kb / 1024 / 1024 * 0.6)))
    except Exception:  # noqa: BLE001 — no /proc (mac): keep a modest default
        gb = 8
    return f"{gb}g"


_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))

# Python worker daemon (roar_spark/_worker_daemon.py): pyspark.daemon with an
# import-cache invalidation that does not re-read pyspark.zip on every task
WORKER_DAEMON_MODULE = "roar_spark._worker_daemon"


def _prepend_worker_path(path: str) -> None:
    """Put ``path`` first on $PYTHONPATH. The JVM inherits this process's
    environment and PythonWorkerFactory merges env PYTHONPATH into every
    Python worker's path, so this must run before the JVM starts."""
    existing = os.environ.get("PYTHONPATH", "")
    if path not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{path}{os.pathsep}{existing}" if existing else path
        )


def _ensure_protobuf_shim() -> None:
    """Make `google.protobuf` importable when no real protobuf exists, via
    the vendored pure-Python runtime shim (roar_spark/vendor/README.md).

    Spark 4's transformWithStateInPandas Python worker speaks the TWS
    state-server protocol through the generated StateMessage_pb2 module,
    whose only runtime dependency is this API. Prepending (a) sys.path for
    this process and (b) $PYTHONPATH for the JVM's Python workers activates
    the shim everywhere the protocol runs. A real protobuf install always
    wins — we only add the path when the import fails."""
    import importlib.util
    import sys

    try:
        # raises ModuleNotFoundError when the parent `google` namespace
        # itself is absent (find_spec imports the parent first)
        if importlib.util.find_spec("google.protobuf") is not None:
            return
    except ModuleNotFoundError:
        pass
    vendor = os.path.join(_PACKAGE_DIR, "vendor")
    if vendor not in sys.path:
        sys.path.insert(0, vendor)
    _prepend_worker_path(vendor)


DEFAULT_APP_NAME = "roar_spark"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Local testing runs ``local[N]``; the same configuration is valid on a
    cluster (master comes from the environment / spark-submit there).
    """
    # before the JVM spawns: workers inherit env. The package root makes
    # the worker daemon importable from any working directory — without it
    # the workers found roar_spark only through the launching process's cwd.
    _ensure_protobuf_shim()
    _prepend_worker_path(os.path.dirname(_PACKAGE_DIR))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (  # NOTE: every conf here is a no-op if getOrCreate reuses a
        # live session — embedding hosts own their session's settings
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE on shuffle width: a blanket 8x initialPartitionNum here
        # fixed the 4M-doc shingle spill (282 s -> 99 s, SCALE.md) but
        # regressed the whole sf0.1 bench (dedup_minhash_lsh 1.8 s ->
        # 3.0 s warm, measured A/B in-round) — AQE coalescing does NOT
        # refund the map-side cost of writing 8x shuffle buckets, and
        # persisted intermediates pin the inflated width for every
        # downstream stage (cached plans keep their partitioning). The
        # knob is therefore DATA-DRIVEN instead: operators whose heavy
        # shuffle volume is known from footer metadata build on
        # tuned_session() below, so small inputs keep the core-count
        # width and only genuinely large shuffles start fine-grained.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
        # PySpark call-site capture (DataFrame debugging) costs THREE extra
        # py4j round trips per DataFrame/Column API call (conf read +
        # origin set + origin clear) plus a Python stack walk — measured
        # ~0.7 s of the 1.6 s plan-BUILD time of the widest operator
        # (dedup_simhash, 7.8k py4j messages). Plan construction is
        # driver-side work repeated per query at any scale; the only cost
        # of disabling is less-precise user-code line numbers in error
        # messages (guide §5: the driver should do almost no work).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        # Streaming: bounded state cleanup + deterministic micro-batching.
        .config("spark.sql.streaming.stateStore.stateSchemaCheck", "true")
        # The test corpus writes events.ts as parquet TIMESTAMP(NANOS); Spark
        # has no ns timestamp type, so read it as a nano long and let
        # catalog.load_table normalize to µs (same ns→µs mapping as the
        # reference's Arrow timestamp[ns], SURVEY.md §1.3).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# One reduce task comfortably handles ~1M shuffle rows of (doc_id, shingle)-
# sized records in executor memory; beyond that the sort spills (measured:
# 232M rows over 32 tasks = 7.25M rows/task spilled and ran 282 s, the same
# volume over 256 tasks ran 99 s — SCALE.md, 4M-doc dedup_minhash_lsh).
ROWS_PER_SHUFFLE_TASK = 1_000_000

# Ceiling on how far a tuned width may exceed the base: beyond 64× the
# per-bucket map-side write cost dominates (and the local harness is
# memory-bound long before — SCALE.md's 16M-doc clamp probe).
SHUFFLE_WIDTH_CLAMP = 64

_INITIAL_PARTITION_NUM = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def shuffle_width_for(base: int, expected_rows: int) -> int:
    """AQE initial shuffle width for an operator whose heaviest shuffle
    carries ``expected_rows`` rows: clamp(rows / 1M, base, 64*base).

    Static shuffle-partition counts are always wrong at some scale: the
    core count spills on 100M+-row shuffles, while a blanket 8x multiplier
    taxes every small query with 8x shuffle buckets that AQE coalescing
    does not refund (both measured — see get_spark's conf comment). The
    scalable form derives the width from data volume the way a cost-based
    planner would; AQE coalesces intermediate stages that turn out
    smaller."""
    return max(base, min(SHUFFLE_WIDTH_CLAMP * base, -(-expected_rows // ROWS_PER_SHUFFLE_TASK)))


def tuned_session(spark: SparkSession, expected_rows: int) -> SparkSession:
    """Session to BUILD a heavy-shuffle operator on, with AQE's initial
    shuffle width derived from the operator's expected shuffle volume
    (parquet footer metadata — a driver-side read, no job).

    When the derived width is the base (every driver SF), this returns
    ``spark`` unchanged — zero overhead, identical plans. Only genuinely
    large inputs get a CLONE (``newSession``: same SparkContext, cached
    data, and PERSISTENT catalog; its own SQLConf — note temp views and
    registered UDFs are per-session and do NOT carry over, which is fine
    for the registry operators because they read parquet paths directly,
    but a host-composed query over temp views must not be built on the
    tuned session) carrying the tuned ``initialPartitionNum``. Because a
    DataFrame executes under the conf of the session it was built from,
    the width travels WITH the operator's plan: it applies at the
    caller's ``collect()`` no matter what is built or run in between, and
    the caller's session is never mutated — neither leak direction of the
    r5 session-global tuning exists (small-after-big inheriting a wide
    conf, or big-build/small-tune/big-execute re-spilling at base width;
    VERDICT r5 task 2 + ADVICE).

    The clone re-applies the parent's explicitly-set SQL confs so an
    embedding host's runtime settings (timezone, ANSI toggles,
    credentials) carry over. Enumeration goes through the session state's
    raw conf map, NOT the ``SET`` command: SET redacts values matching
    ``spark.redaction.regex``, and copying the literal ``*(redacted)``
    placeholder into the clone would break secret-bearing confs exactly
    and only at the large scales where cloning engages (r6 review).
    Static/immutable entries are skipped."""
    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    target = shuffle_width_for(base, expected_rows)
    if target <= base:
        return spark
    # composition (dedup_clusters -> dedup_ngram_jaccard): a session this
    # function already tuned to the same width is reused, so one operator
    # calling another over the same corpus stays on ONE session — its
    # DataFrames compose without crossing session boundaries
    # (conf.get validates defaults against the conf spec in Spark 4, so
    # probe with None rather than a sentinel number)
    if spark.conf.get(_INITIAL_PARTITION_NUM, None) == str(target):
        return spark
    clone = spark.newSession()
    for key, value in _session_confs(spark):
        try:
            clone.conf.set(key, value)
        except Exception:  # noqa: BLE001 — static conf: value already shared
            pass
    clone.conf.set(_INITIAL_PARTITION_NUM, str(target))
    return clone


_warned_redacting_fallback = False


def _session_confs(spark: SparkSession) -> list[tuple[str, str]]:
    """(key, value) pairs of the session's set SQL confs, UNREDACTED.

    Reads the SessionState's raw conf map through the JVM handle; the SQL
    ``SET`` command applies ``spark.redaction.regex`` to its output, so it
    cannot be used to replicate secret-bearing confs onto a clone. Falls
    back to the (redacting) SET enumeration if the internal API moves —
    degraded for secrets, but never silently empty, and the degradation is
    announced once per process (r6 review: a secret-bearing conf copied as
    the literal ``*(redacted)`` placeholder would otherwise break the
    tuned clone invisibly, exactly at the large scales where cloning
    engages)."""
    global _warned_redacting_fallback
    try:
        jmap = spark._jsparkSession.sessionState().conf().getAllConfs()
        it = jmap.iterator()
        out = []
        while it.hasNext():
            kv = it.next()
            out.append((kv._1(), kv._2()))
        return out
    except Exception:  # noqa: BLE001 — private API drift: degrade, don't fail
        if not _warned_redacting_fallback:
            _warned_redacting_fallback = True
            import warnings

            warnings.warn(
                "roar_spark: session-conf enumeration fell back to the SQL "
                "SET command (internal SessionState API unavailable); confs "
                "matching spark.redaction.regex will be copied onto tuned "
                "session clones as the redaction placeholder, not their "
                "real values.",
                RuntimeWarning,
                stacklevel=2,
            )
        return [(row.key, row.value) for row in spark.sql("SET").collect()]
