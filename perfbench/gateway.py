"""The gateway workload: produce → wire source → decode/infer/coerce → store
→ Flight DoGet, wired the way ``roar_spark serve --kafka-wire`` wires them.

Three processes: this main process (Spark session, StreamEngine, metrics listener,
Flight facade), the broker stand-in and the load generator.

One engine serves two topics, one per lane:

- ``flood`` (ingest lane): an open-loop producer offers 2,000 msg/s over 4
  Zipf-skewed partitions, about 10x what one topic admits at serve defaults
  (batch_size 1024 per 5 s trigger, about 204 msg/s). Ingest is
  admission-bound; the throughput metric is the rate its triggers admit. At
  5,000 msg/s the generator fell up to 7 s behind its schedule: each flood
  fetch makes the broker stand-in encode a 1 MB response under its lock.
- ``live`` (serve lane): an open-loop producer offers 100 msg/s, below what
  one topic admits, so every trigger takes all that arrived since the last one
  and the backlog stays flat. Its buffer is prefilled close to the byte cap, so
  every live append evicts (drop-oldest), and two closed-loop readers keep the
  Flight facade busy: the reference client's limit-10 read and a full read that
  logs first sightings. Freshness is measured on this topic: every record
  produced in the window is followed until a read returns it.
"""

from __future__ import annotations

import math
import multiprocessing
import os
import statistics
import time
from datetime import datetime

import numpy as np

import gen
import loadgen
import stats

LIVE, FLOOD = "live", "flood"
PARTITIONS = 4
BOOTSTRAP_RECORDS = 3  # per partition and topic, produced before the streams start
TRIGGER_S = 5.0  # EngineConfig.flush_interval_seconds default
# The measured window opens this long before a trigger fires, so every run
# sees the same number of triggers at the same offsets.
FIRST_TRIGGER_AT_S = 1.5
RATES = {FLOOD: 2000.0, LIVE: 100.0}
READERS = ("tail", "full")
BUFFER_LIMIT_BYTES = 600_000
PREFILL_ROWS = 3_000
PREFILL_CHUNK = 250
# After the window the full reader keeps reading until it has seen every live
# record produced; records still unseen this long after the window make the
# run invalid.
DRAIN_S = 2 * TRIGGER_S
# A run is invalid when either producer ran this late or the broker stand-in
# was this busy: the measurement would then describe the harness. The
# stand-in holds its lock while it encodes a fetch response, which stalls
# produce calls for up to about a second during each trigger; a stall of half
# a trigger interval could push a live record past the trigger it was due for.
MAX_LATENESS_S = TRIGGER_S / 2
MAX_BROKER_CPU_SHARE = 0.9


def _produce_bootstrap(client, topic: str, seed: int) -> int:
    """Produce the first records of ``topic`` before its stream starts."""
    from roar_spark.sources.kafka_wire import KafkaRecord

    now_ms = int(time.time() * 1000)
    for p in range(PARTITIONS):
        values = gen.payloads(seed, p, range(0, BOOTSTRAP_RECORDS))
        client.produce(topic, p, [KafkaRecord(k, now_ms, b"k%d" % p, v) for k, v in enumerate(values)])
    return BOOTSTRAP_RECORDS * PARTITIONS


def _prefill(spark, engine, seed: int, rows: int) -> None:
    """Append ``rows`` envelope rows to the live topic in chunks through
    append_batch, in partitions PREFILL_PARTITION_BASE.. so they never collide
    with broker offsets."""
    import pyarrow as pa

    now_us = int(time.time() * 1e6)
    per_part = rows // PARTITIONS
    for start in range(0, per_part, PREFILL_CHUNK):
        n = min(PREFILL_CHUNK, per_part - start)
        cols = {"key": [], "value": [], "timestamp": [], "offset": [], "partition": []}
        for p in range(PARTITIONS):
            part = loadgen.PREFILL_PARTITION_BASE + p
            cols["value"] += gen.payloads(seed, part, range(start, start + n))
            cols["key"] += [b"k%d" % part] * n
            cols["timestamp"] += [now_us] * n
            cols["offset"] += list(range(start, start + n))
            cols["partition"] += [part] * n
        table = pa.table({
            "key": pa.array(cols["key"], pa.binary()),
            "value": pa.array(cols["value"], pa.binary()),
            "timestamp": pa.array(cols["timestamp"], pa.timestamp("us", tz="UTC")),
            "offset": pa.array(cols["offset"], pa.int64()),
            "partition": pa.array(cols["partition"], pa.int32()),
        })
        engine.append_batch(LIVE, spark.createDataFrame(table))


def _wait_visible(location: str, topic: str, rows: int, timeout: float = 60.0) -> None:
    from roar_spark.streaming.flight_facade import read_topic

    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline:
        try:
            if read_topic(location, topic).num_rows >= rows:
                return
        except KeyError:
            pass  # NOT_FOUND: the first micro-batch has not created the stream yet
        time.sleep(0.05)
    raise TimeoutError(f"topic {topic}: {rows} rows not visible within {timeout}s")


def _wrap_layers(tracer, store_topics: dict) -> None:
    """Spans around the layers' public calls. ``store_topics`` maps a store's
    id to its topic once the streams exist; only the live topic's appends
    (the freshness lane) are timed."""
    from pyspark.sql.classic.dataframe import DataFrame

    from roar_spark.streaming.flight_facade import RoarFlightServer
    from roar_spark.streaming.manager import MemoryStore, StreamEngine

    tracer.wrap(StreamEngine, "register_stream", "ingest.bootstrap")
    tracer.wrap(
        MemoryStore, "append", "store.append", when=lambda _open, store, *_: store_topics.get(id(store)) == LIVE
    )
    tracer.wrap(DataFrame, "toArrow", "store.to_arrow", when=lambda open_, *_: "store.append" in open_)
    tracer.wrap(DataFrame, "toArrow", "flight.to_arrow", when=lambda open_, *_: "flight.doget_server" in open_)
    tracer.wrap(RoarFlightServer, "get_flight_info", "flight.flight_info")
    tracer.wrap(RoarFlightServer, "do_get", "flight.doget_server")
    tracer.wrap(StreamEngine, "fetch", "flight.fetch")
    tracer.wrap(StreamEngine, "touch", "flight.touch")


def _median(values) -> float:
    """Median, or 0 for a layer the run never entered."""
    return float(statistics.median(values)) if len(values) else 0.0


def _started(p) -> float:
    """Wall time a micro-batch trigger fired."""
    return datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()


def _progress(spark, topic: str) -> list:
    """The topic's recent micro-batch progress, from its streaming query."""
    query = next(q for q in spark.streams.active if q.name == f"roar-{topic}")
    return query.recentProgress


def run(seed: int, seconds: float, tracer, tmp: str, procs: list, session: dict) -> dict:
    """Run one gateway workload; returns the run's measurements."""
    from roar_spark.config import EngineConfig
    from roar_spark.metrics import attach
    from roar_spark.sources.kafka_python import kafka_python_envelope_stream
    from roar_spark.sources.kafka_wire import LATEST_TIMESTAMP, KafkaWireClient
    from roar_spark.streaming.flight_facade import serve_in_thread
    from roar_spark.streaming.manager import StreamEngine

    # both helpers start (and import) while Spark starts
    ctx = multiprocessing.get_context("spawn")
    broker_conn, child = ctx.Pipe()
    procs.append(ctx.Process(target=loadgen.broker_main, args=(child, PARTITIONS), daemon=True))
    gen_conn, child = ctx.Pipe()
    procs.append(ctx.Process(target=loadgen.loadgen_main, args=(child,), daemon=True))
    for proc in procs:
        proc.start()

    store_topics: dict[int, str] = {}
    if tracer is not None:
        _wrap_layers(tracer, store_topics)
    spark = session["start"]()
    bootstrap = f"127.0.0.1:{loadgen.recv_within(broker_conn, 60, 'broker stand-in')}"
    engine = StreamEngine(
        spark,
        EngineConfig(
            brokers=bootstrap,
            topics=(LIVE, FLOOD),
            buffer_limit_bytes=BUFFER_LIMIT_BYTES,
            starting_offsets="earliest",
            checkpoint_path=os.path.join(tmp, "checkpoints"),
        ),
    )
    session["engine"] = engine
    attach(spark)
    server = serve_in_thread(engine, 0)
    session["server"] = server
    location = f"grpc://127.0.0.1:{server.port}"

    # set-up ends when both topics' first records are visible through DoGet
    client = KafkaWireClient(bootstrap)
    t = time.perf_counter()
    for topic in (LIVE, FLOOD):
        rows = _produce_bootstrap(client, topic, seed)
        engine.ingest(topic, kafka_python_envelope_stream(spark, engine.config, (topic,)).drop("topic"))
    for topic in (LIVE, FLOOD):
        _wait_visible(location, topic, rows)
        store_topics[id(engine.touch(topic).store)] = topic
    bootstrap_s = time.perf_counter() - t
    t = time.perf_counter()
    _prefill(spark, engine, seed, PREFILL_ROWS)
    prefill_s = time.perf_counter() - t
    session["marks"]["set_up"] = time.perf_counter()
    setup_s = session["start_s"] + session["warm_s"] + bootstrap_s + prefill_s

    gen_conn.send({
        "bootstrap": bootstrap, "flight": location, "seed": seed, "partitions": PARTITIONS,
        "rates": RATES, "live_topic": LIVE, "flood_topic": FLOOD, "seconds": seconds,
        "drain_s": DRAIN_S, "readers": READERS,
    })
    ready = loadgen.recv_within(gen_conn, 60, "load generator")
    if ready != "ready":
        raise RuntimeError(f"load generator failed: {ready}")

    # The window opens at a fixed phase of the trigger schedule. Spark fires a
    # processing-time trigger at wall-clock multiples of its interval.
    go_at = math.ceil(time.time() / TRIGGER_S) * TRIGGER_S - FIRST_TRIGGER_AT_S
    while go_at < time.time() + 0.2:
        go_at += TRIGGER_S
    broker_conn.send("cpu")
    broker_cpu0 = broker_conn.recv()
    dropped0 = engine.describe_stream(LIVE)["records_dropped"]
    gen_conn.send(go_at)
    session["marks"]["window_open"] = time.perf_counter() + (go_at - time.time())
    result = loadgen.recv_within(gen_conn, go_at - time.time() + seconds + DRAIN_S + 90, "load generator")
    session["marks"]["window_closed"] = time.perf_counter()
    if "error" in result:
        raise RuntimeError(f"load generator failed:\n{result['error']}")
    broker_conn.send("cpu")
    broker_cpu = (broker_conn.recv() - broker_cpu0) / (time.time() - go_at)
    dropped1 = engine.describe_stream(LIVE)["records_dropped"]
    ends = client.list_offsets({(FLOOD, p): LATEST_TIMESTAMP for p in range(PARTITIONS)})
    client.close()

    # triggers fired inside the window; the drain outlasts the last one
    progress = {topic: _progress(spark, topic) for topic in (LIVE, FLOOD)}
    window = {
        topic: [p for p in events if go_at <= _started(p) < go_at + seconds]
        for topic, events in progress.items()
    }
    flood = window[FLOOD]
    readers = {r["kind"]: r for r in result["readers"]}
    full = readers["full"]
    reads = sum(len(r["rows"]) for r in result["readers"])
    out = {
        "setup_s": setup_s,
        # rows the in-window flood triggers admitted, per second of their schedule
        "ingest_msgs_per_s": (
            sum(p.numInputRows for p in flood) / (_started(flood[-1]) + TRIGGER_S - _started(flood[0]))
            if flood else 0.0
        ),
        "freshness": stats.freshness(full["first_seen"], go_at),
        "doget_full": np.asarray(full["latencies"]),
        "doget_tail": np.asarray(readers["tail"]["latencies"]),
        "attempted": sum(result["sent"].values()) + reads + 1,  # + the final flood read
        "failures": {
            "produce_errors": result["produce_errors"],
            "doget_errors": sum(r["errors"] for r in result["readers"]),
            "row_mismatches": sum(r["mismatches"] for r in result["readers"]) + result["flood_mismatches"],
            "exactly_once": len(result["checker_failures"]),
            "hung_threads": result["hung_threads"],
        },
        "checker_failures": result["checker_failures"][:5],
        "validity": {
            "generator_lateness_p99_s": result["lateness_p99_s"],
            "broker_cpu_share": broker_cpu,
            "live_sent": result["sent"][LIVE],
            "unseen_live_records": result["unseen_live"],
            "drain_s": result["drain_s"],
            "triggers_in_window": {topic: len(events) for topic, events in window.items()},
            "trigger_ms": {
                topic: [p.durationMs.get("triggerExecution", 0) for p in events] for topic, events in window.items()
            },
        },
        "bootstrap_s": bootstrap_s,
        "prefill_s": prefill_s,
    }
    if tracer is not None:
        # spans that started inside the measured window
        since = time.perf_counter() - (time.time() - go_at)
        until = since + seconds
        live = window[LIVE]
        dur = lambda key, events=live: [p.durationMs.get(key, 0) for p in events]  # noqa: E731
        client_full = _median(np.asarray(full["latencies"]) * 1e3)
        info = _median(tracer.durations_ms("flight.flight_info", since, until))
        server_ms = _median(tracer.durations_ms("flight.doget_server", since, until))
        out["layers"] = {
            "sources.latest_offset_ms": _median(dur("latestOffset")),
            "sources.rows_per_trigger": _median([p.numInputRows for p in flood]),
            "sources.lag_msgs": max(sum(ends.values()) - sum(p.numInputRows for p in progress[FLOOD]), 0),
            "ingest.bootstrap_ms": _median(tracer.durations_ms("ingest.bootstrap")),
            "ingest.query_planning_ms": _median(dur("queryPlanning")),
            "store.trigger_ms": _median(dur("triggerExecution")),
            "store.append_ms": _median(tracer.durations_ms("store.append", since, until)),
            "store.to_arrow_ms": _median(tracer.durations_ms("store.to_arrow", since, until)),
            "store.commit_ms": _median([a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))]),
            "store.busy_share": _median(dur("triggerExecution", flood)) / (TRIGGER_S * 1e3),
            "store.records_dropped": dropped1 - dropped0,
            "flight.flight_info_ms": info,
            "flight.doget_server_ms": server_ms,
            "flight.fetch_ms": _median(tracer.durations_ms("flight.fetch", since, until)),
            "flight.to_arrow_ms": _median(tracer.durations_ms("flight.to_arrow", since, until)),
            "flight.touch_ms": _median(tracer.durations_ms("flight.touch", since, until)),
            "flight.transfer_ms": max(client_full - info - server_ms, 0.0),
            "flight.rows_served": sum(sum(r["rows"]) for r in result["readers"]),
        }
    return out
