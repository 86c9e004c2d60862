"""The two helper processes of the gateway workload.

``broker_main`` runs the in-process Kafka broker stand-in in a process of its
own, so its GIL-bound wire codec does not share the main process's interpreter.

``loadgen_main`` is the load generator: two producer threads on open-loop
schedules that do not slow when the system slows (one per topic), and two
closed-loop Flight reader threads on the live topic. It stamps every record
with the time it was due at the generator, checks every row a full read
returns against the seeded payload function, and logs when each record was
first seen.
"""

from __future__ import annotations

import os
import threading
import time
import traceback

import numpy as np

import gen
import stats

# Partitions at or above this id hold rows the main process prefilled through
# StreamEngine.append_batch; they never pass through the broker.
PREFILL_PARTITION_BASE = 100
TICK_S = 0.01


def recv_within(conn, timeout: float, what: str):
    """Receive from a helper process, waiting at most ``timeout`` seconds in
    short slices: a signal delivered to another thread only reaches the
    main thread's Python handler once the main thread runs again."""
    deadline = time.monotonic() + timeout
    while not conn.poll(0.2):
        if time.monotonic() > deadline:
            raise TimeoutError(f"{what} did not report within {timeout:.0f} s")
    return conn.recv()


def broker_main(conn, partitions: int) -> None:
    from roar_spark.sources.kafka_broker import KafkaBroker

    broker = KafkaBroker(default_partitions=partitions).start()
    conn.send(broker.port)
    try:
        while conn.recv() == "cpu":  # CPU seconds used so far, on request
            t = os.times()
            conn.send(t.user + t.system)
    except EOFError:
        pass  # the main process is gone
    finally:
        broker.shutdown()


def payload_mismatches(table, seed: int) -> int:
    """Rows of a read whose ``chk`` or ``amount`` differ from what the seeded
    payload function gives their ``(partition, offset)``."""
    p = table.column("kafka_partition").to_numpy(zero_copy_only=False).astype(np.int64)
    o = table.column("kafka_offset").to_numpy(zero_copy_only=False).astype(np.int64)
    chk, amount = table.column("chk"), table.column("amount")
    bad = chk.null_count + amount.null_count
    if not bad and p.size:
        bad = int(np.count_nonzero(chk.to_numpy() != gen.expected_chk(seed, p, o)))
        cents = np.rint(amount.to_numpy() * 100).astype(np.int64)
        bad += int(np.count_nonzero(cents != gen.expected_amount_cents(seed, p, o)))
    return bad


class _Producer:
    """Open-loop producer of one topic: its record i is due at
    ``t0 + i / rate`` and carries that due time as its Kafka timestamp."""

    def __init__(self, cfg: dict, topic: str, rate: float, client, start_offsets: list[int], salt: int) -> None:
        self.cfg = cfg
        self.topic = topic
        self.rate = rate
        self.client = client
        self.next_offset = list(start_offsets)
        self.rng = np.random.default_rng([cfg["seed"], salt])
        self.sent = 0
        self.errors = 0
        self.lateness: list[float] = []

    def run(self, t0: float, wall0: float, stop: threading.Event) -> None:
        from roar_spark.sources.kafka_wire import KafkaRecord

        rate, topic = self.rate, self.topic
        n_parts = len(self.next_offset)
        weights = gen.ZIPF_WEIGHTS[:n_parts] / gen.ZIPF_WEIGHTS[:n_parts].sum()
        while not stop.is_set():
            due = int((time.perf_counter() - t0) * rate)
            if due > self.sent:
                idx = np.arange(self.sent, due)
                parts = self.rng.choice(n_parts, idx.size, p=weights)
                for p in range(n_parts):
                    mine = idx[parts == p]
                    if mine.size == 0:
                        continue
                    first = self.next_offset[p]
                    values = gen.payloads(self.cfg["seed"], p, range(first, first + mine.size))
                    stamps = (wall0 * 1000 + mine * 1000.0 / rate).astype(np.int64)
                    records = [
                        KafkaRecord(offset=k, timestamp_ms=int(ts), key=b"k%d" % p, value=v)
                        for k, (ts, v) in enumerate(zip(stamps.tolist(), values))
                    ]
                    try:
                        base = self.client.produce(topic, p, records)
                    except Exception:  # noqa: BLE001 — counted, the schedule goes on
                        self.errors += mine.size
                        continue
                    if base != first:
                        # another writer on the partition would break the
                        # offset → payload mapping the checks rely on
                        self.errors += mine.size
                    self.next_offset[p] = first + mine.size
                    sent_at = time.perf_counter() - t0
                    self.lateness.extend((sent_at - mine / rate).tolist())
                self.sent = due
            time.sleep(TICK_S)


class _Reader:
    """One closed-loop Flight reader of the live topic. ``kind`` is ``full``
    (read_topic, every row checked, first sightings logged) or ``tail`` (the
    reference client's fetch_topic with limit 10). Only reads that start
    inside the measured window are timed."""

    def __init__(self, cfg: dict, kind: str, checker) -> None:
        self.cfg = cfg
        self.kind = kind
        self.checker = checker
        self.latencies: list[float] = []
        self.rows: list[int] = []
        self.errors = 0
        self.mismatches = 0
        self.first_seen: list[tuple[float, np.ndarray]] = []

    def _check(self, table, t_seen: float) -> None:
        self.mismatches += payload_mismatches(table, self.cfg["seed"])
        if self.checker is None or not table.num_rows:
            return
        p = table.column("kafka_partition").to_numpy(zero_copy_only=False).astype(np.int64)
        o = table.column("kafka_offset").to_numpy(zero_copy_only=False).astype(np.int64)
        fresh = self.checker.observe(p, o)
        produced = table.column("kafka_timestamp").cast("int64").to_numpy() / 1e6
        self.first_seen.append((t_seen, produced[fresh & (p < PREFILL_PARTITION_BASE)]))

    def run(self, window_over: threading.Event, stop: threading.Event) -> None:
        from roar_spark.streaming.flight_facade import fetch_topic, read_topic

        loc, topic = self.cfg["flight"], self.cfg["live_topic"]
        while not stop.is_set():
            timed = not window_over.is_set()
            t = time.perf_counter()
            try:
                table = fetch_topic(loc, topic, 10) if self.kind == "tail" else read_topic(loc, topic)
            except Exception:  # noqa: BLE001 — a failed DoGet is a counted failure
                self.errors += 1
                stop.wait(0.05)
                continue
            if timed:
                self.latencies.append(time.perf_counter() - t)
            self.rows.append(table.num_rows)
            self._check(table, time.time())


def loadgen_main(conn) -> None:
    """Receive the run's configuration, report ready, receive the wall time
    the window opens, run producers and readers for ``cfg["seconds"]`` from
    then on, keep the full reader going until it has seen every live record
    produced (at most ``cfg["drain_s"]`` more), check one full read of the
    flood topic and send back the measurements. Any exception is sent back
    as text."""
    try:
        # imported while the main process starts Spark: a first import inside a
        # reader thread would hold up the producers' schedule
        from roar_spark.sources.kafka_wire import LATEST_TIMESTAMP, KafkaWireClient
        from roar_spark.streaming.flight_facade import read_topic

        cfg = conn.recv()
        n_parts = cfg["partitions"]
        producers = []
        for salt, (topic, rate) in enumerate(cfg["rates"].items()):
            client = KafkaWireClient(cfg["bootstrap"])
            ends = client.list_offsets({(topic, p): LATEST_TIMESTAMP for p in range(n_parts)})
            starts = [ends[(topic, p)] for p in range(n_parts)]
            producers.append(_Producer(cfg, topic, rate, client, starts, salt))
        live = next(pr for pr in producers if pr.topic == cfg["live_topic"])
        checker = stats.ExactlyOnceChecker()
        readers = [_Reader(cfg, kind, checker if kind == "full" else None) for kind in cfg["readers"]]
        conn.send("ready")
        go_at = conn.recv()
        time.sleep(max(go_at - time.time(), 0.0))
        window_over, stop = threading.Event(), threading.Event()
        t0, wall0 = time.perf_counter(), time.time()
        workers = [threading.Thread(target=pr.run, args=(t0, wall0, window_over), daemon=True) for pr in producers]
        workers += [
            threading.Thread(target=r.run, args=(window_over, stop if r.checker else window_over), daemon=True)
            for r in readers
        ]
        for t in workers:
            t.start()
        window_over.wait(cfg["seconds"])
        window_over.set()
        for t in workers[: len(producers)]:
            t.join(timeout=60)
        # the last records produced wait for the next trigger: keep reading.
        # The poll reads the checker while the full reader updates it; the
        # count reported is taken again once that reader has stopped.
        live_ends = dict(enumerate(live.next_offset))
        deadline = time.monotonic() + cfg["drain_s"]
        while checker.unseen(live_ends) and time.monotonic() < deadline:
            time.sleep(0.05)
        drained = time.perf_counter() - t0 - cfg["seconds"]
        stop.set()
        for t in workers[len(producers):]:
            t.join(timeout=60)
        for pr in producers:
            pr.client.close()

        flood = read_topic(cfg["flight"], cfg["flood_topic"])
        flood_checker = stats.ExactlyOnceChecker()
        if flood.num_rows:
            flood_checker.observe(
                flood.column("kafka_partition").to_numpy(zero_copy_only=False),
                flood.column("kafka_offset").to_numpy(zero_copy_only=False),
            )
        conn.send({
            "sent": {pr.topic: pr.sent for pr in producers},
            "produce_errors": sum(pr.errors for pr in producers),
            "lateness_p99_s": {
                pr.topic: stats.percentile(pr.lateness, 99).value if pr.lateness else 0.0 for pr in producers
            },
            "readers": [
                {"kind": r.kind, "latencies": r.latencies, "rows": r.rows, "errors": r.errors,
                 "mismatches": r.mismatches, "first_seen": r.first_seen}
                for r in readers
            ],
            "checker_failures": checker.failures + flood_checker.failures,
            "unseen_live": checker.unseen(live_ends),
            "drain_s": drained,
            "flood_rows": flood.num_rows,
            "flood_mismatches": payload_mismatches(flood, cfg["seed"]),
            "hung_threads": sum(t.is_alive() for t in workers),
        })
    except Exception:  # noqa: BLE001 — reported to the main process, which fails the run
        conn.send({"error": traceback.format_exc()})
