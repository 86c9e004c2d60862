"""Observability bridge: the reference's Prometheus metric surface
(pkg/metrics.go:55-228) re-expressed over Spark's streaming listener.

Metric NAMES are part of roar's observable contract — dashboards grep for
``roar_*`` — so the same families are emitted here, fed from
StreamingQueryListener progress events (push on every micro-batch, which
replaces the reference's 5 s polling goroutine, SURVEY.md §2 A35) and from
StreamEngine store state.

No prometheus_client in this environment → a dependency-free registry with
Prometheus text exposition format (the wire contract a scraper needs).
The known reference metric bugs are NOT replicated (§2.3.9: lag gauge fed a
raw timestamp, cumulative totals re-Added every poll, memory-percent never
set).
"""

from __future__ import annotations

import bisect
import threading
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


# Upper bounds (seconds) of every histogram's buckets: 50 ms to twice the
# 5 s serve trigger, so a micro-batch's duration lands in a finite bucket
LATENCY_BUCKETS = (0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)


class MetricsRegistry:
    """Thread-safe labeled counters/gauges/histograms + Prometheus text
    exposition."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._counters: dict[tuple[str, tuple], float] = defaultdict(float)
        self._gauges: dict[tuple[str, tuple], float] = {}
        # key -> [per-bucket counts (last slot: above every bound), sum]
        self._histograms: dict[tuple[str, tuple], list] = {}

    @staticmethod
    def _key(name: str, labels: dict | None) -> tuple[str, tuple]:
        return name, tuple(sorted((labels or {}).items()))

    def inc(self, name: str, value: float = 1.0, **labels) -> None:
        with self._lock:
            self._counters[self._key(name, labels)] += value

    def set(self, name: str, value: float, **labels) -> None:
        with self._lock:
            self._gauges[self._key(name, labels)] = value

    def observe(self, name: str, value: float, **labels) -> None:
        """Record one sample in histogram ``name`` (LATENCY_BUCKETS)."""
        key = self._key(name, labels)
        with self._lock:
            hist = self._histograms.get(key)
            if hist is None:
                hist = self._histograms[key] = [[0] * (len(LATENCY_BUCKETS) + 1), 0.0]
            hist[0][bisect.bisect_left(LATENCY_BUCKETS, value)] += 1
            hist[1] += value

    def get(self, name: str, **labels) -> float:
        key = self._key(name, labels)
        with self._lock:
            if key in self._gauges:
                return self._gauges[key]
            return self._counters.get(key, 0.0)

    def exposition(self) -> str:
        """Prometheus text format (what /metrics serves). Label values are
        escaped per the exposition spec (backslash, quote, newline) — one
        bad topic name must not invalidate the whole scrape."""
        lines = []
        with self._lock:
            series = [("counter", k, v) for k, v in sorted(self._counters.items())]
            series += [("gauge", k, v) for k, v in sorted(self._gauges.items())]
            series += [
                ("histogram", k, (list(counts), total))
                for k, (counts, total) in sorted(self._histograms.items())
            ]
        seen_types = set()
        for kind, (name, labels), value in series:
            if name not in seen_types:
                lines.append(f"# TYPE {name} {kind}")
                seen_types.add(name)
            if kind != "histogram":
                lines.append(f"{name}{_labels(labels)} {value}")
                continue
            counts, total = value
            cumulative = 0
            for bound, n in zip((*map(str, LATENCY_BUCKETS), "+Inf"), counts):
                cumulative += n
                lines.append(f"{name}_bucket{_labels((*labels, ('le', bound)))} {cumulative}")
            lines.append(f"{name}_sum{_labels(labels)} {total}")
            lines.append(f"{name}_count{_labels(labels)} {cumulative}")
        return "\n".join(lines) + "\n"

    def remove(self, name: str, **labels) -> None:
        """Drop one series (every kind) — for per-topic gauges whose topic
        no longer exists; without this, expired streams report phantom
        buffer bytes forever."""
        key = self._key(name, labels)
        with self._lock:
            self._gauges.pop(key, None)
            self._counters.pop(key, None)
            self._histograms.pop(key, None)

    def gauge_label_values(self, names: tuple[str, ...], label: str) -> set[str]:
        """Snapshot the distinct values of one label across the named gauge
        families — the public form of the stale-series sweep's read so
        callers never touch _lock/_gauges directly."""
        with self._lock:
            return {
                dict(labels)[label]
                for (name, labels) in self._gauges
                if name in names and label in dict(labels)
            }


def _esc(v: object) -> str:
    return str(v).replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def _labels(labels: tuple) -> str:
    if not labels:
        return ""
    return "{" + ",".join(f'{k}="{_esc(v)}"' for k, v in labels) + "}"


REGISTRY = MetricsRegistry()


class EngineMetricsListener(StreamingQueryListener):
    """Feeds ingest-side families from micro-batch progress events —
    numInputRows → messages_total, batchDuration → the processing-latency
    histogram (SURVEY.md §2 A21/A34/A35). RecordBatches are counted by the
    engine where the store splits them (StreamEngine._apply_append), so
    batch appends count too."""

    def __init__(self, registry: MetricsRegistry | None = None) -> None:
        self._reg = registry or REGISTRY

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        topic = (p.name or "unknown").removeprefix("roar-")
        rows = p.numInputRows or 0
        if rows:
            self._reg.inc("roar_kafka_messages_total", rows, topic=topic)
            self._reg.inc("roar_stream_records_processed_total", rows, topic=topic)
        duration = (p.batchDuration or 0) / 1000.0
        self._reg.observe("roar_processing_latency_seconds", duration, topic=topic)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def attach(spark, registry: MetricsRegistry | None = None) -> EngineMetricsListener:
    listener = EngineMetricsListener(registry)
    spark.streams.addListener(listener)
    return listener


def update_engine_gauges(
    engine, registry: MetricsRegistry | None = None, topics: list[str] | None = None
) -> None:
    """Push store-level gauges (buffer bytes/utilization, drop counters,
    active streams) — called by the engine facade on serving operations.

    ``topics``: restrict the refresh to those topics (the serving path
    passes the single fetched topic, so per-request work stays O(1)
    instead of describing EVERY stream under the engine lock on each
    fetch — r5 review); the stale-series sweep only runs on a full
    refresh, which the janitor tick performs on its ttl/2 cadence.

    Race-tolerant against the TTL janitor: a topic listed one instant can
    be expired the next — it is skipped (and, on a full refresh, its
    stale gauges dropped) rather than failing the unrelated serving call
    that triggered the refresh."""
    reg = registry or REGISTRY
    families = ("roar_stream_memory_bytes", "roar_stream_buffer_utilization_percent")
    if topics is not None:
        for topic in topics:
            try:
                desc = engine.describe_stream(topic)
            except KeyError:
                continue  # expired under us: the full sweep drops the series
            reg.set("roar_stream_memory_bytes", desc["bytes"], topic=topic)
            reg.set(
                "roar_stream_buffer_utilization_percent",
                100.0 * desc["bytes"] / max(engine.config.buffer_limit_bytes, 1),
                topic=topic,
            )
        reg.set("roar_active_streams", len(engine.list_streams()))
        return
    # Snapshot the candidate stale set BEFORE this refresh writes anything:
    # a topic registered concurrently (its gauges set by another thread
    # after this snapshot) is in neither `pre` nor `live`, so the sweep
    # below can never drop a freshly set series.
    pre = reg.gauge_label_values(families, "topic")
    topics = engine.list_streams()
    live: set[str] = set()
    for topic in topics:
        try:
            desc = engine.describe_stream(topic)
        except KeyError:
            continue  # expired between the listing and the lookup
        live.add(topic)
        reg.set("roar_stream_memory_bytes", desc["bytes"], topic=topic)
        reg.set(
            "roar_stream_buffer_utilization_percent",
            100.0 * desc["bytes"] / max(engine.config.buffer_limit_bytes, 1),
            topic=topic,
        )
    reg.set("roar_active_streams", len(live))
    # drop gauge series for topics that existed before this refresh but no
    # longer do
    for topic in pre - live:
        for name in families:
            reg.remove(name, topic=topic)
