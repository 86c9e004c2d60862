"""Pure-Python Kafka source for Spark (Python Data Source API, Spark 4).

Closes the A1 gap (SURVEY.md §2): this container has no spark-sql-kafka
connector jar, so ``readStream.format("kafka")`` cannot run — but Spark 4's
Python Data Source API lets the SAME option map (kafka.py's
``kafka_reader_options``, pinned against kafka/consumer.go:224-261) drive a
from-scratch reader speaking real Kafka wire protocol (kafka_wire.py).
Column schema, names, and types match the JVM Kafka source exactly, so the
downstream envelope pipeline (ingest → inference → store → serve) is
byte-identical between the two sources and a cluster deployment swaps
``format("roar_kafka")`` for ``format("kafka")`` with no other change.

Execution model, Spark-first:

- the DRIVER resolves topic metadata + log-end offsets per micro-batch
  (Metadata + ListOffsets — what the JVM source's KafkaOffsetReader does)
  and plans one InputPartition per (topic, partition, range) slice;
- EXECUTORS each open their own broker connection and Fetch exactly their
  slice — reads scale with Kafka partitions, no driver data path;
- a slice reaches Spark as one Arrow RecordBatch per Fetch response, so no
  record passes through PySpark's per-row tuple converter (2,500 records:
  about 7 ms against 1.2 ms to build the batch, and the converter's first
  call in a worker imports pandas, about 0.35 s);
- ``maxOffsetsPerTrigger`` caps each batch's total advance, distributed
  proportionally to per-partition lag (the JVM source's rate-limit rule).
  The engine's option map sets it to the reference's 100,000-message
  channel (kafka.MAX_OFFSETS_PER_TRIGGER), not to ``batch_size``, so a
  serve trigger admits every record that arrived since the last one.
  One documented divergence from the JVM source: the Python API exposes no
  ``reportLatestOffset`` beside the admission-controlled ``latestOffset``,
  so under a cap ``processAllAvailable()``/``Trigger.AvailableNow`` judge
  "caught up" against the capped end and may stop before the true log end
  — use a processing-time trigger (the serve path's default) when capping;
- ``minPartitions`` splits large ranges into more slices than there are
  Kafka partitions, so a 1000-executor cluster is not gated on topic
  partition count;
- offsets live in the Spark checkpoint (initialOffset/latestOffset/commit
  contract), NOT in Kafka group commits — same recovery semantics as the
  JVM source; ``kafka.group.id`` is accepted and ignored for offsets,
  exactly as Spark documents for its own Kafka source.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from roar_spark.config import EngineConfig
from roar_spark.sources.kafka import ENVELOPE_COLS, kafka_reader_options
from roar_spark.sources.kafka_wire import (
    EARLIEST_TIMESTAMP,
    LATEST_TIMESTAMP,
    KafkaRecord,
    KafkaWireClient,
)

# JVM Kafka source schema, verbatim (names, order, nullability)
KAFKA_SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("timestampType", T.IntegerType(), True),
    ]
)

_ARROW_SCHEMA = to_arrow_schema(KAFKA_SOURCE_SCHEMA)

_TS_CREATE_TIME = 0


@dataclass
class _Options:
    bootstrap: str
    topics: tuple[str, ...]
    starting_offsets: str
    max_offsets_per_trigger: int | None
    min_partitions: int
    fetch_min_bytes: int
    fetch_max_bytes: int

    @classmethod
    def parse(cls, options: dict) -> "_Options":
        opts = {k.lower(): v for k, v in options.items()}
        bootstrap = opts.get("kafka.bootstrap.servers")
        if not bootstrap:
            raise ValueError("roar_kafka: kafka.bootstrap.servers is required")
        subscribe = opts.get("subscribe")
        if not subscribe:
            raise ValueError("roar_kafka: subscribe is required")
        starting = opts.get("startingoffsets", "latest").lower()
        if starting not in ("earliest", "latest"):
            raise ValueError(
                f"roar_kafka: startingOffsets must be earliest|latest, got {starting!r}"
            )
        max_per_trigger = opts.get("maxoffsetspertrigger")
        return cls(
            bootstrap=bootstrap,
            topics=tuple(t.strip() for t in subscribe.split(",") if t.strip()),
            starting_offsets=starting,
            max_offsets_per_trigger=int(max_per_trigger) if max_per_trigger else None,
            min_partitions=int(opts.get("minpartitions", "0")),
            fetch_min_bytes=int(opts.get("kafka.fetch.min.bytes", "1")),
            fetch_max_bytes=int(opts.get("kafka.fetch.max.bytes", "10000000")),
        )


class RangePartition(InputPartition):
    """One executor slice: fetch [start, end) of a topic-partition."""

    def __init__(
        self, topic: str, partition: int, start: int, end: int, opts: _Options
    ) -> None:
        self.topic = topic
        self.partition = partition
        self.start = start
        self.end = end
        self.opts = opts


def _record_batch(topic: str, partition: int, records: list[KafkaRecord]) -> pa.RecordBatch:
    """Records of one Fetch response as an Arrow batch in
    KAFKA_SOURCE_SCHEMA order: what PySpark's row converter would build
    from the per-record tuples (epoch-ms timestamps widen to µs exactly),
    without its per-value Python conversions."""
    n = len(records)
    return pa.RecordBatch.from_arrays(
        [
            pa.array([r.key for r in records], pa.binary()),
            pa.array([r.value for r in records], pa.binary()),
            pa.array([topic] * n, pa.string()),
            pa.array([partition] * n, pa.int32()),
            pa.array([r.offset for r in records], pa.int64()),
            pa.array([r.timestamp_ms * 1000 for r in records], pa.timestamp("us", tz="UTC")),
            pa.array([_TS_CREATE_TIME] * n, pa.int32()),
        ],
        schema=_ARROW_SCHEMA,
    )


def _read_range(part: RangePartition) -> Iterator[pa.RecordBatch]:
    """Executor-side fetch loop: yields one Arrow RecordBatch per Fetch
    response, holding the response's records inside [start, end). Spark 4
    takes RecordBatches from ``read()`` as they are, so no record goes
    through PySpark's per-row tuple converter. Runs on the executor's own
    connection; loops because a single Fetch is bounded by
    partition_max_bytes, like any real consumer."""
    if part.start >= part.end:
        return
    with KafkaWireClient(part.opts.bootstrap) as client:
        offset = part.start
        while offset < part.end:
            result = client.fetch(
                part.topic,
                part.partition,
                offset,
                min_bytes=part.opts.fetch_min_bytes,
                max_bytes=part.opts.fetch_max_bytes,
            )
            if result.error:
                raise RuntimeError(
                    f"roar_kafka: fetch error {result.error} at "
                    f"{part.topic}/{part.partition}:{offset}"
                )
            if not result.records:
                if result.high_watermark <= offset:
                    # planned end is beyond the log (should not happen: the
                    # driver planned from ListOffsets) — surface, don't spin
                    raise RuntimeError(
                        f"roar_kafka: log-end {result.high_watermark} below "
                        f"planned end {part.end} at {part.topic}/{part.partition}"
                    )
                continue
            # a record batch's base may lie below the requested start
            records = [r for r in result.records if offset <= r.offset < part.end]
            if records:
                yield _record_batch(part.topic, part.partition, records)
            offset = result.records[-1].offset + 1


def _plan_partitions(
    start: dict, end: dict, opts: _Options
) -> list[RangePartition]:
    """One slice per advancing topic-partition, then split further until
    there are at least ``minPartitions`` slices (largest ranges first —
    the JVM source's minPartitions semantics). Keyed off ``end``: a
    partition added to the topic mid-stream appears in the latest offsets
    but not in the checkpointed start, and must be read from offset 0
    (the JVM source's new-partition rule) — iterating ``start`` would
    silently never read it."""
    slices = [
        RangePartition(topic, int(p), int(start.get(topic, {}).get(p, 0)), int(e), opts)
        for topic, parts in end.items()
        for p, e in parts.items()
        if int(e) > int(start.get(topic, {}).get(p, 0))
    ]
    while 0 < len(slices) < opts.min_partitions:
        widest = max(range(len(slices)), key=lambda i: slices[i].end - slices[i].start)
        w = slices[widest]
        if w.end - w.start < 2:
            break
        mid = (w.start + w.end) // 2
        slices[widest] = RangePartition(w.topic, w.partition, w.start, mid, opts)
        slices.append(RangePartition(w.topic, w.partition, mid, w.end, opts))
    return slices


class _OffsetResolver:
    """Driver-side Metadata + ListOffsets probe (the KafkaOffsetReader
    analog). Holds one lazily-opened connection; excluded from pickling so
    reader objects can ship to executors."""

    def __init__(self, opts: _Options) -> None:
        self._opts = opts
        self._client: KafkaWireClient | None = None

    def _ensure(self) -> KafkaWireClient:
        if self._client is None:
            self._client = KafkaWireClient(self._opts.bootstrap)
        return self._client

    def close(self) -> None:
        if self._client is not None:
            self._client.close()
            self._client = None

    def offsets(self, timestamp: int) -> dict:
        """{topic: {"<partition>": offset}} at earliest (-2) / latest (-1)."""
        client = self._ensure()
        meta = client.metadata(list(self._opts.topics))
        request = {
            (name, pm.partition): timestamp
            for name, tm in meta.items()
            for pm in tm.partitions
        }
        resolved = client.list_offsets(request) if request else {}
        out: dict[str, dict[str, int]] = {t: {} for t in self._opts.topics}
        for (topic, part), offset in resolved.items():
            out.setdefault(topic, {})[str(part)] = offset
        return out


class RoarKafkaStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        self._opts = _Options.parse(options)
        self._resolver = _OffsetResolver(self._opts)
        # last planned end, for rate limiting (driver-lifetime state; the
        # engine replays initialOffset/latestOffset from the checkpoint on
        # restart, so losing this on failover is safe — the next batch just
        # re-reads the checkpointed start)
        self._last_end: dict | None = None

    def __getstate__(self):
        state = self.__dict__.copy()
        state["_resolver"] = None  # executors never resolve offsets
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        if self._resolver is None:
            self._resolver = _OffsetResolver(self._opts)

    def initialOffset(self) -> dict:
        ts = (
            EARLIEST_TIMESTAMP
            if self._opts.starting_offsets == "earliest"
            else LATEST_TIMESTAMP
        )
        start = self._resolver.offsets(ts)
        self._last_end = start
        return start

    def latestOffset(self) -> dict:
        latest = self._resolver.offsets(LATEST_TIMESTAMP)
        cap = self._opts.max_offsets_per_trigger
        if self._last_end is None and cap is not None:
            # Trigger.AvailableNow pre-fetches latestOffset BEFORE
            # initialOffset (AvailableNowDataStreamWrapper), so the
            # rate-limit base may not exist yet — derive it from the
            # configured starting position instead of silently not capping
            self._last_end = self.initialOffset()
        prev = self._last_end or {}
        if cap is not None:
            # proportional-to-lag split of the trigger budget (the JVM
            # source's rateLimit): each partition advances
            # floor(cap * its_lag / total_lag), and any partition the floor
            # zeroes still advances by at least one record if it has lag,
            # so no partition starves.
            # a partition absent from prev is NEW (added to the topic after
            # the last batch): its whole log is lag, read from 0 — using
            # latest as the fallback would zero its lag and skip its backlog
            lags = {
                (t, p): latest[t][p] - int(prev.get(t, {}).get(p, 0))
                for t in latest
                for p in latest[t]
            }
            total = sum(v for v in lags.values() if v > 0)
            if total > cap:
                capped: dict[str, dict[str, int]] = {}
                for (t, p), lag in lags.items():
                    begin = int(prev.get(t, {}).get(p, 0))
                    grant = min(lag, max(cap * lag // total, 1)) if lag > 0 else 0
                    capped.setdefault(t, {})[p] = begin + grant
                latest = capped
        self._last_end = latest
        return latest

    def partitions(self, start: dict, end: dict) -> list[RangePartition]:
        return _plan_partitions(start, end, self._opts)

    def read(self, partition: RangePartition) -> Iterator[pa.RecordBatch]:
        return _read_range(partition)

    def commit(self, end: dict) -> None:
        # offsets are checkpoint-owned (JVM-source parity); nothing to ack
        pass

    def stop(self) -> None:
        self._resolver.close()


class RoarKafkaBatchReader(DataSourceReader):
    """Batch read: the full earliest→latest log at planning time (the JVM
    source's batch mode with default offsets)."""

    def __init__(self, options: dict) -> None:
        self._opts = _Options.parse(options)

    def partitions(self) -> list[RangePartition]:
        resolver = _OffsetResolver(self._opts)
        try:
            start = resolver.offsets(EARLIEST_TIMESTAMP)
            end = resolver.offsets(LATEST_TIMESTAMP)
        finally:
            resolver.close()
        return _plan_partitions(start, end, self._opts)

    def read(self, partition: RangePartition) -> Iterator[pa.RecordBatch]:
        return _read_range(partition)


class RoarKafkaDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "roar_kafka"

    def schema(self) -> T.StructType:
        return KAFKA_SOURCE_SCHEMA

    def streamReader(self, schema: T.StructType) -> RoarKafkaStreamReader:
        return RoarKafkaStreamReader(self.options)

    def reader(self, schema: T.StructType) -> RoarKafkaBatchReader:
        return RoarKafkaBatchReader(self.options)


def register(spark: SparkSession) -> None:
    spark.dataSource.register(RoarKafkaDataSource)


def kafka_python_envelope_stream(
    spark: SparkSession, config: EngineConfig, topics: tuple[str, ...] | None = None
) -> DataFrame:
    """Streaming envelope DataFrame over real Kafka wire protocol — the
    drop-in counterpart of kafka.kafka_envelope_stream, driven by the SAME
    pinned option map so the A1 parity test covers both paths."""
    register(spark)
    reader = spark.readStream.format(RoarKafkaDataSource.name()).options(
        **kafka_reader_options(config, topics)
    )
    return reader.load().select("topic", *ENVELOPE_COLS)
