"""Arrow-Flight STREAMING SOURCE — feeds a roar-style Flight server's DoGet
stream into Structured Streaming (the "Structured Streaming with Arrow
Flight source" leg of the north-star design; BASELINE.json).

    spark.dataSource.register(FlightStreamDataSource)
    (spark.readStream.format("roar_flight")
          .option("location", "grpc://host:port")
          .option("topic", "events").load())

Offset model: the server numbers rows the way a Kafka log does
(flight_facade.RoarFlightServer). A store's first retained row has offset
``first`` = its records_dropped, which drop-oldest eviction (the roar
buffer, stream/manager.go AddBatch) only ever raises; ``gen`` names the
store incarnation those offsets belong to. An offset is ``{"gen", "end"}``
and a batch is the rows of ``[start.end, end.end)``.

One reader for 1 or N endpoints: ``FlightShardedStreamReader``, one
InputPartition per endpoint of the server's FlightInfo. The driver
exchanges only offsets (the ``hwm`` DoAction and GetFlightInfo); each
EXECUTOR DoGets its endpoint's rows of the batch range, the rows whose
``offset % of`` is its shard. Against a sharded service (one endpoint per
shard host) the ingest rate scales with endpoints, not with one socket.

Contract: no row is delivered twice, and delivery is exactly-once while
the rows are held. A row evicted before any read is skipped (the server
serves ``[max(start, first), end)``), and a ``gen`` change — the topic
was re-created after TTL expiry — reads the new incarnation from its
front. ``maxRowsPerBatch`` caps a batch exactly like Kafka's
maxOffsetsPerTrigger, also on the first trigger after a restart.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.types import StructField, StructType

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

    from roar_spark.streaming.manager import StreamEngine, StreamHandle


def remote_spark_schema(location: str, topic: str) -> StructType:
    """The served stream's schema as a Spark StructType (GetSchema RPC →
    Arrow schema → StructType) — what a consumer registers its local
    stream with so the typed rows pass through unconverted."""
    import pyarrow.flight as flight

    from pyspark.sql.pandas.types import from_arrow_schema

    client = flight.connect(location)
    try:
        result = client.get_schema(flight.FlightDescriptor.for_path(topic))
        schema = from_arrow_schema(result.schema)
    finally:
        client.close()
    # ALL-NULLABLE on the consumer side: the server's frozen schema marks
    # payload fields non-nullable, but JSON parsing yields NULL for any
    # payload that omitted a field — nullability is a hint the data can
    # violate, and declaring it through the source makes Spark's codegen
    # NPE on the first such row (UnsafeWriter.write on a null UTF8String)
    return StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in schema.fields]
    )


def _arrow_batches(table: "pa.Table", schema: StructType, naive_tz: str):
    # Arrow RecordBatches, not per-row tuples: the worker read path
    # accepts either (plan_data_source_read.records_to_arrow_batches)
    # and the batch form skips the per-row Python materialization —
    # measured 23.2 s → 10.6 s for a 1M-row replication (SCALE.md).
    # Columns are re-selected in schema field order, then cast to the
    # EXACT expected arrow schema — the JVM runner asserts batch schema
    # equality, and the remote's timestamp tz / nullability metadata need
    # not match the session's (cast is metadata-only for tz'd timestamps:
    # arrow stores UTC-epoch instants, so no values change).
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    pa_schema = to_arrow_schema(schema)
    tbl = table.select(schema.fieldNames())
    if tbl.schema != pa_schema:
        if naive_tz != "UTC":
            # naive → tz'd cast reinterprets values as UTC; apply the
            # configured interpretation zone first (naiveTimestampTimezone)
            import pyarrow.compute as pc

            for i, field in enumerate(tbl.schema):
                target = pa_schema.field(i).type
                if (
                    pa.types.is_timestamp(field.type)
                    and field.type.tz is None
                    and pa.types.is_timestamp(target)
                    and target.tz is not None
                ):
                    col = pc.assume_timezone(tbl.column(i), naive_tz)
                    tbl = tbl.set_column(i, field.name, col)
        tbl = tbl.cast(pa_schema)
    # bounded batches into the JVM, however the server chunked the stream
    return iter(tbl.to_batches(max_chunksize=10_000))


class FlightShardPartition(InputPartition):
    """One Flight endpoint's ranged read — what a single Spark task
    DoGets. Picklable by construction (two strings)."""

    def __init__(self, location: str, ticket: str) -> None:
        self.location = location
        self.ticket = ticket


class FlightShardedStreamReader(DataSourceStreamReader):
    """The Flight source's reader (module doc): a ``DataSourceStreamReader``
    with one InputPartition per advertised Flight endpoint — EXECUTORS
    DoGet their endpoints in parallel, nothing row-shaped crosses the
    driver. Per trigger the driver makes exactly two metadata RPCs: the
    ``hwm`` DoAction (``latestOffset``) and GetFlightInfo (``partitions``:
    the live endpoint list, re-polled per batch so a service that
    re-shards is picked up without restart). Each partition's ticket is
    its endpoint's ticket plus the batch's ``{gen, start, end}``."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self._location = options["location"]
        self._topic = options["topic"]
        self._schema = schema
        self._max_rows = int(options.get("maxrowsperbatch", 0)) or None
        self._starting = options.get("startingoffsets", "earliest").lower()
        # contract for remotes serving TZ-LESS timestamps (the roar facade
        # always serves tz'd ones): naive wall-clock values are interpreted
        # in this zone before the cast to the expected tz'd arrow type.
        # Default UTC — explicit and documented, where a bare cast would
        # make the same choice silently.
        self._naive_tz = options.get("naivetimestamptimezone", "UTC")
        # the end of the last planned batch: where maxRowsPerBatch counts
        # from. On a first start that is initialOffset(); on a restart
        # partitions()/commit() seed it, which Spark calls with the
        # checkpointed offsets before the next latestOffset (as its own
        # _SimpleStreamReaderWrapper relies on)
        self._last_end: dict | None = None

    def _hwm(self) -> dict:
        import json

        import pyarrow.flight as flight

        client = flight.connect(self._location)
        try:
            results = list(client.do_action(flight.Action("hwm", self._topic.encode())))
            return json.loads(results[0].body.to_pybytes().decode())
        finally:
            client.close()

    def initialOffset(self) -> dict:
        if self._starting == "latest":
            hwm = self._hwm()
            return {"gen": hwm["gen"], "end": hwm["end"]}
        # no gen: the first batch reads the live incarnation from its front
        return {"gen": None, "end": 0}

    def latestOffset(self) -> dict:
        if self._last_end is None:  # first start: nothing planned yet
            self._last_end = self.initialOffset()
        hwm = self._hwm()
        end = hwm["end"]
        last = self._last_end
        if self._max_rows is not None:
            # count from the first row the next batch can deliver: past the
            # last end within one incarnation, the front of a new one
            lo = last["end"] if last["gen"] == hwm["gen"] else 0
            end = min(end, max(lo, hwm["first"]) + self._max_rows)
        self._last_end = {"gen": hwm["gen"], "end": end}
        return self._last_end

    def partitions(self, start: dict, end: dict) -> list:
        import json

        import pyarrow.flight as flight

        if self._last_end is None:
            self._last_end = end
        lo = start["end"] if start["gen"] == end["gen"] else 0
        if end["end"] <= lo:
            return []  # empty range (start == end trigger)
        client = flight.connect(self._location)
        try:
            info = client.get_flight_info(flight.FlightDescriptor.for_path(self._topic))
        finally:
            client.close()
        parts = []
        for ep in info.endpoints:
            try:
                spec = json.loads(ep.ticket.ticket)
            except ValueError:  # a plain-topic ticket (or bad UTF-8)
                spec = None
            if not isinstance(spec, dict) or "topic" not in spec:
                # unsharded server: one plain-topic endpoint — read it
                # through the ranged path as the one shard of one
                spec = {"topic": self._topic}
            spec.update({"gen": end["gen"], "start": lo, "end": end["end"]})
            locations = [loc.uri.decode() for loc in ep.locations]
            parts.append(
                FlightShardPartition(
                    locations[0] if locations else self._location, json.dumps(spec)
                )
            )
        return parts

    def read(self, partition: FlightShardPartition) -> Iterator:
        # EXECUTOR-side: fresh connection per (task, trigger), DoGet of
        # exactly this endpoint's rows of the range, Arrow pass-through
        import pyarrow.flight as flight

        client = flight.connect(partition.location)
        try:
            table = client.do_get(flight.Ticket(partition.ticket.encode())).read_all()
        finally:
            client.close()
        return _arrow_batches(table, self._schema, self._naive_tz)

    def commit(self, end: dict) -> None:
        # nothing to release server-side: DoGet is a stateless snapshot
        if self._last_end is None:
            self._last_end = end


class FlightStreamDataSource(DataSource):
    """``format("roar_flight")`` — options: ``location`` (grpc://host:port),
    ``topic`` (served stream name), ``maxRowsPerBatch`` (rate limit),
    ``startingOffsets`` (earliest|latest, default earliest),
    ``naiveTimestampTimezone`` (zone for interpreting TZ-LESS remote
    timestamps, default UTC — the roar facade always serves tz'd ones)."""

    @classmethod
    def name(cls) -> str:
        return "roar_flight"

    def schema(self) -> StructType:
        return remote_spark_schema(self.options["location"], self.options["topic"])

    def streamReader(self, schema: StructType) -> FlightShardedStreamReader:
        return FlightShardedStreamReader(schema, self.options)


def flight_envelope_stream(
    spark, location: str, topic: str, schema: StructType | None = None, **options: str
):
    """Streaming DataFrame of the remote stream's TYPED rows (registers the
    data source on this session idempotently). Pass ``schema`` when the
    caller already fetched it — a user-provided schema skips the data
    source's own GetSchema round-trip."""
    spark.dataSource.register(FlightStreamDataSource)
    reader = (
        spark.readStream.format("roar_flight")
        .option("location", location)
        .option("topic", topic)
    )
    if schema is not None:
        reader = reader.schema(schema)
    for key, value in options.items():
        reader = reader.option(key, value)
    return reader.load()


def ingest_from_flight(
    engine: "StreamEngine",
    topic: str,
    location: str,
    remote_topic: str | None = None,
    **options: str,
) -> "StreamHandle":
    """Engine-to-engine replication: consume another engine's served stream
    through the Flight source into THIS engine's store. The rows arrive
    already typed (the remote schema via GetSchema), so the local stream
    registers an identity converter with that schema — no payload
    re-serialization, no re-inference drift between the two engines."""
    remote_topic = remote_topic or topic
    schema = remote_spark_schema(location, remote_topic)
    engine.register_converter(
        topic, lambda env, s=schema: env.select(*s.fieldNames()), schema
    )
    engine.register_stream(topic, [])  # converter schema; sample ignored
    envelope = flight_envelope_stream(
        engine._spark, location, remote_topic, schema=schema, **options
    )
    engine.ingest(topic, envelope)
    return engine._handle(topic)
