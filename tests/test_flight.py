"""Wire-protocol tests for the Arrow Flight facade (A22-A28 parity)."""

from __future__ import annotations

import json
import types
import uuid

import pyarrow as pa
import pyarrow.flight as flight
import pytest
from pyspark.sql.types import LongType, StructField, StructType

from roar_spark.config import EngineConfig
from roar_spark.sources.files import read_envelope_batch, write_envelope_file
from roar_spark.streaming.flight_facade import fetch_topic, list_topics, serve_in_thread
from roar_spark.streaming.manager import StreamEngine


@pytest.fixture()
def served_engine(request, spark, tmp_path):
    # MemoryStore engine; parametrize indirectly with "parquet" for a
    # ParquetStore (--store-dir) engine
    parquet = getattr(request, "param", "memory") == "parquet"
    engine = StreamEngine(
        spark, EngineConfig(), store_base=str(tmp_path / "store") if parquet else None
    )
    engine.register_stream("clicks", [json.dumps({"n": 1, "kind": "view"})])
    path = str(tmp_path / "data")
    write_envelope_file(
        path,
        [
            {
                "key": f"k{i}",
                "value": json.dumps({"n": i, "kind": "view" if i % 2 else "click"}),
                "timestamp": f"2026-08-13T10:00:{i:02d}Z",
                "offset": i,
                "partition": 0,
            }
            for i in range(20)
        ],
    )
    engine.append_batch("clicks", read_envelope_batch(spark, path))
    server = serve_in_thread(engine)
    yield engine, f"grpc://localhost:{server.port}"
    server.shutdown()
    engine.stop()


def test_list_flights_and_fetch(served_engine):
    _, location = served_engine
    assert list_topics(location) == ["clicks"]
    table = fetch_topic(location, "clicks", limit=5)
    assert table.num_rows == 5
    names = table.schema.names
    assert names[:4] == ["kafka_key", "kafka_timestamp", "kafka_offset", "kafka_partition"]
    assert set(names[4:]) == {"n", "kind"}


def test_fetch_unlimited_and_schema(served_engine):
    _, location = served_engine
    table = fetch_topic(location, "clicks", limit=-1)
    assert table.num_rows == 20
    client = flight.connect(location)
    schema = client.get_schema(flight.FlightDescriptor.for_path("clicks")).schema
    assert "kafka_offset" in schema.names


@pytest.mark.parametrize("served_engine", ["memory", "parquet"], indirect=True)
def test_plain_doget_matches_spark_read(served_engine):
    """A plain-ticket DoGet serves the store's cached Arrow snapshot: the
    same schema, rows and order as the Spark read of the same buffer
    (``engine.fetch(topic, -1).toArrow()``), on both stores, for a topic
    with rows and for a registered topic with none."""
    engine, location = served_engine
    engine.register_stream("quiet", [json.dumps({"n": 1})])
    client = flight.connect(location)
    for topic, rows in (("clicks", 20), ("quiet", 0)):
        served = client.do_get(flight.Ticket(topic.encode())).read_all()
        expected = engine.fetch(topic, -1).toArrow()
        assert served.num_rows == rows
        assert served.schema == expected.schema
        assert served.equals(expected)


@pytest.mark.parametrize("served_engine", ["parquet"], indirect=True)
def test_plain_doget_serves_append_order_on_parquet_store(served_engine, spark, tmp_path):
    """Across several ParquetStore batches a plain DoGet serves append
    order, so a limited fetch returns the oldest buffered rows (a Spark
    scan of the batch dirs orders its splits by file size instead)."""
    engine, location = served_engine
    path = str(tmp_path / "more")
    write_envelope_file(
        path,
        [
            {"key": f"k{i}", "value": json.dumps({"n": i, "kind": "click" * 8}),
             "timestamp": "2026-08-13T10:01:00Z", "offset": i, "partition": 0}
            for i in range(20, 60)
        ],
    )
    engine.append_batch("clicks", read_envelope_batch(spark, path))
    for limit, rows in ((5, 5), (-1, 60)):
        table = fetch_topic(location, "clicks", limit=limit)
        assert table.column("kafka_offset").to_pylist() == list(range(rows))


@pytest.mark.parametrize("store", ["memory", "parquet"])
def test_plain_doget_streams_batch_size_record_batches(spark, tmp_path, store):
    """Every RecordBatch a plain DoGet streams holds at most batch_size
    rows: one 2,500-row micro-batch arrives as 1,024 + 1,024 + 452."""
    engine = StreamEngine(
        spark,
        EngineConfig(batch_size=1024),
        store_base=str(tmp_path / "store") if store == "parquet" else None,
    )
    engine.register_stream("wide", [json.dumps({"n": 1})])
    path = str(tmp_path / "wide")
    write_envelope_file(
        path,
        [
            {
                "key": f"k{i}",
                "value": json.dumps({"n": i}),
                "timestamp": "2026-08-13T10:00:00Z",
                "offset": i,
                "partition": 0,
            }
            for i in range(2500)
        ],
    )
    engine.append_batch("wide", read_envelope_batch(spark, path))
    server = serve_in_thread(engine)
    try:
        reader = flight.connect(f"grpc://localhost:{server.port}").do_get(
            flight.Ticket(b"wide")
        )
        assert [chunk.data.num_rows for chunk in reader] == [1024, 1024, 452]
    finally:
        server.shutdown()
        engine.stop()


def test_plain_doget_runs_no_spark_job(served_engine, spark):
    """A plain DoGet on a MemoryStore topic is served without a Spark job:
    the status tracker records no job for the reading thread's group."""
    from roar_spark.streaming.flight_facade import RoarFlightServer

    engine, _ = served_engine
    server = RoarFlightServer(engine)  # not started: serve in this thread
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "plain-doget-probe"
    sc.setJobGroup(group, "plain DoGet")
    try:
        assert tracker.getJobIdsForGroup(group) == []
        server.do_get(None, flight.Ticket(b"clicks"))
        assert server._snapshot_table("clicks").num_rows == 20
        assert tracker.getJobIdsForGroup(group) == []
    finally:
        sc._jsc.clearJobGroup()


def test_flight_info_unbounded_totals(served_engine):
    _, location = served_engine
    client = flight.connect(location)
    info = client.get_flight_info(flight.FlightDescriptor.for_path("clicks"))
    assert info.total_records == -1 and info.total_bytes == -1  # server.go:120-121


def test_unknown_topic_not_found_and_no_create_on_probe(served_engine):
    engine, location = served_engine
    client = flight.connect(location)
    # the engine's KeyError crosses the wire as gRPC NOT_FOUND (pyarrow
    # surfaces it as ArrowKeyError) — the reference's exact status code
    # (flight/server.go:156-160), not UNAVAILABLE/UNKNOWN
    import pyarrow as pa

    with pytest.raises(pa.lib.ArrowKeyError):
        client.get_flight_info(flight.FlightDescriptor.for_path("ghost"))
    with pytest.raises(pa.lib.ArrowKeyError):
        client.do_get(flight.Ticket(b"ghost"))
    # reference quirk NOT replicated: the probe must not create a stream
    assert engine.list_streams() == ["clicks"]


def test_actions(served_engine):
    _, location = served_engine
    client = flight.connect(location)
    assert next(iter(client.do_action(flight.Action("health", b"")))).body.to_pybytes() == b"OK"
    topics = next(iter(client.do_action(flight.Action("listTopics", b"")))).body.to_pybytes()
    assert topics == b"clicks"


def test_metadata_rpcs_do_not_touch_stream_state(served_engine):
    """Listing/describing must not refresh the TTL clock or bump the data-
    request counter — the reference bumps LastUpdated only on data reads
    (GetBatches, stream/manager.go:376-386). Only DoGet refreshes."""
    from roar_spark.metrics import REGISTRY

    engine, location = served_engine
    handle = engine._handle("clicks")
    before_ts = handle.last_updated
    before_ctr = REGISTRY.get("roar_flight_stream_requests_total", topic="clicks")

    client = flight.connect(location)
    list(client.list_flights())
    client.get_flight_info(flight.FlightDescriptor.for_path("clicks"))
    client.get_schema(flight.FlightDescriptor.for_path("clicks"))
    assert handle.last_updated == before_ts
    assert REGISTRY.get("roar_flight_stream_requests_total", topic="clicks") == before_ctr

    fetch_topic(location, "clicks", limit=1)  # a data read DOES refresh
    assert handle.last_updated >= before_ts
    assert (
        REGISTRY.get("roar_flight_stream_requests_total", topic="clicks")
        == before_ctr + 1
    )


def test_flight_streaming_source_engine_to_engine(served_engine, spark, tmp_path):
    """North-star e2e (BASELINE.json: "Structured Streaming with Arrow
    Flight source"): engine A serves its buffered stream over Flight;
    engine B ingests it THROUGH the streaming source (poll DoGet →
    high-water slice → typed append) and B's served table matches A's
    store snapshot — including incremental rows appended after the
    replica query started, delivered once (no re-reads of the prefix)."""
    import json as _json

    from roar_spark.sources.files import read_envelope_batch, write_envelope_file
    from roar_spark.sources.flight import ingest_from_flight

    engine_a, location = served_engine
    engine_b = StreamEngine(
        spark,
        EngineConfig(flush_interval_seconds=1, checkpoint_path=str(tmp_path / "ckpt")),
    )
    handle = ingest_from_flight(
        engine_b,
        "clicks_replica",
        location,
        remote_topic="clicks",
        # rate limit smaller than the 20-row backlog → the first drain
        # takes ≥ 3 micro-batches, proving the mark advances correctly
        maxRowsPerBatch="8",
    )
    # same names/types; nullability is deliberately relaxed on the consumer
    # (JSON-omitted fields arrive as NULL regardless of the frozen flag)
    assert [(f.name, f.dataType) for f in handle.schema.fields] == [
        (f.name, f.dataType) for f in engine_a.get_schema("clicks").fields
    ]
    try:
        engine_b.process_all("clicks_replica")
        replica = {r.kafka_offset: r for r in engine_b.fetch("clicks_replica", -1).collect()}
        source = {r.kafka_offset: r for r in engine_a.fetch("clicks", -1).collect()}
        assert replica == source and len(replica) == 20

        # incremental: rows appended to A AFTER the replica drained arrive
        # as a delta, not a re-delivery of the prefix
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            write_envelope_file(
                d,
                [
                    {
                        "key": f"k{i}",
                        "value": _json.dumps({"n": i, "kind": "late"}),
                        "timestamp": f"2026-08-13T11:00:{i - 20:02d}Z",
                        "offset": i,
                        "partition": 0,
                    }
                    for i in range(20, 25)
                ],
            )
            engine_a.append_batch("clicks", read_envelope_batch(spark, d))
        engine_b.process_all("clicks_replica")
        rows = engine_b.fetch("clicks_replica", -1).collect()
        assert len(rows) == 25  # exactly once while the buffer holds
        assert {r.kafka_offset for r in rows} == set(range(25))
        assert handle.records_total == 25
    finally:
        if handle.query is not None:
            handle.query.stop()
        engine_b.stop()


class _FakeStore:
    """A drop-oldest buffer of unique ints with what the Flight server reads
    of a store: gen, version and snapshot_arrow's (first, table)."""

    def __init__(self) -> None:
        self.gen = uuid.uuid4().hex
        self.version = 0
        self.records_dropped = 0
        self.rows: list[int] = []

    def evict(self, n: int) -> None:
        n = min(n, len(self.rows))
        self.rows = self.rows[n:]
        self.records_dropped += n
        self.version += 1

    def append(self, values) -> None:
        self.rows = self.rows + list(values)
        self.version += 1

    def snapshot_arrow(self):
        return self.records_dropped, pa.table({"n": pa.array(self.rows, pa.int64())})


class _FakeEngine:
    """The engine surface RoarFlightServer uses, over one topic "t"."""

    def __init__(self) -> None:
        self.store = _FakeStore()

    def touch(self, topic: str):
        if topic != "t":
            raise KeyError(topic)
        return types.SimpleNamespace(store=self.store)

    def list_streams(self) -> list[str]:
        return ["t"]

    def get_schema(self, topic: str):
        return _N_SCHEMA


_N_SCHEMA = StructType([StructField("n", LongType(), True)])


@pytest.fixture(scope="module")
def fake_servers():
    """Flight servers over one fake engine: ``{shards: location}`` for 1
    and 3 endpoints. Tests swap ``engine.store`` to start a fresh buffer."""
    engine = _FakeEngine()
    servers = {n: serve_in_thread(engine, shards=n) for n in (1, 3)}
    yield engine, {n: f"grpc://localhost:{srv.port}" for n, srv in servers.items()}
    for srv in servers.values():
        srv.shutdown()


def _reader(location: str, **opts):
    from roar_spark.sources.flight import FlightShardedStreamReader

    return FlightShardedStreamReader(_N_SCHEMA, {"location": location, "topic": "t", **opts})


def _vals(batches):
    """Flatten the reader's RecordBatch iterator to the n-column values."""
    out = []
    for b in batches:
        out.extend(b.column(0).to_pylist())
    return out


def _read_range(reader, start, end):
    return [n for part in reader.partitions(start, end) for n in _vals(reader.read(part))]


def _drain(reader, start):
    """Plan and read batches the way the micro-batch engine does until
    latestOffset stops advancing; returns (values delivered, last end)."""
    out = []
    while True:
        end = reader.latestOffset()
        if end == start:
            return out, start
        out += _read_range(reader, start, end)
        reader.commit(end)
        start = end


def test_flight_source_offset_survives_masked_eviction(fake_servers):
    """Drop-oldest eviction MASKED by concurrent appends (the row count grows
    while positions shift) delivers exactly the appended rows, on 1 and 3
    endpoints: offsets are absolute, so neither a re-delivery nor a skip
    can happen."""
    engine, locations = fake_servers
    for location in locations.values():
        engine.store = store = _FakeStore()
        reader = _reader(location)
        store.append(range(10))
        got, off1 = _drain(reader, reader.initialOffset())
        assert sorted(got) == list(range(10))
        assert off1 == {"gen": store.gen, "end": 10}

        # evict rows 0-4, append 10-19: 15 rows held, head changed
        store.evict(5)
        store.append(range(10, 20))
        got, off2 = _drain(reader, off1)
        assert sorted(got) == list(range(10, 20))
        assert off2 == {"gen": store.gen, "end": 20}

        # steady state: the delta only
        store.append(range(20, 25))
        got, _ = _drain(reader, off2)
        assert sorted(got) == list(range(20, 25))


def test_flight_source_replays_reset_batches(fake_servers):
    """Spark replays a checkpointed batch by planning its (start, end) again.
    The replay serves the same rows while they are held, never a row
    outside the range, only the held part after an eviction, and nothing
    once the topic was re-created (a new gen: the rows are gone)."""
    engine, locations = fake_servers
    engine.store = store = _FakeStore()
    reader = _reader(locations[3])
    store.append(range(40, 100))  # offsets 0-59
    start, end = {"gen": store.gen, "end": 10}, {"gen": store.gen, "end": 15}
    assert sorted(_read_range(reader, start, end)) == list(range(50, 55))

    store.append(range(100, 110))  # appends past the range change nothing
    assert sorted(_read_range(reader, start, end)) == list(range(50, 55))

    store.evict(12)  # offsets 10 and 11 are gone
    assert sorted(_read_range(reader, start, end)) == list(range(52, 55))

    # a batch that straddles a re-creation reads the new incarnation from
    # its front; the old incarnation's range serves nothing
    engine.store = fresh = _FakeStore()
    fresh.append(range(200, 204))
    assert _read_range(reader, start, end) == []
    assert sorted(
        _read_range(reader, end, {"gen": fresh.gen, "end": 4})
    ) == list(range(200, 204))


def test_flight_source_at_least_once_property(fake_servers):
    """Property: across ANY interleaving of front-evictions, appends and
    re-creations of the topic between polls (the drop-oldest buffer's full
    behavior space), no row is delivered twice, and every row held at a
    poll has been delivered by the end of that poll round — on 1 and 3
    endpoints, with and without maxRowsPerBatch. Rows are unique monotone
    ints, so set containment is exact. Each poll round is drained the way
    the engine does (plan batches until the offset stops advancing)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    engine, locations = fake_servers

    @settings(max_examples=40, deadline=None)
    @given(
        steps=st.lists(
            # (evict, append, re-create the topic first: 1 step in 5)
            st.tuples(
                st.integers(0, 8), st.integers(0, 8), st.integers(0, 4).map(lambda k: k == 0)
            ),
            min_size=1,
            max_size=10,
        ),
        cap=st.one_of(st.none(), st.integers(1, 5)),
        shards=st.sampled_from([1, 3]),
    )
    def run(steps, cap, shards):
        engine.store = _FakeStore()
        opts = {} if cap is None else {"maxrowsperbatch": str(cap)}
        reader = _reader(locations[shards], **opts)
        delivered: list[int] = []
        next_id = 0
        offset = reader.initialOffset()
        for evict, append, recreate in steps:
            if recreate:  # a TTL expiry and re-creation
                engine.store = _FakeStore()
            engine.store.evict(evict)
            engine.store.append(range(next_id, next_id + append))
            next_id += append
            got, offset = _drain(reader, offset)
            delivered += got
            assert len(delivered) == len(set(delivered)), sorted(delivered)
            assert set(delivered) >= set(engine.store.rows)

    run()


def test_flight_source_naive_timestamp_contract(monkeypatch):
    """TZ-LESS remote timestamps are interpreted per naiveTimestampTimezone
    (default UTC) — an explicit, configurable contract where a bare arrow
    cast would silently reinterpret as UTC and a per-row conversion would
    silently use the process-local zone (7-hour shifts on a non-UTC box)."""
    import datetime as dt

    from pyspark.sql.types import TimestampType

    import roar_spark.sources.flight as fl

    naive = dt.datetime(2026, 8, 15, 12, 0, 0)
    table = pa.table({"ts": pa.array([naive], pa.timestamp("us"))})

    class _Client:
        def do_get(self, ticket):
            return types.SimpleNamespace(read_all=lambda: table)

        def close(self):
            pass

    monkeypatch.setattr(flight, "connect", lambda loc: _Client())
    schema = StructType([StructField("ts", TimestampType(), True)])

    def instant(opts):
        reader = fl.FlightShardedStreamReader(
            schema, {"location": "x", "topic": "t", **opts}
        )
        (batch,) = list(reader.read(fl.FlightShardPartition("x", "t")))
        col = batch.column(0)
        assert col.type.tz is not None  # cast to the expected tz'd type
        return col[0].as_py().astimezone(dt.timezone.utc).replace(tzinfo=None)

    # default: naive 12:00 IS 12:00 UTC
    assert instant({}) == naive
    # configured zone: naive 12:00 in LA = 19:00 UTC (PDT, Aug)
    shifted = instant({"naivetimestamptimezone": "America/Los_Angeles"})
    assert shifted == naive + dt.timedelta(hours=7)


@pytest.mark.parametrize(
    "ticket",
    [
        {"topic": "t", "shard": 5, "of": 2},
        {"topic": "t", "shard": -1, "of": 2},
        {"topic": "t", "shard": 0, "of": 0},
        {"topic": "t", "shard": "0", "of": 2},
        {"topic": "t", "shard": True, "of": 2},
        {"topic": "t", "of": 1.5},
        {"topic": "t", "gen": "g", "start": 5, "end": 3},
        {"topic": "t", "gen": "g", "start": 1},
        {"topic": "t", "start": 0, "end": 3},
        {"topic": 3},
        "{not json",
    ],
    ids=[
        "shard-past-of", "shard-negative", "of-zero", "shard-string", "shard-bool",
        "of-float", "start-past-end", "start-without-end", "range-without-gen",
        "topic-not-string", "malformed-json",
    ],
)
def test_doget_rejects_invalid_ticket(fake_servers, ticket):
    """A DoGet ticket comes from outside the program: a JSON ticket with a
    bad field fails with INVALID_ARGUMENT (ArrowInvalid on the client)
    instead of serving an empty or an unfiltered shard."""
    engine, locations = fake_servers
    engine.store = _FakeStore()
    engine.store.append(range(4))
    raw = ticket if isinstance(ticket, str) else json.dumps(ticket)
    client = flight.connect(locations[1])
    try:
        with pytest.raises(pa.ArrowInvalid):
            client.do_get(flight.Ticket(raw.encode())).read_all()
        ok = json.dumps({"topic": "t", "shard": 1, "of": 2}).encode()
        assert client.do_get(flight.Ticket(ok)).read_all().column(0).to_pylist() == [1, 3]
    finally:
        client.close()


def test_list_topics_closes_its_connection(monkeypatch):
    """list_topics closes the client it opens, also when the RPC fails —
    ``serve --source-flight`` calls it in a long-lived process."""
    import roar_spark.streaming.flight_facade as ff

    clients = []

    class _Client:
        def __init__(self, fail: bool) -> None:
            self.fail, self.closed = fail, False

        def list_flights(self):
            if self.fail:
                raise flight.FlightUnavailableError("down")
            for name in (b"a", b"b"):
                yield types.SimpleNamespace(descriptor=types.SimpleNamespace(path=[name]))

        def close(self) -> None:
            self.closed = True

    failures = iter([False, True])

    def connect(location):
        clients.append(_Client(next(failures)))
        return clients[-1]

    monkeypatch.setattr(ff.flight, "connect", connect)
    assert ff.list_topics("grpc://x") == ["a", "b"]
    with pytest.raises(flight.FlightUnavailableError):
        ff.list_topics("grpc://x")
    assert [c.closed for c in clients] == [True, True]
