"""Wire-protocol tests for the Arrow Flight facade (A22-A28 parity)."""

from __future__ import annotations

import json

import pyarrow.flight as flight
import pytest

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


def _snap(lo: int, hi: int):
    import pyarrow as pa

    return pa.table({"n": pa.array(list(range(lo, hi)), pa.int64())})


def _vals(batches):
    """Flatten the reader's RecordBatch iterator to the n-column values."""
    out = []
    for b in batches:
        out.extend(b.column(0).to_pylist())
    return out


def test_flight_source_offset_survives_masked_eviction(monkeypatch):
    """Drop-oldest eviction MASKED by concurrent appends (count grows while
    positions shift) must trigger the head-fingerprint reset and re-deliver
    — the bare shrink check silently skipped the rows that moved into the
    evicted positions (r8 review)."""
    from pyspark.sql.types import LongType, StructField, StructType

    import roar_spark.sources.flight as fl

    schema = StructType([StructField("n", LongType(), True)])
    reader = fl.FlightSimpleStreamReader(schema, {"location": "x", "topic": "t"})

    snaps = {"cur": _snap(0, 10)}
    monkeypatch.setattr(fl, "_fetch_snapshot", lambda loc, top: snaps["cur"])

    rows1, off1 = reader.read(reader.initialOffset())
    assert _vals(rows1) == list(range(10))
    assert off1["rows"] == 10 and off1["head"] is not None

    # evict rows 0-4, append 10-19: num_rows=15 >= mark=10, head CHANGED
    snaps["cur"] = _snap(5, 20)
    rows2, off2 = reader.read(off1)
    # reset → whole snapshot re-delivered: rows 10-14 are NOT skipped
    assert _vals(rows2) == list(range(5, 20))
    assert off2 == {"rows": 15, "head": fl._head_fingerprint(snaps["cur"])}

    # steady state (no eviction): pure positional delta, no re-delivery
    snaps["cur"] = _snap(5, 25)
    rows3, off3 = reader.read(off2)
    assert _vals(rows3) == list(range(20, 25))
    assert off3["rows"] == 20  # 15 old positions + 5 new


def test_flight_source_replays_reset_batches(monkeypatch):
    """Checkpoint replay of a post-eviction reset batch must re-deliver
    snapshot[0:end.rows], not the inverted/shifted positional slice that
    returned empty and lost the batch (r8 review)."""
    from pyspark.sql.types import LongType, StructField, StructType

    import roar_spark.sources.flight as fl

    schema = StructType([StructField("n", LongType(), True)])
    reader = fl.FlightSimpleStreamReader(schema, {"location": "x", "topic": "t"})
    table = _snap(40, 100)  # 60 rows after a wipe
    monkeypatch.setattr(fl, "_fetch_snapshot", lambda loc, top: table)
    h_now = fl._head_fingerprint(table)

    # inverted range (100 → 60 after total eviction): replay [0:60]
    replay = _vals(
        reader.readBetweenOffsets(
            {"rows": 100, "head": "stale"}, {"rows": 60, "head": h_now}
        )
    )
    assert replay == list(range(40, 100))

    # masked-eviction reset (range grew but head changed): replay [0:end]
    replay2 = _vals(
        reader.readBetweenOffsets(
            {"rows": 10, "head": "stale"}, {"rows": 15, "head": h_now}
        )
    )
    assert replay2 == list(range(40, 55))

    # non-reset replay: plain positional slice
    replay3 = _vals(
        reader.readBetweenOffsets(
            {"rows": 10, "head": h_now}, {"rows": 15, "head": h_now}
        )
    )
    assert replay3 == list(range(50, 55))

    # eviction BETWEEN the live read and the replay: the checkpointed end
    # head no longer matches the new snapshot's head, so positions are
    # untrustworthy — a positional slice would silently substitute
    # DIFFERENT rows. Must fall back to [0:end.rows] (r8 advice).
    h_stale = "batch-time-head-now-evicted"
    replay4 = _vals(
        reader.readBetweenOffsets(
            {"rows": 10, "head": h_stale}, {"rows": 15, "head": h_stale}
        )
    )
    assert replay4 == list(range(40, 55))


def test_flight_source_at_least_once_property(monkeypatch):
    """Property: across ANY interleaving of front-evictions and appends
    between polls (the drop-oldest buffer's full behavior space), every
    row present in a polled snapshot has been delivered at least once by
    the end of that poll round — the at-least-once contract the module
    doc promises. Rows are unique monotone ints, so set containment is
    exact. Rate limiting is exercised by draining each poll round the way
    the engine does (repeat read() until the offset stops advancing)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql.types import LongType, StructField, StructType

    import roar_spark.sources.flight as fl

    schema = StructType([StructField("n", LongType(), True)])

    @settings(max_examples=60, deadline=None)
    @given(
        steps=st.lists(
            st.tuples(st.integers(0, 8), st.integers(0, 8)), min_size=1, max_size=12
        ),
        cap=st.one_of(st.none(), st.integers(1, 5)),
    )
    def run(steps, cap):
        opts = {"location": "x", "topic": "t"}
        if cap is not None:
            opts["maxrowsperbatch"] = str(cap)
        reader = fl.FlightSimpleStreamReader(schema, opts)
        buf: list[int] = []
        next_id = 0
        state = {"cur": _snap(0, 0)}
        monkeypatch.setattr(fl, "_fetch_snapshot", lambda loc, top: state["cur"])
        delivered: set[int] = set()
        offset = reader.initialOffset()
        for evict, append in steps:
            buf = buf[min(evict, len(buf)):]
            buf = buf + list(range(next_id, next_id + append))
            next_id += append
            import pyarrow as pa

            state["cur"] = pa.table({"n": pa.array(buf, pa.int64())})
            # drain this poll round like the micro-batch engine: read until
            # the offset stops advancing
            while True:
                rows, new_offset = reader.read(offset)
                delivered.update(_vals(rows))
                if new_offset == offset:
                    break
                offset = new_offset
            assert delivered >= set(buf), (buf, sorted(delivered))

    run()


def test_flight_source_naive_timestamp_contract(monkeypatch):
    """TZ-LESS remote timestamps are interpreted per naiveTimestampTimezone
    (default UTC) — an explicit, configurable contract where a bare arrow
    cast would silently reinterpret as UTC and a per-row conversion would
    silently use the process-local zone (r8 review: 7-hour shifts on a
    non-UTC box)."""
    import datetime as dt

    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType, TimestampType

    import roar_spark.sources.flight as fl

    naive = dt.datetime(2026, 8, 15, 12, 0, 0)
    table = pa.table({"ts": pa.array([naive], pa.timestamp("us"))})
    monkeypatch.setattr(fl, "_fetch_snapshot", lambda loc, top: table)
    schema = StructType([StructField("ts", TimestampType(), True)])

    def instant(opts):
        reader = fl.FlightSimpleStreamReader(schema, {"location": "x", "topic": "t", **opts})
        batches, _ = reader.read(reader.initialOffset())
        (batch,) = list(batches)
        col = batch.column(0)
        assert col.type.tz is not None  # cast to the expected tz'd type
        return col[0].as_py().astimezone(dt.timezone.utc).replace(tzinfo=None)

    # default: naive 12:00 IS 12:00 UTC
    assert instant({}) == naive
    # configured zone: naive 12:00 in LA = 19:00 UTC (PDT, Aug)
    shifted = instant({"naivetimestamptimezone": "America/Los_Angeles"})
    assert shifted == naive + dt.timedelta(hours=7)
