"""Sharded Flight streaming source (the 1000-executor leg of the
north-star design): multi-endpoint FlightInfo on the serving facade,
partition-per-endpoint executor DoGets, hwm offset polling, stable
content-hash sharding, and value parity with the simple reader."""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.flight as flight
import pytest

from roar_spark.config import EngineConfig
from roar_spark.sources.files import read_envelope_batch, write_envelope_file
from roar_spark.streaming.flight_facade import (
    RoarFlightServer,
    read_topic,
    serve_in_thread,
)
from roar_spark.streaming.manager import StreamEngine


def _feed(spark, engine, topic, lo, hi, kind="view"):
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        write_envelope_file(
            d,
            [
                {
                    "key": f"k{i}",
                    "value": json.dumps({"n": i, "kind": kind}),
                    "timestamp": f"2026-08-13T10:{(i // 60) % 60:02d}:{i % 60:02d}Z",
                    "offset": i,
                    "partition": 0,
                }
                for i in range(lo, hi)
            ],
        )
        engine.append_batch(topic, read_envelope_batch(spark, d))


@pytest.fixture()
def sharded_engine(spark):
    engine = StreamEngine(spark, EngineConfig())
    engine.register_stream("clicks", [json.dumps({"n": 1, "kind": "view"})])
    _feed(spark, engine, "clicks", 0, 40)
    server = serve_in_thread(engine, shards=3)
    yield engine, f"grpc://localhost:{server.port}"
    server.shutdown()
    engine.stop()


def test_sharded_info_endpoints_and_disjoint_union(sharded_engine):
    """FlightInfo advertises one endpoint per shard; the shard DoGets are
    pairwise disjoint and union to exactly the snapshot."""
    _, location = sharded_engine
    client = flight.connect(location)
    info = client.get_flight_info(flight.FlightDescriptor.for_path("clicks"))
    assert len(info.endpoints) == 3
    shard_rows = []
    for ep in info.endpoints:
        spec = json.loads(ep.ticket.ticket.decode())
        assert spec["topic"] == "clicks" and spec["of"] == 3
        t = client.do_get(ep.ticket).read_all()
        shard_rows.append(t.column("kafka_offset").to_pylist())
    flat = [o for rows in shard_rows for o in rows]
    assert sorted(flat) == list(range(40)), "shards must union to the snapshot"
    assert len(set(flat)) == len(flat), "shards must be disjoint"
    # content sharding actually spreads (3 shards over 40 distinct rows)
    assert sum(1 for rows in shard_rows if rows) >= 2
    # and read_topic (the CLI/simple-client path) unions all endpoints
    t = read_topic(location, "clicks")
    assert sorted(t.column("kafka_offset").to_pylist()) == list(range(40))


def test_shard_assignment_stable_under_eviction(sharded_engine, spark):
    """A row keeps its shard after the front of the buffer is evicted —
    the property that keeps the per-range offset model valid per shard
    (content hash, not position)."""
    engine, location = sharded_engine
    client = flight.connect(location)
    info = client.get_flight_info(flight.FlightDescriptor.for_path("clicks"))

    def shard_map():
        out = {}
        for i, ep in enumerate(info.endpoints):
            t = client.do_get(ep.ticket).read_all()
            for o in t.column("kafka_offset").to_pylist():
                out[o] = i
        return out

    # second store batch, so evicting the first leaves survivors
    _feed(spark, engine, "clicks", 40, 50, kind="mid")
    before = shard_map()
    # evict the first batch by capping the buffer and appending
    handle = engine._handle("clicks")
    handle.store._max_bytes = handle.store.current_bytes  # next append evicts
    _feed(spark, engine, "clicks", 50, 60, kind="late")
    after = shard_map()
    survivors = set(before) & set(after)
    assert survivors, "some original rows must survive the eviction"
    assert all(before[o] == after[o] for o in survivors)


def test_hwm_action_and_ranged_ticket(sharded_engine):
    """hwm returns the global {rows, head}; a ranged ticket serves only the
    delta, and a stale start_head resets the range to the front."""
    _, location = sharded_engine
    client = flight.connect(location)
    hwm = json.loads(
        next(iter(client.do_action(flight.Action("hwm", b"clicks")))).body.to_pybytes()
    )
    assert hwm["rows"] == 40 and hwm["head"]

    def ranged(start, end, start_head, shard=None, of=None):
        spec = {"topic": "clicks", "start": start, "end": end, "start_head": start_head}
        if of:
            spec.update({"shard": shard, "of": of})
        t = client.do_get(flight.Ticket(json.dumps(spec).encode())).read_all()
        return t.column("kafka_offset").to_pylist()

    # valid head → positional delta
    assert ranged(30, 40, hwm["head"]) == list(range(30, 40))
    # stale head → reset to the front (at-least-once re-delivery)
    assert ranged(30, 40, "stale") == list(range(40))
    # sharded delta: union of the 3 shards == the delta
    got = sorted(
        o for s in range(3) for o in ranged(30, 40, hwm["head"], shard=s, of=3)
    )
    assert got == list(range(30, 40))


def test_simple_reader_refuses_sharded_server(sharded_engine):
    """The driver-prefetch reader's positional offset model is invalid
    against a multi-endpoint server (appends interleave mid-snapshot) —
    it must raise with the fix, not silently drop rows."""
    _, location = sharded_engine
    from roar_spark.sources.flight import _fetch_snapshot

    with pytest.raises(ValueError, match="sharded"):
        _fetch_snapshot(location, "clicks")


def test_sharded_source_engine_to_engine(sharded_engine, spark, tmp_path):
    """North-star e2e at ≥3 endpoints: engine B replicates A's served
    stream through the PARTITIONED reader (executors DoGet their own
    shards), with exactly-once steady-state delivery across incremental
    appends — value parity with what the simple reader delivers against
    an unsharded server (test_flight.py's e2e)."""
    from roar_spark.sources.flight import ingest_from_flight

    engine_a, location = sharded_engine
    engine_b = StreamEngine(
        spark,
        EngineConfig(flush_interval_seconds=1, checkpoint_path=str(tmp_path / "ck")),
    )
    handle = ingest_from_flight(
        engine_b, "replica", location, remote_topic="clicks", sharded="true"
    )
    try:
        engine_b.process_all("replica")
        rows = engine_b.fetch("replica", -1).collect()
        source = engine_a.fetch("clicks", -1).collect()
        assert {r.kafka_offset: r for r in rows} == {
            r.kafka_offset: r for r in source
        } and len(rows) == 40
        # incremental: the next trigger ships ONLY the delta, sharded
        _feed(spark, engine_a, "clicks", 40, 50, kind="late")
        engine_b.process_all("replica")
        rows = engine_b.fetch("replica", -1).collect()
        assert sorted(r.kafka_offset for r in rows) == list(range(50))
        assert handle.records_total == 50  # no re-delivery of the prefix
    finally:
        if handle.query is not None:
            handle.query.stop()
        engine_b.stop()


def test_sharded_reader_offsets_and_partitions(monkeypatch):
    """Driver-side unit pins: latestOffset caps via maxRowsPerBatch only
    within one head frame; partitions() embeds the range, resets on head
    change, and returns [] for an empty range."""
    from pyspark.sql.types import LongType, StructField, StructType

    import roar_spark.sources.flight as fl

    schema = StructType([StructField("n", LongType(), True)])
    reader = fl.FlightShardedStreamReader(
        schema, {"location": "grpc://x", "topic": "t", "maxrowsperbatch": "10"}
    )
    hwm = {"rows": 0, "head": None}
    monkeypatch.setattr(reader, "_hwm", lambda: dict(hwm))

    assert reader.initialOffset() == {"rows": 0, "head": None}
    hwm = {"rows": 25, "head": "h1"}
    # first observation after (re)start is uncapped by design
    assert reader.latestOffset() == {"rows": 25, "head": "h1"}
    hwm = {"rows": 60, "head": "h1"}
    assert reader.latestOffset() == {"rows": 35, "head": "h1"}  # capped
    hwm = {"rows": 80, "head": "h2"}  # head changed: no shared frame → uncapped
    assert reader.latestOffset() == {"rows": 80, "head": "h2"}

    class _EP:
        def __init__(self, ticket, locs):
            self.ticket = flight.Ticket(ticket)
            self.locations = locs

    class _Info:
        endpoints = [
            _EP(json.dumps({"topic": "t", "shard": i, "of": 2}).encode(), [])
            for i in range(2)
        ]

    class _Client:
        def get_flight_info(self, desc):
            return _Info()

        def close(self):
            pass

    import pyarrow.flight as pf

    monkeypatch.setattr(pf, "connect", lambda loc: _Client())

    parts = reader.partitions({"rows": 10, "head": "a"}, {"rows": 30, "head": "a"})
    assert len(parts) == 2
    specs = [json.loads(p.ticket) for p in parts]
    assert all(s["start"] == 10 and s["end"] == 30 and s["start_head"] == "a" for s in specs)
    assert {s["shard"] for s in specs} == {0, 1}
    assert all(p.location == "grpc://x" for p in parts)  # no ep locations → source's

    # head change → reset to the front
    parts = reader.partitions({"rows": 10, "head": "a"}, {"rows": 8, "head": "b"})
    assert all(json.loads(p.ticket)["start"] == 0 for p in parts)

    # empty range → no partitions
    assert reader.partitions({"rows": 30, "head": "a"}, {"rows": 30, "head": "a"}) == []


def test_snapshot_cache_per_store_version(spark):
    """One Arrow materialization serves every DoGet of a version, plain
    or shard; an append invalidates; a revived stream's fresh store
    (version restarts at 0) must not hit the stale cache."""
    engine = StreamEngine(spark, EngineConfig())
    engine.register_stream("t", [json.dumps({"n": 1})])
    _feed(spark, engine, "t", 0, 5)
    server = RoarFlightServer(engine)  # not started: unit use
    store = engine._handle("t").store
    materialize = store.snapshot_arrow
    calls = []
    store.snapshot_arrow = lambda: calls.append(1) or materialize()
    plain = flight.Ticket(b"t")
    server.do_get(None, plain)
    server.do_get(None, plain)
    assert len(calls) == 1  # two plain DoGets, one materialization
    t1 = server._snapshot_table("t")
    assert server._snapshot_table("t") is t1 and len(calls) == 1  # cache hit
    _feed(spark, engine, "t", 5, 8)
    server.do_get(None, plain)
    assert len(calls) == 2  # the append invalidated the plain read's entry
    t2 = server._snapshot_table("t")
    assert t2 is not t1 and t2.num_rows == 8 and len(calls) == 2
    # fresh store identity (TTL revive path): cache keyed on store object
    handle = engine._handle("t")
    fresh = engine._make_store("t", handle.schema)
    assert fresh.version == 0
    handle.store = fresh
    t3 = server._snapshot_table("t")
    assert t3 is not t2 and t3.num_rows == 0
    engine.stop()


@pytest.mark.parametrize(
    "infer_nested,payloads",
    [
        # a payload field missing from some messages parses to NULL, but
        # the frozen schema marks it non-null
        (False, [{"n": i, **({"opt": i} if i % 2 else {})} for i in range(12)]),
        # nested inference: struct children are written nullable, frozen
        # non-null
        (True, [{"n": i, "s": {"a": i, "b": [i, i + 1]}} for i in range(12)]),
    ],
    ids=["missing-field", "nested"],
)
def test_parquet_store_serves_nullable_snapshot(spark, tmp_path, infer_nested, payloads):
    """A ParquetStore topic whose data breaks the frozen schema's non-null
    flags is served by plain and shard DoGets alike, with the types
    Spark's parquet read of the store serves (all nullable)."""
    engine = StreamEngine(
        spark, EngineConfig(infer_nested=infer_nested), store_base=str(tmp_path / "store")
    )
    engine.register_stream("t", [json.dumps(p) for p in payloads])
    write_envelope_file(
        str(tmp_path / "in"),
        [
            {"key": f"k{i}", "value": json.dumps(p), "timestamp": "2026-08-13T10:00:00Z",
             "offset": i, "partition": 0}
            for i, p in enumerate(payloads)
        ],
    )
    engine.append_batch("t", read_envelope_batch(spark, str(tmp_path / "in")))
    expected = engine.fetch("t", -1).toArrow()
    server = serve_in_thread(engine, shards=2)
    location = f"grpc://localhost:{server.port}"
    try:
        client = flight.connect(location)
        plain = client.do_get(flight.Ticket(b"t")).read_all()
        assert plain.equals(expected)
        sharded = read_topic(location, "t")  # one JSON ticket per shard
        assert sharded.schema == expected.schema
        assert sorted(sharded.column("kafka_offset").to_pylist()) == list(range(12))
    finally:
        server.shutdown()
        engine.stop()


def test_snapshot_cache_prunes_dead_topics(spark):
    """A topic that expires and is never requested again must not pin its
    snapshot in the server cache forever — the next request for ANY topic
    sweeps entries whose topic left the engine (r9 review)."""
    engine = StreamEngine(spark, EngineConfig())
    engine.register_stream("a", [json.dumps({"n": 1})])
    engine.register_stream("b", [json.dumps({"n": 1})])
    _feed(spark, engine, "a", 0, 3)
    _feed(spark, engine, "b", 0, 3)
    server = RoarFlightServer(engine)  # not started: unit use
    server._snapshot_table("a")
    server._snapshot_table("b")
    assert set(server._snap_cache) == {"a", "b"}
    with engine._lock:  # simulate TTL expiry of "a" (janitor's removal)
        del engine._streams["a"]
    server._snapshot_table("b")  # a request for another topic sweeps
    assert set(server._snap_cache) == {"b"}
    engine.stop()


def test_incremental_row_hash_carry_forward(spark):
    """Steady-state appends reuse the previous snapshot's row hashes as a
    prefix (head row unchanged ⇒ prefix property) — the carried-forward
    vector must equal a from-scratch hash of the new snapshot, and shard
    DoGets must return identical rows either way (r9 review)."""
    import numpy as np

    engine = StreamEngine(spark, EngineConfig())
    engine.register_stream("t", [json.dumps({"n": 1, "kind": "view"})])
    _feed(spark, engine, "t", 0, 12)
    server = RoarFlightServer(engine, shards=2)
    # populate hashes for version 1
    entry1 = server._snapshot_entry("t")
    with entry1["hash_lock"]:
        entry1["hashes"] = server._row_hashes(entry1["table"])
    _feed(spark, engine, "t", 12, 20)
    entry2 = server._snapshot_entry("t")
    assert entry2 is not entry1
    assert "prev_hashes" in entry2, "append with unchanged head must carry forward"
    # force the lazy computation exactly as do_get does
    base = entry2.pop("prev_hashes")
    delta = entry2["table"].slice(len(base))
    carried = np.concatenate([base, server._row_hashes(delta)])
    scratch = server._row_hashes(entry2["table"])
    assert list(carried) == list(scratch)
    # eviction (head change) must NOT carry forward
    entry2["hashes"] = carried
    handle = engine._handle("t")
    handle.store._max_bytes = handle.store.current_bytes  # next append evicts
    _feed(spark, engine, "t", 20, 24)
    entry3 = server._snapshot_entry("t")
    assert "prev_hashes" not in entry3
    engine.stop()


def test_fetch_topic_limit_is_head_of_buffer_on_sharded(sharded_engine):
    """A limited fetch against a sharded server must return the OLDEST
    buffered rows (reference client semantics, cmd/client.go:193), not a
    hash-arbitrary subset of the shard-ordered endpoint concat."""
    from roar_spark.streaming.flight_facade import fetch_topic

    _, location = sharded_engine
    t = fetch_topic(location, "clicks", limit=5)
    assert t.column("kafka_offset").to_pylist() == list(range(5))
    # unlimited fetch still unions the endpoints
    t = fetch_topic(location, "clicks", limit=-1)
    assert sorted(t.column("kafka_offset").to_pylist()) == list(range(40))


def test_row_hashes_all_nested_fallback():
    """A schema with only nested columns falls back to the per-row JSON
    hash — still deterministic and value-stable."""
    t = pa.table({"xs": pa.array([[1, 2], [3], [1, 2]], pa.list_(pa.int64()))})
    a = RoarFlightServer._row_hashes(t) % 4
    b = RoarFlightServer._row_hashes(t.slice(1)) % 4
    assert list(a[1:]) == list(b)  # position-independent
    assert a[0] == a[2]  # equal values share a shard


def _feed_const(spark, engine, topic, rows, payload="dup"):
    """Append `rows` value-IDENTICAL envelope rows (same key, payload,
    timestamp, offset, partition) — builds buffers whose head row compares
    equal by VALUE across evictions."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        write_envelope_file(
            d,
            [
                {
                    "key": "k",
                    "value": json.dumps({"n": 0, "kind": payload}),
                    "timestamp": "2026-08-13T10:00:00Z",
                    "offset": 0,
                    "partition": 0,
                }
            ]
            * rows,
        )
        engine.append_batch(topic, read_envelope_batch(spark, d))


def test_eviction_with_value_equal_head_refuses_hash_carry_forward(spark):
    """r9 ADVICE: drop-oldest eviction landing on a head row whose values
    equal the old head's (duplicate rows) passes the fingerprint check —
    the carry-forward must be refused via the store's eviction epoch, or
    the carried hash vector is silently misaligned with the table."""
    engine = StreamEngine(spark, EngineConfig())
    engine.register_stream("d", [json.dumps({"n": 0, "kind": "dup"})])
    _feed_const(spark, engine, "d", 5, payload="dup")
    _feed_const(spark, engine, "d", 5, payload="dup")
    server = RoarFlightServer(engine, shards=2)
    entry1 = server._snapshot_entry("d")
    assert entry1["table"].num_rows == 10
    with entry1["hash_lock"]:
        entry1["hashes"] = server._row_hashes(entry1["table"])
    # evict the FIRST batch; the new head row is value-identical to the old
    handle = engine._handle("d")
    handle.store._max_bytes = handle.store.current_bytes
    _feed_const(spark, engine, "d", 5, payload="new")
    entry2 = server._snapshot_entry("d")
    assert entry2["head"] == entry1["head"], "scenario needs value-equal heads"
    assert entry2["table"].num_rows == 10
    assert entry2["epoch"] != entry1["epoch"]
    assert "prev_hashes" not in entry2, (
        "value-equal head after eviction must not carry hashes forward"
    )


def test_ranged_read_resets_on_eviction_epoch_despite_equal_head(spark):
    """Same scenario at the DoGet surface: a ranged shard read whose start
    offset predates an eviction must reset to the front (at-least-once)
    even when the post-eviction head fingerprint matches by value."""
    engine = StreamEngine(spark, EngineConfig())
    engine.register_stream("d", [json.dumps({"n": 0, "kind": "dup"})])
    _feed_const(spark, engine, "d", 5, payload="dup")
    _feed_const(spark, engine, "d", 5, payload="dup")
    server = serve_in_thread(engine, shards=1)
    try:
        location = f"grpc://localhost:{server.port}"
        client = flight.connect(location)
        hwm0 = json.loads(
            list(client.do_action(flight.Action("hwm", b"d")))[0].body.to_pybytes()
        )
        assert hwm0["rows"] == 10 and "epoch" in hwm0
        handle = engine._handle("d")
        handle.store._max_bytes = handle.store.current_bytes
        _feed_const(spark, engine, "d", 5, payload="new")
        hwm1 = json.loads(
            list(client.do_action(flight.Action("hwm", b"d")))[0].body.to_pybytes()
        )
        assert hwm1["head"] == hwm0["head"] and hwm1["epoch"] != hwm0["epoch"]
        spec = {
            "topic": "d",
            "shard": 0,
            "of": 1,
            "start": 5,
            "start_head": hwm0["head"],
            "start_epoch": hwm0["epoch"],
            "end": hwm1["rows"],
        }
        t = client.do_get(flight.Ticket(json.dumps(spec).encode())).read_all()
        # reset to the front: all 10 retained rows re-delivered, not the
        # positionally-shifted tail 5
        assert t.num_rows == 10
        client.close()
    finally:
        server.shutdown()
        engine.stop()


def test_sharded_source_survives_reshard_across_restart(spark, tmp_path):
    """r9 verdict item 3: the offset model claims per-endpoint
    independence — prove at-least-once holds when the SHARD COUNT changes
    between runs. Offsets are global (rows, head, epoch) and carry no
    shard count; partitions() re-polls GetFlightInfo per batch, so a
    restart against a re-sharded server must ship exactly the delta
    (steady state) and never silently lose rows (union-over-shards of
    h % of == i is everything for ANY of)."""
    from roar_spark.sources.flight import ingest_from_flight

    engine_a = StreamEngine(spark, EngineConfig())
    engine_a.register_stream("clicks", [json.dumps({"n": 1, "kind": "view"})])
    _feed(spark, engine_a, "clicks", 0, 40)
    server = serve_in_thread(engine_a, shards=3)
    engine_b = StreamEngine(
        spark,
        EngineConfig(flush_interval_seconds=1, checkpoint_path=str(tmp_path / "ck")),
    )
    handle = None
    try:
        handle = ingest_from_flight(
            engine_b,
            "replica",
            f"grpc://localhost:{server.port}",
            remote_topic="clicks",
            sharded="true",
        )
        engine_b.process_all("replica")
        assert sorted(
            r.kafka_offset for r in engine_b.fetch("replica", -1).collect()
        ) == list(range(40))
        # stop the consumer, RESHARD the server 3 -> 2, append a delta
        handle.query.stop()
        server.shutdown()
        server = serve_in_thread(engine_a, shards=2)
        _feed(spark, engine_a, "clicks", 40, 55, kind="post")
        # resume from the same checkpoint against the re-sharded server
        handle = ingest_from_flight(
            engine_b,
            "replica",
            f"grpc://localhost:{server.port}",
            remote_topic="clicks",
            sharded="true",
        )
        engine_b.process_all("replica")
        rows = [r.kafka_offset for r in engine_b.fetch("replica", -1).collect()]
        # no eviction happened: the resumed run ships exactly the delta —
        # zero loss AND zero duplicates across the reshard
        assert sorted(rows) == list(range(55))
        # now evict the server-side front and append: the next trigger
        # resets to the front (at-least-once) — duplicates are expected
        # and asserted, loss is not
        store = engine_a._handle("clicks").store
        store._max_bytes = store.current_bytes
        _feed(spark, engine_a, "clicks", 55, 60, kind="tail")
        assert store.records_dropped > 0, "scenario needs a real eviction"
        retained = {r.kafka_offset for r in engine_a.fetch("clicks", -1).collect()}
        engine_b.process_all("replica")
        rows = [r.kafka_offset for r in engine_b.fetch("replica", -1).collect()]
        assert retained <= set(rows), "silent loss across eviction+reshard"
        assert len(rows) > len(set(rows)), (
            "the post-eviction reset re-delivers retained rows: duplicates "
            "are the documented at-least-once cost, and their absence here "
            "means the reset path did not engage"
        )
    finally:
        if handle is not None and handle.query is not None:
            handle.query.stop()
        engine_b.stop()
        server.shutdown()
        engine_a.stop()


def test_sharded_read_raises_loudly_on_lost_endpoint():
    """An endpoint vanishing between GetFlightInfo and the executor's
    DoGet must surface as a task error (Spark retries, then fails the
    query) — never an empty iterator that silently drops the shard."""
    from pyspark.sql.types import LongType, StructField, StructType

    from roar_spark.sources.flight import (
        FlightShardedStreamReader,
        FlightShardPartition,
    )

    reader = FlightShardedStreamReader(
        StructType([StructField("n", LongType(), True)]),
        {"location": "grpc://localhost:9", "topic": "t"},
    )
    part = FlightShardPartition(
        "grpc://localhost:9",  # discard port: nothing listens
        json.dumps({"topic": "t", "shard": 0, "of": 2, "start": 0, "end": 5}),
    )
    with pytest.raises(Exception) as exc:
        list(reader.read(part))
    assert "unavailable" in str(exc.value).lower() or "connect" in str(exc.value).lower()


def test_serve_shutdown_rebind_stress(spark):
    """r10 verdict item 6: serve_in_thread now blocks until the server
    answers a health RPC, and shutdown must symmetrically release the
    port — stress stop/rebind on the SAME port 20 times. Any teardown
    race (port not released, serve thread still holding the listener)
    surfaces as a bind error in the next iteration's constructor or a
    readiness timeout; any startup race surfaces as connection-refused
    on the immediate post-return RPC."""
    engine = StreamEngine(spark, EngineConfig())
    engine.register_stream("s", [json.dumps({"n": 0, "kind": "x"})])
    _feed(spark, engine, "s", 0, 5)
    port = 0
    try:
        for i in range(20):
            shards = (i % 3) + 1
            server = serve_in_thread(engine, port=port, shards=shards)
            port = server.port  # iterations 1+ rebind the exact same port
            client = flight.connect(f"grpc://localhost:{port}")
            try:
                # the readiness contract: a data RPC completes immediately
                info = client.get_flight_info(flight.FlightDescriptor.for_path("s"))
                assert len(info.endpoints) == shards
                t = client.do_get(flight.Ticket(b"s")).read_all()
                assert t.num_rows == 5
            finally:
                client.close()
            server.shutdown()
    finally:
        engine.stop()
