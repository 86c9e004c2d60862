"""A1 end-to-end: pure-Python Kafka wire protocol + Spark source.

Closes the one environmental gap in SURVEY.md §2 Part A — with no broker
binary and no spark-sql-kafka jar in the container, the wire layer
(kafka_wire.py), the protocol-faithful in-process broker (kafka_broker.py)
and the Python Data Source (kafka_python.py) let the reference's reader
path (kafka/consumer.go:224-261: Metadata → ListOffsets → Fetch, magic-2
record batches) run against real TCP Kafka framing, driven by the SAME
pinned option map as the JVM source (kafka.kafka_reader_options), through
the full ingest pipeline to serve-parity with the file-simulated source.
"""

from __future__ import annotations

import json
import struct
import time
from datetime import datetime, timezone

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from roar_spark.config import EngineConfig
from roar_spark.sources import kafka_wire as kw
from roar_spark.sources.files import write_envelope_file, file_envelope_stream
from roar_spark.sources.kafka_broker import KafkaBroker
from roar_spark.sources.kafka_python import (
    _Options,
    _plan_partitions,
    RangePartition,
    kafka_python_envelope_stream,
    register,
)
from roar_spark.sources.kafka_wire import (
    KafkaRecord,
    KafkaWireClient,
    decode_record_batches,
    encode_record_batch,
)
from roar_spark.streaming.manager import StreamEngine

BASE_TS = 1_770_000_000_000  # ms


def _records(n, *, partition_key=True, start=0):
    return [
        KafkaRecord(
            offset=start + i,
            timestamp_ms=BASE_TS + i * 1000,
            key=f"k{start + i}".encode() if partition_key else None,
            value=json.dumps({"n": start + i, "s": f"v{start + i}"}).encode(),
        )
        for i in range(n)
    ]


# --- wire codec -----------------------------------------------------------


def test_crc32c_standard_vector():
    assert kw.crc32c(b"123456789") == 0xE3069283
    assert kw.crc32c(b"") == 0
    assert kw.crc32c_scalar(b"123456789") == 0xE3069283


_CROSS = kw._CRC_VECTOR_MIN_BYTES
_LANE = kw._CRC_LANE


@pytest.mark.parametrize(
    "n",
    [
        0, 1, _LANE - 1, _LANE, _LANE + 1,  # lane boundary
        2 * _LANE, 3 * _LANE, 3 * _LANE + 5, 7 * _LANE - 1,  # odd lane counts fold
        _CROSS - 1, _CROSS, _CROSS + 1,  # scalar/vector crossover
        _CROSS + _LANE - 1, (1 << 20) + 3,  # 1 MB fetch response + a tail
    ],
)
def test_crc32c_matches_scalar_reference(n):
    data = bytes((i * 131 + n) & 0xFF for i in range(n))
    want = kw.crc32c_scalar(data)
    assert kw.crc32c(data) == want
    if n >= _LANE:  # the lane path itself, below the crossover too
        assert kw._crc32c_lanes(data) == want


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=_LANE, max_size=3 * _CROSS))
def test_crc32c_lanes_property(data):
    assert kw._crc32c_lanes(data) == kw.crc32c_scalar(data)
    assert kw.crc32c(data) == kw.crc32c_scalar(data)


def test_record_batch_roundtrip_with_headers_and_nulls():
    records = [
        KafkaRecord(7, BASE_TS, b"k", b"v", (("h1", b"x"), ("h2", None))),
        KafkaRecord(8, BASE_TS + 5, None, None),
        KafkaRecord(9, BASE_TS - 3, b"", b""),  # empty != null
    ]
    assert decode_record_batches(encode_record_batch(records)) == records


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.binary(max_size=40)),
            st.one_of(st.none(), st.binary(max_size=200)),
            st.integers(min_value=-(10**15), max_value=10**15),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_record_batch_roundtrip_property(items):
    records = [
        KafkaRecord(offset=i, timestamp_ms=BASE_TS + dt, key=k, value=v)
        for i, (k, v, dt) in enumerate(items)
    ]
    assert decode_record_batches(encode_record_batch(records)) == records


def test_batch_crc_detects_corruption():
    enc = bytearray(encode_record_batch(_records(3)))
    enc[-1] ^= 0xFF  # flip a bit inside the CRC-guarded scope
    with pytest.raises(ValueError, match="CRC"):
        decode_record_batches(bytes(enc))


def test_partial_trailing_batch_dropped():
    """A Fetch response may truncate the last batch at max_bytes; the
    decoder must return the complete batches and drop the stub."""
    full = encode_record_batch(_records(2))
    partial = encode_record_batch(_records(2, start=2))[:-5]
    out = decode_record_batches(full + partial)
    assert [r.offset for r in out] == [0, 1]


# --- broker ↔ client (pure wire, no Spark) --------------------------------


def test_broker_produce_fetch_listoffsets_roundtrip():
    with KafkaBroker() as broker, KafkaWireClient(broker.bootstrap) as client:
        versions = client.api_versions()
        assert versions[kw.API_FETCH] == (4, 4)
        base = client.produce("t", 0, _records(3))
        assert base == 0
        assert client.produce("t", 0, _records(2, start=3)) == 3
        client.produce("t", 1, _records(4, partition_key=False))
        assert client.list_offsets({("t", 0): -1, ("t", 1): -1}) == {
            ("t", 0): 5,
            ("t", 1): 4,
        }
        assert client.list_offsets({("t", 0): -2}) == {("t", 0): 0}
        got = client.fetch("t", 0, 2)
        assert got.error == kw.ERR_NONE and got.high_watermark == 5
        # the broker re-bases the producer's 0-based batch at the log end,
        # so offsets are dense across the two produces
        assert [r.offset for r in got.records] == [2, 3, 4]
        assert got.records[0].value == json.dumps({"n": 2, "s": "v2"}).encode()
        assert client.fetch("t", 0, 5).records == []
        assert client.fetch("t", 0, 99).error == kw.ERR_OFFSET_OUT_OF_RANGE


def test_broker_fetch_respects_partition_max_bytes():
    with KafkaBroker() as broker, KafkaWireClient(broker.bootstrap) as client:
        client.produce("big", 0, _records(50))
        got = client.fetch("big", 0, 0, partition_max_bytes=500)
        assert 0 < len(got.records) < 50  # bounded, but at least one
        # a consumer loop pages through to the end
        offset, seen = 0, 0
        while offset < got.high_watermark:
            page = client.fetch("big", 0, offset, partition_max_bytes=500)
            assert page.records, f"stuck at {offset}"
            seen += len(page.records)
            offset = page.records[-1].offset + 1
        assert seen == 50


def test_broker_rejects_unpinned_version_with_apiversions_downgrade():
    """Protocol contract: an unsupported ApiVersions version must still get
    a parseable v0 response carrying UNSUPPORTED_VERSION + the supported
    table (that is how real clients downgrade)."""
    import socket

    with KafkaBroker() as broker:
        with socket.create_connection(("127.0.0.1", broker.port), timeout=5) as sock:
            body = (
                kw.Writer()
                .i16(kw.API_API_VERSIONS)
                .i16(3)  # unpinned version
                .i32(99)
                .string("probe")
                .bytes_value()
            )
            sock.sendall(struct.pack(">i", len(body)) + body)
            frame = kw.read_frame(sock)
        r = kw.Reader(frame)
        assert r.i32() == 99  # correlation echo
        assert r.i16() == kw.ERR_UNSUPPORTED_VERSION
        keys = {r.i16(): (r.i16(), r.i16()) for _ in range(r.i32())}
        assert keys == {k: (v, v) for k, v in kw.PINNED_VERSIONS.items()}


# --- planner units (no Spark) ----------------------------------------------


def _opts(**over):
    base = dict(
        bootstrap="b:1",
        topics=("t",),
        starting_offsets="earliest",
        max_offsets_per_trigger=None,
        min_partitions=0,
        fetch_min_bytes=1,
        fetch_max_bytes=10_000_000,
    )
    base.update(over)
    return _Options(**base)


def test_options_parse_accepts_jvm_source_option_map():
    cfg = EngineConfig(brokers="127.0.0.1:9", topics=("a", "b"),
                       starting_offsets="earliest", batch_size=77)
    from roar_spark.sources.kafka import kafka_reader_options

    opts = _Options.parse(kafka_reader_options(cfg))
    assert opts.bootstrap == "127.0.0.1:9"
    assert opts.topics == ("a", "b")
    assert opts.starting_offsets == "earliest"
    # admission bound = the reference's 100,000-message channel
    # (kafka/consumer.go:105), not batch_size: batchSize (consumer.go:385-387)
    # bounds the store's RecordBatches
    assert opts.max_offsets_per_trigger == 100_000
    assert (opts.fetch_min_bytes, opts.fetch_max_bytes) == (1_000, 10_000_000)


def test_plan_partitions_reads_new_partition_from_zero():
    """A partition added mid-stream is in `end` (latest offsets) but not in
    the checkpointed `start`; the JVM source reads it from 0 — so must we
    (planning off `start`'s keys would silently never read it)."""
    start = {"t": {"0": 10}}
    end = {"t": {"0": 12, "1": 4}}
    got = {(p.partition, p.start, p.end) for p in _plan_partitions(start, end, _opts())}
    assert got == {(0, 10, 12), (1, 0, 4)}


def test_plan_partitions_skips_empty_and_splits_to_min_partitions():
    start = {"t": {"0": 10, "1": 5, "2": 7}}
    end = {"t": {"0": 110, "1": 5, "2": 8}}
    plain = _plan_partitions(start, end, _opts())
    assert {(p.partition, p.start, p.end) for p in plain} == {(0, 10, 110), (2, 7, 8)}

    split = _plan_partitions(start, end, _opts(min_partitions=6))
    assert len(split) == 6
    # every original range is exactly covered, no overlap, widest split most
    by_part: dict[int, list[tuple[int, int]]] = {}
    for p in split:
        by_part.setdefault(p.partition, []).append((p.start, p.end))
    assert sorted(r for rs in by_part[0] for r in rs)[0] == 10
    for part, ranges in by_part.items():
        ranges.sort()
        for (s1, e1), (s2, e2) in zip(ranges, ranges[1:]):
            assert e1 == s2
    assert len(by_part[0]) == 5 and len(by_part[2]) == 1


def _tuple_rows(part, pages):
    """The per-record tuples the source's read() yielded before it handed
    Spark Arrow batches — the parity reference."""
    offset = part.start
    for result in pages:
        for rec in result.records:
            if rec.offset >= part.end:
                return
            if rec.offset < offset:
                continue
            yield (
                rec.key, rec.value, part.topic, part.partition, rec.offset,
                datetime.fromtimestamp(rec.timestamp_ms / 1000.0, tz=timezone.utc), 0,
            )
        offset = result.records[-1].offset + 1


def test_read_range_batches_match_tuple_rows(monkeypatch):
    from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

    from roar_spark.sources import kafka_python as kp

    def rec(offset, ts_ms, key=b"k", value=b"v"):
        return KafkaRecord(offset=offset, timestamp_ms=ts_ms, key=key, value=value)

    pages = [
        # the first record batch's base (3) lies below the slice start (5)
        kw.FetchResult(kw.ERR_NONE, 20, [
            rec(3, BASE_TS), rec(4, BASE_TS + 1), rec(5, BASE_TS + 999, key=None),
            rec(6, 0, value=None), rec(7, 1, key=None, value=None),
        ]),
        kw.FetchResult(kw.ERR_NONE, 20, [rec(8, BASE_TS + 123_456), rec(9, -1), rec(10, 7), rec(11, 8)]),
    ]

    class PagedClient:
        def __init__(self, bootstrap):
            self.pages = list(pages)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            pass

        def fetch(self, topic, partition, offset, **kwargs):
            return self.pages.pop(0)

    monkeypatch.setattr(kp, "KafkaWireClient", PagedClient)
    part = RangePartition("t", 2, 5, 11, _opts())
    got = list(kp._read_range(part))
    assert [b.num_rows for b in got] == [3, 3]  # one batch per Fetch response
    want = records_to_arrow_batches(
        _tuple_rows(part, pages), 10_000, kp.KAFKA_SOURCE_SCHEMA, kp.RoarKafkaDataSource
    )
    got_table = pa.Table.from_batches(got)
    assert got_table.equals(pa.Table.from_batches(list(want)))
    assert got_table.column("offset").to_pylist() == [5, 6, 7, 8, 9, 10]
    assert got_table.column("key").to_pylist()[0::2] == [None, None, b"k"]


# --- Spark source e2e -------------------------------------------------------


def test_spark_batch_read(spark):
    with KafkaBroker() as broker, KafkaWireClient(broker.bootstrap) as client:
        client.produce("bt", 0, _records(6))
        client.produce("bt", 1, _records(4, partition_key=False))
        register(spark)
        df = (
            spark.read.format("roar_kafka")
            .option("kafka.bootstrap.servers", broker.bootstrap)
            .option("subscribe", "bt")
            .load()
        )
        assert df.schema.simpleString() == (
            "struct<key:binary,value:binary,topic:string,partition:int,"
            "offset:bigint,timestamp:timestamp,timestampType:int>"
        )
        rows = df.collect()
        assert len(rows) == 10
        by_key = {(r.partition, r.offset): r for r in rows}
        r3 = by_key[(0, 3)]
        assert bytes(r3.value) == json.dumps({"n": 3, "s": "v3"}).encode()
        assert bytes(r3.key) == b"k3"
        assert r3.topic == "bt" and r3.timestampType == 0
        # produced timestamps survive the wire exactly (epoch-ms precision)
        epoch_ms = int(r3.timestamp.timestamp() * 1000)
        assert epoch_ms == BASE_TS + 3000
        assert by_key[(1, 2)].key is None


def test_spark_stream_rate_cap_and_exactly_all_rows(spark, tmp_path):
    with KafkaBroker() as broker, KafkaWireClient(broker.bootstrap) as client:
        client.produce("rc", 0, _records(7))
        client.produce("rc", 1, _records(5, partition_key=False))
        register(spark)
        sdf = (
            spark.readStream.format("roar_kafka")
            .option("kafka.bootstrap.servers", broker.bootstrap)
            .option("subscribe", "rc")
            .option("startingOffsets", "earliest")
            .option("maxOffsetsPerTrigger", "4")
            .load()
        )
        query = (
            sdf.writeStream.format("memory")
            .queryName("kafka_rc")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="250 milliseconds")
            .start()
        )
        try:
            # NOT processAllAvailable: under a rate cap the Python Data
            # Source API has no reportLatestOffset, so "all available" is
            # judged against the CAPPED end and returns early by contract —
            # poll to the known total instead (the JVM-source test idiom)
            deadline = time.time() + 90
            while time.time() < deadline:
                if spark.sql("select count(*) c from kafka_rc").first().c >= 12:
                    break
                time.sleep(0.3)
            out = spark.sql(
                "select partition, offset from kafka_rc order by partition, offset"
            ).collect()
            assert [(r.partition, r.offset) for r in out] == [
                (0, o) for o in range(7)
            ] + [(1, o) for o in range(5)]
            sizes = [
                p["numInputRows"] for p in query.recentProgress if p["numInputRows"]
            ]
            assert sizes and max(sizes) <= 4, sizes
        finally:
            query.stop()


def test_engine_admits_whole_backlog_in_one_micro_batch(spark, tmp_path):
    """batch_size does not cap admission: a 3,000-record backlog is one
    micro-batch under batch_size 1,024 (roar's only in-flight bound is its
    100,000-message channel), and the store holds it as 3 RecordBatches."""
    with KafkaBroker() as broker:
        with KafkaWireClient(broker.bootstrap) as client:
            client.produce("bl", 0, _records(1500))
            client.produce("bl", 1, _records(1500, start=1500))
        config = EngineConfig(
            brokers=broker.bootstrap,
            topics=("bl",),
            starting_offsets="earliest",
            batch_size=1024,
            flush_interval_seconds=1,
            checkpoint_path=str(tmp_path / "ckpt"),
        )
        engine = StreamEngine(spark, config)
        env = kafka_python_envelope_stream(spark, config, ("bl",)).drop("topic")
        handle = engine.ingest("bl", env, [json.dumps({"n": 0, "s": "v0"})])
        try:
            handle.query.processAllAvailable()
            sizes = [p["numInputRows"] for p in handle.query.recentProgress]
            assert [n for n in sizes if n] == [3000]
            assert engine.fetch("bl", limit=-1).count() == 3000
            assert handle.store.batch_count == 3
        finally:
            engine.stop()


def test_spark_stream_starting_offsets_latest_skips_backlog(spark, tmp_path):
    with KafkaBroker() as broker, KafkaWireClient(broker.bootstrap) as client:
        client.produce("lt", 0, _records(9))  # backlog: must NOT be read
        register(spark)
        sdf = (
            spark.readStream.format("roar_kafka")
            .option("kafka.bootstrap.servers", broker.bootstrap)
            .option("subscribe", "lt")
            .option("startingOffsets", "latest")
            .load()
        )
        query = (
            sdf.writeStream.format("memory")
            .queryName("kafka_lt")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            query.processAllAvailable()
            assert spark.sql("select * from kafka_lt").count() == 0
            client.produce("lt", 0, _records(3, start=9))
            query.processAllAvailable()
            rows = spark.sql("select offset from kafka_lt order by offset").collect()
            assert [r.offset for r in rows] == [9, 10, 11]
        finally:
            query.stop()


def test_spark_stream_picks_up_partition_added_mid_stream(spark, tmp_path):
    """Kafka topics only ever GROW partitions; a partition added while the
    stream runs must be read from its beginning even under
    startingOffsets=latest (the JVM source's new-partition rule)."""
    with KafkaBroker(default_partitions=1) as broker, KafkaWireClient(
        broker.bootstrap
    ) as client:
        client.produce("grow", 0, _records(2))
        register(spark)
        sdf = (
            spark.readStream.format("roar_kafka")
            .option("kafka.bootstrap.servers", broker.bootstrap)
            .option("subscribe", "grow")
            .option("startingOffsets", "earliest")
            .load()
        )
        query = (
            sdf.writeStream.format("memory")
            .queryName("kafka_grow")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            query.processAllAvailable()
            assert spark.sql("select * from kafka_grow").count() == 2
            broker.add_partitions("grow", 2)
            client.produce("grow", 1, _records(3, partition_key=False))
            query.processAllAvailable()
            rows = spark.sql(
                "select partition, offset from kafka_grow order by partition, offset"
            ).collect()
            assert [(r.partition, r.offset) for r in rows] == [
                (0, 0), (0, 1), (1, 0), (1, 1), (1, 2),
            ]
        finally:
            query.stop()


def test_manager_ingest_over_wire_matches_file_source_pipeline(spark, tmp_path):
    """THE A1 parity pin: the same payloads through (a) the wire-protocol
    source and (b) the file-simulated source produce identical served
    tables — schema inference, coercion, metadata projection and retention
    all downstream-identical, per the reference's source-agnostic pipeline
    (kafka/consumer.go:672-675 envelope → stream/manager.go append)."""
    payloads = [json.dumps({"n": i, "s": f"v{i}"}) for i in range(12)]

    with KafkaBroker(default_partitions=1) as broker:
        with KafkaWireClient(broker.bootstrap) as client:
            client.produce(
                "wiretop",
                0,
                [
                    KafkaRecord(i, BASE_TS + i * 1000, f"k{i}".encode(), p.encode())
                    for i, p in enumerate(payloads)
                ],
            )
        config = EngineConfig(
            brokers=broker.bootstrap,
            topics=("wiretop",),
            starting_offsets="earliest",
            flush_interval_seconds=1,
            checkpoint_path=str(tmp_path / "ckpt"),
        )
        engine = StreamEngine(spark, config, store_base=str(tmp_path / "store"))
        env = kafka_python_envelope_stream(spark, config, ("wiretop",)).drop("topic")
        handle = engine.ingest("wiretop", env, [payloads[0]])
        try:
            handle.query.processAllAvailable()
            wire_rows = engine.fetch("wiretop", limit=-1).collect()
        finally:
            engine.stop()

    # same payloads through the file-simulated source
    src = str(tmp_path / "filesrc")
    write_envelope_file(
        src,
        [
            {
                "key": f"k{i}",
                "value": p,
                "timestamp": "2026-02-02T02:40:00Z",  # placeholder instant
                "offset": i,
                "partition": 0,
            }
            for i, p in enumerate(payloads)
        ],
    )
    engine2 = StreamEngine(
        spark,
        EngineConfig(flush_interval_seconds=1, checkpoint_path=str(tmp_path / "c2")),
        store_base=str(tmp_path / "store2"),
    )
    handle2 = engine2.ingest("filetop", file_envelope_stream(spark, src), [payloads[0]])
    try:
        handle2.query.processAllAvailable()
        file_rows = engine2.fetch("filetop", limit=-1).collect()
    finally:
        engine2.stop()

    def canon(rows):  # kafka_timestamp differs by construction; drop it
        return sorted(
            (r.kafka_key, r.kafka_offset, r.kafka_partition, r.n, r.s) for r in rows
        )

    assert canon(wire_rows) == canon(file_rows)
    assert len(wire_rows) == 12
    # and the wire path's timestamps are the produced create-times
    ts = {r.kafka_offset: r.kafka_timestamp for r in wire_rows}
    assert int(ts[5].timestamp() * 1000) == BASE_TS + 5000
