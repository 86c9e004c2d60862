"""Streaming stack tests: ingest parsing, retention (byte cap, drop-oldest),
TTL (expiry, read-refresh), serving facade, sink DDL parity, and one real
end-to-end Structured Streaming run over the file-simulated source.
SURVEY.md §5.1/§5.3."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from roar_spark.config import EngineConfig
from roar_spark.sources.files import (
    file_envelope_stream,
    read_envelope_batch,
    write_envelope_file,
)
from roar_spark.streaming.ingest import is_json_schema, parse_envelope
from roar_spark.streaming.manager import StreamEngine
from roar_spark.streaming.sink import create_table_ddl, spark_type_to_sql


def _msgs(n, start_offset=0, value_fn=None, partition=0):
    value_fn = value_fn or (lambda i: json.dumps({"n": i, "s": f"v{i}"}))
    return [
        {
            "key": f"k{i}",
            "value": value_fn(i),
            "timestamp": f"2026-08-13T10:00:{i % 60:02d}Z",
            "offset": start_offset + i,
            "partition": partition,
        }
        for i in range(n)
    ]


# --- parse pipeline -------------------------------------------------------


def test_parse_json_envelope(spark, tmp_path):
    path = str(tmp_path / "t1")
    write_envelope_file(path, _msgs(5))
    env = read_envelope_batch(spark, path)
    engine = StreamEngine(spark, EngineConfig())
    handle = engine.register_stream("t1", [json.dumps({"n": 1, "s": "x"})])
    out = parse_envelope(env, handle.schema)
    rows = {r.kafka_offset: r for r in out.collect()}
    assert set(rows) == set(range(5))
    assert rows[3].n == 3 and rows[3].s == "v3"
    assert rows[0].kafka_key == "k0"
    assert rows[0].kafka_partition == 0


def test_parse_binary_envelope(spark, tmp_path):
    path = str(tmp_path / "t2")
    write_envelope_file(path, _msgs(3, value_fn=lambda i: bytes([0, 1, i])))
    engine = StreamEngine(spark, EngineConfig())
    handle = engine.register_stream("t2", [b"\x00\x01"])
    assert not is_json_schema(handle.schema)
    out = parse_envelope(read_envelope_batch(spark, path), handle.schema)
    rows = sorted(out.collect(), key=lambda r: r.kafka_offset)
    assert bytes(rows[2].value) == bytes([0, 1, 2])


def test_parse_coercion_semantics(spark, tmp_path):
    """appendValue parity: float→long truncates, string into long → null,
    RFC3339 → timestamp, non-RFC3339 string stays string, missing → null,
    unknown fields silently dropped (frozen schema)."""
    path = str(tmp_path / "t3")
    write_envelope_file(
        path,
        _msgs(
            4,
            value_fn=lambda i: json.dumps(
                [
                    {"a": 1, "ts": "2026-08-13T10:00:00Z", "s": "x"},
                    {"a": 2.7, "ts": "2026-08-13T11:00:00Z", "s": "y"},
                    {"a": "notnum", "ts": "not a ts", "extra": 9},
                    {},
                ][i]
            ),
        ),
    )
    engine = StreamEngine(spark, EngineConfig())
    handle = engine.register_stream(
        "t3", [json.dumps({"a": 1, "ts": "2026-08-13T10:00:00Z", "s": "x"})]
    )
    by = {f.name: f.dataType for f in handle.schema.fields}
    assert by["a"] == T.LongType() and by["ts"] == T.TimestampType()
    out = parse_envelope(read_envelope_batch(spark, path), handle.schema)
    rows = {r.kafka_offset: r for r in out.collect()}
    assert rows[0].a == 1
    assert rows[1].a == 2  # float64 → int64 truncation (consumer.go:754)
    assert rows[2].a is None  # string into long → null (consumer.go:756)
    assert rows[2].ts is None  # non-RFC3339 → null (consumer.go:822-824)
    assert rows[3].a is None and rows[3].s is None  # missing → null
    assert "extra" not in out.columns  # frozen schema drops new fields


# --- retention ------------------------------------------------------------


def _engine_with_stream(spark, tmp_path, topic, cap_bytes, sample=None, **cfg):
    engine = StreamEngine(
        spark,
        EngineConfig(buffer_limit_bytes=cap_bytes, **cfg),
        time_fn=time.monotonic,
    )
    engine.register_stream(topic, sample or [json.dumps({"n": 1, "s": "x"})])
    return engine


def test_retention_drop_oldest(spark, tmp_path):
    engine = _engine_with_stream(spark, tmp_path, "r1", cap_bytes=4000)
    for batch in range(6):
        path = str(tmp_path / f"r1_{batch}")
        write_envelope_file(path, _msgs(20, start_offset=batch * 20))
        engine.append_batch("r1", read_envelope_batch(spark, path))
    served = engine.fetch("r1", limit=-1)
    offsets = sorted(r.kafka_offset for r in served.collect())
    handle = engine._handle("r1")
    assert handle.store.records_dropped > 0
    # drop-oldest: surviving offsets are the LARGEST, contiguous to the end
    assert offsets[-1] == 119
    assert offsets == list(range(120 - len(offsets), 120))
    assert handle.store.current_bytes <= 4000


def test_retention_oversized_batch_appended(spark, tmp_path):
    # reference parity (Stream.AddBatch, stream/manager.go:286-345): a batch
    # larger than the cap evicts everything older but is ITSELF kept — the
    # newest data is never silently discarded
    engine = _engine_with_stream(spark, tmp_path, "r2", cap_bytes=100)
    small = str(tmp_path / "r2_small")
    write_envelope_file(small, _msgs(2))
    engine.append_batch("r2", read_envelope_batch(spark, small))
    big = str(tmp_path / "r2_big")
    write_envelope_file(big, _msgs(50, start_offset=2))
    engine.append_batch("r2", read_envelope_batch(spark, big))
    handle = engine._handle("r2")
    assert engine.fetch("r2", limit=-1).count() == 50  # big batch survives
    assert handle.store.records_dropped == 2  # older batch evicted
    assert handle.store.current_bytes > 100  # over-cap until next append
    assert handle.records_total == 52


def _append_msgs(spark, tmp_path, engine, topic, n, start_offset=0):
    path = str(tmp_path / f"{topic}_{start_offset}")
    write_envelope_file(path, _msgs(n, start_offset=start_offset))
    return engine.append_batch(topic, read_envelope_batch(spark, path))


def test_memory_store_splits_micro_batch_into_record_batches(spark, tmp_path):
    """batch_size bounds the store's RecordBatches, not what a micro-batch
    may hold (Stream.AddBatch): 2,500 rows at batch_size 1,024 are held as
    3 RecordBatches and served in append order."""
    engine = _engine_with_stream(
        spark, tmp_path, "rb1", cap_bytes=10_000_000, batch_size=1024
    )
    assert _append_msgs(spark, tmp_path, engine, "rb1", 2500) == 2500
    store = engine._handle("rb1").store
    assert store.batch_count == 3 and store.batches_created == 3
    table = store.snapshot_arrow()
    assert [b.num_rows for b in table.to_batches()] == [1024, 1024, 452]
    assert table.column("kafka_offset").to_pylist() == list(range(2500))


def test_memory_store_evicts_whole_record_batches_oldest_first(spark, tmp_path):
    """Under the byte cap the store drops whole RecordBatches, oldest first:
    what survives is a suffix of the appended rows that starts on a
    RecordBatch boundary, even inside the micro-batch being appended."""
    probe = _engine_with_stream(spark, tmp_path, "rb2", cap_bytes=10_000_000, batch_size=100)
    _append_msgs(spark, tmp_path, probe, "rb2", 100)
    batch_bytes = probe._handle("rb2").store.current_bytes
    cap = int(batch_bytes * 2.5)
    engine = _engine_with_stream(spark, tmp_path, "rb3", cap_bytes=cap, batch_size=100)
    _append_msgs(spark, tmp_path, engine, "rb3", 250)  # batches 100, 100, 50
    _append_msgs(spark, tmp_path, engine, "rb3", 250, start_offset=250)
    store = engine._handle("rb3").store
    offsets = store.snapshot_arrow().column("kafka_offset").to_pylist()
    assert offsets == list(range(500 - len(offsets), 500))
    assert 500 - len(offsets) in {100, 200, 250, 350, 450}  # batch boundaries
    assert store.records_dropped == 500 - len(offsets) > 0
    assert store.current_bytes <= cap
    assert all(b.num_rows <= 100 for b in store.snapshot_arrow().to_batches())


def test_ttl_expiry_and_read_refresh(spark, tmp_path):
    clock = [0.0]
    engine = StreamEngine(
        spark, EngineConfig(ttl_seconds=10), time_fn=lambda: clock[0]
    )
    engine.register_stream("ttl1", [json.dumps({"n": 1})])
    engine.register_stream("ttl2", [json.dumps({"n": 1})])
    clock[0] = 8.0
    engine.fetch("ttl1", limit=1)  # read refreshes ttl1 only (§2.3.4)
    clock[0] = 12.0
    expired = engine.cleanup_expired()
    assert expired == ["ttl2"]
    assert engine.list_streams() == ["ttl1"]
    clock[0] = 19.0  # ttl1 last activity at 8.0 → expires at 18+
    assert engine.cleanup_expired() == ["ttl1"]
    assert engine.list_streams() == []


def test_fetch_limit_and_not_found(spark, tmp_path):
    engine = _engine_with_stream(spark, tmp_path, "f1", cap_bytes=10_000_000)
    path = str(tmp_path / "f1_data")
    write_envelope_file(path, _msgs(30))
    engine.append_batch("f1", read_envelope_batch(spark, path))
    assert engine.fetch("f1").count() == 10  # client default limit (client.go:65)
    assert engine.fetch("f1", limit=5).count() == 5
    with pytest.raises(KeyError):
        engine.fetch("nope")  # NotFound; no create-on-read (§2.3.7)
    desc = engine.describe_stream("f1")
    assert desc["total_records"] == -1 and desc["batches"] >= 1


def test_parquet_store_retention(spark, tmp_path):
    engine = StreamEngine(
        spark,
        EngineConfig(buffer_limit_bytes=6000),
        store_base=str(tmp_path / "store"),
    )
    engine.register_stream("p1", [json.dumps({"n": 1, "s": "x"})])
    for batch in range(5):
        path = str(tmp_path / f"p1_{batch}")
        write_envelope_file(path, _msgs(20, start_offset=batch * 20))
        engine.append_batch("p1", read_envelope_batch(spark, path))
    handle = engine._handle("p1")
    assert handle.store.current_bytes <= 6000
    offsets = sorted(r.kafka_offset for r in engine.fetch("p1", limit=-1).collect())
    assert offsets[-1] == 99 and offsets == list(range(100 - len(offsets), 100))
    assert handle.store.records_dropped > 0
    engine.stop()


# --- sink DDL / type-map parity (duckdb/sink.go:184-250) ------------------


def test_sink_type_mapping():
    assert spark_type_to_sql(T.LongType()) == "BIGINT"
    assert spark_type_to_sql(T.IntegerType()) == "INTEGER"
    assert spark_type_to_sql(T.StringType()) == "VARCHAR"
    assert spark_type_to_sql(T.BinaryType()) == "BLOB"
    assert spark_type_to_sql(T.TimestampType()) == "TIMESTAMP"
    assert spark_type_to_sql(T.BooleanType()) == "BOOLEAN"
    assert spark_type_to_sql(T.DoubleType()) == "DOUBLE"
    assert spark_type_to_sql(T.DateType()) == "DATE"
    assert spark_type_to_sql(T.ArrayType(T.LongType())) == "VARCHAR"  # fallback


def test_sink_ddl_generation():
    schema = T.StructType(
        [
            T.StructField("kafka_key", T.StringType(), True),
            T.StructField("kafka_offset", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    ddl = create_table_ddl("events", schema)
    assert ddl == (
        'CREATE TABLE IF NOT EXISTS "events" '
        '("kafka_key" VARCHAR, "kafka_offset" BIGINT NOT NULL, "v" DOUBLE)'
    )
    import duckdb

    duckdb.connect().execute(ddl)  # the DDL actually runs


# --- end-to-end streaming run --------------------------------------------


def test_streaming_end_to_end(spark, tmp_path):
    """Real Structured Streaming: file source → parse → foreachBatch
    retention → serve. The whole reference pipeline shape (SURVEY.md §3
    entry point 1) in one test."""
    src = str(tmp_path / "stream_src")
    write_envelope_file(src, _msgs(40), file_name="a.json")
    engine = StreamEngine(
        spark,
        EngineConfig(flush_interval_seconds=1, buffer_limit_bytes=10_000_000,
                     checkpoint_path=str(tmp_path / "ckpt")),
        store_base=str(tmp_path / "store"),
    )
    handle = engine.ingest(
        "e2e", file_envelope_stream(spark, src), [json.dumps({"n": 1, "s": "x"})]
    )
    try:
        handle.query.processAllAvailable()
        assert engine.fetch("e2e", limit=-1).count() == 40
        # late data: a second producer flush lands in a later micro-batch
        write_envelope_file(src, _msgs(10, start_offset=40), file_name="b.json")
        handle.query.processAllAvailable()
        served = engine.fetch("e2e", limit=-1)
        assert served.count() == 50
        assert served.agg(F.max("kafka_offset")).first()[0] == 49
        assert handle.records_total == 50
    finally:
        engine.stop()


def test_deferred_schema_bootstrap_from_first_batch(spark, tmp_path):
    """Live-topic mode (no sample available before the stream runs): the
    schema must come from the FIRST non-empty micro-batch's real payloads
    (kafka/consumer.go:833-860), never a placeholder — a frozen payload-less
    schema would silently drop every field forever."""
    src = str(tmp_path / "defer_src")
    import os

    os.makedirs(src, exist_ok=True)
    engine = StreamEngine(
        spark,
        EngineConfig(flush_interval_seconds=1, buffer_limit_bytes=10_000_000,
                     checkpoint_path=str(tmp_path / "defer_ckpt")),
        store_base=str(tmp_path / "defer_store"),
    )
    assert engine.ingest("dt", file_envelope_stream(spark, src)) is None
    query = engine._pending_queries["dt"]
    try:
        query.processAllAvailable()  # empty batches → bootstrap still pending
        assert engine.list_streams() == []
        write_envelope_file(src, _msgs(12), file_name="first.json")
        query.processAllAvailable()
        handle = engine._handle("dt")
        # schema carries the PAYLOAD fields sampled from the live batch
        assert {"n", "s"} <= set(handle.schema.fieldNames())
        assert handle.query is query
        assert handle.records_total == 12
        assert engine.fetch("dt", limit=-1).count() == 12
        rows = {r.kafka_offset: r for r in engine.fetch("dt", limit=-1).collect()}
        assert rows[3].n == 3 and rows[3].s == "v3"
    finally:
        engine.stop()


def test_parse_epoch_nanos_into_frozen_timestamp(spark, tmp_path):
    """appendTimestamp parity (kafka/consumer.go:816-821): after the schema
    freezes a field as timestamp, later NUMERIC values are interpreted as
    epoch NANOSECONDS (ns→µs truncation documented in SURVEY §1.3)."""
    path = str(tmp_path / "ns")
    ns = 1_755_081_600_123_456_789  # 2025-08-13T10:40:00.123456789Z
    write_envelope_file(
        path,
        [
            {"key": "a", "value": json.dumps({"ts": ns}),
             "timestamp": "2026-08-13T09:00:00Z", "offset": 0, "partition": 0},
            {"key": "b", "value": json.dumps({"ts": "not a timestamp"}),
             "timestamp": "2026-08-13T09:00:01Z", "offset": 1, "partition": 0},
        ],
    )
    engine = StreamEngine(spark, EngineConfig())
    handle = engine.register_stream("ns", [json.dumps({"ts": "2026-08-13T10:00:00Z"})])
    assert handle.schema["ts"].dataType == T.TimestampType()  # frozen as ts
    out = parse_envelope(read_envelope_batch(spark, path), handle.schema)
    rows = {r.kafka_offset: r for r in out.collect()}
    got = rows[0].ts
    assert got is not None and got.year == 2025 and got.microsecond == 123456
    assert rows[1].ts is None  # unparseable → null


def test_parse_nested_extension(spark, tmp_path):
    """infer_nested=True: nested payloads parse as real structs/arrays and
    are queryable with dotted paths — the extension the reference lacks
    (art/article.md:105)."""
    path = str(tmp_path / "nested")
    write_envelope_file(
        path,
        _msgs(3, value_fn=lambda i: json.dumps(
            {"meta": {"a": i, "tag": f"t{i}"}, "vals": [i, i + 1]})),
    )
    engine = StreamEngine(spark, EngineConfig(infer_nested=True))
    handle = engine.register_stream(
        "nested", [json.dumps({"meta": {"a": 1, "tag": "x"}, "vals": [1, 2]})]
    )
    assert isinstance(handle.schema["meta"].dataType, T.StructType)
    out = parse_envelope(read_envelope_batch(spark, path), handle.schema)
    rows = {r.kafka_offset: r for r in out.collect()}
    assert rows[2].meta.a == 2 and rows[2].meta.tag == "t2"
    assert list(rows[1].vals) == [1, 2]
    # dotted-path query over the served nested column
    got = out.select(F.col("meta.a").alias("a")).agg(F.sum("a")).first()[0]
    assert got == 3


def test_custom_converter_hook(spark, tmp_path):
    """A13 parity: a per-topic converter replaces inference + parsing —
    here a CSV-payload converter the default JSON path cannot handle
    (MessageConverter plugin, kafka/consumer.go:413-419)."""
    path = str(tmp_path / "csvtopic")
    write_envelope_file(
        path, _msgs(4, value_fn=lambda i: f"item{i},{i * 10},{i % 2 == 0}")
    )
    schema = T.StructType(
        [
            T.StructField("kafka_offset", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("qty", T.LongType(), True),
            T.StructField("flag", T.BooleanType(), True),
        ]
    )

    def csv_converter(envelope, target):
        parts = F.split(F.col("value").cast("string"), ",")
        return envelope.select(
            F.col("offset").alias("kafka_offset"),
            parts[0].alias("name"),
            parts[1].cast("long").alias("qty"),
            parts[2].cast("boolean").alias("flag"),
        )

    engine = StreamEngine(spark, EngineConfig())
    engine.register_converter("csvtopic", csv_converter, schema)
    handle = engine.register_stream("csvtopic", [])  # sample ignored
    assert handle.schema == schema
    engine.append_batch("csvtopic", read_envelope_batch(spark, path))
    rows = {r.kafka_offset: r for r in engine.fetch("csvtopic", limit=-1).collect()}
    assert rows[2].name == "item2" and rows[2].qty == 20 and rows[2].flag is True
    assert rows[1].flag is False


def test_duckdb_sink_end_to_end(spark, tmp_path):
    """Micro-batches actually land in a DuckDB database file: DDL + insert
    + high-water-mark, exactly-once across foreachBatch replays."""
    import duckdb
    import json as _json

    from roar_spark.sources.files import file_envelope_stream, write_envelope_file
    from roar_spark.streaming.ingest import bootstrap_schema, parse_envelope
    from roar_spark.streaming.sink import insert_batch_exactly_once, start_duckdb_sink

    src = str(tmp_path / "src")
    db = str(tmp_path / "sink.duckdb")
    payload = {"event_id": 1, "value": 2.5, "name": "a"}
    write_envelope_file(
        src,
        [{"key": "k0", "value": _json.dumps(payload), "timestamp": "2026-08-13T09:00:00Z",
          "offset": 0, "partition": 0},
         {"key": "k1", "value": _json.dumps({**payload, "event_id": 2}),
          "timestamp": "2026-08-13T09:00:01Z", "offset": 1, "partition": 0}],
        file_name="a.json",
    )
    schema = bootstrap_schema([_json.dumps(payload)])
    parsed = parse_envelope(file_envelope_stream(spark, src), schema)
    q = start_duckdb_sink(parsed, "t1", db, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        # second micro-batch appends exactly once
        write_envelope_file(
            src,
            [{"key": "k2", "value": _json.dumps({**payload, "event_id": 3}),
              "timestamp": "2026-08-13T09:00:02Z", "offset": 2, "partition": 0}],
            file_name="b.json",
        )
        q.processAllAvailable()
    finally:
        q.stop()
    con = duckdb.connect(db)
    ids = [r[0] for r in con.execute('SELECT event_id FROM "t1" ORDER BY event_id').fetchall()]
    assert ids == [1, 2, 3]
    # replaying an already-landed batch is a transactional no-op
    import pandas as pd

    replay = pd.DataFrame({"x": [99]})
    con.execute('CREATE TABLE "t2" (x BIGINT)')
    assert insert_batch_exactly_once(con, "t2", "t2", 7, replay) == 1
    assert insert_batch_exactly_once(con, "t2", "t2", 7, replay) == 0
    assert con.execute('SELECT COUNT(*) FROM "t2"').fetchone()[0] == 1
    con.close()


def test_parquet_sink_counts_own_batch_and_is_replay_idempotent(spark, tmp_path):
    """The parquet sink stages each micro-batch in its own dir and commits
    it as one atomic b{run_id}-{batch_id}/ directory rename: the row-count
    metric reflects ONLY this batch (a foreign concurrent file in the
    topic dir is not attributed), and a replayed batch id replaces its
    prior commit dir instead of duplicating rows — with O(1) replay
    cleanup instead of a full topic-dir scan per batch (r8 review)."""
    import json as _json
    import os

    from roar_spark.metrics import MetricsRegistry, REGISTRY
    from roar_spark.sources.files import file_envelope_stream, write_envelope_file
    from roar_spark.streaming.ingest import bootstrap_schema, parse_envelope
    from roar_spark.streaming.sink import start_parquet_sink

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    topic_dir = os.path.join(out, "t1")
    payload = {"event_id": 1, "name": "a"}
    write_envelope_file(
        src,
        [{"key": "k0", "value": _json.dumps(payload),
          "timestamp": "2026-08-13T09:00:00Z", "offset": 0, "partition": 0}],
        file_name="a.json",
    )
    # a concurrent writer's file, present before the sink's first batch:
    # must not be counted or disturbed
    os.makedirs(topic_dir, exist_ok=True)
    foreign = os.path.join(topic_dir, "foreign.parquet")
    spark.createDataFrame([(99,)], "event_id long").coalesce(1).toPandas().to_parquet(foreign)

    before = REGISTRY.get("roar_duckdb_insert_rows_total", topic="t1")
    schema = bootstrap_schema([_json.dumps(payload)])
    parsed = parse_envelope(file_envelope_stream(spark, src), schema)
    q = start_parquet_sink(parsed, "t1", out, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert REGISTRY.get("roar_duckdb_insert_rows_total", topic="t1") - before == 1
    assert os.path.exists(foreign)
    from roar_spark.streaming.sink import _sink_run_id

    run_id = _sink_run_id(str(tmp_path / "ckpt" / "sink-t1"))
    commit_dir = os.path.join(topic_dir, f"b{run_id}-0")
    assert os.path.isdir(commit_dir) and any(
        f.endswith(".parquet") for f in os.listdir(commit_dir)
    ), "batch must commit as its own b<run_id>-<batch_id>/ directory"
    # no staging residue, and the table reads back clean (recursive
    # lookup — the store views' read mode)
    assert not [f for f in os.listdir(topic_dir) if f.startswith("_staging")]
    ids = {
        r.event_id
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(topic_dir)
        .select("event_id")
        .collect()
    }
    assert ids == {1, 99}
    # a FRESH checkpoint restarts batch ids at 0 but rotates the run id:
    # the new query's batch 0 must NOT delete the first run's batch-0 rows
    before2 = REGISTRY.get("roar_duckdb_insert_rows_total", topic="t1")
    q2 = start_parquet_sink(parsed, "t1", out, str(tmp_path / "ckpt2"))
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    run_id2 = _sink_run_id(str(tmp_path / "ckpt2" / "sink-t1"))
    assert run_id2 != run_id
    assert os.path.isdir(commit_dir), (
        "fresh-checkpoint replay of batch id 0 deleted the prior run's commit"
    )
    assert REGISTRY.get("roar_duckdb_insert_rows_total", topic="t1") - before2 == 1
    ids2 = [
        r.event_id
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(topic_dir)
        .select("event_id")
        .collect()
    ]
    assert sorted(ids2) == [1, 1, 99]


def test_parquet_sink_sweeps_legacy_flat_layout_on_replay(spark, tmp_path):
    """A batch whose prior attempt committed under the pre-r8 FLAT layout
    (b{run}-{batch}-*.parquet files directly in the topic dir — crash
    between commit and checkpoint write, then a code upgrade) must be
    swept on replay, not duplicated (r8 advice). The sweep is one-time
    (first batch of the process), which is exactly the only batch that
    can replay across an upgrade."""
    import json as _json
    import os

    from roar_spark.sources.files import file_envelope_stream, write_envelope_file
    from roar_spark.streaming.ingest import bootstrap_schema, parse_envelope
    from roar_spark.streaming.sink import _sink_run_id, start_parquet_sink

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    topic_dir = os.path.join(out, "t1")
    payload = {"event_id": 1, "name": "a"}
    write_envelope_file(
        src,
        [{"key": "k0", "value": _json.dumps(payload),
          "timestamp": "2026-08-13T09:00:00Z", "offset": 0, "partition": 0}],
        file_name="a.json",
    )
    # mint the run id FIRST (checkpoint-persistent), then plant the legacy
    # flat-layout file a pre-upgrade attempt of batch 0 would have left
    ckpt = str(tmp_path / "ckpt")
    run_id = _sink_run_id(os.path.join(ckpt, "sink-t1"))
    os.makedirs(topic_dir, exist_ok=True)
    legacy = os.path.join(topic_dir, f"b{run_id}-0-part-00000.parquet")
    spark.createDataFrame([(1, "a")], "event_id long, name string") \
        .coalesce(1).toPandas().to_parquet(legacy)
    # a DIFFERENT run's legacy file must survive (not this run's replay)
    foreign = os.path.join(topic_dir, "bffffffff-0-part-00000.parquet")
    spark.createDataFrame([(99, "z")], "event_id long, name string") \
        .coalesce(1).toPandas().to_parquet(foreign)

    schema = bootstrap_schema([_json.dumps(payload)])
    parsed = parse_envelope(file_envelope_stream(spark, src), schema)
    q = start_parquet_sink(parsed, "t1", out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert not os.path.exists(legacy), "this run's legacy attempt must be swept"
    assert os.path.exists(foreign), "another run's file must survive"
    ids = sorted(
        r.event_id
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(topic_dir).select("event_id").collect()
    )
    assert ids == [1, 99], f"batch 0 duplicated across the upgrade: {ids}"


def test_coercion_ansi_safe_on_bad_timestamps(spark):
    """Under Spark 4's default ANSI mode a regex-passing-but-invalid
    timestamp ('2024-13-01…', lowercase 'z') or an overflowing epoch
    number must coerce to NULL (reference nulls failed parses), not throw
    and kill the micro-batch."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from roar_spark.coerce import coerce_expr

    df = spark.createDataFrame(
        [("2024-13-01T00:00:00Z",), ("2024-01-01T00:00:00z",), ("1e300",),
         ("2024-01-01T00:00:00Z",)],
        "v string",
    )
    out = df.select(coerce_expr(F.col("v"), T.TimestampType()).alias("ts")).collect()
    assert out[0].ts is None  # invalid month
    assert out[2].ts is None  # epoch overflow
    assert out[3].ts is not None  # valid RFC3339 still parses


def test_json_stream_with_value_field_parses_as_json(spark):
    """A JSON stream whose single payload field is NAMED 'value' must not
    be misclassified as a binary stream (the binary bootstrap is the only
    producer of a BinaryType 'value' column)."""
    import json as _json

    from roar_spark.inference import infer_schema
    from roar_spark.streaming.ingest import is_json_schema

    schema = infer_schema([_json.dumps({"value": 123})])
    assert is_json_schema(schema)
    binary_schema = infer_schema(["\x00\x01notjson"])
    assert not is_json_schema(binary_schema)


def test_ttl_expiry_parks_query_for_recreation(spark):
    """Expiry must not kill ingestion: the query is parked and re-attached
    when the topic re-bootstraps on its next message (reference: janitor
    deletes the STREAM, the consumer keeps running — stream/manager.go)."""
    import json as _json

    from roar_spark.config import EngineConfig
    from roar_spark.streaming.manager import StreamEngine

    clock = [0.0]
    engine = StreamEngine(spark, EngineConfig(ttl_seconds=10), time_fn=lambda: clock[0])
    sample = [_json.dumps({"a": 1})]
    h = engine.register_stream("t", sample)

    class _FakeQuery:
        stopped = False

        def stop(self):
            self.stopped = True

    q = _FakeQuery()
    h.query = q
    clock[0] = 11.0
    assert engine.cleanup_expired() == ["t"]
    assert engine.list_streams() == []
    assert not q.stopped  # ingestion survives expiry
    # next message re-creates the stream and re-attaches the SAME query
    h2 = engine.register_stream("t", sample)
    assert h2.query is q


def test_sink_run_id_atomic_marker(tmp_path):
    """r5 review: the marker write must be atomic — a crash between create
    and write used to leave an empty marker whose run_id '' lasted the
    checkpoint's lifetime, re-enabling cross-run b{id}- deletions."""
    import os

    from roar_spark.streaming.sink import _sink_run_id

    ckpt = str(tmp_path / "ckpt" / "sink-t")
    rid = _sink_run_id(ckpt)
    assert rid and _sink_run_id(ckpt) == rid  # stable across restarts
    # no temp debris left behind
    assert os.listdir(ckpt) == ["_roar_run_id"]

    # legacy truncated marker (crash between open('x') and write): a fresh
    # non-empty id is generated, persisted, and stable afterwards. It lives
    # in the .claim file (first-writer-wins link) — overwriting the marker
    # in place could race another taker into two live ids (r8 review)
    ckpt2 = str(tmp_path / "ckpt2" / "sink-t")
    os.makedirs(ckpt2)
    open(os.path.join(ckpt2, "_roar_run_id"), "w").close()
    rid2 = _sink_run_id(ckpt2)
    assert rid2
    assert _sink_run_id(ckpt2) == rid2
    assert open(os.path.join(ckpt2, "_roar_run_id.claim")).read().strip() == rid2


def test_append_racing_ttl_close_revives_stream(spark, tmp_path):
    """r5 review: the janitor's close() raced an in-flight append — the
    rows landed in a discarded store (lost forever, offsets committed) and
    a pending rmtree could delete the re-created stream's files. Contract
    now: append into a closed store raises internally and the engine
    revives the stream with the same schema (create-on-next-message
    parity), so the rows land in the fresh incarnation."""
    clock = [0.0]
    engine = StreamEngine(
        spark,
        EngineConfig(ttl_seconds=10, buffer_limit_bytes=10_000_000),
        store_base=str(tmp_path / "store"),
        time_fn=lambda: clock[0],
    )
    engine.register_stream("race1", [json.dumps({"n": 1, "s": "x"})])
    path = str(tmp_path / "race1_a")
    write_envelope_file(path, _msgs(10))
    assert engine.append_batch("race1", read_envelope_batch(spark, path)) == 10
    # grab the live handle exactly like foreachBatch does, THEN expire
    handle = engine._handle("race1")
    clock[0] = 20.0
    assert engine.cleanup_expired() == ["race1"]
    # the raced append: the foreachBatch closure already holds the handle,
    # the store is closed underneath — a direct append must raise (not
    # silently commit rows into the discarded buffer) …
    path_b = str(tmp_path / "race1_b")
    write_envelope_file(path_b, _msgs(7, start_offset=10))
    from roar_spark.streaming.manager import StoreClosedError

    with pytest.raises(StoreClosedError):
        handle.store.append(
            read_envelope_batch(spark, path_b).selectExpr("CAST(value AS STRING) v")
        )
    # … and the engine-level batch path takes the revive branch: re-insert
    # the stale handle exactly as the closure's locked lookup saw it
    with engine._lock:
        engine._streams["race1"] = handle
    assert engine.append_batch("race1", read_envelope_batch(spark, path_b)) == 7
    assert engine.fetch("race1", limit=-1).count() == 7  # fresh incarnation


def test_ttl_close_defers_file_deletion_one_tick(spark, tmp_path):
    """close(deferred=True): a lazy snapshot taken just before expiry must
    still resolve its files — deletion happens on the NEXT janitor tick."""
    clock = [0.0]
    engine = StreamEngine(
        spark,
        EngineConfig(ttl_seconds=10, buffer_limit_bytes=10_000_000),
        store_base=str(tmp_path / "store"),
        time_fn=lambda: clock[0],
    )
    engine.register_stream("g1", [json.dumps({"n": 1, "s": "x"})])
    path = str(tmp_path / "g1_data")
    write_envelope_file(path, _msgs(10))
    engine.append_batch("g1", read_envelope_batch(spark, path))
    snap = engine.fetch("g1", limit=-1)  # lazy: files resolve at action time
    clock[0] = 20.0
    assert engine.cleanup_expired() == ["g1"]
    assert snap.count() == 10  # grace tick: files still on disk
    assert engine.cleanup_expired() == []  # second tick deletes for real
    import glob as _glob

    assert _glob.glob(str(tmp_path / "store" / "g1" / "gen-*")) == []


def test_reincarnated_store_survives_stale_close(spark, tmp_path):
    """After expiry + re-bootstrap, the OLD incarnation's (deferred)
    deletion must not touch the NEW incarnation's files — each store
    generation owns a unique dir."""
    clock = [0.0]
    engine = StreamEngine(
        spark,
        EngineConfig(ttl_seconds=10, buffer_limit_bytes=10_000_000),
        store_base=str(tmp_path / "store"),
        time_fn=lambda: clock[0],
    )
    engine.register_stream("z1", [json.dumps({"n": 1, "s": "x"})])
    p1 = str(tmp_path / "z1_a")
    write_envelope_file(p1, _msgs(5))
    engine.append_batch("z1", read_envelope_batch(spark, p1))
    clock[0] = 20.0
    engine.cleanup_expired()  # old gen → graveyard
    engine.register_stream("z1", [json.dumps({"n": 1, "s": "x"})])  # revive
    p2 = str(tmp_path / "z1_b")
    write_envelope_file(p2, _msgs(6, start_offset=5))
    engine.append_batch("z1", read_envelope_batch(spark, p2))
    engine.cleanup_expired()  # graveyard drained: deletes OLD gen only
    assert engine.fetch("z1", limit=-1).count() == 6  # new gen intact


def test_ingest_with_empty_sample_defers_bootstrap(spark, tmp_path):
    """cmd_serve passes sample=[] when the first source batch has no
    payloads; that must defer the bootstrap, not crash in infer_schema."""
    engine = StreamEngine(spark, EngineConfig(ttl_seconds=300))
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
            .selectExpr(
                "CAST(NULL AS BINARY) AS key",
                "CAST('{\"n\": 1}' AS BINARY) AS value",
                "'t_empty' AS topic", "0 AS partition",
                "CAST(value AS LONG) AS offset",
                "timestamp", "'0' AS timestampType",
            )
    )
    # must not raise despite the empty (falsy) sample list
    handle = engine.ingest("t_empty", stream, [])
    assert handle is None or handle.topic == "t_empty"  # deferred mode
    engine.stop()


def test_sink_identifiers_escape_embedded_quotes(tmp_path):
    """r5 review: column names come from producer-controlled JSON keys; a
    double quote in a key must stay INSIDE the quoted identifier (DuckDB
    runs the DDL verbatim) instead of breaking out of it."""
    import duckdb

    from roar_spark.streaming.sink import create_table_ddl

    schema = T.StructType(
        [
            T.StructField('a" INTEGER); DROP TABLE x;--', T.LongType()),
            T.StructField("ok", T.StringType()),
        ]
    )
    ddl = create_table_ddl('t"opic', schema)
    con = duckdb.connect(str(tmp_path / "esc.db"))
    con.execute("CREATE TABLE x (i INTEGER)")
    con.execute(ddl)  # parses as ONE table with the hostile column name
    cols = {
        r[0]
        for r in con.execute(
            "SELECT column_name FROM information_schema.columns "
            "WHERE table_name = 't\"opic'"
        ).fetchall()
    }
    assert 'a" INTEGER); DROP TABLE x;--' in cols and "ok" in cols
    con.execute("SELECT * FROM x")  # the injected DROP never ran
    con.close()


def test_dotted_json_keys_parse_as_literal_names(spark, tmp_path):
    """r5 review: a legal JSON key containing a dot ("user.name") froze
    into the schema as a literal field name, but the coercion layer built
    F.col("_payload.user.name") — resolved as nested navigation →
    AnalysisException. getField keeps the name literal."""
    payload = {"user.name": "ada", "n": 7}
    path = str(tmp_path / "dotted")
    write_envelope_file(path, _msgs(3, value_fn=lambda i: json.dumps(payload)))
    engine = StreamEngine(spark, EngineConfig())
    handle = engine.register_stream("dotted", [json.dumps(payload)])
    out = parse_envelope(read_envelope_batch(spark, path), handle.schema)
    rows = out.collect()
    assert rows[0]["user.name"] == "ada" and rows[0].n == 7


def test_lowercase_z_rfc3339_parses_not_nulls(spark, tmp_path):
    """RFC3339's zone designator is case-insensitive and Go's parser
    accepts 'z'; inference types such samples TimestampType, so coercion
    must PARSE them (normalizing the suffix), not silently null a column
    the reference populates."""
    val = {"ts": "2026-08-13T10:00:00z", "n": 1}
    path = str(tmp_path / "lowz")
    write_envelope_file(path, _msgs(2, value_fn=lambda i: json.dumps(val)))
    engine = StreamEngine(spark, EngineConfig())
    handle = engine.register_stream("lowz", [json.dumps(val)])
    by = {f.name: f.dataType for f in handle.schema.fields}
    assert by["ts"] == T.TimestampType()  # inference accepted 'z'
    out = parse_envelope(read_envelope_batch(spark, path), handle.schema)
    row = out.collect()[0]
    assert row.ts is not None and row.ts.hour == 10


def test_negative_epoch_ns_floors_like_catalog(spark, tmp_path):
    """ns→µs for pre-1970 instants must FLOOR (catalog's `div 1000` /
    DuckDB semantics), not truncate toward zero: -1500 ns → -2 µs."""
    path = str(tmp_path / "negts")
    write_envelope_file(
        path, _msgs(1, value_fn=lambda i: json.dumps({"ts": -1500}))
    )
    engine = StreamEngine(spark, EngineConfig())
    handle = engine.register_stream(
        "negts", [json.dumps({"ts": "2026-08-13T10:00:00Z"})]
    )
    out = parse_envelope(read_envelope_batch(spark, path), handle.schema)
    row = out.collect()[0]
    assert row.ts.microsecond == 999998  # -2 µs, not -1 (truncation)


def test_rescued_column_captures_post_freeze_fields(spark, tmp_path):
    """SURVEY §2.3.5 extension: with rescue_columns=True, payload fields
    that appear AFTER the schema froze land in `_rescued` as a JSON object
    instead of being silently dropped; rows without extras carry NULL.
    Default config (parity) is untouched — no `_rescued` field exists."""
    from roar_spark.sources.files import file_envelope_stream
    from roar_spark.streaming.ingest import RESCUED_COL

    src = str(tmp_path / "src")
    write_envelope_file(
        src,
        [
            {"key": "k0", "value": json.dumps({"n": 0, "s": "x"}),
             "timestamp": "2026-08-13T09:00:00Z", "offset": 0, "partition": 0},
            # post-freeze producer upgrade: two new fields, one nested
            {"key": "k1", "value": json.dumps({"n": 1, "s": "y", "lang": "de",
                                               "meta": {"v": 2}}),
             "timestamp": "2026-08-13T09:00:01Z", "offset": 1, "partition": 0},
            {"key": "k2", "value": "not json at all",
             "timestamp": "2026-08-13T09:00:02Z", "offset": 2, "partition": 0},
        ],
        file_name="a.json",
    )
    engine = StreamEngine(
        spark,
        EngineConfig(flush_interval_seconds=1, rescue_columns=True,
                     checkpoint_path=str(tmp_path / "ckpt")),
    )
    # schema freezes on the FIRST message only — 'lang'/'meta' are unknown
    handle = engine.ingest("up", file_envelope_stream(spark, src),
                           [json.dumps({"n": 0, "s": "x"})])
    try:
        handle.query.processAllAvailable()
        assert RESCUED_COL in handle.schema.fieldNames()
        rows = {r.kafka_offset: r for r in engine.fetch("up", limit=-1).collect()}
        assert len(rows) == 3
        assert rows[0]._rescued is None  # nothing dropped
        assert json.loads(rows[1]._rescued) == {"lang": "de", "meta": '{"v":2}'}
        assert rows[1].n == 1 and rows[1].s == "y"  # frozen fields unaffected
        # unparseable payload: all-null row, rescues nothing (parity)
        assert rows[2].n is None and rows[2]._rescued is None
    finally:
        if handle.query is not None:
            handle.query.stop()
        engine.stop()

    # parity default: the flag off reproduces the silent drop exactly
    engine2 = StreamEngine(spark, EngineConfig())
    h2 = engine2.register_stream("parity", [json.dumps({"n": 0, "s": "x"})])
    assert RESCUED_COL not in h2.schema.fieldNames()
    engine2.stop()


def test_rescued_name_collision_keeps_user_field(spark):
    """A payload field genuinely NAMED `_rescued` is user data: in parity
    mode it flows as an ordinary column; with rescue_columns=True the sink
    is NOT appended (name collision → rescue unavailable, user field wins)
    and the field still parses as data."""
    from roar_spark.streaming.ingest import (
        RESCUED_COL,
        bootstrap_schema,
        parse_envelope,
        with_rescued_column,
    )

    sample = [json.dumps({"n": 1, "_rescued": "mine"})]
    schema = bootstrap_schema(sample)
    assert with_rescued_column(schema) == schema  # collision → no-op
    env = spark.createDataFrame(
        [("k", json.dumps({"n": 2, "_rescued": "yours", "extra": 7}),
          "2026-08-13T09:00:00Z", 0, 0)],
        "key string, value string, timestamp string, offset long, partition int",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    row = parse_envelope(env, with_rescued_column(schema)).collect()[0]
    assert row[RESCUED_COL] == "yours"  # user data, not a rescue sink
    assert row.n == 2 and "extra" not in row.asDict()  # parity drop intact


def test_rescued_captures_metadata_named_payload_fields(spark):
    """A post-freeze payload field NAMED like a kafka metadata column
    (kafka_offset etc.) can never parse into the metadata column — it must
    be rescued, not silently excluded by the name collision (r8 review)."""
    from roar_spark.streaming.ingest import (
        RESCUED_COL,
        bootstrap_schema,
        parse_envelope,
        with_rescued_column,
    )

    schema = with_rescued_column(bootstrap_schema([json.dumps({"n": 1})]))
    env = spark.createDataFrame(
        [("k", json.dumps({"n": 2, "kafka_offset": 42, "late": "x"}),
          "2026-08-13T09:00:00Z", 7, 0)],
        "key string, value string, timestamp string, offset long, partition int",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    row = parse_envelope(env, schema).collect()[0]
    assert row.kafka_offset == 7  # envelope metadata, untouched
    assert json.loads(row[RESCUED_COL]) == {"kafka_offset": "42", "late": "x"}


def test_converter_topic_survives_ttl_expiry(spark, tmp_path):
    """r8 review: the deferred re-bootstrap in _append sampled a `value`
    column unconditionally — a converter topic (typed envelope, e.g. the
    --source-flight replica) whose handle the janitor expired would kill
    its own query with an AnalysisException on the next batch. The
    converter path must re-attach with the converter's schema instead."""
    import pyspark.sql.types as T

    clock = {"t": 0.0}
    engine = StreamEngine(
        spark,
        EngineConfig(flush_interval_seconds=1, ttl_seconds=5,
                     checkpoint_path=str(tmp_path / "ckpt")),
        time_fn=lambda: clock["t"],
    )
    schema = T.StructType([T.StructField("n", T.LongType(), True)])
    engine.register_converter("typed", lambda env, s=schema: env.select("n"), schema)
    engine.register_stream("typed", [])
    # typed envelope: NO `value` column at all
    src = str(tmp_path / "src")
    spark.createDataFrame([(1,), (2,)], "n long").write.json(src)
    env = (
        spark.readStream.schema("n long").json(src)
    )
    handle = engine.ingest("typed", env)
    try:
        handle.query.processAllAvailable()
        assert engine.fetch("typed", -1).count() == 2
        clock["t"] += 100  # idle past ttl
        assert engine.cleanup_expired() == ["typed"]
        spark.createDataFrame([(3,)], "n long").write.mode("append").json(src)
        handle.query.processAllAvailable()  # would have died pre-fix
        assert {r.n for r in engine.fetch("typed", -1).collect()} == {3}
        assert handle.query.isActive
    finally:
        if handle.query is not None:
            handle.query.stop()
        engine.stop()


def test_append_batch_revives_expired_topic(spark, tmp_path):
    """r8 review: append_batch raised KeyError when the janitor had already
    deleted the topic (the common race ordering) — it must revive with the
    remembered schema like the streaming path's create-on-next-message."""
    clock = {"t": 0.0}
    engine = StreamEngine(
        spark, EngineConfig(ttl_seconds=5), time_fn=lambda: clock["t"]
    )
    engine.register_stream("bf", [json.dumps({"n": 1})])
    src = str(tmp_path / "d1")
    write_envelope_file(src, [{"key": "a", "value": json.dumps({"n": 1}),
                               "timestamp": "2026-08-13T09:00:00Z",
                               "offset": 0, "partition": 0}])
    from roar_spark.sources.files import read_envelope_batch

    engine.append_batch("bf", read_envelope_batch(spark, src))
    clock["t"] += 100
    assert engine.cleanup_expired() == ["bf"]
    assert "bf" not in engine.list_streams()
    # revived with the remembered schema; rows land in a fresh store
    engine.append_batch("bf", read_envelope_batch(spark, src))
    assert engine.fetch("bf", -1).count() == 1
    # a topic that never existed still raises
    import pytest as _pytest

    with _pytest.raises(KeyError):
        engine.append_batch("ghost", read_envelope_batch(spark, src))
    engine.stop()


def test_sink_run_id_empty_marker_claim_is_first_writer_wins(tmp_path):
    """r8 review: taking over an empty legacy marker via os.replace could
    race another taker into two live run ids; the claim-file link makes it
    first-writer-wins and every later call converges on the claimed id."""
    import os

    from roar_spark.streaming.sink import _sink_run_id

    ckpt = str(tmp_path / "sink-t")
    os.makedirs(ckpt)
    marker = os.path.join(ckpt, "_roar_run_id")
    open(marker, "w").close()  # legacy empty marker (pre-atomic crash)
    first = _sink_run_id(ckpt)
    assert first  # non-empty id claimed
    assert _sink_run_id(ckpt) == first  # converges, marker still empty
    with open(marker) as fh:
        assert fh.read() == ""  # legacy marker untouched; claim file owns it
    with open(marker + ".claim") as fh:
        assert fh.read().strip() == first


def test_rescued_composes_with_nested_inference(spark, tmp_path):
    """r9 verdict item 7: rescue_columns x infer_nested together — the
    config a real user of both flags runs. The frozen schema carries REAL
    nested types AND the `_rescued` sink; post-freeze TOP-LEVEL fields
    (scalar or nested) land in `_rescued` as JSON while the frozen nested
    columns keep parsing. Drift INSIDE a frozen struct is dropped by the
    struct parse, not rescued — rescue is a top-level contract (the
    map<string,string> raw parse has no visibility into struct bodies),
    pinned here so the boundary is documented behavior, not accident."""
    from roar_spark.sources.files import file_envelope_stream, write_envelope_file
    from roar_spark.streaming.ingest import RESCUED_COL

    src = str(tmp_path / "src")
    write_envelope_file(
        src,
        [
            {"key": "k0", "value": json.dumps(
                {"meta": {"a": 1, "tag": "x"}, "vals": [1, 2]}),
             "timestamp": "2026-08-13T09:00:00Z", "offset": 0, "partition": 0},
            # post-freeze drift: one scalar + one NESTED new top-level field
            {"key": "k1", "value": json.dumps(
                {"meta": {"a": 2, "tag": "y"}, "vals": [3],
                 "lang": "de", "extra": {"deep": [1, 2]}}),
             "timestamp": "2026-08-13T09:00:01Z", "offset": 1, "partition": 0},
            # drift INSIDE the frozen struct: dropped by the struct parse
            {"key": "k2", "value": json.dumps(
                {"meta": {"a": 3, "tag": "z", "new_sub": 9}, "vals": []}),
             "timestamp": "2026-08-13T09:00:02Z", "offset": 2, "partition": 0},
        ],
        file_name="a.json",
    )
    engine = StreamEngine(
        spark,
        EngineConfig(flush_interval_seconds=1, infer_nested=True,
                     rescue_columns=True,
                     checkpoint_path=str(tmp_path / "ckpt")),
    )
    handle = engine.ingest(
        "up", file_envelope_stream(spark, src),
        [json.dumps({"meta": {"a": 1, "tag": "x"}, "vals": [1, 2]})],
    )
    try:
        handle.query.processAllAvailable()
        # frozen schema: real struct/array types AND the rescue sink
        assert isinstance(handle.schema["meta"].dataType, T.StructType)
        assert isinstance(handle.schema["vals"].dataType, T.ArrayType)
        assert RESCUED_COL in handle.schema.fieldNames()
        rows = {r.kafka_offset: r for r in engine.fetch("up", limit=-1).collect()}
        assert len(rows) == 3
        assert rows[0]._rescued is None and rows[0].meta.a == 1
        rescued = json.loads(rows[1]._rescued)
        assert rescued["lang"] == "de"
        assert json.loads(rescued["extra"]) == {"deep": [1, 2]}
        assert rows[1].meta.tag == "y" and list(rows[1].vals) == [3]
        # struct-internal drift: frozen subfields parse, new_sub is dropped
        # and NOT rescued (top-level contract)
        assert rows[2].meta.a == 3 and rows[2].meta.tag == "z"
        assert rows[2]._rescued is None
        # dotted-path query over the served table still works with the
        # sink column present
        got = (
            engine.fetch("up", limit=-1)
            .select(F.col("meta.a").alias("a"))
            .agg(F.sum("a"))
            .first()[0]
        )
        assert got == 6
    finally:
        if handle.query is not None:
            handle.query.stop()
        engine.stop()


def test_transient_failure_classifier():
    from roar_spark.streaming.manager import is_transient_stream_failure

    assert is_transient_stream_failure(
        "[STREAM_FAILED] ... Python worker failed to connect back. SQLSTATE: XXKST"
    )
    assert is_transient_stream_failure(
        "Timed out while waiting for the Python worker to connect back"
    )
    # plan/data/engine errors must never be retried
    assert not is_transient_stream_failure("AnalysisException: column n not found")
    assert not is_transient_stream_failure("division by zero")


def test_restart_ingest_resumes_from_checkpoint_without_duplicates(spark, tmp_path):
    """restart_ingest starts a FRESH query against the same checkpoint:
    already-committed batches are not re-delivered, rows fed after the
    restart arrive — the lossless-resume property process_all relies on."""
    src = str(tmp_path / "restart_src")
    write_envelope_file(src, _msgs(12), file_name="a.json")
    engine = StreamEngine(
        spark,
        EngineConfig(flush_interval_seconds=1, buffer_limit_bytes=10_000_000,
                     checkpoint_path=str(tmp_path / "ckpt")),
    )
    handle = engine.ingest(
        "rst", file_envelope_stream(spark, src), [json.dumps({"n": 1, "s": "x"})]
    )
    try:
        engine.process_all("rst")
        assert engine.fetch("rst", limit=-1).count() == 12
        old_query = handle.query
        new_query = engine.restart_ingest("rst")
        assert new_query is not None and new_query is not old_query
        assert handle.query is new_query  # handle re-attached
        write_envelope_file(src, _msgs(5, start_offset=12), file_name="b.json")
        engine.process_all("rst")
        served = engine.fetch("rst", limit=-1)
        offsets = sorted(r.kafka_offset for r in served.collect())
        assert offsets == list(range(17))  # no loss, no re-delivery
        assert handle.records_total == 17
    finally:
        engine.stop()


def test_process_all_restarts_on_transient_failure_only(spark, tmp_path):
    """process_all retries ONLY the documented transient signatures, a
    bounded number of times; other failures surface unchanged."""
    engine = StreamEngine(spark, EngineConfig())

    class _FlakyQuery:
        def __init__(self, fails, message):
            self.fails, self.message, self.calls = fails, message, 0

        def processAllAvailable(self):
            self.calls += 1
            if self.calls <= self.fails:
                raise RuntimeError(self.message)

        def stop(self):
            pass

    transient = "Python worker failed to connect back."
    q = _FlakyQuery(fails=1, message=transient)
    engine._pending_queries["t"] = q
    restarts = []
    engine.restart_ingest = lambda topic: restarts.append(topic)  # type: ignore[method-assign]
    engine.process_all("t")  # fails once (transient), restarted, succeeds
    assert q.calls == 2 and restarts == ["t"]

    # non-transient: raises on first failure, no restart
    q2 = _FlakyQuery(fails=1, message="AnalysisException: boom")
    engine._pending_queries["t2"] = q2
    try:
        engine.process_all("t2")
        raise AssertionError("expected the non-transient failure to surface")
    except RuntimeError as exc:
        assert "boom" in str(exc)
    assert q2.calls == 1 and restarts == ["t"]

    # transient but persistent: bounded retries then surface
    q3 = _FlakyQuery(fails=99, message=transient)
    engine._pending_queries["t3"] = q3
    try:
        engine.process_all("t3")
        raise AssertionError("expected the persistent failure to surface")
    except RuntimeError:
        pass
    assert q3.calls == 3  # initial + 2 transient restarts
