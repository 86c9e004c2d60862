"""Metrics bridge tests: registry semantics, Prometheus exposition format,
and end-to-end counter flow through a real streaming ingest (A34/A35
parity — metric names are part of the observable surface)."""

from __future__ import annotations

import json

from roar_spark.config import EngineConfig
from roar_spark.metrics import REGISTRY, MetricsRegistry, attach
from roar_spark.sources.files import (
    file_envelope_stream,
    read_envelope_batch,
    write_envelope_file,
)
from roar_spark.streaming.manager import StreamEngine


def test_registry_counters_and_gauges():
    reg = MetricsRegistry()
    reg.inc("roar_kafka_messages_total", 5, topic="a")
    reg.inc("roar_kafka_messages_total", 3, topic="a")
    reg.inc("roar_kafka_messages_total", 1, topic="b")
    reg.set("roar_active_streams", 2)
    assert reg.get("roar_kafka_messages_total", topic="a") == 8
    assert reg.get("roar_kafka_messages_total", topic="b") == 1
    assert reg.get("roar_active_streams") == 2


def test_exposition_format():
    reg = MetricsRegistry()
    reg.inc("roar_stream_records_processed_total", 10, topic="t1")
    reg.set("roar_stream_memory_bytes", 1234.0, topic="t1")
    text = reg.exposition()
    assert "# TYPE roar_stream_records_processed_total counter" in text
    assert 'roar_stream_records_processed_total{topic="t1"} 10.0' in text
    assert "# TYPE roar_stream_memory_bytes gauge" in text
    assert 'roar_stream_memory_bytes{topic="t1"} 1234.0' in text


def test_gauge_sweep_spares_concurrently_registered_topics():
    """update_engine_gauges drops series only for topics that existed
    BEFORE the refresh and are gone now — a gauge set concurrently for a
    topic the engine listing missed must survive the sweep."""
    from roar_spark.metrics import update_engine_gauges

    reg = MetricsRegistry()
    reg.set("roar_stream_memory_bytes", 10.0, topic="dead")
    reg.set("roar_stream_buffer_utilization_percent", 1.0, topic="dead")

    class FakeEngine:
        class config:
            buffer_limit_bytes = 100

        def list_streams(self):
            return ["live"]

        def describe_stream(self, topic):
            # simulate another thread registering + gauging a topic between
            # this engine's listing and the sweep
            reg.set("roar_stream_memory_bytes", 7.0, topic="fresh")
            return {"bytes": 50}

    update_engine_gauges(FakeEngine(), reg)
    assert reg.get("roar_stream_memory_bytes", topic="live") == 50.0
    # stale series from before the refresh: swept
    assert ("roar_stream_memory_bytes", (("topic", "dead"),)) not in reg._gauges
    # concurrently registered topic: NOT swept (was in neither pre nor live)
    assert reg.get("roar_stream_memory_bytes", topic="fresh") == 7.0
    assert reg.gauge_label_values(("roar_stream_memory_bytes",), "topic") == {
        "live", "fresh"
    }


def test_streaming_metrics_flow(spark, tmp_path):
    """Counters populate from a real micro-batch run: listener feeds the
    ingest families, fetch feeds the serving family and gauges."""
    listener = attach(spark)
    try:
        src = str(tmp_path / "src")
        write_envelope_file(
            src,
            [
                {
                    "key": f"k{i}",
                    "value": json.dumps({"n": i}),
                    "timestamp": f"2026-08-13T10:00:{i:02d}Z",
                    "offset": i,
                    "partition": 0,
                }
                for i in range(15)
            ],
        )
        engine = StreamEngine(
            spark,
            EngineConfig(flush_interval_seconds=1, checkpoint_path=str(tmp_path / "ck")),
            store_base=str(tmp_path / "store"),
        )
        handle = engine.ingest("mx", file_envelope_stream(spark, src), [json.dumps({"n": 1})])
        handle.query.processAllAvailable()
        assert engine.fetch("mx", limit=-1).count() == 15
        # listener events are async — progress may trail processAllAvailable
        import time

        deadline = time.time() + 30
        while time.time() < deadline and REGISTRY.get("roar_kafka_messages_total", topic="mx") < 15:
            time.sleep(0.5)
        assert REGISTRY.get("roar_kafka_messages_total", topic="mx") >= 15
        assert REGISTRY.get("roar_record_batches_created_total", topic="mx") >= 1
        assert REGISTRY.get("roar_flight_stream_requests_total", topic="mx") >= 1
        assert REGISTRY.get("roar_active_streams") >= 1
        assert REGISTRY.get("roar_stream_memory_bytes", topic="mx") > 0
        text = REGISTRY.exposition()
        assert "roar_kafka_messages_total" in text
        engine.stop()
    finally:
        spark.streams.removeListener(listener)


def test_record_batches_created_counts_store_batches(spark, tmp_path):
    """roar_record_batches_created_total counts the RecordBatches the store
    created, ceil(rows / batch_size) per append, on the batch-append path
    too: 2,500 rows at batch_size 1,024 are 3 batches."""
    engine = StreamEngine(spark, EngineConfig(batch_size=1024))
    engine.register_stream("rbc", [json.dumps({"n": 1})])
    path = str(tmp_path / "rbc")
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
    before = REGISTRY.get("roar_record_batches_created_total", topic="rbc")
    assert engine.append_batch("rbc", read_envelope_batch(spark, path)) == 2500
    assert REGISTRY.get("roar_record_batches_created_total", topic="rbc") - before == 3
    engine.stop()
