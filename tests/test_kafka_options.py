"""Offline pin of the Kafka reader option map (SURVEY.md §2 A1).

No broker or spark-sql-kafka jar exists in this environment, so the
consumer configuration is verified as data: the option map must carry
exactly the reference reader's settings (kafka/consumer.go:224-261) —
per-query group id (reference prefix + topic suffix — Spark requires
uniqueness per query), latest starting offsets, 1 KB / 10 MB fetch
window — and
the admission bound of the reference's message channel. This moves A1
from "documented" to "pinned-by-test": a cluster run only adds the
connector jar, not new code paths.
"""

from __future__ import annotations

import pytest

from roar_spark.config import EngineConfig
from roar_spark.sources.kafka import kafka_reader_options


def test_option_map_matches_reference_reader_config():
    cfg = EngineConfig(topics=("orders", "clicks"))
    assert kafka_reader_options(cfg) == {
        # --brokers default (cmd/serve.go:208)
        "kafka.bootstrap.servers": "localhost:9092",
        "subscribe": "orders,clicks",
        # StartOffset: kafka.LastOffset (kafka/consumer.go:231)
        "startingOffsets": "latest",
        # GroupID prefix: "roar-consumer" (kafka/consumer.go:226) +
        # per-query topic suffix — Spark needs a UNIQUE group id per
        # query, and serve runs one query per topic (documented divergence)
        "kafka.group.id": "roar-consumer-orders-clicks",
        # MinBytes 1e3 / MaxBytes 10e6 (kafka/consumer.go:229-230)
        "kafka.fetch.min.bytes": "1000",
        "kafka.fetch.max.bytes": "10000000",
        # admission bound: the 100,000-message channel (kafka/consumer.go:105);
        # --batch-size (consumer.go:385-387) bounds RecordBatches, not this
        "maxOffsetsPerTrigger": "100000",
    }


def test_explicit_topics_override_config():
    cfg = EngineConfig(topics=("a",))
    assert kafka_reader_options(cfg, ("b", "c"))["subscribe"] == "b,c"


def test_no_topics_raises():
    with pytest.raises(ValueError):
        kafka_reader_options(EngineConfig())
