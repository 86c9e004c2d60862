"""Real Kafka source (requires a broker + the spark-sql-kafka package).

Option mapping from the reference's reader config (SURVEY.md §2 A1-A4):

- one consumer group for all topics: ``kafka.group.id`` ← "roar-consumer"
  (kafka/consumer.go:226)
- start at latest offset (StartOffset: LastOffset, kafka/consumer.go:231)
  ← ``startingOffsets=latest``
- fetch window 1 KB – 10 MB (kafka/consumer.go:229-230)
  ← ``kafka.fetch.min.bytes`` / ``kafka.fetch.max.bytes``
- in-flight bound: the 100,000-message channel (consumer.go:105) ←
  ``maxOffsetsPerTrigger`` (``MAX_OFFSETS_PER_TRIGGER``), so one trigger
  admits every record that arrived since the last, as the reference's
  consumer does; the 5 s flush timer (consumer.go:319) becomes the
  processing-time trigger set by the stream manager at start().
- ``batchSize`` (consumer.go:385-387) is NOT an admission cap: the store
  splits each micro-batch into RecordBatches of at most ``batch_size`` rows
  (streaming/manager.py), the unit roar's Stream.AddBatch keeps and evicts.

The Kafka source already emits exactly the envelope the reference reads
per message (kafka/consumer.go:672-675): key, value, timestamp, offset,
partition — no projection needed beyond column selection.

Environment note: this build environment ships no spark-sql-kafka
connector jar, so THIS module (the JVM source) is verified at the
option-map level; on a cluster add
``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>``.
The live wire path is covered anyway: kafka_python.py consumes the SAME
option map through a from-scratch Python Data Source speaking real Kafka
protocol (kafka_wire.py), tested end-to-end against the in-process broker
(kafka_broker.py). The file-simulated source (files.py) additionally
exercises every downstream stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from roar_spark.config import EngineConfig

ENVELOPE_COLS = ["key", "value", "timestamp", "offset", "partition"]

# The reference's message-channel capacity (kafka/consumer.go:105), its only
# bound on records in flight; a trigger admits at most this many.
MAX_OFFSETS_PER_TRIGGER = 100_000


def kafka_reader_options(
    config: EngineConfig, topics: tuple[str, ...] | None = None
) -> dict[str, str]:
    """The exact option map handed to ``readStream.format("kafka")``.

    Kept as a pure function of the config so the mapping against the
    reference's reader settings (kafka/consumer.go:224-261) is pinned by an
    offline test even though this environment has no broker or connector
    jar: latest starting offsets (StartOffset: LastOffset, consumer.go:231),
    1 KB / 10 MB fetch window (consumer.go:229-230), and the 100,000-message
    channel as maxOffsetsPerTrigger (consumer.go:105). ``batch_size`` does
    not appear here: it bounds the store's RecordBatches, not admission.

    GROUP-ID DIVERGENCE (documented): the reference runs every topic's
    reader under ONE group id (consumer.go:226) — fine for kafka-go's
    group protocol. Spark requires kafka.group.id to be UNIQUE PER QUERY
    (multiple queries in one group fight over offset commits and trigger
    rebalance storms), and serve starts one query per topic — so the
    config's group id becomes a PREFIX, suffixed with the query's topic
    set."""
    topics = topics or config.topics
    if not topics:
        raise ValueError("no topics configured")
    return {
        "kafka.bootstrap.servers": config.brokers,
        "subscribe": ",".join(topics),
        "startingOffsets": config.starting_offsets,
        "kafka.group.id": f"{config.group_id}-{'-'.join(topics)}",
        "kafka.fetch.min.bytes": str(config.fetch_min_bytes),
        "kafka.fetch.max.bytes": str(config.fetch_max_bytes),
        "maxOffsetsPerTrigger": str(MAX_OFFSETS_PER_TRIGGER),
    }


def kafka_envelope_stream(
    spark: SparkSession, config: EngineConfig, topics: tuple[str, ...] | None = None
) -> DataFrame:
    """Streaming DataFrame of Kafka envelopes for the configured topics.
    The per-topic split (one Stream per topic, stream/manager.go:33-54)
    happens downstream in the manager via ``topic`` column routing."""
    reader = spark.readStream.format("kafka").options(
        **kafka_reader_options(config, topics)
    )
    return reader.load().select("topic", *ENVELOPE_COLS)
