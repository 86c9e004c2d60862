"""Engine configuration mirroring the reference's CLI flags / defaults.

Flag parity (cmd/serve.go:207-227, kafka/consumer.go:100-110,
stream/manager.go:82-114):

| reference flag / default      | field here          | default |
|-------------------------------|---------------------|---------|
| --brokers localhost:9092      | brokers             | same    |
| --topics (csv)                | topics              | ()      |
| --batch-size 1024 (RecordBatch rows) | batch_size   | 1024    |
| --ttl 60s                     | ttl_seconds         | 60      |
| --buffer-limit 100MB          | buffer_limit_bytes  | 100 MiB |
| flush timer 5s (consumer.go:319) | flush_interval_seconds | 5  |
| group id "roar-consumer" (consumer.go:226) | group_id | same  |
| fetch 1KB/10MB (consumer.go:229-230) | fetch_min/max_bytes | same |

``batch_size`` is the row bound of the RecordBatches a topic's store keeps,
evicts and serves (the reference's Stream.AddBatch unit), not a cap on
what one trigger admits.

Knobs that exist in the reference but are subsumed by Spark's scheduler
(SURVEY.md §2 A3/A17: message channel 100k, 10 workers, append semaphore
100, batch queue 1000) are intentionally absent — micro-batch planning and
pull-based backpressure replace them. The 100k channel survives as the
fixed per-trigger admission bound (sources/kafka.py,
``MAX_OFFSETS_PER_TRIGGER``).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    brokers: str = "localhost:9092"
    topics: tuple[str, ...] = ()
    batch_size: int = 1024
    ttl_seconds: float = 60.0
    buffer_limit_bytes: int = 100 * 1024 * 1024
    flush_interval_seconds: float = 5.0
    group_id: str = "roar-consumer"
    fetch_min_bytes: int = 1_000
    fetch_max_bytes: int = 10_000_000
    starting_offsets: str = "latest"  # StartOffset: LastOffset (consumer.go:231)
    schema_sample_size: int = 10  # sampleSize ≤ 10 (consumer.go:841-843)
    # extension knobs (not in reference)
    rescue_columns: bool = False  # True → post-freeze payload fields land
    # in a reserved `_rescued` JSON column instead of being silently
    # dropped (the SURVEY §2.3.5 extension to the frozen-schema parity
    # quirk); default False = exact reference behavior
    infer_nested: bool = False  # True → real Struct/Array types instead of
    # the reference's stringified nested values (SURVEY.md §1.3)
    checkpoint_path: str | None = None
