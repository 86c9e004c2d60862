"""Streaming-native operator recipes: watermarked event-time windows,
streaming dedup, session windows, and a custom stateful operator via
applyInPandasWithState — the Structured Streaming forms of SURVEY.md §2
Part B's streaming rows (the batch forms live in operators/relational.py).

These are *plan builders*: each takes a parsed stream (output of
streaming/ingest.parse_envelope) and returns the transformed streaming
DataFrame ready for writeStream. At scale, state lives in the state store
(RocksDB on a cluster) partitioned by the grouping key, and watermarks
bound it — exactly the job the reference's TTL+byte-cap buffer does, but
with event-time correctness the reference lacks (SURVEY.md §2 Part B:
"no event-time semantics").
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = [
    "windowed_counts",
    "streaming_dedup",
    "streaming_dedup_within_watermark",
    "session_windows",
    "running_totals",
    "stream_stream_join",
    "recent_buffer",
    "chained_windowed_counts",
    "merge_evict",
]


def windowed_counts(
    parsed: DataFrame,
    time_col: str,
    key_col: str,
    window: str = "1 minute",
    watermark: str = "1 minute",
) -> DataFrame:
    """Tumbling event-time window counts with late-data cutoff. Windows
    finalize once the watermark passes; too-late rows are dropped —
    deterministic completeness the reference's processing-time batching
    cannot express."""
    return (
        parsed.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("w"), F.col(key_col))
        .count()
        .select(F.col("w.start").alias("window_start"), key_col, "count")
    )


def streaming_dedup(parsed: DataFrame, id_cols: list[str], time_col: str, watermark: str = "1 minute") -> DataFrame:
    """Exactly-once-per-id stream: dropDuplicates bounded by watermark so
    dedup state ages out instead of growing forever."""
    return parsed.withWatermark(time_col, watermark).dropDuplicates(id_cols)


def streaming_dedup_within_watermark(
    parsed: DataFrame, id_cols: list[str], time_col: str, watermark: str = "1 minute"
) -> DataFrame:
    """Event-time-bounded dedup: duplicates whose event times fall within
    the watermark delay of the first sighting are dropped, and — the
    difference from plain streaming_dedup — the per-key state is EVICTED
    once the watermark passes the stored event time, so a key can
    legitimately re-emit after the delay (re-tried uploads, replayed
    sources with day-scale gaps). This is the form whose state size is
    bounded by the event-RATE × delay rather than by distinct-key
    cardinality: on an unbounded key universe (doc ids, request ids at
    100 TB/day) plain dropDuplicates' state grows without bound even
    with a watermark, while this one's state is a sliding window."""
    return parsed.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(id_cols)


def session_windows(
    parsed: DataFrame, time_col: str, key_col: str, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming-native session windows (gap-based). The batch analog
    (lag+cumsum) is events_sessionize in operators/relational.py."""
    return (
        parsed.withWatermark(time_col, watermark)
        .groupBy(F.session_window(F.col(time_col), gap).alias("s"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


RUNNING_SCHEMA = "user_id bigint, n_events bigint, total double"
_STATE_SCHEMA = "n bigint, total double"


def _make_running_fn(idle_timeout_ms: int | None):
    def _running_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Per-key running (count, sum); with a timeout configured, idle
        keys age out of the state store — the applyInPandasWithState analog
        of the reference's per-stream TTL (stream/manager.go:150-184)."""
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({"user_id": [], "n_events": [], "total": []})
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total": [round(total, 2)]})

    return _running_fn


def running_totals(
    parsed: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    idle_timeout_ms: int | None = 60_000,
) -> DataFrame:
    """Custom stateful operator: per-key running totals surviving across
    micro-batches (Arrow-batched, state-store-backed).

    ``idle_timeout_ms`` enables processing-time state expiry (the TTL
    analog). Caveat for tests/drivers: with a timeout configured there is
    always a pending timeout trigger, so ``processAllAvailable()`` never
    settles — poll the sink or pass ``idle_timeout_ms=None``."""
    timeout = (
        GroupStateTimeout.NoTimeout if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return (
        # cast value to double HERE (like recent_buffer): a string-typed
        # payload column would reach the state fn as object dtype, where
        # .sum() concatenates and float() raises — killing the query
        parsed.select(
            F.col(key_col).cast("long").alias("user_id"),
            F.col(value_col).cast("double").alias("value"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_running_fn(idle_timeout_ms),
            outputStructType=RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


BUFFER_SCHEMA = (
    "user_id bigint, n_buffered bigint, n_dropped bigint,"
    " oldest_seq bigint, newest_seq bigint"
)


def merge_evict(
    existing: list[tuple[int, float]],
    incoming: list[tuple[int, float]],
    cap: int,
) -> tuple[list[tuple[int, float]], int]:
    """Drop-oldest merge IN SEQ ORDER: the union of buffer and incoming is
    sorted by seq, then evicted from the front (lowest seq) down to
    ``cap``. Sorting the MERGED list — not just the incoming batch —
    matters because seqs routinely arrive out of order across batches
    (the default seq is kafka_offset, monotonic only per partition): an
    append-then-sort-incoming form would evict by ARRIVAL position and
    report newest_seq < oldest_seq. Reference AddBatch parity
    (stream/manager.go:286-345) is kept where it counts: the cap never
    rejects an incoming batch — enforcement is eviction-from-the-front."""
    merged = sorted(existing + incoming)
    dropped = max(0, len(merged) - cap)
    return merged[dropped:], dropped


def recent_buffer(
    parsed: DataFrame,
    key_col: str = "user_id",
    seq_col: str = "kafka_offset",
    value_col: str = "value",
    cap: int = 5,
) -> DataFrame:
    """Keyed drop-oldest recent-events buffer (applyInPandasWithState) —
    the reference's byte-capped ingest buffer (SURVEY.md §2 A16)
    re-expressed per key. Emits one row per key per micro-batch with
    buffer occupancy and eviction counts; state is the kept (seq, value)
    arrays, bounded by keys × cap regardless of stream volume. Eviction
    is merge_evict."""

    def _fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        seqs, vals = state.get if state.exists else ([], [])
        existing = list(zip(seqs, vals))
        incoming: list[tuple[int, float]] = []
        for pdf in pdfs:
            incoming.extend(
                zip(pdf["seq"].astype("int64").tolist(), pdf["value"].astype("float64").tolist())
            )
        kept, dropped = merge_evict(existing, incoming, cap)
        state.update(([int(s) for s, _ in kept], [float(v) for _, v in kept]))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_buffered": [len(kept)],
                "n_dropped": [dropped],
                "oldest_seq": [kept[0][0] if kept else None],
                "newest_seq": [kept[-1][0] if kept else None],
            }
        )

    return (
        parsed.select(
            F.col(key_col).cast("long").alias("user_id"),
            F.col(seq_col).cast("long").alias("seq"),
            F.col(value_col).cast("double").alias("value"),
        )
        # a null/uncastable seq cannot be ordered in the buffer and would
        # crash astype("int64") inside the state fn — drop it loudly in
        # the plan, not fatally in the worker
        .filter(F.col("seq").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            _fn,
            outputStructType=BUFFER_SCHEMA,
            stateStructType="seqs array<bigint>, vals array<double>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_time: str,
    right_time: str,
    watermark: str = "1 minute",
    within: str = "interval 1 hour",
) -> DataFrame:
    """Watermarked stream-stream inner join: rows pair on key equality when
    the right event lands within ``within`` after the left event. Both
    sides carry watermarks so join state is bounded (buffered rows drop
    once the watermark passes the time-range condition) — the standard
    clickstream-enrichment shape the reference cannot express at all.
    Key/time column names must be distinct across the two sides."""
    lw = left.withWatermark(left_time, watermark)
    rw = right.withWatermark(right_time, watermark)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_time) >= F.col(left_time))
        & (F.col(right_time) <= F.col(left_time) + F.expr(within))
    )
    return lw.join(rw, cond, "inner")


def chained_windowed_counts(
    parsed: DataFrame,
    time_col: str,
    key_col: str,
    inner: str = "1 minute",
    outer: str = "5 minutes",
    watermark: str = "1 minute",
) -> DataFrame:
    """Two chained event-time aggregations in ONE streaming query:
    per-``inner``-window counts rolled up into per-``outer``-window sums
    (the minute→hour→day rollup cascade every metrics pipeline wants).

    Chained stateful operators are a Spark 3.4+/4.x capability: the second
    groupBy windows over the FIRST aggregation's window struct directly,
    and both stages share the watermark, so each finalizes exactly once —
    no intermediate sink, no reprocessing. The reference's processing-time
    buffer cannot express even one event-time stage. State is bounded per
    stage by the watermark; shuffle keys are (window, key) both times."""
    inner_counts = (
        parsed.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), inner).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_inner"))
    )
    return (
        inner_counts.groupBy(
            F.window(F.col("w"), outer).alias("w_outer"), F.col(key_col)
        )
        .agg(F.sum("n_inner").alias("n_events"))
        .select(
            F.col("w_outer.start").alias("window_start"),
            key_col,
            F.col("n_events").cast("long").alias("n_events"),
        )
    )
