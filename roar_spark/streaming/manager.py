"""Stream registry + bounded retention + TTL expiry + serving facade —
the Spark-native re-expression of the reference's stream manager and
Flight server (stream/manager.go, flight/server.go).

Semantics matched (SURVEY.md §1.4, §2 A15-A28):

- registry: topic → stream, create-on-ingest (Manager.GetStream,
  stream/manager.go:217-241; we deliberately do NOT create on read —
  divergence §2.3.7, the reference's probe-created empty streams are a bug)
- byte-capped buffer with DROP-OLDEST whole-batch eviction
  (Stream.AddBatch, stream/manager.go:286-310) — drops, never spills.
  ``batch_size`` bounds the rows of a RecordBatch, the unit the reference
  appends, evicts and counts (its flush every batchSize messages,
  kafka/consumer.go:385-387); one micro-batch can hold many.
- TTL: janitor every ttl/2 deletes streams idle > ttl
  (stream/manager.go:117-184); READS REFRESH THE TTL (GetBatches bumps
  LastUpdated, stream/manager.go:376-386 — §2.3.4, replicated on purpose:
  the retention clock is last *activity*)
- snapshot reads: fetch() serves a copy of the batch list as of call time
  (stream/manager.go:383-385) — a long client read never blocks appends.
  MemoryStore snapshots are true copies (Arrow tables). ParquetStore
  snapshots are lazy scans over the listed paths, so eviction DEFERS
  physical deletion by one append generation — a scan racing one eviction
  keeps its files; a snapshot held across MULTIPLE appends under byte-cap
  pressure can still lose evicted dirs (consume promptly, or raise
  buffer_max_bytes for long-held readers)
- serving facade = the Flight surface re-expressed:
  list_streams (A22/A27), describe/get_schema (A23/A24), fetch+limit
  (A25/A28 — limit is the reference client's only row operator); the
  health + list-topics actions (A26) are answered by the Flight facade

Retention store design (engine-specific custom code — the one part of the
reference Catalyst can't subsume, SURVEY.md §4):

- ``MemoryStore``: Arrow RecordBatches of at most ``batch_size`` rows in a
  driver-side deque — the reference's exact single-node model (its
  Stream.Batches slice). Byte accounting uses REAL Arrow buffer sizes, not
  the reference's rows×cols×8 estimate (improvement noted §2.3.8).
- ``ParquetStore``: batch-id-keyed parquet directories, one per
  micro-batch; eviction = delete oldest directory, sizes from file
  metadata. It serves and counts RecordBatches of at most ``batch_size``
  rows, but evicts a micro-batch's directory whole. This is the 100 TB
  path: the buffer lives in the object store, executors write
  micro-batches directly (no driver collect), serving is a parquet scan of
  live batch dirs, and eviction is an O(1) metadata delete per batch. The
  drop-oldest policy and TTL semantics are identical across both stores.

Clock injection (``time_fn``) keeps TTL behavior unit-testable.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from collections import deque
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from roar_spark.config import EngineConfig
from roar_spark.metrics import REGISTRY, update_engine_gauges
from roar_spark.streaming.ingest import bootstrap_schema, parse_envelope, with_rescued_column

__all__ = ["StreamEngine", "MemoryStore", "ParquetStore", "StreamHandle"]


class StoreClosedError(RuntimeError):
    """Append raced the TTL janitor's close of this store incarnation.
    Callers re-create the stream and retry — the reference's
    create-on-next-message behavior — instead of silently committing rows
    into a discarded buffer (the checkpoint would mark them consumed)."""


class MemoryStore:
    """Driver-side Arrow buffer with drop-oldest byte cap (reference
    parity model; single-node by definition, like the reference). Each
    micro-batch is split into RecordBatches of at most ``batch_size`` rows,
    which are kept, evicted and counted one by one (Stream.AddBatch)."""

    def __init__(self, schema: T.StructType, max_bytes: int, *, batch_size: int) -> None:
        self._schema = schema
        self._max_bytes = max_bytes
        self._batch_size = batch_size
        self._batches: deque = deque()  # (record_batch, nbytes)
        self._bytes = 0
        self.records_dropped = 0
        self.batches_created = 0
        self._closed = False
        self._lock = threading.Lock()
        # monotone mutation counter (append/evict/close): lets the Flight
        # facade cache one snapshot materialization per buffer state and
        # serve every DoGet + the hwm action from it (flight_facade)
        self.version = 0
        # monotone EVICTION counter (front drop/close only): the facade's
        # positional trust checks key on this, not on a value-based head
        # fingerprint — duplicate rows can make a post-eviction head
        # compare equal by VALUE and silently misalign carried row hashes
        # / ranged reads (r9 ADVICE)
        self.evict_epoch = 0

    def append(self, batch_df: DataFrame) -> int:
        table = batch_df.toArrow()
        if table.num_rows == 0:
            return 0
        # one chunk first, so the split is exactly ceil(rows / batch_size)
        # batches however Spark chunked the collect; slices share buffers
        batches = table.combine_chunks().to_batches(max_chunksize=self._batch_size)
        with self._lock:
            if self._closed:
                raise StoreClosedError("MemoryStore closed (TTL expiry)")
            for batch in batches:
                size = batch.nbytes
                # eviction loop parity: stream/manager.go:288-310
                while self._batches and self._bytes + size > self._max_bytes:
                    old, old_size = self._batches.popleft()
                    self._bytes -= old_size
                    self.records_dropped += old.num_rows
                    self.evict_epoch += 1
                # reference parity (Stream.AddBatch, stream/manager.go:286-345):
                # the NEW batch is always appended, even when it alone exceeds
                # the cap — the buffer runs over-cap until the next batch
                # evicts it. Never silently discard the newest data.
                self._batches.append((batch, size))
                self._bytes += size
            self.batches_created += len(batches)
            self.version += 1
        return table.num_rows

    def snapshot(self, spark: SparkSession) -> DataFrame:
        table = self.snapshot_arrow()
        if not table.num_rows:
            return spark.createDataFrame([], self._schema)
        return spark.createDataFrame(table)

    def snapshot_arrow(self) -> "object":
        """Snapshot as an Arrow table WITHOUT a Spark round-trip — what
        every Flight DoGet serves (one materialization per store version,
        shared by all readers). Zero-copy: the buffered RecordBatches are
        already Arrow."""
        import pyarrow as pa

        with self._lock:
            batches = [b for b, _ in self._batches]
        if not batches:
            from pyspark.sql.pandas.types import to_arrow_schema

            return to_arrow_schema(self._schema).empty_table()
        return pa.Table.from_batches(batches)

    @property
    def current_bytes(self) -> int:
        return self._bytes

    @property
    def batch_count(self) -> int:
        return len(self._batches)

    def close(self, deferred: bool = False) -> list[str]:
        """Release the buffer. Returns directories whose deletion the
        caller must finish later (always empty here — driver memory frees
        immediately; the signature matches ParquetStore.close)."""
        with self._lock:
            self._closed = True
            self._batches.clear()
            self._bytes = 0
            self.version += 1
            self.evict_epoch += 1
        return []


class ParquetStore:
    """Batch-directory parquet buffer — the distributed retention path.
    Executors write micro-batches straight to storage, one directory per
    micro-batch; the driver tracks only (batch_id, nbytes) metadata.
    Eviction drops a whole directory, however many ``batch_size``-row
    RecordBatches it serves as."""

    def __init__(
        self, schema: T.StructType, max_bytes: int, base: str, *, batch_size: int
    ) -> None:
        import uuid

        self._schema = schema
        self._max_bytes = max_bytes
        self._batch_size = batch_size
        self._base = base
        # every store INCARNATION owns a unique generation dir under the
        # topic base: after a TTL expiry, the janitor's pending close of
        # the old incarnation can then never delete the re-created
        # stream's files (the re-bootstrap races close() — r5 review), and
        # batch ids never collide across incarnations. External readers
        # (cli --store-dir) already use recursiveFileLookup, so the extra
        # level is invisible to them.
        self._root = os.path.join(base, f"gen-{uuid.uuid4().hex[:8]}")
        self._batches: deque = deque()  # (path, nbytes, num_rows)
        self._bytes = 0
        self._next_id = 0
        self.records_dropped = 0
        self.batches_created = 0
        self._closed = False
        self._lock = threading.Lock()
        # monotone mutation counter — see MemoryStore.version
        self.version = 0
        # monotone eviction counter — see MemoryStore.evict_epoch
        self.evict_epoch = 0
        # dirs evicted from the batch list but not yet deleted: physical
        # deletion is DEFERRED one append generation so an in-flight
        # snapshot scan (lazy — file listing resolves at action time)
        # doesn't lose files under itself mid-read
        self._doomed: list[str] = []
        os.makedirs(self._root, exist_ok=True)

    @staticmethod
    def _dir_size(path: str) -> int:
        total = 0
        for root, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    @staticmethod
    def _footer_rows(path: str) -> int:
        """Row count from the written parquet footers — no Spark job (the
        sink.py pattern; the old spark.read...count() scheduled a full
        read job per micro-batch on the flush cadence, r5 review) and
        never a second action on the micro-batch source."""
        import pyarrow.parquet as pq

        total = 0
        for root, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        return total

    def append(self, batch_df: DataFrame) -> int:
        with self._lock:
            if self._closed:
                raise StoreClosedError("ParquetStore closed (TTL expiry)")
            path = os.path.join(self._root, f"batch_id={self._next_id}")
            self._next_id += 1
        batch_df.write.mode("overwrite").parquet(path)
        size = self._dir_size(path)
        rows = self._footer_rows(path)
        if rows == 0:
            shutil.rmtree(path, ignore_errors=True)
            return 0
        with self._lock:
            if self._closed:
                # closed between the write and the bookkeeping: this
                # incarnation's root is already graveyard-bound, so the
                # orphan batch dir goes with it; the caller revives the
                # stream and re-appends into the new incarnation
                raise StoreClosedError("ParquetStore closed (TTL expiry)")
            # delete LAST generation's evictions now — anything snapshotted
            # since then no longer references them (snapshot lists paths
            # under this lock, and these dirs left the list one append ago)
            doomed_now, self._doomed = self._doomed, []
            while self._batches and self._bytes + size > self._max_bytes:
                old_path, old_size, old_rows = self._batches.popleft()
                self._bytes -= old_size
                self.records_dropped += old_rows
                self.evict_epoch += 1
                self._doomed.append(old_path)
            # always append the new batch (reference parity — see MemoryStore)
            self._batches.append((path, size, rows))
            self._bytes += size
            self.batches_created += -(-rows // self._batch_size)  # as served
            self.version += 1
        for old_path in doomed_now:
            shutil.rmtree(old_path, ignore_errors=True)
        return rows

    def snapshot(self, spark: SparkSession) -> DataFrame:
        with self._lock:
            paths = [p for p, _, _ in self._batches]
        if not paths:
            return spark.createDataFrame([], self._schema)
        return spark.read.schema(self._schema).parquet(*paths)

    def snapshot_arrow(self) -> "object":
        """Snapshot as an Arrow table WITHOUT a Spark job — what every
        Flight DoGet serves. Reads the batch dirs with pyarrow in append
        order (deterministic: sorted file listing per dir) and casts to
        the ALL-NULLABLE form of the frozen schema, as Spark's parquet
        read of them does: the data need not keep the frozen non-null
        flags (a field missing from a message parses to NULL; nested
        children are written nullable). An empty buffer serves the
        frozen schema, like the empty snapshot(). Each directory is served
        as RecordBatches of at most ``batch_size`` rows. Single-process
        read by design: the facade is a single-node serving veneer; the
        cluster-scale read of this store is the snapshot() parquet scan."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        with self._lock:
            paths = [p for p, _, _ in self._batches]
        if not paths:
            return to_arrow_schema(self._schema).empty_table()
        target = to_arrow_schema(self._schema._as_nullable())
        return pa.Table.from_batches(
            [
                batch
                for p in paths
                for batch in pq.read_table(p)
                .cast(target)
                .combine_chunks()
                .to_batches(max_chunksize=self._batch_size)
            ],
            schema=target,
        )

    @property
    def current_bytes(self) -> int:
        return self._bytes

    @property
    def batch_count(self) -> int:
        return len(self._batches)

    def close(self, deferred: bool = False) -> list[str]:
        """Release the buffer. ``deferred=True`` (the janitor's mode)
        hands the incarnation dir back for deletion on the NEXT janitor
        tick instead of deleting now — a lazy snapshot obtained just
        before expiry resolves its file listing at action time, and an
        immediate rmtree under it raised PATH_NOT_FOUND (r5 review; same
        one-generation grace the byte-cap eviction already had)."""
        with self._lock:
            self._closed = True
            self._batches.clear()
            self._doomed.clear()
            self._bytes = 0
            self.version += 1
            self.evict_epoch += 1
        if deferred:
            return [self._root]
        shutil.rmtree(self._root, ignore_errors=True)
        return []


# Failure signatures that are INFRASTRUCTURE-transient, not plan or data
# errors: Spark's worker-spawn handshake gives a forked Python worker a
# hardcoded 10 s to connect back (PythonWorkerFactory.PROCESS_WAIT_TIMEOUT_MS,
# not configurable), and a host-steal burst at query start kills a
# Python-data-source query at INITIALIZING with nothing committed. Restarting
# against the same checkpoint is lossless by construction. Deliberately
# narrow: analysis errors, data errors, and engine bugs must NOT be retried.
_TRANSIENT_STREAM_SIGNATURES = (
    "Python worker failed to connect back",
    "Timed out while waiting for the Python worker",
)


def is_transient_stream_failure(message: str) -> bool:
    """True iff a streaming-query failure message matches a known
    infrastructure-transient signature (worker-spawn handshake timeouts)."""
    return any(sig in message for sig in _TRANSIENT_STREAM_SIGNATURES)


@dataclass
class StreamHandle:
    topic: str
    schema: T.StructType
    store: object
    last_updated: float
    query: object | None = None  # StreamingQuery once started
    records_total: int = field(default=0)


class StreamEngine:
    """Registry + janitor + serving facade (the process the reference's
    `roar serve` runs, minus the wire protocol)."""

    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig | None = None,
        *,
        store_base: str | None = None,
        time_fn=time.monotonic,
    ) -> None:
        self._spark = spark
        self.config = config or EngineConfig()
        self._streams: dict[str, StreamHandle] = {}
        self._pending_queries: dict[str, object] = {}  # deferred-bootstrap topics
        # envelope plan per ingesting topic: a streaming DataFrame is a
        # logical plan, so it can start a FRESH query against the same
        # checkpoint — what restart_ingest/process_all use to survive
        # transient worker-spawn failures (see is_transient_stream_failure)
        self._ingest_envelopes: dict[str, DataFrame] = {}
        self._converters: dict[str, object] = {}  # topic → converter (A13)
        # last-known schema of janitor-expired topics: lets append_batch
        # revive an expired topic without re-inference (the streaming path
        # re-samples; a batch backfill has nothing to sample from)
        self._expired_schemas: dict[str, T.StructType] = {}
        # store dirs whose deletion is deferred one janitor tick (close
        # grace for in-flight lazy snapshots — see ParquetStore.close)
        self._graveyard: list[str] = []
        self._lock = threading.Lock()
        self._time = time_fn
        self._store_base = store_base
        self._janitor: threading.Thread | None = None
        self._stop = threading.Event()

    # --- ingestion --------------------------------------------------------

    def _make_store(self, topic: str, schema: T.StructType):
        if self._store_base:
            return ParquetStore(
                schema,
                self.config.buffer_limit_bytes,
                os.path.join(self._store_base, topic),
                batch_size=self.config.batch_size,
            )
        return MemoryStore(
            schema, self.config.buffer_limit_bytes, batch_size=self.config.batch_size
        )

    def register_converter(self, topic: str, converter, schema: T.StructType) -> None:
        """Per-topic custom converter hook — parity with the reference's
        MessageConverter plugin (WithConverter, kafka/consumer.go:79-86,
        413-419): the converter owns BOTH the schema (its InferSchema
        equivalent is the explicit ``schema`` you pass) and the envelope→
        typed-rows conversion. ``converter(envelope_df, schema) -> DataFrame``
        must emit exactly ``schema``'s columns; it replaces the default
        parse_envelope path for this topic (createBatchWithConverter,
        kafka/consumer.go:471-580). Register BEFORE register_stream/ingest.
        """
        self._converters[topic] = (converter, schema)

    def _parse(self, topic: str, envelope: DataFrame, schema: T.StructType) -> DataFrame:
        if topic in self._converters:
            converter, _ = self._converters[topic]
            return converter(envelope, schema)
        return parse_envelope(envelope, schema)

    def register_stream(self, topic: str, sample_payloads: list[bytes | str]) -> StreamHandle:
        """Create the stream entry with a frozen inferred schema (the
        dummy-batch bootstrap A14 is NOT replicated — schema is metadata
        here, no spurious null row; SURVEY.md §2.3.3). A topic with a
        registered converter uses the converter's schema instead of
        inference (sample ignored, like the reference's converter path)."""
        if topic in self._converters:
            schema = self._converters[topic][1]
        else:
            schema = bootstrap_schema(
                sample_payloads,
                self.config.schema_sample_size,
                infer_nested=self.config.infer_nested,
            )
            if self.config.rescue_columns:
                # opt-in escape from the silent-drop quirk: post-freeze
                # fields land in `_rescued` (ingest.parse_envelope)
                schema = with_rescued_column(schema)
        return self._attach(topic, schema)

    def _attach(self, topic: str, schema: T.StructType) -> StreamHandle:
        """Create (or return) the live handle for an already-known schema —
        shared by register_stream and the closed-store revive path (an
        append that raced the janitor re-creates the stream with the same
        schema: create-on-next-message parity without re-inference). A
        registered handle whose store is already closed is REPLACED, never
        returned — handing it back would make the revive retry loop in
        the append paths fail forever."""
        with self._lock:
            existing = self._streams.get(topic)
            if existing is not None and not getattr(existing.store, "_closed", False):
                return existing
            # the stream is live again — drop the remembered expired schema
            # so revive/re-registration cycles don't grow the dict without
            # bound (and a later re-registration with a NEW schema isn't
            # shadowed by a stale memory on the next expiry cycle)
            self._expired_schemas.pop(topic, None)
            handle = StreamHandle(topic, schema, self._make_store(topic, schema), self._time())
            if existing is not None and existing.query is not None:
                handle.query = existing.query
            else:
                handle.query = self._pending_queries.pop(topic, None)
            self._streams[topic] = handle
            return handle

    def _apply_append(self, topic: str, handle: StreamHandle, parsed_batch: DataFrame) -> int:
        """Shared append bookkeeping (streaming + batch paths): one store
        materialization, records_total / last_updated / drop and
        RecordBatch metrics all maintained in one place."""
        store = handle.store
        dropped_before, created_before = store.records_dropped, store.batches_created
        n = store.append(parsed_batch)
        dropped = store.records_dropped - dropped_before
        if dropped:
            REGISTRY.inc("roar_stream_records_dropped_total", dropped, topic=topic)
        created = store.batches_created - created_before
        if created:
            REGISTRY.inc("roar_record_batches_created_total", created, topic=topic)
        if n:
            handle.records_total += n
            handle.last_updated = self._time()
        return n

    def ingest(
        self,
        topic: str,
        envelope: DataFrame,
        sample_payloads: list[bytes | str] | None = None,
    ):
        """Start the per-topic streaming query:
        envelope → parse (frozen schema) → foreachBatch append-with-retention.
        Trigger = the reference's 5 s flush timer.

        ``sample_payloads=None`` defers the schema bootstrap to the first
        NON-EMPTY micro-batch, sampling that batch's actual payloads — the
        reference's behavior (inferSchema over the first batch's messages,
        kafka/consumer.go:833-860). This is the correct mode for a live
        Kafka topic, where no payload exists until the stream runs; passing
        a placeholder sample would freeze a payload-less schema and drop
        every real field forever. The bootstrap collects a ≤ sample_size
        slice of that first batch (one extra bounded action, once per
        stream); afterwards every batch takes the single-action store path.

        Returns the StreamHandle, or None in deferred mode until the first
        non-empty batch creates it (look it up via list_streams/fetch)."""
        # falsy (None OR empty) sample → deferred bootstrap: cmd_serve
        # passes [] when the first source batch has no non-null payloads,
        # and an eager register would crash in infer_schema instead of
        # waiting for the first real batch (r5 review)
        if sample_payloads:
            self.register_stream(topic, sample_payloads)
        self._ingest_envelopes[topic] = envelope
        return self._start_ingest_query(topic, envelope)

    def _start_ingest_query(self, topic: str, envelope: DataFrame):
        """Start (or restart) the per-topic query against the topic's
        checkpoint. Split from ingest() so restart_ingest can re-run the
        start against the SAME checkpoint after a transient failure."""

        def _append(batch_df: DataFrame, _batch_id: int) -> None:
            # single locked lookup: a separate known-check + bare
            # self._streams[topic] raced the TTL janitor (expiry between
            # the two raised KeyError inside foreachBatch and killed the
            # query). A missing handle — never bootstrapped OR just
            # expired — takes the same re-bootstrap path, which is the
            # reference's create-on-next-message behavior
            # (stream/manager.go GetStream after cleanupExpiredStreams).
            with self._lock:
                handle = self._streams.get(topic)
            if handle is None:
                if topic in self._converters:
                    # converter topics own their schema — re-attach with it
                    # directly: the sampling below reads a `value` column
                    # the typed converter envelope may not even have, and
                    # an AnalysisException inside foreachBatch kills the
                    # query permanently (r8 review — the --source-flight
                    # replica after one idle TTL)
                    handle = self._attach(topic, self._converters[topic][1])
                else:
                    sample = [
                        r.value
                        for r in batch_df.select("value")
                        .limit(self.config.schema_sample_size)
                        .collect()
                        if r.value is not None
                    ]
                    if not sample:
                        return  # nothing arrived yet; bootstrap stays pending
                    handle = self.register_stream(topic, sample)
            # ONE action on batch_df past bootstrap: the store computes the
            # row count from its own materialization (a separate count()
            # would re-scan the micro-batch source and double every source
            # metric)
            try:
                self._apply_append(topic, handle, self._parse(topic, batch_df, handle.schema))
            except StoreClosedError:
                # the janitor closed the store between our lookup and the
                # append: re-create with the same schema and retry — the
                # rows land in the fresh stream instead of silently dying
                # in a discarded buffer (the checkpoint commits either way)
                handle = self._attach(topic, handle.schema)
                self._apply_append(topic, handle, self._parse(topic, batch_df, handle.schema))

        query = (
            envelope.writeStream.foreachBatch(_append)
            .trigger(processingTime=f"{self.config.flush_interval_seconds} seconds")
            .option("checkpointLocation", self._checkpoint_dir(topic))
            .queryName(f"roar-{topic}")
            .start()
        )
        # attach under the SAME lock register_stream pops pending queries
        # with: done unlocked, the first micro-batch could register the
        # handle between our get() and the _pending_queries write, leaving
        # the query orphaned (never attached, unstoppable by the janitor)
        with self._lock:
            handle = self._streams.get(topic)
            if handle is not None:
                handle.query = query
            else:
                self._pending_queries[topic] = query
        self._ensure_janitor()
        return handle

    def _live_query(self, topic: str):
        with self._lock:
            handle = self._streams.get(topic)
            if handle is not None and handle.query is not None:
                return handle.query
            return self._pending_queries.get(topic)

    def restart_ingest(self, topic: str):
        """Start a FRESH streaming query for an ingesting topic against its
        existing checkpoint (exactly-once resume — a query that died before
        committing re-plans the same offsets). The old query, if any, is
        stopped defensively first. KeyError for topics never ingest()ed."""
        envelope = self._ingest_envelopes[topic]
        old = self._live_query(topic)
        if old is not None:
            try:
                old.stop()
            except Exception:  # noqa: BLE001 — already-dead queries throw freely
                pass
        self._start_ingest_query(topic, envelope)
        return self._live_query(topic)

    def process_all(self, topic: str, transient_restarts: int = 2) -> None:
        """processAllAvailable on the topic's ingest query, restarting it
        on TRANSIENT infrastructure failures (bounded): Spark's Python
        worker-spawn handshake has a hardcoded 10 s connect-back budget
        (PythonWorkerFactory.PROCESS_WAIT_TIMEOUT_MS), and under host CPU
        steal a Python-data-source query dies at INITIALIZING with
        'Python worker failed to connect back' before committing anything.
        A production pipeline supervises streaming queries for exactly this
        class; this is that supervision for engine-owned ingest queries.
        Non-transient failures re-raise unchanged on the first occurrence."""
        attempt = 0
        while True:
            query = self._live_query(topic)
            if query is None:
                raise KeyError(f"no ingest query for topic {topic!r}")
            try:
                query.processAllAvailable()
                return
            except Exception as exc:  # noqa: BLE001 — classify, then re-raise
                if attempt >= transient_restarts or not is_transient_stream_failure(
                    str(exc)
                ):
                    raise
                attempt += 1
                self.restart_ingest(topic)

    def append_batch(self, topic: str, envelope_batch: DataFrame) -> int:
        """Batch-mode append (tests / backfill): same parse + retention +
        bookkeeping path as streaming, without a StreamingQuery. A topic
        the janitor expired is revived with its remembered schema — the
        same create-on-next-message contract the streaming path has (r8
        review: the bare dict lookup raised KeyError on the common race
        ordering, reaching the StoreClosedError revive only in the narrow
        window where the handle was grabbed before the janitor's del). A
        topic that was NEVER registered still raises KeyError — there is
        no schema to revive with."""
        with self._lock:
            handle = self._streams.get(topic)
        if handle is None:
            if topic in self._converters:
                schema = self._converters[topic][1]
            else:
                schema = self._expired_schemas.get(topic)
            if schema is None:
                raise KeyError(topic)
            handle = self._attach(topic, schema)
        try:
            return self._apply_append(
                topic, handle, self._parse(topic, envelope_batch, handle.schema)
            )
        except StoreClosedError:  # raced the janitor: revive and retry
            handle = self._attach(topic, handle.schema)
            return self._apply_append(
                topic, handle, self._parse(topic, envelope_batch, handle.schema)
            )

    def _checkpoint_dir(self, topic: str) -> str:
        base = self.config.checkpoint_path or os.path.join(
            self._store_base or "/tmp/roar_spark", "_checkpoints"
        )
        return os.path.join(base, topic)

    # --- TTL janitor (A18) ------------------------------------------------

    def _ensure_janitor(self) -> None:
        # under the lock: a bare check-then-act let two concurrent ingest()
        # calls start TWO janitors, halving the deferred-deletion grace a
        # lazy snapshot relies on (r8 review)
        with self._lock:
            if self._janitor is not None and self._janitor.is_alive():
                return
            self._stop.clear()
            self._janitor = threading.Thread(target=self._cleanup_loop, daemon=True)
            self._janitor.start()

    def _cleanup_loop(self) -> None:
        # tick every ttl/2 (stream/manager.go:118)
        while not self._stop.wait(self.config.ttl_seconds / 2):
            self.cleanup_expired()
            try:
                # full gauge refresh + stale-series sweep moved off the
                # serving path (fetch refreshes only its own topic)
                update_engine_gauges(self)
            except Exception:  # noqa: BLE001 — metrics must not kill the janitor
                pass

    def cleanup_expired(self) -> list[str]:
        """Delete streams idle longer than ttl (stream/manager.go:150-184).
        Exposed for deterministic tests.

        The INGESTION QUERY survives expiry: the reference's janitor only
        deletes the buffered stream — its Kafka consumer keeps running and
        GetStream re-creates the stream on the next message. Stopping the
        query here would permanently kill ingestion for a topic after one
        idle TTL. The query is parked back in _pending_queries so the
        re-bootstrap in _append re-attaches it (and engine.stop() still
        owns it)."""
        now = self._time()
        expired: list[StreamHandle] = []
        with self._lock:
            # previous tick's closed incarnations are now past their grace
            # period — any snapshot taken before that close has had a full
            # tick to run its action
            doomed_now, self._graveyard = self._graveyard, []
            for topic, handle in list(self._streams.items()):
                if now - handle.last_updated > self.config.ttl_seconds:
                    expired.append(handle)
                    del self._streams[topic]
                    self._expired_schemas[topic] = handle.schema
                    if handle.query is not None:
                        self._pending_queries[topic] = handle.query
        for path in doomed_now:
            shutil.rmtree(path, ignore_errors=True)
        graves: list[str] = []
        for handle in expired:  # release resources outside the lock
            REGISTRY.inc("roar_expired_streams_total", topic=handle.topic)
            graves.extend(handle.store.close(deferred=True))
        if graves:
            with self._lock:
                self._graveyard.extend(graves)
        return [h.topic for h in expired]

    # --- serving facade (A19, A22-A28) ------------------------------------

    def list_streams(self) -> list[str]:
        with self._lock:
            return sorted(self._streams)

    def get_schema(self, topic: str) -> T.StructType:
        return self._handle(topic).schema

    def describe_stream(self, topic: str) -> dict:
        h = self._handle(topic)
        return {
            "topic": h.topic,
            "schema": h.schema.simpleString(),
            "batches": h.store.batch_count,
            "bytes": h.store.current_bytes,
            "records_dropped": h.store.records_dropped,
            "total_records": -1,  # unbounded stream (flight/server.go:120-121)
        }

    def touch(self, topic: str) -> StreamHandle:
        """Data-read bookkeeping without the snapshot: TTL refresh +
        request counter + per-topic gauges (§2.3.4 — the retention clock
        is last activity). Shared by fetch() and every Flight DoGet, which
        serves the facade's cached Arrow snapshot directly from the store
        and must still count as activity."""
        handle = self._handle(topic)
        handle.last_updated = self._time()
        REGISTRY.inc("roar_flight_stream_requests_total", topic=topic)
        # O(1) per request: only this topic's gauges; the janitor tick
        # owns the full refresh + stale-series sweep
        update_engine_gauges(self, topics=[topic])
        return handle

    def fetch(self, topic: str, limit: int = 10) -> DataFrame:
        """Snapshot read with the client's default limit of 10
        (cmd/client.go:65). Refreshes the TTL — §2.3.4 parity."""
        handle = self.touch(topic)
        df = handle.store.snapshot(self._spark)
        return df.limit(limit) if limit is not None and limit >= 0 else df

    def _handle(self, topic: str) -> StreamHandle:
        with self._lock:
            if topic not in self._streams:
                raise KeyError(f"stream not found: {topic}")  # NotFound, no
                # create-on-read (divergence §2.3.7)
            return self._streams[topic]

    # --- lifecycle --------------------------------------------------------

    def stop(self) -> None:
        self._stop.set()
        # join the janitor BEFORE the final graveyard drain: a tick that is
        # already past its wait can close expired stores with deferred=True
        # and extend _graveyard after a premature drain — those gen-* dirs
        # would never be rmtree'd (r8 review). The loop re-checks _stop
        # every tick, so the join is bounded by one tick.
        janitor = self._janitor
        if janitor is not None and janitor.is_alive():
            janitor.join(timeout=max(self.config.ttl_seconds, 1.0))
        with self._lock:
            handles = list(self._streams.values())
            self._streams.clear()
            pending = list(self._pending_queries.values())
            self._pending_queries.clear()
            self._expired_schemas.clear()  # engine stop: nothing left to revive
        for q in pending:  # deferred-bootstrap queries that never saw data
            try:
                q.stop()
            except Exception:  # noqa: BLE001
                pass
        for h in handles:
            if h.query is not None:
                try:
                    h.query.stop()
                except Exception:  # noqa: BLE001
                    pass
            h.store.close()  # terminal: immediate delete, no grace
        with self._lock:
            doomed, self._graveyard = self._graveyard, []
        for path in doomed:  # drain any close-grace leftovers
            shutil.rmtree(path, ignore_errors=True)
