"""In-process, protocol-faithful Kafka broker (test/dev double).

Serves the exact wire subset `kafka_wire.py` pins — ApiVersions v0,
Metadata v1, ListOffsets v1, Produce v3, Fetch v4, uncompressed magic-2
record batches with CRC32C verification on ingest — over real TCP
sockets, so the pure-Python Spark source (kafka_python.py) is exercised
against genuine Kafka framing rather than a mocked client. This is what
lets A1 (SURVEY.md §2) run end-to-end in a container that has no broker
binary and no spark-sql-kafka connector jar.

Scope (deliberate, documented): single node, in-memory logs, no
replication / consumer groups / transactions — none of which the
reference's reader path uses (kafka/consumer.go reads via explicit
partition offsets; group membership only shards work across processes).
NOT a production message bus; it exists so every protocol byte between
producer, broker, and the Spark source is real and test-pinned.
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading
import time

from roar_spark.sources import kafka_wire as kw
from roar_spark.sources.kafka_wire import KafkaRecord, Reader, Writer


class _TopicLog:
    """One topic's partitioned in-memory log. Offsets are dense per
    partition starting at 0; append re-stamps batch-relative offsets with
    the log-end offset exactly as a real broker's log layer does."""

    def __init__(self, partitions: int) -> None:
        self.partitions: list[list[KafkaRecord]] = [[] for _ in range(partitions)]

    def append(self, partition: int, records: list[KafkaRecord]) -> int:
        log = self.partitions[partition]
        base = len(log)
        for i, rec in enumerate(records):
            log.append(
                KafkaRecord(
                    offset=base + i,
                    timestamp_ms=rec.timestamp_ms,
                    key=rec.key,
                    value=rec.value,
                    headers=rec.headers,
                )
            )
        return base

    def read(self, partition: int, offset: int, max_bytes: int) -> list[KafkaRecord]:
        """Records from ``offset`` on, up to about ``max_bytes``. At least
        one record is returned even if it alone exceeds the cap, like real
        brokers. Walks by index: the work is bounded by the cap, not by the
        backlog behind ``offset``."""
        log = self.partitions[partition]
        chunk: list[KafkaRecord] = []
        size = 0
        for i in range(offset, len(log)):
            rec = log[i]
            rec_size = len(rec.key or b"") + len(rec.value or b"") + 64
            if chunk and size + rec_size > max_bytes:
                break
            chunk.append(rec)
            size += rec_size
        return chunk


class KafkaBroker:
    """Threaded single-node broker bound to 127.0.0.1:<port> (0 = ephemeral).

    Follows the repo's Flight-facade lifecycle contract (SCALE.md r11):
    ``start()`` returns only once the listener accepts connections, and
    ``shutdown()`` joins the serve thread so an immediate same-port rebind
    cannot race a dying listener.
    """

    def __init__(self, port: int = 0, *, default_partitions: int = 2) -> None:
        self._default_partitions = default_partitions
        self._topics: dict[str, _TopicLog] = {}
        self._lock = threading.Lock()
        broker = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:  # one connection, many requests
                self.request.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                try:
                    while True:
                        frame = kw.read_frame(self.request)
                        self.request.sendall(broker._dispatch(frame))
                except (ConnectionError, EOFError, OSError):
                    return  # client hung up

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server(("127.0.0.1", port), Handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="kafka-broker", daemon=True
        )

    # --- lifecycle ---

    @property
    def bootstrap(self) -> str:
        return f"127.0.0.1:{self.port}"

    def start(self) -> "KafkaBroker":
        self._thread.start()
        # serve_forever polls an already-bound+listening socket, so the
        # port accepts as soon as the constructor returned; verify with one
        # real round-trip anyway (the flight_facade readiness rule).
        with kw.KafkaWireClient(self.bootstrap, timeout=5.0) as probe:
            probe.api_versions()
        return self

    def shutdown(self) -> None:
        self._server.shutdown()
        self._thread.join(timeout=10.0)
        self._server.server_close()

    def __enter__(self) -> "KafkaBroker":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.shutdown()

    # --- admin / state helpers (test surface) ---

    def create_topic(self, name: str, partitions: int | None = None) -> None:
        with self._lock:
            if name not in self._topics:
                self._topics[name] = _TopicLog(partitions or self._default_partitions)

    def add_partitions(self, topic: str, new_total: int) -> None:
        """Grow a topic's partition count (Kafka only ever grows). Lets
        tests pin the source's new-partition rule: added partitions must
        be read from offset 0."""
        with self._lock:
            log = self._topics[topic]
            while len(log.partitions) < new_total:
                log.partitions.append([])

    def end_offsets(self, topic: str) -> list[int]:
        with self._lock:
            log = self._topics.get(topic)
            return [len(p) for p in log.partitions] if log else []

    # --- dispatch ---

    def _dispatch(self, frame: bytes) -> bytes:
        r = Reader(frame)
        api_key = r.i16()
        api_version = r.i16()
        correlation = r.i32()
        r.string()  # client_id
        body = Writer().i32(correlation)
        if api_version != kw.PINNED_VERSIONS.get(api_key, -1):
            # protocol contract: answer ApiVersions with UNSUPPORTED_VERSION
            # + the supported table (clients downgrade from it); anything
            # else is a hard error frame the client will surface.
            if api_key == kw.API_API_VERSIONS:
                self._api_versions(body, error=kw.ERR_UNSUPPORTED_VERSION)
            else:
                raise ValueError(
                    f"kafka_broker: unsupported api {api_key} v{api_version}"
                )
        elif api_key == kw.API_API_VERSIONS:
            self._api_versions(body)
        elif api_key == kw.API_METADATA:
            self._metadata(r, body)
        elif api_key == kw.API_LIST_OFFSETS:
            self._list_offsets(r, body)
        elif api_key == kw.API_PRODUCE:
            self._produce(r, body)
        elif api_key == kw.API_FETCH:
            self._fetch(r, body)
        else:
            raise ValueError(f"kafka_broker: unknown api key {api_key}")
        payload = body.bytes_value()
        return struct.pack(">i", len(payload)) + payload

    def _api_versions(self, w: Writer, *, error: int = kw.ERR_NONE) -> None:
        w.i16(error)
        w.array(
            sorted(kw.PINNED_VERSIONS.items()),
            lambda wr, kv: wr.i16(kv[0]).i16(kv[1]).i16(kv[1]),
        )

    def _metadata(self, r: Reader, w: Writer) -> None:
        requested = r.array(lambda rr: rr.string())
        with self._lock:
            if requested is None:
                names = sorted(self._topics)
            else:
                names = [n for n in requested if n is not None]
                for name in names:  # metadata auto-creates, like a dev broker
                    if name not in self._topics:
                        self._topics[name] = _TopicLog(self._default_partitions)
            snapshot = {n: len(self._topics[n].partitions) for n in names}
        w.array(
            [(0, "127.0.0.1", self.port, None)],
            lambda wr, b: wr.i32(b[0]).string(b[1]).i32(b[2]).string(b[3]),
        )
        w.i32(0)  # controller id
        w.array(
            sorted(snapshot.items()),
            lambda wr, t: (
                wr.i16(kw.ERR_NONE)
                .string(t[0])
                .i8(0)  # is_internal
                .array(
                    list(range(t[1])),
                    lambda wr2, p: (
                        wr2.i16(kw.ERR_NONE)
                        .i32(p)
                        .i32(0)  # leader = this node
                        .array([0], lambda wr3, x: wr3.i32(x))  # replicas
                        .array([0], lambda wr3, x: wr3.i32(x))  # isr
                    ),
                )
            ),
        )

    def _list_offsets(self, r: Reader, w: Writer) -> None:
        r.i32()  # replica_id
        topics = r.array(
            lambda rr: (
                rr.string(),
                rr.array(lambda rr2: (rr2.i32(), rr2.i64())),
            )
        )
        out = []
        with self._lock:
            for name, parts in topics or []:
                log = self._topics.get(name or "")
                presp = []
                for part, ts in parts or []:
                    if log is None or part >= len(log.partitions):
                        presp.append((part, kw.ERR_UNKNOWN_TOPIC_OR_PARTITION, -1, -1))
                        continue
                    end = len(log.partitions[part])
                    offset = end if ts == kw.LATEST_TIMESTAMP else 0
                    presp.append((part, kw.ERR_NONE, ts, offset))
                out.append((name, presp))
        w.array(
            out,
            lambda wr, t: wr.string(t[0]).array(
                t[1],
                lambda wr2, p: wr2.i32(p[0]).i16(p[1]).i64(p[2]).i64(p[3]),
            ),
        )

    def _produce(self, r: Reader, w: Writer) -> None:
        r.string()  # transactional_id
        r.i16()  # acks (in-memory log: always "done")
        r.i32()  # timeout
        topics = r.array(
            lambda rr: (
                rr.string(),
                rr.array(lambda rr2: (rr2.i32(), rr2.nullable_bytes())),
            )
        )
        out = []
        with self._lock:
            for name, parts in topics or []:
                name = name or ""
                if name not in self._topics:  # auto-create on produce
                    self._topics[name] = _TopicLog(self._default_partitions)
                log = self._topics[name]
                presp = []
                for part, record_set in parts or []:
                    if part >= len(log.partitions):
                        presp.append(
                            (part, kw.ERR_UNKNOWN_TOPIC_OR_PARTITION, -1, -1)
                        )
                        continue
                    # decode (verifies CRC32C) then re-stamp at log end
                    records = kw.decode_record_batches(record_set or b"")
                    base = log.append(part, records)
                    presp.append((part, kw.ERR_NONE, base, int(time.time() * 1000)))
                out.append((name, presp))
        w.array(
            out,
            lambda wr, t: wr.string(t[0]).array(
                t[1],
                lambda wr2, p: wr2.i32(p[0]).i16(p[1]).i64(p[2]).i64(p[3]),
            ),
        )
        w.i32(0)  # throttle

    def _fetch(self, r: Reader, w: Writer) -> None:
        r.i32()  # replica_id
        max_wait_ms = r.i32()
        min_bytes = r.i32()
        r.i32()  # max_bytes (single-partition fetches: partition cap governs)
        r.i8()  # isolation_level
        topics = r.array(
            lambda rr: (
                rr.string(),
                rr.array(lambda rr2: (rr2.i32(), rr2.i64(), rr2.i32())),
            )
        )
        deadline = time.monotonic() + max_wait_ms / 1000.0
        while True:
            picked = []
            with self._lock:
                for name, parts in topics or []:
                    log = self._topics.get(name or "")
                    presp = []
                    for part, fetch_offset, partition_max_bytes in parts or []:
                        if log is None or part >= len(log.partitions):
                            presp.append(
                                (part, kw.ERR_UNKNOWN_TOPIC_OR_PARTITION, -1, [])
                            )
                            continue
                        hwm = len(log.partitions[part])
                        if fetch_offset > hwm or fetch_offset < 0:
                            presp.append((part, kw.ERR_OFFSET_OUT_OF_RANGE, hwm, []))
                            continue
                        chunk = log.read(part, fetch_offset, partition_max_bytes)
                        presp.append((part, kw.ERR_NONE, hwm, chunk))
                    picked.append((name, presp))
            # encode with the lock released: records are immutable and the
            # logs only grow, so produce calls need not wait on a 1 MB encode
            out = [
                (name, [
                    (part, err, hwm, kw.encode_record_batch(chunk) if chunk else b"")
                    for part, err, hwm, chunk in presp
                ])
                for name, presp in picked
            ]
            total_bytes = sum(len(p[3]) for _, presp in out for p in presp)
            # honor min_bytes/max_wait: short-poll until data or deadline
            if total_bytes >= min_bytes or time.monotonic() >= deadline:
                break
            time.sleep(min(0.02, max(deadline - time.monotonic(), 0)))
        w.i32(0)  # throttle
        w.array(
            out,
            lambda wr, t: wr.string(t[0]).array(
                t[1],
                lambda wr2, p: (
                    wr2.i32(p[0])
                    .i16(p[1])
                    .i64(p[2])  # high watermark
                    .i64(p[2])  # last stable offset
                    .i32(0)  # aborted transactions: none
                    .nullable_bytes(p[3])
                ),
            ),
        )
