"""Pure-Python Kafka wire protocol: codec + synchronous client.

Implements the minimal, frozen subset of the Apache Kafka protocol the
reference's reader actually exercises (kafka/consumer.go:224-261 reads
topics via Metadata + ListOffsets + Fetch; the test producer path mirrors
kafka-go's Produce) so A1 can be validated END-TO-END in this container,
which ships neither a broker nor the spark-sql-kafka connector jar:

- ApiVersions v0   (api key 18)
- Metadata    v1   (api key 3)
- ListOffsets v1   (api key 2)  — timestamp -1 latest / -2 earliest
- Produce     v3   (api key 0)  — record batches, magic 2
- Fetch       v4   (api key 1)  — record batches, magic 2

All five are NON-FLEXIBLE (pre-KIP-482) encodings, fixed at the versions
above on both ends; real brokers still serve these versions (KIP-896's
AK 4.0 baseline removes only the pre-magic-2 v0-v2 Produce / v0-v3 Fetch).
Record batches are the v2 (magic 2) on-disk format — varint-delta records
under a CRC32C-guarded batch header — encoded and decoded here from the
public format specification. Compression codecs are intentionally
unsupported (attributes bits 0-2 must be 0): the in-process broker
(kafka_broker.py) and this client always speak uncompressed batches.

Everything is stdlib plus numpy. CRC32C (Castagnoli) is computed here
because zlib.crc32 is the wrong polynomial: table-driven byte by byte for
short inputs, and over 64-byte lanes in lockstep with numpy, folded with
zero-shift tables, for long ones (a 1 MB fetch response).
"""

from __future__ import annotations

import functools
import io
import socket
import struct
import threading
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------------------
# CRC32C (Castagnoli, reflected poly 0x82F63B78)
# ---------------------------------------------------------------------------


def _make_crc32c_table() -> list[int]:
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        table.append(c)
    return table


_CRC32C_TABLE = _make_crc32c_table()
_CRC32C_TABLE_NP = np.array(_CRC32C_TABLE, dtype=np.uint32)

# The vectorized path cuts the input into lanes of _CRC_LANE bytes and
# advances every lane one byte per numpy step, so its cost is ~_CRC_LANE
# fixed steps plus work proportional to the length. Below the crossover the
# byte loop is cheaper (SCALE.md, "CRC32C crossover").
_CRC_LANE = 64
_CRC_VECTOR_MIN_BYTES = 4096


def _crc32c_update(crc: int, data) -> int:
    """Advance the raw CRC register over ``data``, one table step a byte."""
    tab = _CRC32C_TABLE
    for b in data:
        crc = tab[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc


def crc32c_scalar(data: bytes) -> int:
    """Byte-at-a-time CRC32C: the definition the vectorized path must equal."""
    return _crc32c_update(0xFFFFFFFF, data) ^ 0xFFFFFFFF


def _zero_shift(register: np.ndarray, tables: np.ndarray) -> np.ndarray:
    """Apply a zero-shift operator (as four byte tables) to CRC registers."""
    return (
        tables[0][register & 0xFF]
        ^ tables[1][(register >> 8) & 0xFF]
        ^ tables[2][(register >> 16) & 0xFF]
        ^ tables[3][register >> 24]
    )


@functools.cache
def _zero_shift_tables(level: int) -> np.ndarray:
    """Byte tables of the GF(2)-linear map "advance the register over
    ``_CRC_LANE * 2**level`` zero bytes". The map is fixed by its image of
    the 32 one-bit registers; level n+1 is level n applied twice."""
    if level == 0:
        basis = np.array(
            [_crc32c_update(1 << i, bytes(_CRC_LANE)) for i in range(32)],
            dtype=np.uint32,
        )
    else:
        half = _zero_shift_tables(level - 1)
        one_bits = np.left_shift(np.uint32(1), np.arange(32, dtype=np.uint32))
        basis = _zero_shift(_zero_shift(one_bits, half), half)
    byte = np.arange(256, dtype=np.uint32)
    tables = np.zeros((4, 256), dtype=np.uint32)
    for k in range(4):
        for bit in range(8):
            tables[k] ^= np.where((byte >> bit) & 1, basis[8 * k + bit], np.uint32(0))
    return tables


def _crc32c_lanes(data: bytes) -> int:
    """CRC32C with numpy. Every lane runs the byte loop in lockstep, the
    first from the standard initial register and the rest from zero; then
    adjacent lanes fold pairwise, since crc(a + b) is crc(a) shifted over
    len(b) zero bytes XOR crc(b) started from zero. A zero lane prepended
    to an odd count stands for leading zero bytes, which leave a zero
    register unchanged. The bytes past the last whole lane finish on the
    byte loop."""
    lanes = len(data) // _CRC_LANE
    columns = (
        np.frombuffer(data, dtype=np.uint8, count=lanes * _CRC_LANE)
        .reshape(lanes, _CRC_LANE)
        .T.copy()
    )
    register = np.zeros(lanes, dtype=np.uint32)
    register[0] = 0xFFFFFFFF
    tab = _CRC32C_TABLE_NP
    for column in columns:
        register = tab[(register ^ column) & 0xFF] ^ (register >> 8)
    level = 0
    while len(register) > 1:
        if len(register) & 1:
            register = np.concatenate([np.zeros(1, dtype=np.uint32), register])
        register = _zero_shift(register[0::2], _zero_shift_tables(level)) ^ register[1::2]
        level += 1
    tail = memoryview(data)[lanes * _CRC_LANE :]
    return _crc32c_update(int(register[0]), tail) ^ 0xFFFFFFFF


def crc32c(data: bytes) -> int:
    """CRC32C of ``data``, by whichever path is cheaper at its length."""
    if len(data) < _CRC_VECTOR_MIN_BYTES:
        return crc32c_scalar(data)
    return _crc32c_lanes(data)


# ---------------------------------------------------------------------------
# Primitive encoders / decoders (big-endian, non-flexible)
# ---------------------------------------------------------------------------


class Writer:
    def __init__(self) -> None:
        self._buf = io.BytesIO()

    def bytes_value(self) -> bytes:
        return self._buf.getvalue()

    def i8(self, v: int) -> "Writer":
        self._buf.write(struct.pack(">b", v))
        return self

    def i16(self, v: int) -> "Writer":
        self._buf.write(struct.pack(">h", v))
        return self

    def i32(self, v: int) -> "Writer":
        self._buf.write(struct.pack(">i", v))
        return self

    def i64(self, v: int) -> "Writer":
        self._buf.write(struct.pack(">q", v))
        return self

    def u32(self, v: int) -> "Writer":
        self._buf.write(struct.pack(">I", v))
        return self

    def raw(self, data: bytes) -> "Writer":
        self._buf.write(data)
        return self

    def string(self, v: str | None) -> "Writer":
        if v is None:
            return self.i16(-1)
        raw = v.encode("utf-8")
        return self.i16(len(raw)).raw(raw)

    def nullable_bytes(self, v: bytes | None) -> "Writer":
        if v is None:
            return self.i32(-1)
        return self.i32(len(v)).raw(v)

    def array(self, items, write_item) -> "Writer":
        if items is None:
            return self.i32(-1)
        self.i32(len(items))
        for item in items:
            write_item(self, item)
        return self

    # --- record-batch varints (zigzag) ---

    def uvarint(self, v: int) -> "Writer":
        while (v & ~0x7F) != 0:
            self._buf.write(bytes(((v & 0x7F) | 0x80,)))
            v >>= 7
        self._buf.write(bytes((v,)))
        return self

    def varint(self, v: int) -> "Writer":
        return self.uvarint((v << 1) ^ (v >> 31) if v >= 0 else ((-v - 1) << 1) | 1)

    def varlong(self, v: int) -> "Writer":
        return self.uvarint((v << 1) ^ (v >> 63) if v >= 0 else ((-v - 1) << 1) | 1)


class Reader:
    def __init__(self, data: bytes) -> None:
        self._data = data
        self._pos = 0

    def remaining(self) -> int:
        return len(self._data) - self._pos

    def _take(self, n: int) -> bytes:
        if self._pos + n > len(self._data):
            raise EOFError("kafka_wire: truncated frame")
        out = self._data[self._pos : self._pos + n]
        self._pos += n
        return out

    def i8(self) -> int:
        return struct.unpack(">b", self._take(1))[0]

    def i16(self) -> int:
        return struct.unpack(">h", self._take(2))[0]

    def i32(self) -> int:
        return struct.unpack(">i", self._take(4))[0]

    def i64(self) -> int:
        return struct.unpack(">q", self._take(8))[0]

    def u32(self) -> int:
        return struct.unpack(">I", self._take(4))[0]

    def string(self) -> str | None:
        n = self.i16()
        if n < 0:
            return None
        return self._take(n).decode("utf-8")

    def nullable_bytes(self) -> bytes | None:
        n = self.i32()
        if n < 0:
            return None
        return self._take(n)

    def array(self, read_item) -> list | None:
        n = self.i32()
        if n < 0:
            return None
        return [read_item(self) for _ in range(n)]

    def uvarint(self) -> int:
        shift, result = 0, 0
        while True:
            b = self._take(1)[0]
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                return result
            shift += 7
            if shift > 63:
                raise ValueError("kafka_wire: varint too long")

    def varint(self) -> int:
        v = self.uvarint()
        return (v >> 1) ^ -(v & 1)

    varlong = varint


# ---------------------------------------------------------------------------
# Record batch v2 (magic 2)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class KafkaRecord:
    offset: int
    timestamp_ms: int
    key: bytes | None
    value: bytes | None
    headers: tuple[tuple[str, bytes | None], ...] = ()


def encode_record_batch(
    records: list[KafkaRecord], *, base_offset: int | None = None
) -> bytes:
    """Encode records (already carrying absolute offsets/timestamps) as ONE
    uncompressed magic-2 batch. ``base_offset`` defaults to the first
    record's offset; a producer encodes with base 0 and the broker re-stamps
    on append, exactly as real brokers do."""
    if not records:
        raise ValueError("empty record batch")
    base = records[0].offset if base_offset is None else base_offset
    base_ts = records[0].timestamp_ms
    max_ts = max(r.timestamp_ms for r in records)

    body = Writer()
    for rec in records:
        rw = Writer()
        rw.i8(0)  # record attributes
        rw.varlong(rec.timestamp_ms - base_ts)
        rw.varint(rec.offset - base)
        if rec.key is None:
            rw.varint(-1)
        else:
            rw.varint(len(rec.key)).raw(rec.key)
        if rec.value is None:
            rw.varint(-1)
        else:
            rw.varint(len(rec.value)).raw(rec.value)
        rw.varint(len(rec.headers))
        for hk, hv in rec.headers:
            hk_raw = hk.encode("utf-8")
            rw.varint(len(hk_raw)).raw(hk_raw)
            if hv is None:
                rw.varint(-1)
            else:
                rw.varint(len(hv)).raw(hv)
        encoded = rw.bytes_value()
        body.varint(len(encoded)).raw(encoded)

    # everything the CRC covers: attributes .. records
    crc_scope = (
        Writer()
        .i16(0)  # attributes: no compression, create-time
        .i32(records[-1].offset - base)  # lastOffsetDelta
        .i64(base_ts)
        .i64(max_ts)
        .i64(-1)  # producerId
        .i16(-1)  # producerEpoch
        .i32(-1)  # baseSequence
        .i32(len(records))
        .raw(body.bytes_value())
        .bytes_value()
    )
    after_length = (
        Writer()
        .i32(0)  # partitionLeaderEpoch
        .i8(2)  # magic
        .u32(crc32c(crc_scope))
        .raw(crc_scope)
        .bytes_value()
    )
    return (
        Writer().i64(base).i32(len(after_length)).raw(after_length).bytes_value()
    )


def decode_record_batches(data: bytes) -> list[KafkaRecord]:
    """Decode a record SET (zero or more concatenated batches), verifying
    each batch's CRC32C. Trailing partial batches (legal in Fetch responses
    when a broker truncates at max_bytes) are dropped."""
    out: list[KafkaRecord] = []
    r = Reader(data)
    while r.remaining() >= 12:
        base = r.i64()
        batch_len = r.i32()
        if r.remaining() < batch_len:
            break  # partial trailing batch
        br = Reader(r._take(batch_len))
        br.i32()  # partitionLeaderEpoch
        magic = br.i8()
        if magic != 2:
            raise ValueError(f"kafka_wire: unsupported magic {magic}")
        crc = br.u32()
        scope = br._data[br._pos :]
        if crc32c(scope) != crc:
            raise ValueError("kafka_wire: record batch CRC mismatch")
        attributes = br.i16()
        if attributes & 0x07:
            raise ValueError("kafka_wire: compressed batches unsupported")
        br.i32()  # lastOffsetDelta
        base_ts = br.i64()
        br.i64()  # maxTimestamp
        br.i64()  # producerId
        br.i16()  # producerEpoch
        br.i32()  # baseSequence
        count = br.i32()
        for _ in range(count):
            rec_len = br.varint()
            rr = Reader(br._take(rec_len))
            rr.i8()  # attributes
            ts_delta = rr.varlong()
            off_delta = rr.varint()
            klen = rr.varint()
            key = rr._take(klen) if klen >= 0 else None
            vlen = rr.varint()
            value = rr._take(vlen) if vlen >= 0 else None
            headers = []
            for _h in range(rr.varint()):
                hklen = rr.varint()
                hk = rr._take(hklen).decode("utf-8")
                hvlen = rr.varint()
                hv = rr._take(hvlen) if hvlen >= 0 else None
                headers.append((hk, hv))
            out.append(
                KafkaRecord(
                    offset=base + off_delta,
                    timestamp_ms=base_ts + ts_delta,
                    key=key,
                    value=value,
                    headers=tuple(headers),
                )
            )
    return out


# ---------------------------------------------------------------------------
# API keys / pinned versions
# ---------------------------------------------------------------------------

API_PRODUCE = 0
API_FETCH = 1
API_LIST_OFFSETS = 2
API_METADATA = 3
API_API_VERSIONS = 18

PINNED_VERSIONS = {
    API_PRODUCE: 3,
    API_FETCH: 4,
    API_LIST_OFFSETS: 1,
    API_METADATA: 1,
    API_API_VERSIONS: 0,
}

ERR_NONE = 0
ERR_OFFSET_OUT_OF_RANGE = 1
ERR_UNKNOWN_TOPIC_OR_PARTITION = 3
ERR_UNSUPPORTED_VERSION = 35

LATEST_TIMESTAMP = -1
EARLIEST_TIMESTAMP = -2


def encode_request(
    api_key: int, api_version: int, correlation_id: int, client_id: str, body: bytes
) -> bytes:
    """Size-framed request with a v1 (non-flexible) request header."""
    payload = (
        Writer()
        .i16(api_key)
        .i16(api_version)
        .i32(correlation_id)
        .string(client_id)
        .raw(body)
        .bytes_value()
    )
    return Writer().i32(len(payload)).raw(payload).bytes_value()


def read_frame(sock: socket.socket) -> bytes:
    header = _recv_exact(sock, 4)
    (size,) = struct.unpack(">i", header)
    if size < 0 or size > 128 * 1024 * 1024:
        raise ValueError(f"kafka_wire: bad frame size {size}")
    return _recv_exact(sock, size)


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    chunks = []
    got = 0
    while got < n:
        chunk = sock.recv(n - got)
        if not chunk:
            raise ConnectionError("kafka_wire: connection closed mid-frame")
        chunks.append(chunk)
        got += len(chunk)
    return b"".join(chunks)


# ---------------------------------------------------------------------------
# Typed response fragments
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class PartitionMeta:
    partition: int
    leader: int
    error: int = ERR_NONE


@dataclass(frozen=True)
class TopicMeta:
    name: str
    partitions: tuple[PartitionMeta, ...]
    error: int = ERR_NONE


@dataclass(frozen=True)
class FetchResult:
    error: int
    high_watermark: int
    records: list[KafkaRecord] = field(default_factory=list)


# ---------------------------------------------------------------------------
# Synchronous client
# ---------------------------------------------------------------------------


class KafkaWireClient:
    """One-connection, one-request-in-flight Kafka client over the pinned
    protocol subset. Mirrors what the reference's reader needs from
    kafka-go (kafka/consumer.go:224-261): resolve topic partitions, resolve
    earliest/latest offsets, fetch ranges — plus Produce for the test
    producer path. Thread-safe via a per-request lock."""

    def __init__(
        self, bootstrap: str, *, client_id: str = "roar-spark", timeout: float = 10.0
    ) -> None:
        host, _, port = bootstrap.rpartition(":")
        self._addr = (host or "localhost", int(port))
        self._client_id = client_id
        self._timeout = timeout
        self._sock: socket.socket | None = None
        self._correlation = 0
        self._lock = threading.Lock()

    # --- lifecycle ---

    def _ensure(self) -> socket.socket:
        if self._sock is None:
            sock = socket.create_connection(self._addr, timeout=self._timeout)
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            self._sock = sock
        return self._sock

    def close(self) -> None:
        with self._lock:
            if self._sock is not None:
                try:
                    self._sock.close()
                finally:
                    self._sock = None

    def __enter__(self) -> "KafkaWireClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _call(self, api_key: int, body: bytes) -> Reader:
        with self._lock:
            self._correlation += 1
            corr = self._correlation
            sock = self._ensure()
            sock.sendall(
                encode_request(
                    api_key, PINNED_VERSIONS[api_key], corr, self._client_id, body
                )
            )
            frame = read_frame(sock)
        r = Reader(frame)
        got_corr = r.i32()
        if got_corr != corr:
            raise ValueError(
                f"kafka_wire: correlation mismatch (sent {corr}, got {got_corr})"
            )
        return r

    # --- APIs ---

    def api_versions(self) -> dict[int, tuple[int, int]]:
        r = self._call(API_API_VERSIONS, b"")
        error = r.i16()
        if error:
            raise RuntimeError(f"ApiVersions error {error}")
        out = {}
        for _ in range(r.i32()):
            key, lo, hi = r.i16(), r.i16(), r.i16()
            out[key] = (lo, hi)
        return out

    def metadata(self, topics: list[str] | None = None) -> dict[str, TopicMeta]:
        body = Writer().array(topics, lambda w, t: w.string(t)).bytes_value()
        r = self._call(API_METADATA, body)
        for _ in range(r.i32()):  # brokers
            r.i32()
            r.string()
            r.i32()
            r.string()  # rack
        r.i32()  # controller id
        out: dict[str, TopicMeta] = {}
        for _ in range(r.i32()):
            terr = r.i16()
            name = r.string() or ""
            r.i8()  # is_internal
            parts = []
            for _p in range(r.i32()):
                perr = r.i16()
                idx = r.i32()
                leader = r.i32()
                for _x in range(r.i32()):
                    r.i32()  # replicas
                for _x in range(r.i32()):
                    r.i32()  # isr
                parts.append(PartitionMeta(partition=idx, leader=leader, error=perr))
            out[name] = TopicMeta(
                name=name,
                partitions=tuple(sorted(parts, key=lambda p: p.partition)),
                error=terr,
            )
        return out

    def list_offsets(
        self, requests: dict[tuple[str, int], int]
    ) -> dict[tuple[str, int], int]:
        """{(topic, partition): timestamp} → {(topic, partition): offset}.
        Timestamp -1 = latest (the log-end offset), -2 = earliest."""
        by_topic: dict[str, list[tuple[int, int]]] = {}
        for (topic, part), ts in requests.items():
            by_topic.setdefault(topic, []).append((part, ts))
        w = Writer().i32(-1)  # replica_id
        w.array(
            sorted(by_topic.items()),
            lambda wr, item: wr.string(item[0]).array(
                item[1], lambda wr2, pt: wr2.i32(pt[0]).i64(pt[1])
            ),
        )
        r = self._call(API_LIST_OFFSETS, w.bytes_value())
        out: dict[tuple[str, int], int] = {}
        for _ in range(r.i32()):
            topic = r.string() or ""
            for _p in range(r.i32()):
                part = r.i32()
                err = r.i16()
                r.i64()  # timestamp
                offset = r.i64()
                if err:
                    raise RuntimeError(
                        f"ListOffsets error {err} for {topic}/{part}"
                    )
                out[(topic, part)] = offset
        return out

    def produce(
        self,
        topic: str,
        partition: int,
        records: list[KafkaRecord],
        *,
        acks: int = -1,
        timeout_ms: int = 10_000,
    ) -> int:
        """Append one uncompressed batch; returns the assigned base offset."""
        record_set = encode_record_batch(records, base_offset=0)
        w = Writer().string(None).i16(acks).i32(timeout_ms)
        w.array(
            [(topic, [(partition, record_set)])],
            lambda wr, t: wr.string(t[0]).array(
                t[1], lambda wr2, p: wr2.i32(p[0]).nullable_bytes(p[1])
            ),
        )
        r = self._call(API_PRODUCE, w.bytes_value())
        base_offset = -1
        for _ in range(r.i32()):
            r.string()  # topic
            for _p in range(r.i32()):
                r.i32()  # partition
                err = r.i16()
                base_offset = r.i64()
                r.i64()  # log_append_time
                if err:
                    raise RuntimeError(f"Produce error {err} for {topic}/{partition}")
        r.i32()  # throttle
        return base_offset

    def fetch(
        self,
        topic: str,
        partition: int,
        offset: int,
        *,
        max_wait_ms: int = 100,
        min_bytes: int = 1,
        max_bytes: int = 10_000_000,
        partition_max_bytes: int = 1_048_576,
    ) -> FetchResult:
        w = (
            Writer()
            .i32(-1)  # replica_id
            .i32(max_wait_ms)
            .i32(min_bytes)
            .i32(max_bytes)
            .i8(0)  # isolation_level: read_uncommitted
        )
        w.array(
            [(topic, [(partition, offset, partition_max_bytes)])],
            lambda wr, t: wr.string(t[0]).array(
                t[1], lambda wr2, p: wr2.i32(p[0]).i64(p[1]).i32(p[2])
            ),
        )
        r = self._call(API_FETCH, w.bytes_value())
        r.i32()  # throttle
        result = FetchResult(error=ERR_NONE, high_watermark=-1)
        for _ in range(r.i32()):
            r.string()  # topic
            for _p in range(r.i32()):
                r.i32()  # partition
                err = r.i16()
                hwm = r.i64()
                r.i64()  # last_stable_offset
                aborted = r.i32()
                for _a in range(max(aborted, 0)):
                    r.i64()
                    r.i64()
                record_set = r.nullable_bytes() or b""
                result = FetchResult(
                    error=err,
                    high_watermark=hwm,
                    records=decode_record_batches(record_set),
                )
        return result
