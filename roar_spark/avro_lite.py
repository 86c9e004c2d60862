"""From-scratch Avro binary codec + schema-registry framing (extension).

Completes the reference's dead schema-registry path: roar stores
``--schema-registry`` (kafka/consumer.go:103) but never reads it — payload
decode is a TODO at kafka/consumer.go:660-661. This module implements the
missing leg from public specifications only:

- Avro single-object binary encoding per the Apache Avro 1.12 spec
  (zigzag varint int/long, LE float/double, length-prefixed bytes/string,
  block-encoded array/map incl. the negative-count + byte-size form,
  union index prefix, record field order, enum index, fixed width;
  logical types date / timestamp-millis / timestamp-micros);
- the public Confluent wire framing (magic 0x00 + big-endian int32
  schema id + Avro body);
- an in-memory schema registry with the id/subject/latest surface the
  converter needs (swap a real registry client in on a cluster — the
  decode path only needs ``schemas_by_id``);
- Avro schema → Spark StructType mapping, and a writer→reader projection
  (missing reader fields filled from defaults, unknown writer fields
  dropped, int→long / float→double promotions) so topics can evolve.

Like ``proto_lite`` (the proto3 codec), this is deliberately from
scratch: Spark's distribution leaves out the spark-avro connector jar,
and no Python avro package is required. The decoder is plain Python
driven row-at-a-time INSIDE an Arrow-batched ``mapInPandas`` kernel
(streaming/avro.py) — the same slow-lane posture as every payload-decode
stage here: bounded by source ingest rate, never on a relational hot
path.
"""

from __future__ import annotations

import datetime as _dt
import io
import json
import struct
from dataclasses import dataclass, field

from pyspark.sql import types as T

_PRIMITIVES = {
    "null", "boolean", "int", "long", "float", "double", "bytes", "string"
}

_EPOCH_DATE = _dt.date(1970, 1, 1)
_UTC = _dt.timezone.utc


# ---------------------------------------------------------------------------
# Schema model
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class AvroSchema:
    """Parsed schema node. ``kind`` is a primitive name or one of
    record/enum/array/map/union/fixed; ``logical`` carries the supported
    logical types (date, timestamp-millis, timestamp-micros)."""

    kind: str
    name: str | None = None
    fields: tuple = ()  # record: tuple[(name, AvroSchema, has_default, default)]
    symbols: tuple = ()  # enum
    items: "AvroSchema | None" = None  # array
    values: "AvroSchema | None" = None  # map
    branches: tuple = ()  # union
    size: int = 0  # fixed
    logical: str | None = None

    @property
    def is_nullable_union(self) -> bool:
        return (
            self.kind == "union"
            and len(self.branches) == 2
            and any(b.kind == "null" for b in self.branches)
        )

    def non_null(self) -> "AvroSchema":
        assert self.is_nullable_union
        return next(b for b in self.branches if b.kind != "null")


def parse_schema(schema: str | dict | list) -> AvroSchema:
    """Parse an Avro schema (JSON text or already-loaded structure)."""
    if isinstance(schema, str):
        schema = json.loads(schema)
    return _parse(schema, {})


def _parse(node, named: dict[str, AvroSchema]) -> AvroSchema:
    if isinstance(node, str):
        if node in _PRIMITIVES:
            return AvroSchema(kind=node)
        if node in named:
            return named[node]
        raise ValueError(f"avro_lite: unknown type reference {node!r}")
    if isinstance(node, list):
        return AvroSchema(
            kind="union", branches=tuple(_parse(b, named) for b in node)
        )
    if not isinstance(node, dict):
        raise ValueError(f"avro_lite: bad schema node {node!r}")

    kind = node["type"]
    logical = node.get("logicalType")
    if logical not in (None, "date", "timestamp-millis", "timestamp-micros"):
        logical = None  # unsupported logical types fall back to base type
    if kind in _PRIMITIVES:
        return AvroSchema(kind=kind, logical=logical)
    if kind == "record":
        name = node.get("name")
        # publish the node BEFORE parsing fields so self-references resolve
        # to this same instance, then close the cycle by filling fields in
        # place (object.__setattr__ is the sanctioned escape hatch on a
        # frozen dataclass — a replacement instance would leave recursive
        # branches pointing at an empty placeholder)
        rec = AvroSchema(kind="record", name=name, fields=())
        if name:
            named[name] = rec
        fields = tuple(
            (f["name"], _parse(f["type"], named), "default" in f, f.get("default"))
            for f in node.get("fields", [])
        )
        object.__setattr__(rec, "fields", fields)
        return rec
    if kind == "enum":
        sch = AvroSchema(
            kind="enum", name=node.get("name"), symbols=tuple(node["symbols"])
        )
        if sch.name:
            named[sch.name] = sch
        return sch
    if kind == "array":
        return AvroSchema(kind="array", items=_parse(node["items"], named))
    if kind == "map":
        return AvroSchema(kind="map", values=_parse(node["values"], named))
    if kind == "fixed":
        sch = AvroSchema(kind="fixed", name=node.get("name"), size=int(node["size"]))
        if sch.name:
            named[sch.name] = sch
        return sch
    raise ValueError(f"avro_lite: unsupported type {kind!r}")


# ---------------------------------------------------------------------------
# Binary decode / encode
# ---------------------------------------------------------------------------


class _Cursor:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.data):
            raise EOFError("avro_lite: truncated payload")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def varint(self) -> int:
        shift, acc = 0, 0
        while True:
            b = self.take(1)[0]
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                return (acc >> 1) ^ -(acc & 1)  # zigzag
            shift += 7
            if shift > 70:
                raise ValueError("avro_lite: varint too long")


def _apply_logical(value: int, logical: str | None):
    if logical == "date":
        return _EPOCH_DATE + _dt.timedelta(days=value)
    if logical == "timestamp-millis":
        return _dt.datetime.fromtimestamp(value / 1000.0, tz=_UTC)
    if logical == "timestamp-micros":
        return _dt.datetime.fromtimestamp(value / 1_000_000.0, tz=_UTC)
    return value


def _decode(cur: _Cursor, sch: AvroSchema):
    kind = sch.kind
    if kind == "null":
        return None
    if kind == "boolean":
        return cur.take(1)[0] == 1
    if kind in ("int", "long"):
        return _apply_logical(cur.varint(), sch.logical)
    if kind == "float":
        return struct.unpack("<f", cur.take(4))[0]
    if kind == "double":
        return struct.unpack("<d", cur.take(8))[0]
    if kind == "bytes":
        return cur.take(cur.varint())
    if kind == "string":
        return cur.take(cur.varint()).decode("utf-8")
    if kind == "record":
        return {name: _decode(cur, fsch) for name, fsch, _, _ in sch.fields}
    if kind == "enum":
        return sch.symbols[cur.varint()]
    if kind == "fixed":
        return cur.take(sch.size)
    if kind == "union":
        return _decode(cur, sch.branches[cur.varint()])
    if kind == "array":
        out = []
        while True:
            count = cur.varint()
            if count == 0:
                return out
            if count < 0:  # block byte-size follows (skippable form)
                cur.varint()
                count = -count
            for _ in range(count):
                out.append(_decode(cur, sch.items))
    if kind == "map":
        out = {}
        while True:
            count = cur.varint()
            if count == 0:
                return out
            if count < 0:
                cur.varint()
                count = -count
            for _ in range(count):
                key = cur.take(cur.varint()).decode("utf-8")
                out[key] = _decode(cur, sch.values)
    raise ValueError(f"avro_lite: cannot decode kind {kind!r}")


def decode(payload: bytes, schema: AvroSchema):
    cur = _Cursor(payload)
    value = _decode(cur, schema)
    if cur.pos != len(payload):
        raise ValueError(
            f"avro_lite: {len(payload) - cur.pos} trailing bytes after decode"
        )
    return value


def _zigzag(buf: io.BytesIO, v: int) -> None:
    v = (v << 1) ^ (v >> 63) if v >= 0 else ((-v - 1) << 1) | 1
    while (v & ~0x7F) != 0:
        buf.write(bytes(((v & 0x7F) | 0x80,)))
        v >>= 7
    buf.write(bytes((v,)))


def _unapply_logical(value, logical: str | None) -> int:
    if logical == "date":
        return (value - _EPOCH_DATE).days
    if logical == "timestamp-millis":
        return int(value.timestamp() * 1000)
    if logical == "timestamp-micros":
        return int(value.timestamp() * 1_000_000)
    return value


def _encode(buf: io.BytesIO, sch: AvroSchema, value) -> None:
    kind = sch.kind
    if kind == "null":
        return
    if kind == "boolean":
        buf.write(b"\x01" if value else b"\x00")
    elif kind in ("int", "long"):
        _zigzag(buf, _unapply_logical(value, sch.logical))
    elif kind == "float":
        buf.write(struct.pack("<f", value))
    elif kind == "double":
        buf.write(struct.pack("<d", value))
    elif kind == "bytes" or kind == "fixed":
        if kind == "bytes":
            _zigzag(buf, len(value))
        elif len(value) != sch.size:
            raise ValueError("avro_lite: fixed size mismatch")
        buf.write(value)
    elif kind == "string":
        raw = value.encode("utf-8")
        _zigzag(buf, len(raw))
        buf.write(raw)
    elif kind == "record":
        for name, fsch, has_default, default in sch.fields:
            if name in value:
                fval = value[name]
            elif has_default:
                fval = _default_value(fsch, default)
            else:
                raise ValueError(f"avro_lite: missing field {name!r}")
            _encode(buf, fsch, fval)
    elif kind == "enum":
        _zigzag(buf, sch.symbols.index(value))
    elif kind == "union":
        idx = _pick_branch(sch, value)
        _zigzag(buf, idx)
        _encode(buf, sch.branches[idx], value)
    elif kind == "array":
        if value:
            _zigzag(buf, len(value))
            for item in value:
                _encode(buf, sch.items, item)
        _zigzag(buf, 0)
    elif kind == "map":
        if value:
            _zigzag(buf, len(value))
            for k, v in value.items():
                raw = k.encode("utf-8")
                _zigzag(buf, len(raw))
                buf.write(raw)
                _encode(buf, sch.values, v)
        _zigzag(buf, 0)
    else:
        raise ValueError(f"avro_lite: cannot encode kind {kind!r}")


def _pick_branch(union: AvroSchema, value) -> int:
    for i, b in enumerate(union.branches):
        if value is None and b.kind == "null":
            return i
        if value is not None and b.kind != "null":
            return i
    raise ValueError("avro_lite: no union branch for value")


def encode(value, schema: AvroSchema) -> bytes:
    buf = io.BytesIO()
    _encode(buf, schema, value)
    return buf.getvalue()


def _default_value(sch: AvroSchema, default):
    """JSON default → runtime value (per spec: a union's default uses the
    FIRST branch's type; bytes defaults are latin-1 strings)."""
    target = sch.branches[0] if sch.kind == "union" else sch
    if target.kind == "null":
        return None
    if target.kind in ("bytes", "fixed") and isinstance(default, str):
        return default.encode("latin-1")
    if target.logical is not None and isinstance(default, int):
        return _apply_logical(default, target.logical)
    return default


# ---------------------------------------------------------------------------
# Writer → reader projection (practical evolution subset)
# ---------------------------------------------------------------------------

_PROMOTIONS = {("int", "long"), ("int", "double"), ("long", "double"),
               ("float", "double"), ("int", "float"), ("long", "float")}


def project_to_reader(record: dict, writer: AvroSchema, reader: AvroSchema) -> dict:
    """Project a decoded writer record onto the reader schema by field
    name: unknown writer fields are dropped, missing reader fields take
    their default (error if none), numeric promotions applied. Nested
    records project recursively; everything else passes through."""
    out = {}
    writer_fields = {name: fsch for name, fsch, _, _ in writer.fields}
    for name, rsch, has_default, default in reader.fields:
        if name in record:
            out[name] = _coerce(record[name], writer_fields.get(name), rsch)
        elif has_default:
            out[name] = _default_value(rsch, default)
        else:
            raise ValueError(
                f"avro_lite: reader field {name!r} missing and has no default"
            )
    return out


def _coerce(value, wsch: AvroSchema | None, rsch: AvroSchema):
    if value is None or wsch is None:
        return value
    w = wsch.non_null() if wsch.is_nullable_union else wsch
    r = rsch.non_null() if rsch.is_nullable_union else rsch
    if w.kind == "record" and r.kind == "record":
        return project_to_reader(value, w, r)
    if (w.kind, r.kind) in _PROMOTIONS:
        return float(value) if r.kind in ("float", "double") else int(value)
    return value


# ---------------------------------------------------------------------------
# Avro → Spark schema
# ---------------------------------------------------------------------------


def to_spark_type(sch: AvroSchema) -> T.DataType:
    if sch.is_nullable_union:
        return to_spark_type(sch.non_null())
    kind = sch.kind
    if kind == "union":
        raise ValueError("avro_lite: only [null, T] unions map to Spark")
    if sch.logical == "date":
        return T.DateType()
    if sch.logical in ("timestamp-millis", "timestamp-micros"):
        return T.TimestampType()
    simple = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "bytes": T.BinaryType(),
        "string": T.StringType(),
        "enum": T.StringType(),
        "fixed": T.BinaryType(),
        "null": T.NullType(),
    }
    if kind in simple:
        return simple[kind]
    if kind == "record":
        return T.StructType(
            [
                T.StructField(name, to_spark_type(fsch), True)
                for name, fsch, _, _ in sch.fields
            ]
        )
    if kind == "array":
        return T.ArrayType(to_spark_type(sch.items), True)
    if kind == "map":
        return T.MapType(T.StringType(), to_spark_type(sch.values), True)
    raise ValueError(f"avro_lite: no Spark mapping for {kind!r}")


def record_struct(sch: AvroSchema) -> T.StructType:
    if sch.kind != "record":
        raise ValueError("avro_lite: top-level schema must be a record")
    out = to_spark_type(sch)
    assert isinstance(out, T.StructType)
    return out


# ---------------------------------------------------------------------------
# Confluent wire framing + registry
# ---------------------------------------------------------------------------

WIRE_MAGIC = 0


def frame(schema_id: int, body: bytes) -> bytes:
    """magic 0x00 + big-endian int32 schema id + Avro binary body."""
    return struct.pack(">bi", WIRE_MAGIC, schema_id) + body


def unframe(payload: bytes) -> tuple[int, bytes]:
    if len(payload) < 5 or payload[0] != WIRE_MAGIC:
        raise ValueError("avro_lite: not a schema-registry framed payload")
    (schema_id,) = struct.unpack(">i", payload[1:5])
    return schema_id, payload[5:]


@dataclass
class SchemaRegistryLite:
    """In-memory stand-in for the registry the reference's
    ``--schema-registry`` flag points at (never used there; see module
    docstring). Ids are global and monotonically assigned, versions are
    per-subject — the subset of the public registry semantics the decode
    path needs. ``schemas_by_id`` is the only thing the converter consumes,
    so a real registry client slots in by providing the same dict."""

    _subjects: dict[str, list[int]] = field(default_factory=dict)
    _by_id: dict[int, AvroSchema] = field(default_factory=dict)
    _raw_by_id: dict[int, str] = field(default_factory=dict)
    _type_by_id: dict[int, str] = field(default_factory=dict)
    _next_id: int = 1

    def register(
        self, subject: str, schema: str | dict, schema_type: str = "AVRO"
    ) -> int:
        if schema_type == "AVRO":
            raw = schema if isinstance(schema, str) else json.dumps(schema)
            parsed = parse_schema(raw)
        elif schema_type == "PROTOBUF":
            from roar_spark.proto_lite import parse_proto  # avoid import cycle

            raw = schema
            parsed = parse_proto(raw)
        else:
            raise ValueError(f"unsupported schemaType {schema_type!r}")
        for sid in self._subjects.get(subject, []):
            if self._raw_by_id[sid] == raw:
                return sid  # idempotent re-register, like the real thing
        sid = self._next_id
        self._next_id += 1
        self._by_id[sid] = parsed
        self._raw_by_id[sid] = raw
        self._type_by_id[sid] = schema_type
        self._subjects.setdefault(subject, []).append(sid)
        return sid

    def type_of(self, schema_id: int) -> str:
        return self._type_by_id.get(schema_id, "AVRO")

    def by_id(self, schema_id: int) -> AvroSchema:
        return self._by_id[schema_id]

    def latest(self, subject: str) -> tuple[int, AvroSchema]:
        sid = self._subjects[subject][-1]
        return sid, self._by_id[sid]

    def schemas_by_id(self) -> dict[int, AvroSchema]:
        return dict(self._by_id)
