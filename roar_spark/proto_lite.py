"""From-scratch proto3 payload codec + .proto text parser (extension).

The protobuf half of the reference's dead schema-registry TODO
(kafka/consumer.go:660-661 names Avro; Confluent registries serve Avro,
Protobuf and JSON-Schema — a registry-aware gateway needs the pair).
Built from public specifications only:

- a parser for the .proto text subset a registry stores for event
  payloads: ``syntax = "proto3"``, ``package``, nested ``message``,
  ``enum``, ``oneof`` (decode-equivalent to optional fields), scalar /
  repeated fields, comments, ``option``/``reserved`` lines skipped;
  NOT supported (raise): imports, maps, services, extensions, groups;
- the proto3 wire format: varint (two's-complement 64-bit negatives),
  zigzag sint32/sint64, fixed32/float/sfixed32, fixed64/double/sfixed64,
  length-delimited string/bytes/nested message, repeated fields both
  expanded and PACKED (proto3 default for scalars on encode; both
  accepted on decode), unknown fields skipped by wire type;
- the public Confluent protobuf framing: magic 0x00 + int32 schema id +
  a zigzag-varint message-indexes path selecting the root message within
  the schema file (the common single-first-message case is the one-byte
  0x00 form);
- proto message → Spark StructType mapping.

The repo's one proto3 codec. It is schema-driven (no generated classes
and no protobuf runtime), the exact analog of ``avro_lite``.
"""

from __future__ import annotations

import io
import re
import struct
from dataclasses import dataclass

from pyspark.sql import types as T

_MASK64 = (1 << 64) - 1

WT_VARINT = 0
WT_FIXED64 = 1
WT_LEN = 2
WT_FIXED32 = 5

_SCALARS = {
    "double", "float", "int32", "int64", "uint32", "uint64", "sint32",
    "sint64", "fixed32", "fixed64", "sfixed32", "sfixed64", "bool",
    "string", "bytes",
}
_VARINT_TYPES = {"int32", "int64", "uint32", "uint64", "bool", "sint32", "sint64"}
_FIXED32_TYPES = {"fixed32", "sfixed32", "float"}
_FIXED64_TYPES = {"fixed64", "sfixed64", "double"}
_PACKABLE = _VARINT_TYPES | _FIXED32_TYPES | _FIXED64_TYPES


# ---------------------------------------------------------------------------
# Schema model + .proto text parser
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ProtoField:
    name: str
    number: int
    type: str  # scalar name, or "message"/"enum"
    repeated: bool = False
    type_name: str | None = None  # fullname for message/enum


@dataclass(frozen=True)
class ProtoMessage:
    fullname: str
    fields: tuple[ProtoField, ...]


@dataclass(frozen=True)
class ProtoEnum:
    fullname: str
    values: tuple[tuple[str, int], ...]  # (name, number)

    def name_of(self, number: int) -> str:
        for name, num in self.values:
            if num == number:
                return name
        return str(number)  # open enums: unknown numbers pass through


@dataclass(frozen=True)
class ProtoFile:
    package: str
    messages: tuple[str, ...]  # top-level fullnames, declaration order
    types: dict  # fullname -> ProtoMessage | ProtoEnum

    def root(self, message_indexes: list[int]) -> ProtoMessage:
        """Resolve the Confluent message-indexes path. Only top-level
        paths are supported (nested paths need declaration-order walks of
        nested messages — raise loudly rather than guess)."""
        if len(message_indexes) != 1:
            raise ValueError(
                f"proto_lite: nested message-index path {message_indexes} unsupported"
            )
        return self.types[self.messages[message_indexes[0]]]


_TOKEN = re.compile(
    r'"(?:[^"\\]|\\.)*"|[A-Za-z_][A-Za-z0-9_.]*|-?\d+|[{}=;<>,]|\S'
)


def _tokenize(text: str) -> list[str]:
    text = re.sub(r"//[^\n]*", " ", text)
    text = re.sub(r"/\*.*?\*/", " ", text, flags=re.S)
    return _TOKEN.findall(text)


class _Tok:
    def __init__(self, tokens: list[str]) -> None:
        self.toks = tokens
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        tok = self.peek()
        if tok is None:
            raise ValueError("proto_lite: unexpected end of schema")
        self.i += 1
        return tok

    def expect(self, want: str) -> None:
        got = self.next()
        if got != want:
            raise ValueError(f"proto_lite: expected {want!r}, got {got!r}")

    def skip_statement(self) -> None:
        """Consume through the next ';' (or a balanced '{...}' block)."""
        depth = 0
        while True:
            tok = self.next()
            if tok == "{":
                depth += 1
            elif tok == "}":
                depth -= 1
                if depth == 0:
                    return
            elif tok == ";" and depth == 0:
                return


def parse_proto(text: str) -> ProtoFile:
    toks = _Tok(_tokenize(text))
    package = ""
    types: dict = {}
    top: list[str] = []

    def parse_enum(scope: str) -> None:
        name = toks.next()
        full = f"{scope}.{name}" if scope else name
        toks.expect("{")
        values = []
        while toks.peek() != "}":
            tok = toks.next()
            if tok in ("option", "reserved"):
                toks.skip_statement()
                continue
            toks.expect("=")
            values.append((tok, int(toks.next())))
            toks.expect(";")
        toks.expect("}")
        types[full] = ProtoEnum(fullname=full, values=tuple(values))

    def parse_message(scope: str) -> str:
        name = toks.next()
        full = f"{scope}.{name}" if scope else name
        toks.expect("{")
        fields: list[ProtoField] = []

        def parse_field(repeated: bool) -> None:
            ftype = toks.next()
            fname = toks.next()
            toks.expect("=")
            number = int(toks.next())
            # drop any [field options]
            if toks.peek() == "[":
                while toks.next() != "]":
                    pass
            toks.expect(";")
            if ftype in _SCALARS:
                fields.append(ProtoField(fname, number, ftype, repeated))
            else:
                fields.append(
                    ProtoField(
                        fname, number, "ref", repeated,
                        type_name=_resolve_name(ftype, full),
                    )
                )

        while toks.peek() != "}":
            tok = toks.next()
            if tok == ";":
                continue
            if tok in ("option", "reserved"):
                toks.skip_statement()
            elif tok == "message":
                parse_message(full)
            elif tok == "enum":
                parse_enum(full)
            elif tok == "map":
                raise ValueError("proto_lite: map fields unsupported")
            elif tok == "oneof":
                toks.next()  # oneof name
                toks.expect("{")
                while toks.peek() != "}":
                    if toks.peek() in ("option",):
                        toks.next()
                        toks.skip_statement()
                    else:
                        parse_field(repeated=False)
                toks.expect("}")
            elif tok == "repeated":
                parse_field(repeated=True)
            elif tok == "optional":
                parse_field(repeated=False)
            else:
                toks.i -= 1  # plain field: tok was its type
                parse_field(repeated=False)
        toks.expect("}")
        types[full] = ProtoMessage(fullname=full, fields=tuple(fields))
        return full

    def _resolve_name(name: str, scope: str) -> str:
        # late binding: store as written plus the scope for lookup time
        return f"{scope}|{name}"

    while toks.peek() is not None:
        tok = toks.next()
        if tok == "syntax":
            toks.expect("=")
            val = toks.next()
            toks.expect(";")
            if val.strip('"') != "proto3":
                raise ValueError("proto_lite: only proto3 is supported")
        elif tok == "package":
            package = toks.next()
            toks.expect(";")
        elif tok == "option":
            toks.skip_statement()
        elif tok == "import":
            raise ValueError("proto_lite: imports unsupported")
        elif tok == "message":
            top.append(parse_message(package))
        elif tok == "enum":
            parse_enum(package)
        elif tok == ";":
            continue
        else:
            raise ValueError(f"proto_lite: unexpected top-level token {tok!r}")

    # resolve deferred type references (C++-style scope walk: innermost out)
    def resolve(ref: str) -> str:
        scope, name = ref.split("|", 1)
        parts = scope.split(".") if scope else []
        for depth in range(len(parts), -1, -1):
            candidate = ".".join(parts[:depth] + [name])
            if candidate in types:
                return candidate
        if name in types:
            return name
        raise ValueError(f"proto_lite: unresolved type {name!r} in scope {scope!r}")

    for full, t in list(types.items()):
        if isinstance(t, ProtoMessage):
            fixed = []
            for f in t.fields:
                if f.type == "ref":
                    target = resolve(f.type_name)
                    kind = (
                        "message" if isinstance(types[target], ProtoMessage) else "enum"
                    )
                    fixed.append(
                        ProtoField(f.name, f.number, kind, f.repeated, target)
                    )
                else:
                    fixed.append(f)
            types[full] = ProtoMessage(fullname=full, fields=tuple(fixed))

    return ProtoFile(package=package, messages=tuple(top), types=types)


# ---------------------------------------------------------------------------
# Wire decode
# ---------------------------------------------------------------------------


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    result, shift = 0, 0
    while True:
        if pos >= len(data):
            raise ValueError("proto_lite: truncated varint")
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result & _MASK64, pos
        shift += 7
        if shift > 70:
            raise ValueError("proto_lite: varint too long")


def _from_varint(raw: int, ftype: str):
    if ftype == "bool":
        return raw != 0
    if ftype in ("sint32", "sint64"):
        return (raw >> 1) ^ -(raw & 1)
    if ftype in ("int32", "int64", "enum"):
        return raw - (1 << 64) if raw >= (1 << 63) else raw
    if ftype == "uint64":
        # Spark has no unsigned 64: wrap into the signed long like the JVM
        # protobuf connector's 'long' mode (documented in _SPARK_SCALARS)
        return raw - (1 << 64) if raw >= (1 << 63) else raw
    return raw  # uint32


def _from_fixed32(chunk: bytes, ftype: str):
    if ftype == "float":
        return struct.unpack("<f", chunk)[0]
    if ftype == "sfixed32":
        return struct.unpack("<i", chunk)[0]
    return struct.unpack("<I", chunk)[0]


def _from_fixed64(chunk: bytes, ftype: str):
    if ftype == "double":
        return struct.unpack("<d", chunk)[0]
    # sfixed64 is signed by definition; fixed64 ≥ 2^63 wraps into the
    # signed long (see the uint64 note in _SPARK_SCALARS) — one unpack
    return struct.unpack("<q", chunk)[0]


def _default(f: ProtoField, types: dict):
    if f.repeated:
        return []
    if f.type in ("string",):
        return ""
    if f.type == "bytes":
        return b""
    if f.type == "bool":
        return False
    if f.type in ("float", "double"):
        return 0.0
    if f.type == "message":
        return None
    if f.type == "enum":
        return types[f.type_name].name_of(0)
    return 0


def decode(data: bytes, message: ProtoMessage, types: dict) -> dict:
    """Wire bytes → dict with proto3 implicit-presence defaults: every
    schema field is present in the output (absent scalars take their zero
    value, absent sub-messages are None) so rows are column-stable."""
    out: dict = {}
    by_number = {f.number: f for f in message.fields}
    pos = 0
    while pos < len(data):
        tag, pos = _read_varint(data, pos)
        number, wt = tag >> 3, tag & 0x07
        f = by_number.get(number)
        if f is None:
            pos = _skip(data, pos, wt)
            continue
        if f.type in _VARINT_TYPES or f.type == "enum":
            if wt == WT_LEN and f.repeated:  # packed
                size, pos = _read_varint(data, pos)
                end = pos + size
                vals = out.setdefault(f.name, [])
                while pos < end:
                    raw, pos = _read_varint(data, pos)
                    vals.append(_post_enum(_from_varint(raw, f.type), f, types))
                continue
            raw, pos = _read_varint(data, pos)
            value = _post_enum(_from_varint(raw, f.type), f, types)
        elif f.type in _FIXED32_TYPES or f.type in _FIXED64_TYPES:
            width = 4 if f.type in _FIXED32_TYPES else 8
            reader = _from_fixed32 if width == 4 else _from_fixed64
            if wt == WT_LEN and f.repeated:  # packed
                size, pos = _read_varint(data, pos)
                end = pos + size
                vals = out.setdefault(f.name, [])
                while pos < end:
                    vals.append(reader(data[pos : pos + width], f.type))
                    pos += width
                continue
            value = reader(data[pos : pos + width], f.type)
            pos += width
        elif f.type in ("string", "bytes", "message"):
            size, pos = _read_varint(data, pos)
            chunk = data[pos : pos + size]
            if len(chunk) != size:
                raise ValueError("proto_lite: truncated length-delimited field")
            pos += size
            if f.type == "string":
                value = chunk.decode("utf-8")
            elif f.type == "bytes":
                value = bytes(chunk)
            else:
                value = decode(chunk, types[f.type_name], types)
        else:
            raise ValueError(f"proto_lite: cannot decode field type {f.type!r}")
        if f.repeated:
            out.setdefault(f.name, []).append(value)
        else:
            out[f.name] = value
    for f in message.fields:
        out.setdefault(f.name, _default(f, types))
    return out


def _post_enum(value, f: ProtoField, types: dict):
    if f.type == "enum":
        return types[f.type_name].name_of(int(value))
    return value


def _skip(data: bytes, pos: int, wt: int) -> int:
    if wt == WT_VARINT:
        _, pos = _read_varint(data, pos)
        return pos
    if wt == WT_FIXED64:
        return pos + 8
    if wt == WT_FIXED32:
        return pos + 4
    if wt == WT_LEN:
        size, pos = _read_varint(data, pos)
        return pos + size
    raise ValueError(f"proto_lite: cannot skip wire type {wt}")


# ---------------------------------------------------------------------------
# Wire encode (tests / producer helpers)
# ---------------------------------------------------------------------------


def _write_varint(buf: bytearray, value: int) -> None:
    value &= _MASK64
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _to_varint(value, ftype: str) -> int:
    if ftype == "bool":
        return 1 if value else 0
    if ftype in ("sint32", "sint64"):
        return (value << 1) ^ (value >> 63) if value >= 0 else ((-value - 1) << 1) | 1
    return value  # int/uint: masked in _write_varint


def _scalar_bytes(value, ftype: str) -> bytes:
    if ftype == "fixed32":
        return struct.pack("<I", value & 0xFFFFFFFF)
    if ftype == "fixed64":
        return struct.pack("<Q", value & _MASK64)  # accepts wrapped longs
    fmt = {"float": "<f", "sfixed32": "<i", "double": "<d", "sfixed64": "<q"}[ftype]
    return struct.pack(fmt, value)


def encode(record: dict, message: ProtoMessage, types: dict) -> bytes:
    buf = bytearray()
    for f in message.fields:
        value = record.get(f.name)
        if value is None:
            continue
        if f.repeated:
            items = value
            if not items:
                continue
            if f.type in _PACKABLE or f.type == "enum":
                packed = bytearray()  # proto3 packs scalars by default
                for item in items:
                    _encode_scalar_into(packed, item, f, types)
                _write_varint(buf, (f.number << 3) | WT_LEN)
                _write_varint(buf, len(packed))
                buf += packed
            else:
                for item in items:
                    _encode_field(buf, item, f, types)
        else:
            if _is_proto3_default(value, f):
                continue  # implicit presence: defaults are not serialized
            _encode_field(buf, value, f, types)
    return bytes(buf)


def _is_proto3_default(value, f: ProtoField) -> bool:
    if f.type == "message":
        return False  # presence is explicit for messages (None skipped above)
    if f.type == "enum":
        # numeric zero is the implicit default; a symbol name is encoded
        # as-is (explicitly writing the zero symbol is valid wire format)
        return isinstance(value, int) and value == 0
    return value in (0, 0.0, False, "", b"")


def _encode_scalar_into(buf: bytearray, value, f: ProtoField, types: dict) -> None:
    if f.type == "enum":
        if isinstance(value, str):
            value = dict((n, v) for n, v in types[f.type_name].values)[value]
        _write_varint(buf, value)
    elif f.type in _VARINT_TYPES:
        _write_varint(buf, _to_varint(value, f.type))
    else:
        buf += _scalar_bytes(value, f.type)


def _encode_field(buf: bytearray, value, f: ProtoField, types: dict) -> None:
    if f.type in _VARINT_TYPES or f.type == "enum":
        _write_varint(buf, (f.number << 3) | WT_VARINT)
        _encode_scalar_into(buf, value, f, types)
    elif f.type in _FIXED32_TYPES:
        _write_varint(buf, (f.number << 3) | WT_FIXED32)
        buf += _scalar_bytes(value, f.type)
    elif f.type in _FIXED64_TYPES:
        _write_varint(buf, (f.number << 3) | WT_FIXED64)
        buf += _scalar_bytes(value, f.type)
    elif f.type in ("string", "bytes", "message"):
        raw = (
            value.encode("utf-8")
            if f.type == "string"
            else value
            if f.type == "bytes"
            else encode(value, types[f.type_name], types)
        )
        _write_varint(buf, (f.number << 3) | WT_LEN)
        _write_varint(buf, len(raw))
        buf += raw
    else:
        raise ValueError(f"proto_lite: cannot encode field type {f.type!r}")


# ---------------------------------------------------------------------------
# Confluent protobuf framing: magic + id + message-indexes path
# ---------------------------------------------------------------------------


def frame(schema_id: int, body: bytes, message_indexes: list[int] | None = None) -> bytes:
    out = io.BytesIO()
    out.write(struct.pack(">bi", 0, schema_id))
    indexes = message_indexes or [0]
    if indexes == [0]:
        out.write(b"\x00")  # the spec's optimized single-zero form
    else:
        buf = bytearray()
        _write_zigzag(buf, len(indexes))
        for idx in indexes:
            _write_zigzag(buf, idx)
        out.write(bytes(buf))
    out.write(body)
    return out.getvalue()


def _write_zigzag(buf: bytearray, v: int) -> None:
    _write_varint(buf, (v << 1) ^ (v >> 63) if v >= 0 else ((-v - 1) << 1) | 1)


def unframe(payload: bytes) -> tuple[int, list[int], bytes]:
    if len(payload) < 6 or payload[0] != 0:
        raise ValueError("proto_lite: not a schema-registry framed payload")
    (schema_id,) = struct.unpack(">i", payload[1:5])
    raw, pos = _read_varint(payload, 5)
    count = (raw >> 1) ^ -(raw & 1)
    if count == 0:
        return schema_id, [0], payload[pos:]
    indexes = []
    for _ in range(count):
        raw, pos = _read_varint(payload, pos)
        indexes.append((raw >> 1) ^ -(raw & 1))
    return schema_id, indexes, payload[pos:]


# ---------------------------------------------------------------------------
# Proto → Spark schema
# ---------------------------------------------------------------------------

_SPARK_SCALARS = {
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "int32": T.IntegerType(),
    "sint32": T.IntegerType(),
    "sfixed32": T.IntegerType(),
    "uint32": T.LongType(),  # fits; unsigned 32 can exceed int32
    "fixed32": T.LongType(),
    "int64": T.LongType(),
    "sint64": T.LongType(),
    "sfixed64": T.LongType(),
    # unsigned 64 cannot fit a Spark long above 2^63-1; DECIMAL(20,0)
    # would punish every row for a corner — documented: values wrap at
    # 2^63 like the JVM protobuf connector's 'long' mode
    "uint64": T.LongType(),
    "fixed64": T.LongType(),
    "bool": T.BooleanType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}


def to_spark_type(f: ProtoField, types: dict) -> T.DataType:
    if f.type == "enum":
        base: T.DataType = T.StringType()
    elif f.type == "message":
        base = message_struct(types[f.type_name], types)
    else:
        base = _SPARK_SCALARS[f.type]
    return T.ArrayType(base, True) if f.repeated else base


def message_struct(message: ProtoMessage, types: dict) -> T.StructType:
    return T.StructType(
        [
            T.StructField(f.name, to_spark_type(f, types), True)
            for f in message.fields
        ]
    )
