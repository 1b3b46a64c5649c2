"""Pure-Python Avro binary codec for the reference's supported type
subset (LuaMapper.scala:16-28): null, boolean, int, long, float, double,
string, bytes, enum, array, record, union.

Implements the Avro 1.x binary encoding spec directly (zigzag varints,
little-endian IEEE floats, length-prefixed strings, block-encoded
arrays, index-prefixed unions). The wire path's default codec is the
Java one (jvm/AvroCodec.java, over Spark's Avro jar); this one is its
fallback in sources/serde.py (no javac, or a registry-resolved decode),
the encoder tests and fixtures build payloads with, and the OCF reader's
block decoder. Both give values the same Spark shape: a ``[null, T]``
union is a nullable T and an N-way union a struct with one slot per
non-null branch (conform's struct of branches), and both fail with the
same reasons: truncated payloads, trailing bytes, and NULL in a field
that does not allow it.

The codec is driven by the same parsed schema model as conform()
(sources/avsc.py), so union branch order and enum symbol order are
preserved exactly. Data from another writer schema decodes through a
plan from sources/avsc.resolve: the writer model plus two plan nodes.
"""

from __future__ import annotations

import struct
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import types as T

from kafka_streams_plumber_spark.operators.conform import (
    Array,
    Enum,
    Record,
    Union,
    branch_name,
)

# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------


def _zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


# ---------------------------------------------------------------------------
# resolution plan nodes (built by sources/avsc.resolve)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Promote:
    """Decode the writer primitive, then apply a spec promotion."""

    writer: Any
    convert: Callable[[Any], Any]


@dataclass(frozen=True)
class ReadRecord:
    """Writer-ordered (reader name or None to skip, plan) ``steps`` filling
    a reader-ordered ``template`` that holds reader-only defaults."""

    steps: tuple[tuple[str | None, Any], ...]
    template: dict


# ---------------------------------------------------------------------------
# schema-driven encode/decode
# ---------------------------------------------------------------------------


class NullValueError(ValueError):
    """NULL where the schema does not allow it, worded as Avro's
    GenericDatumWriter words it; ``path`` grows as the error unwinds."""

    def __init__(self, kind: str, path: str = ""):
        super().__init__(kind, path)
        self.kind, self.path = kind, path

    def __str__(self) -> str:
        return f"null value for (non-nullable) {self.kind} at {self.path}"


def _kind(schema: Any) -> str:
    return {Record: "record", Enum: "enum", Array: "array"}.get(type(schema)) or branch_name(schema)


#: id(union) -> (union, its slots); holding the union keeps its id unique
_SLOTS: dict[int, tuple[Union, tuple[str | None, ...]]] = {}


def _slots(union: Union) -> tuple[str | None, ...]:
    """Per branch of an N-way union, its slot in the struct of branches
    (None for the null branch); empty for a ``[null, T]`` union, whose
    value is a nullable T, and for resolution plans, whose branches
    decode as the writer wrote them. Worked out once per union model,
    not once per record."""
    hit = _SLOTS.get(id(union))
    if hit is None or hit[0] is not union:
        nn = union.non_null
        slots = (
            ()
            if len(nn) < 2 or any(isinstance(b, (Promote, ReadRecord)) for b in nn)
            else tuple(None if isinstance(b, T.NullType) else branch_name(b) for b in union.branches)
        )
        hit = _SLOTS[id(union)] = (union, slots)
    return hit[1]


def _branch_struct(v: Any, slots: tuple[str | None, ...]) -> bool:
    """Whether ``v`` is a struct of branches (a dict or Row with exactly
    the slot names) rather than a bare branch value."""
    keys = v.keys() if isinstance(v, dict) else getattr(v, "__fields__", None)
    return keys is not None and set(keys) == set(filter(None, slots))


def _getter(v: Any) -> Callable[[str], Any]:
    """Field lookup by name on a dict, a Row or an object."""
    if isinstance(v, dict):
        return v.get
    if hasattr(v, "__fields__"):
        return lambda k, _row=v: _row[k] if k in _row.__fields__ else None
    return lambda k, _o=v: getattr(_o, k, None)


def encode_value(v: Any, schema: Any) -> bytes:
    if isinstance(schema, T.NullType):
        return b""
    if isinstance(schema, Union):
        slots = _slots(schema)
        if slots and _branch_struct(v, slots):  # the first set branch is written
            get = _getter(v)
            for i, name in enumerate(slots):
                if name is not None and (x := get(name)) is not None:
                    return _zigzag_encode(i) + encode_value(x, schema.branches[i])
            v = None
        for i, branch in enumerate(schema.branches):
            if _branch_accepts(v, branch):
                return _zigzag_encode(i) + encode_value(v, branch)
        raise ValueError(f"no union branch for {v!r}")
    if v is None:
        raise NullValueError(_kind(schema))
    if isinstance(schema, T.BooleanType):
        return b"\x01" if v else b"\x00"
    if isinstance(schema, (T.IntegerType, T.LongType)):
        return _zigzag_encode(int(v))
    if isinstance(schema, T.FloatType):
        return struct.pack("<f", float(v))
    if isinstance(schema, T.DoubleType):
        return struct.pack("<d", float(v))
    if isinstance(schema, T.StringType):
        raw = str(v).encode("utf-8")
        return _zigzag_encode(len(raw)) + raw
    if isinstance(schema, T.BinaryType):
        raw = bytes(v)
        return _zigzag_encode(len(raw)) + raw
    if isinstance(schema, Enum):
        return _zigzag_encode(schema.symbols.index(v))
    if isinstance(schema, Array):
        items = list(v)
        out = b""
        if items:
            out += _zigzag_encode(len(items))
            for i, item in enumerate(items):
                try:
                    out += encode_value(item, schema.element)
                except NullValueError as e:
                    e.path = f"[{i}]{e.path}"
                    raise
        return out + _zigzag_encode(0)
    if isinstance(schema, Record):
        out = b""
        get = _getter(v)
        for f in schema.fields:
            try:
                out += encode_value(get(f.name), f.type)
            except NullValueError as e:
                e.path = f".{f.name}{e.path}"
                raise
        return out
    raise NotImplementedError(f"avro encode: {schema!r}")


def _branch_accepts(v: Any, branch: Any) -> bool:
    if isinstance(branch, T.NullType):
        return v is None
    if v is None:
        return False
    if isinstance(branch, T.BooleanType):
        return isinstance(v, bool)
    if isinstance(branch, (T.IntegerType, T.LongType)):
        return isinstance(v, int) and not isinstance(v, bool)
    if isinstance(branch, (T.FloatType, T.DoubleType)):
        return isinstance(v, float)
    if isinstance(branch, (T.StringType,)):
        return isinstance(v, str)
    if isinstance(branch, T.BinaryType):
        return isinstance(v, (bytes, bytearray))
    if isinstance(branch, Enum):
        return isinstance(v, str)
    if isinstance(branch, Array):
        return isinstance(v, (list, tuple))
    if isinstance(branch, Record):
        return isinstance(v, dict) or hasattr(v, "__fields__")
    return False


def decode_value(buf: bytes, pos: int, schema: Any) -> tuple[Any, int]:
    if isinstance(schema, T.NullType):
        return None, pos
    if isinstance(schema, Union):
        idx, pos = _zigzag_decode(buf, pos)
        v, pos = decode_value(buf, pos, schema.branches[idx])
        slots = _slots(schema)
        if slots and v is not None:
            v = {**dict.fromkeys(filter(None, slots)), slots[idx]: v}
        return v, pos
    if isinstance(schema, T.BooleanType):
        return buf[pos] == 1, pos + 1
    if isinstance(schema, (T.IntegerType, T.LongType)):
        return _zigzag_decode(buf, pos)
    if isinstance(schema, T.FloatType):
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if isinstance(schema, T.DoubleType):
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if isinstance(schema, (T.StringType, T.BinaryType)):
        n, pos = _zigzag_decode(buf, pos)
        raw = bytes(buf[pos : pos + n])
        return (raw.decode("utf-8") if isinstance(schema, T.StringType) else raw), pos + n
    if isinstance(schema, Enum):
        idx, pos = _zigzag_decode(buf, pos)
        return schema.symbols[idx], pos
    if isinstance(schema, Array):
        items = []
        while True:
            n, pos = _zigzag_decode(buf, pos)
            if n == 0:
                return items, pos
            if n < 0:  # block with byte-size prefix
                _, pos = _zigzag_decode(buf, pos)
                n = -n
            for _ in range(n):
                item, pos = decode_value(buf, pos, schema.element)
                items.append(item)
    if isinstance(schema, Record):
        out = {}
        for f in schema.fields:
            out[f.name], pos = decode_value(buf, pos, f.type)
        return out, pos
    if isinstance(schema, Promote):
        v, pos = decode_value(buf, pos, schema.writer)
        return schema.convert(v), pos
    if isinstance(schema, ReadRecord):
        out = dict(schema.template)
        for name, plan in schema.steps:
            v, pos = decode_value(buf, pos, plan)
            if name is not None:
                out[name] = v
        return out, pos
    raise NotImplementedError(f"avro decode: {schema!r}")


def encode_record(v: Any, schema: Record) -> bytes:
    """Encode one payload; :class:`NullValueError` names the path
    (``Rec.field[i]...``) of a NULL the schema does not allow."""
    try:
        return encode_value(v, schema)
    except NullValueError as e:
        e.path = f"{getattr(schema, 'name', '')}{e.path}"
        raise


def decode_record(buf: bytes, schema: Any) -> dict:
    """Decode one whole payload with ``schema`` (a writer model or a
    resolution plan); ValueError when it is truncated or has bytes left
    over."""
    buf = bytes(buf)
    try:
        out, pos = decode_value(buf, 0, schema)
    except (IndexError, struct.error) as e:
        raise ValueError("avro payload truncated or corrupt") from e
    if pos > len(buf):
        raise ValueError("avro payload truncated or corrupt")
    if pos < len(buf):
        raise ValueError(f"avro payload: {len(buf) - pos} trailing bytes")
    return out
