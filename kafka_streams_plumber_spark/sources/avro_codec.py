"""Pure-Python Avro binary codec for the reference's supported type
subset (LuaMapper.scala:16-28): null, boolean, int, long, float, double,
string, bytes, enum, array, record, union.

Implements the Avro 1.x binary encoding spec directly (zigzag varints,
little-endian IEEE floats, length-prefixed strings, block-encoded
arrays, index-prefixed unions). It is the one Avro codec of the wire
path: sources/serde.py runs it in its decode and encode UDFs, one record
at a time, and the OCF reader decodes container blocks with it.

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


def encode_value(v: Any, schema: Any) -> bytes:
    if isinstance(schema, T.NullType):
        return b""
    if isinstance(schema, Union):
        for i, branch in enumerate(schema.branches):
            if _branch_accepts(v, branch):
                return _zigzag_encode(i) + encode_value(v, branch)
        raise ValueError(f"no union branch for {v!r}")
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
            for item in items:
                out += encode_value(item, schema.element)
        return out + _zigzag_encode(0)
    if isinstance(schema, Record):
        out = b""
        get = (
            v.get
            if isinstance(v, dict)
            else (lambda k, _row=v: _row[k] if k in _row.__fields__ else None)
            if hasattr(v, "__fields__")
            else (lambda k, _o=v: getattr(_o, k, None))
        )
        for f in schema.fields:
            out += encode_value(get(f.name), f.type)
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
        return decode_value(buf, pos, schema.branches[idx])
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
    return encode_value(v, schema)


def decode_record(buf: bytes, schema: Any) -> dict:
    """Decode one whole payload with ``schema`` (a writer model or a
    resolution plan); ValueError when it is truncated or has bytes left
    over."""
    buf = bytes(buf)
    try:
        out, pos = decode_value(buf, 0, schema)
    except (IndexError, struct.error) as e:
        raise ValueError(f"avro payload truncated or corrupt: {e}") from e
    if pos != len(buf):
        why = "truncated" if pos > len(buf) else f"{len(buf) - pos} trailing bytes"
        raise ValueError(f"avro payload: {why}")
    return out
