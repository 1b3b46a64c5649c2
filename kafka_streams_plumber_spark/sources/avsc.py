"""Avro ``.avsc`` schema bridge: JSON schema text -> conform target model
(+ Spark StructType).

Covers exactly the Avro surface the reference supports (LuaMapper.scala:16-28;
SURVEY.md §1.3): boolean, int, long, float, double, string, array, record
(arbitrarily nested), union (order-preserving — write resolution is
first-match, LuaMapper.scala:67-91), enum (symbol domain kept for the
write-side check, LuaMapper.scala:30-32), null. ``bytes`` is accepted as an
extension (BinaryType; the reference throws NotImplementedError,
LuaMapper.scala:27). ``map``/``fixed``/logical types raise, matching the
reference's explicit non-support (LuaMapper.scala:112).

The model needs no Avro library: .avsc is plain JSON. Schema resolution
(:func:`schema_incompatibilities`) is Avro's own, in the JVM codec.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import types as T

from kafka_streams_plumber_spark import jvm
from kafka_streams_plumber_spark.operators.conform import (
    Array,
    Enum,
    Field,
    Record,
    Union,
    spark_type,
)

_PRIMITIVES: dict[str, T.DataType] = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),  # extension beyond reference
    "null": T.NullType(),
}


class UnsupportedAvroType(NotImplementedError):
    """Parity with LuaMapper.scala:27,112 — map/fixed/logical types."""


def _loads(schema: str | dict | list) -> object:
    """.avsc JSON text (or a bare primitive name like ``long``), decoded."""
    if not isinstance(schema, str):
        return schema
    stripped = schema.strip()
    return json.loads(stripped) if stripped.startswith(("{", "[", '"')) else stripped


def parse_avsc(schema: str | dict | list) -> object:
    """Parse .avsc JSON (text or already-decoded) into the conform target
    model (Record / Union / Enum / Array / Spark DataType)."""
    return _parse(_loads(schema), named={})


def _parse(node: Any, named: dict[str, object]) -> object:
    if isinstance(node, str):
        if node in _PRIMITIVES:
            return _PRIMITIVES[node]
        if node in named:  # named-type reference
            return named[node]
        raise UnsupportedAvroType(f"unknown avro type {node!r}")
    if isinstance(node, list):  # union
        return Union(tuple(_parse(b, named) for b in node))
    if isinstance(node, dict):
        t = node["type"]
        if t == "record":
            fields = tuple(Field(f["name"], _parse(f["type"], named)) for f in node["fields"])
            rec = Record(fields, name=node.get("name", "record"))
            named[node.get("name", "record")] = rec
            return rec
        if t == "enum":
            e = Enum(tuple(node["symbols"]), name=node.get("name", "enum"))
            named[node.get("name", "enum")] = e
            return e
        if t == "array":
            return Array(_parse(node["items"], named))
        if t in _PRIMITIVES and "logicalType" not in node:
            return _PRIMITIVES[t]
        raise UnsupportedAvroType(f"avro type not supported: {node!r}")
    raise UnsupportedAvroType(f"cannot parse avro schema node: {node!r}")


def avsc_to_struct(schema: str | dict) -> T.StructType:
    """Convenience: .avsc record schema -> Spark StructType."""
    model = parse_avsc(schema)
    st = spark_type(model)
    if not isinstance(st, T.StructType):
        raise ValueError("avsc_to_struct expects a record schema at top level")
    return st


def schema_incompatibilities(reader: str | dict | list, writer: str | dict | list) -> list[str]:
    """Why data written with ``writer`` can NOT be read as ``reader``, one
    path-tagged reason each (empty = compatible): the pre-flight every
    consumer upgrade needs BEFORE deploying against a live topic. The
    verdicts are Avro's own ``Resolver``'s, taken in the JVM codec
    (``AvroCodec.problems``), so it needs an active Spark session."""
    return jvm.problems(json.dumps(_loads(reader)), json.dumps(_loads(writer)))
