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

No Avro library needed: .avsc is plain JSON.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from typing import Any

from pyspark.sql import types as T

from kafka_streams_plumber_spark.operators.conform import (
    NO_DEFAULT,
    Array,
    Enum,
    Field,
    Record,
    Union,
    spark_type,
)
from kafka_streams_plumber_spark.sources.avro_codec import Promote, ReadRecord

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


def parse_avsc(schema: str | dict | list) -> object:
    """Parse .avsc JSON (text or already-decoded) into the conform target
    model (Record / Union / Enum / Array / Spark DataType)."""
    if isinstance(schema, str):
        stripped = schema.strip()
        if stripped.startswith(("{", "[", '"')):
            schema = json.loads(stripped)
        else:
            schema = stripped  # bare primitive name like "long"
    return _parse(schema, named={})


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
            fields = tuple(
                Field(
                    f["name"],
                    _parse(f["type"], named),
                    default=f.get("default", NO_DEFAULT),
                )
                for f in node["fields"]
            )
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


# -------------------------------------------------------------------------
# Schema resolution (Avro spec "Schema Resolution")
# -------------------------------------------------------------------------

#: writer -> reader promotions the Avro spec allows on read, with the
#: conversion of the decoded value (None: the Python value already fits).
_PROMOTIONS: dict[tuple[str, str], Callable[[Any], Any] | None] = {
    ("int", "long"): None,
    ("int", "float"): float,
    ("int", "double"): float,
    ("long", "float"): float,
    ("long", "double"): float,
    ("float", "double"): None,
    ("string", "bytes"): str.encode,
    ("bytes", "string"): bytes.decode,
}

_TYPE_NAMES = {Record: "record", Enum: "enum", Array: "array", Union: "union"} | {
    type(t): name for name, t in _PRIMITIVES.items()
}


def _type_name(model: object) -> str:
    return _TYPE_NAMES.get(type(model), "?")


def _default_value(value: Any, model: object) -> Any:
    """A field's JSON ``default`` as the value a decode of ``model``
    yields (a union default belongs to its first branch)."""
    if isinstance(model, Union):
        return _default_value(value, model.branches[0])
    if isinstance(model, Record):
        return {
            f.name: _default_value(value.get(f.name, f.default), f.type)
            for f in model.fields
        }
    if isinstance(model, Array):
        return [_default_value(v, model.element) for v in value]
    if isinstance(model, T.BinaryType):
        return value.encode("latin-1")  # spec: bytes defaults are code points
    if isinstance(model, (T.FloatType, T.DoubleType)):
        return float(value)
    return value


def resolve(
    reader: object, writer: object, path: str = "$", null_fill: bool = False
) -> tuple[object, list[str]]:
    """Resolve ``writer`` data against ``reader`` (parsed models) into
    ``(plan, problems)``. sources/avro_codec decodes writer bytes with
    ``plan`` into reader-shaped values; it is the writer model itself
    wherever nothing changes. ``problems`` lists every path-tagged reason
    the writer cannot be read; the plan is usable only when it is empty.

    - primitives: equal, or a spec-listed writer->reader promotion
      (int->long/float/double, long->float/double, float->double,
      string<->bytes);
    - records: fields matched BY NAME; a reader field missing from the
      writer needs a ``default``, which the plan fills in (``null_fill``
      fills a field without one with null instead, conform's rule for an
      absent field); writer-only fields are skipped;
    - enums: every writer symbol must exist in the reader's symbol set;
    - arrays: item schemas must resolve;
    - unions: every writer branch must resolve against SOME reader
      branch (a non-union writer is the one-branch case, and the reader
      branch of the same type wins over a promotion; a non-union reader
      must accept every writer branch).
    """
    if isinstance(writer, Union):
        plans, probs = [], []
        for i, branch in enumerate(writer.branches):
            plan, bad = resolve(reader, branch, f"{path}[w-union:{i}]", null_fill)
            if bad:
                probs.append(
                    f"{path}: writer union branch {_type_name(branch)!r}"
                    " has no compatible reader branch"
                )
            plans.append(plan)
        if probs or all(p is b for p, b in zip(plans, writer.branches)):
            return writer, probs
        return Union(tuple(plans)), []

    wk = _type_name(writer)
    if isinstance(reader, Union):
        for branch in sorted(reader.branches, key=lambda b: _type_name(b) != wk):
            plan, bad = resolve(branch, writer, path, null_fill)
            if not bad:
                return plan, []
        return writer, [f"{path}: writer {wk!r} matches no branch of the reader union"]

    rk = _type_name(reader)
    if rk in _PRIMITIVES and wk in _PRIMITIVES:
        if rk == wk:
            return writer, []
        if (wk, rk) not in _PROMOTIONS:
            return writer, [f"{path}: writer {wk!r} cannot promote to reader {rk!r}"]
        convert = _PROMOTIONS[wk, rk]
        return (writer if convert is None else Promote(writer, convert)), []

    if rk != wk:
        return writer, [f"{path}: reader is {rk!r} but writer is {wk!r}"]

    if rk == "array":
        plan, probs = resolve(reader.element, writer.element, f"{path}.items", null_fill)
        return (writer if plan is writer.element else Array(plan)), probs

    if rk == "enum":
        missing = [s for s in writer.symbols if s not in set(reader.symbols)]
        if missing:
            return writer, [f"{path}: writer enum symbols {missing} absent from reader"]
        return writer, []

    if rk == "record":
        w_fields = writer.field_map()
        plans: dict[str, object] = {}
        probs = []
        for rf in reader.fields:
            if rf.name in w_fields:
                plans[rf.name], bad = resolve(
                    rf.type, w_fields[rf.name].type, f"{path}.{rf.name}", null_fill
                )
                probs.extend(bad)
            elif rf.default is NO_DEFAULT and not null_fill:
                probs.append(
                    f"{path}.{rf.name}: reader field absent from writer and"
                    " has no default"
                )
        same_layout = [f.name for f in reader.fields] == [f.name for f in writer.fields]
        if probs or (
            same_layout and all(plans[f.name] is f.type for f in writer.fields)
        ):
            return writer, probs
        template = {
            rf.name: None
            if rf.name in plans or rf.default is NO_DEFAULT
            else _default_value(rf.default, rf.type)
            for rf in reader.fields
        }
        steps = tuple(
            (f.name, plans[f.name]) if f.name in plans else (None, f.type)
            for f in writer.fields
        )
        return ReadRecord(steps, template), []

    raise UnsupportedAvroType(f"cannot resolve avro type {rk!r}")


def read_plan(reader: object, writer: object, null_fill: bool = False) -> object:
    """:func:`resolve`'s plan, or ValueError listing every problem."""
    plan, probs = resolve(reader, writer, "$", null_fill)
    if probs:
        raise ValueError(
            "reader schema cannot read writer data:\n  " + "\n  ".join(probs)
        )
    return plan


def schema_incompatibilities(
    reader: str | dict | list, writer: str | dict | list, path: str = "$"
) -> list[str]:
    """Why data written with ``writer`` can NOT be read as ``reader`` —
    empty list means compatible: :func:`resolve`'s problem list, the
    pre-flight every consumer upgrade needs BEFORE deploying against a
    live topic (the registry tells you what producers wrote)."""
    return resolve(parse_avsc(reader), parse_avsc(writer), path)[1]


def assert_can_read(reader: str | dict, writer: str | dict) -> None:
    """Raise ValueError listing every incompatibility (empty = return)."""
    read_plan(parse_avsc(reader), parse_avsc(writer))
