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

#: writer -> reader promotions the Avro spec allows on read
_PROMOTIONS = {
    ("int", "long"), ("int", "float"), ("int", "double"), ("long", "float"),
    ("long", "double"), ("float", "double"), ("string", "bytes"), ("bytes", "string"),
}

_TYPE_NAMES = {Record: "record", Enum: "enum", Array: "array", Union: "union"} | {
    type(t): name for name, t in _PRIMITIVES.items()
}


def _type_name(model: object) -> str:
    return _TYPE_NAMES.get(type(model), "?")


def resolve(reader: object, writer: object, path: str = "$") -> list[str]:
    """Every path-tagged reason data written with ``writer`` cannot be read
    as ``reader`` (parsed models); empty when it can. The rules are the
    Avro spec's, which the JVM codec's resolving reader applies:

    - primitives: equal, or a spec-listed writer->reader promotion
      (int->long/float/double, long->float/double, float->double,
      string<->bytes);
    - records: fields matched BY NAME; a reader field missing from the
      writer needs a ``default``; writer-only fields are skipped;
    - enums: every writer symbol must exist in the reader's symbol set;
    - arrays: item schemas must resolve;
    - unions: every writer branch must resolve against SOME reader
      branch (a non-union writer is the one-branch case; a non-union
      reader must accept every writer branch).
    """
    if isinstance(writer, Union):
        return [
            f"{path}: writer union branch {_type_name(branch)!r}"
            " has no compatible reader branch"
            for i, branch in enumerate(writer.branches)
            if resolve(reader, branch, f"{path}[w-union:{i}]")
        ]

    wk = _type_name(writer)
    if isinstance(reader, Union):
        if any(not resolve(branch, writer, path) for branch in reader.branches):
            return []
        return [f"{path}: writer {wk!r} matches no branch of the reader union"]

    rk = _type_name(reader)
    if rk in _PRIMITIVES and wk in _PRIMITIVES:
        if rk == wk or (wk, rk) in _PROMOTIONS:
            return []
        return [f"{path}: writer {wk!r} cannot promote to reader {rk!r}"]

    if rk != wk:
        return [f"{path}: reader is {rk!r} but writer is {wk!r}"]

    if rk == "array":
        return resolve(reader.element, writer.element, f"{path}.items")

    if rk == "enum":
        missing = [s for s in writer.symbols if s not in set(reader.symbols)]
        return [f"{path}: writer enum symbols {missing} absent from reader"] if missing else []

    if rk == "record":
        w_fields = writer.field_map()
        probs = []
        for rf in reader.fields:
            if rf.name in w_fields:
                probs += resolve(rf.type, w_fields[rf.name].type, f"{path}.{rf.name}")
            elif rf.default is NO_DEFAULT:
                probs.append(
                    f"{path}.{rf.name}: reader field absent from writer and"
                    " has no default"
                )
        return probs

    raise UnsupportedAvroType(f"cannot resolve avro type {rk!r}")


def schema_incompatibilities(
    reader: str | dict | list, writer: str | dict | list, path: str = "$"
) -> list[str]:
    """Why data written with ``writer`` can NOT be read as ``reader`` —
    empty list means compatible: :func:`resolve`'s problem list, the
    pre-flight every consumer upgrade needs BEFORE deploying against a
    live topic (the registry tells you what producers wrote)."""
    return resolve(parse_avsc(reader), parse_avsc(writer), path)


def cannot_read(problems: list[str]) -> str:
    """The one message for a writer whose data the reader cannot read."""
    return "reader schema cannot read writer data:\n  " + "\n  ".join(problems)


def assert_can_read(reader: str | dict, writer: str | dict) -> None:
    """Raise ValueError listing every incompatibility (empty = return)."""
    problems = schema_incompatibilities(reader, writer)
    if problems:
        raise ValueError(cannot_read(problems))
