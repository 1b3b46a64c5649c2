"""Wire serdes: the bridge between Kafka's binary (key, value) and typed
columns — parity with the reference's MappingType serde layer
(TypeConversions.scala:12-35, GenericAvroSerializer.scala:9-73).

Four wire types (SURVEY.md §1.2): long (8-byte big-endian; a payload of
another length fails, as Kafka's LongSerde does), string
(UTF-8), avro (schema from .avsc or the registry, optionally
Confluent-framed), void (always NULL). long, string and void are column
expressions. Avro is one Java UDF each way (jvm/AvroCodec.java, built and
registered by kafka_streams_plumber_spark.jvm), which also checks and
strips, or prepends, the Confluent header: the wire path never leaves the
JVM, in both modes of the reference's Avro serde.

- File-pinned ``avro=x.avsc``: the file's schema reads and writes every
  payload.
- Registry-resolved ``avro``: :func:`resolve_registry_type` pins the
  subject's latest schema as the reader. When a decode plan is built with
  a ``registry``, every version the subject has THEN is handed to the
  UDF, and each payload is read with the writer its embedded id names
  (Avro's resolving reader); a writer Avro's ``Resolver`` refuses fails
  its records with the pre-flight's reasons. A writer registered after
  the plan was built is unknown to it: its records fail naming the id,
  and the job needs a restart to read them.

The Java functions are registered in the Spark session active on the
thread that builds the plan, one per set of schemas (the UDF's only
argument is its column); build and run an Avro plan on that session;
with no active session the plan is refused when it is built.

Type strings parse exactly like the reference CLI (`string`,
`long`, `avro=file.avsc`, `avro`, `void` — TypeConversions.scala:42-51):
``parse_type("avro=out.avsc")``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from kafka_streams_plumber_spark import jvm
from kafka_streams_plumber_spark.operators.conform import spark_type
from kafka_streams_plumber_spark.sources.avsc import parse_avsc

_U64 = 1 << 64
_I64_MAX = (1 << 63) - 1


@dataclass(frozen=True)
class WireType:
    kind: str  # long | string | avro | void
    avsc: str | None = None  # schema text for avro
    schema_id: int | None = None  # registry id (framing header on encode)
    registry_resolved: bool = False  # plain `avro`, resolved via registry
    subject: str | None = None  # the registry subject it was resolved from

    @property
    def model(self):
        return parse_avsc(self.avsc) if self.avsc else None


def parse_type(spec: str) -> WireType:
    """'long' | 'string' | 'void' | 'avro=file.avsc' | 'avro'
    (TypeConversions.scala:42-51). Plain 'avro' is registry-resolved:
    call :func:`resolve_registry_type` with a SchemaRegistryClient and
    the topic subject before building the plan (the reference does the
    same resolution inside GenericAvroSerializer.scala:9-73)."""
    spec = spec.strip()
    if spec in ("long", "string", "void"):
        return WireType(spec)
    if spec == "avro":
        return WireType("avro", registry_resolved=True)
    if spec.startswith("avro="):
        path = spec[len("avro=") :]
        with open(path) as f:
            return WireType("avro", f.read())
    raise ValueError(f"unknown wire type {spec!r}")


def resolve_registry_type(wt: WireType, registry, subject: str) -> WireType:
    """Pin a plain ``avro`` wire type to the subject's latest registered
    schema (Confluent TopicNameStrategy subjects: ``{topic}-value`` /
    ``{topic}-key``). Driver-side, once per job — the resolved schema
    types the DataFrame column; per-record WRITER schemas are still
    resolved by embedded id on the decode path, over the subject's
    versions (see :func:`_writers`). No-op for non-avro / already-pinned
    types.
    """
    if wt.kind != "avro" or wt.avsc is not None:
        return wt
    if registry is None:
        raise ValueError(
            "avro without =file.avsc needs a schema registry; "
            "pass avro=file.avsc or configure schema.registry.url"
        )
    sid, text = registry.latest_schema(subject)
    return WireType("avro", text, schema_id=sid, registry_resolved=True, subject=subject)


def decode(
    col: Column,
    wt: WireType,
    *,
    confluent_framing: bool = False,
    registry=None,
) -> Column:
    """binary column -> typed column. Avro payloads carry the Confluent
    header when ``confluent_framing`` is set or the type is
    registry-resolved; a ``registry`` then resolves each record's writer
    id for a registry-resolved type."""
    if wt.kind == "void":
        return F.lit(None)
    if wt.kind == "string":
        return col.cast("string")
    if wt.kind == "long":
        # 8-byte big-endian two's complement. hex -> unsigned decimal
        # (as DECIMAL(20,0), which holds 2^64) -> signed wrap. 2^64
        # exceeds a py4j long, so it rides in as a decimal literal.
        u = F.conv(F.hex(col), 16, 10).cast("decimal(20,0)")
        wrap = F.lit(str(_U64)).cast("decimal(21,0)")
        signed = F.when(u > _I64_MAX, u - wrap).otherwise(u).cast("long")
        # any other length fails, as Kafka's LongSerde does
        size = F.octet_length(col)
        bad = F.raise_error(F.format_string("long payload of %d bytes: a Kafka long is 8 bytes", size))
        return F.when(size == 8, signed).when(col.isNotNull(), bad)
    if wt.kind == "avro":
        if wt.avsc is None:
            raise ValueError(
                "avro without =file.avsc needs a schema registry; "
                "pass avro=file.avsc or resolve_registry_type() first"
            )
        return _avro_decode(
            col,
            wt,
            framed=confluent_framing or wt.registry_resolved,
            registry=registry if wt.registry_resolved else None,
        )
    raise AssertionError(wt.kind)


def encode(col: Column, wt: WireType, *, confluent_framing: bool = False,
           schema_id: int | None = None) -> Column:
    """typed column -> binary column for the Kafka sink."""
    if wt.kind == "void":
        return F.lit(None).cast("binary")
    if wt.kind == "string":
        return col.cast("string").cast("binary")
    if wt.kind == "long":
        # hex() of a long is already 16-digit two's complement for
        # negatives; lpad for small positives, then unhex -> 8 bytes
        return F.unhex(F.lpad(F.hex(col.cast("long")), 16, "0"))
    if wt.kind == "avro":
        if wt.avsc is None:
            raise ValueError(
                "avro output needs a schema: avro=file.avsc, or plain "
                "avro resolved through resolve_registry_type()"
            )
        sid = None
        if confluent_framing or wt.registry_resolved:
            # registry-resolved types frame with their registered id
            sid = schema_id if schema_id is not None else (wt.schema_id or 0)
        return _avro_encode(col, wt, sid)
    raise AssertionError(wt.kind)


def spark_type_of(wt: WireType):
    from pyspark.sql import types as T

    if wt.kind == "void":
        return T.NullType()
    if wt.kind == "string":
        return T.StringType()
    if wt.kind == "long":
        return T.LongType()
    return spark_type(wt.model)


def _kind(schema) -> str:
    """A schema JSON's type: the name for a named reference or primitive,
    ``"union"`` for a list."""
    if isinstance(schema, list):
        return "union"
    return schema["type"] if isinstance(schema, dict) else schema


def _pair(reader, writer):
    """The schema ``writer`` (or, for a union, one of its branches) that
    ``reader`` reads: the same type, a record by its name first; None when
    there is none."""
    options = writer if isinstance(writer, list) else [writer]
    same = [w for w in options if _kind(w) == _kind(reader)]
    if isinstance(reader, dict) and "name" in reader:
        same.sort(key=lambda w: not isinstance(w, dict) or w.get("name") != reader["name"])
    return same[0] if same else None


def _null_fill(reader, writer):
    """``reader`` (schema JSON) with every record field ``writer`` lacks
    that has no default made ``["null", T]`` with default null, in the
    records of union branches and array items at any depth too: the
    registry decode null-fills such a field, as conform does for an absent
    field, where Avro's resolver would refuse the writer."""
    if isinstance(reader, list):
        return [_null_fill(b, _pair(b, writer)) for b in reader]
    if isinstance(writer, list):
        writer = _pair(reader, writer)
    if not (isinstance(reader, dict) and isinstance(writer, dict)
            and _kind(reader) == _kind(writer)):
        return reader
    if _kind(reader) == "array":
        return {**reader, "items": _null_fill(reader["items"], writer["items"])}
    if _kind(reader) != "record":
        return reader
    have = {f["name"]: f["type"] for f in writer["fields"]}
    fields = []
    for f in reader["fields"]:
        if f["name"] in have:
            f = {**f, "type": _null_fill(f["type"], have[f["name"]])}
        elif "default" not in f:
            branches = f["type"] if isinstance(f["type"], list) else [f["type"]]
            f = {**f, "type": ["null", *(b for b in branches if b != "null")], "default": None}
        fields.append(f)
    return {**reader, "fields": fields}


def _writers(wt: WireType, registry) -> dict[int, list[str]]:
    """The registry decode's id -> writer map over every version of
    ``wt``'s subject: [writer text, reader text for that writer]
    (:func:`_null_fill`), a plain dict for the codec's constructor."""
    if wt.subject is None:
        raise ValueError("a registry decode needs the subject: pin the type "
                         "with resolve_registry_type()")
    reader = json.loads(wt.avsc)
    return {sid: [text, json.dumps(_null_fill(reader, json.loads(text)))]
            for sid, text in registry.subject_schemas(wt.subject)}


def _avro_decode(col: Column, wt: WireType, *, framed: bool, registry) -> Column:
    """The avro decode: the Java UDF over ``wt``'s schema, the writer of
    every payload unless a ``registry`` names one per id."""
    writers = None if registry is None else _writers(wt, registry)
    name = jvm.avro_function("decode", spark_type(wt.model), wt.avsc, framed, writers)
    return F.call_function(name, col)


def _avro_encode(col: Column, wt: WireType, schema_id: int | None) -> Column:
    """The avro encode: the Java UDF; ``schema_id``, when given, frames
    every payload with its Confluent header."""
    from pyspark.sql import types as T

    name = jvm.avro_function("encode", T.BinaryType(), wt.avsc, schema_id)
    return F.call_function(name, col)
