"""Wire serdes: the bridge between Kafka's binary (key, value) and typed
columns — parity with the reference's MappingType serde layer
(TypeConversions.scala:12-35, GenericAvroSerializer.scala:9-73).

Four wire types (SURVEY.md §1.2): long (8-byte big-endian), string
(UTF-8), avro (schema from .avsc or the registry, optionally
Confluent-framed), void (always NULL). long, string and void are column
expressions. Avro is one Java UDF each way (jvm/AvroCodec.java, built and
registered by kafka_streams_plumber_spark.jvm), which also checks and
strips, or prepends, the Confluent header: the wire path never leaves the
JVM. The Arrow-batched Python UDF over sources/avro_codec.py runs in two
cases only: when the Java codec cannot be built (no javac or no Avro jar
in Spark's jars; a warning says so), and for the registry-resolved decode,
whose writer ids are looked up per record through the Python
SchemaRegistryClient. The Java functions are registered in the Spark
session active on the thread that builds the plan, so build and run an
Avro plan on that session; with no active session a warning is logged
and the Python codec runs.

Type strings parse exactly like the reference CLI (`string`,
`long`, `avro=file.avsc`, `avro`, `void` — TypeConversions.scala:42-51):
``parse_type("avro=out.avsc")``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from kafka_streams_plumber_spark.operators.conform import spark_type
from kafka_streams_plumber_spark.operators.pipeline import _py_udf
from kafka_streams_plumber_spark.sources.avsc import parse_avsc, read_plan

_U64 = 1 << 64
_I64_MAX = (1 << 63) - 1


@dataclass(frozen=True)
class WireType:
    kind: str  # long | string | avro | void
    avsc: str | None = None  # schema text for avro
    schema_id: int | None = None  # registry id (framing header on encode)
    registry_resolved: bool = False  # plain `avro`, resolved via registry

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
    resolved by embedded id on the decode path (see
    :func:`_avro_decode`). No-op for non-avro / already-pinned types.
    """
    if wt.kind != "avro" or wt.avsc is not None:
        return wt
    if registry is None:
        raise ValueError(
            "avro without =file.avsc needs a schema registry; "
            "pass avro=file.avsc or configure schema.registry.url"
        )
    sid, text = registry.latest_schema(subject)
    return WireType("avro", text, schema_id=sid, registry_resolved=True)


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
        signed = F.when(u > _I64_MAX, u - wrap).otherwise(u)
        return signed.cast("long")
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


def _confluent_header(schema_id: int) -> bytes:
    """Confluent wire format: magic byte 0x00 + 4-byte big-endian schema
    id (GenericAvroSerializer.scala:30-40)."""
    return b"\x00" + schema_id.to_bytes(4, "big")


def _unframe(b: bytes) -> tuple[int, bytes]:
    """(schema id, avro body) of a Confluent-framed message."""
    if len(b) < 5 or b[0] != 0:
        raise ValueError("not a Confluent-framed avro message")
    return int.from_bytes(b[1:5], "big"), b[5:]


def _avro_decode(col: Column, wt: WireType, *, framed: bool, registry) -> Column:
    """The avro decode: the Java UDF (see the module docstring) unless a
    ``registry`` resolves writer ids or the Java codec is unavailable.

    The fallback is the pure-Python codec (sources/avro_codec.py) as an
    Arrow-batched UDF (useArrow), so only the codec call is per-record,
    not the serialization. (A struct-returning pandas_udf cannot
    represent a NULL struct row, which a Kafka tombstone requires, so the
    Arrow scalar UDF is the vectorization.) Its closure is picked here,
    once per plan, so unframed payloads pay nothing per record for
    framing. Framed payloads lose their header through :func:`_unframe`.
    With a ``registry`` each writer id is resolved against the pinned
    reader schema (``wt``) with sources/avsc.resolve, once per id per
    executor process (GenericAvroSerializer.scala:9-73 semantics);
    reader-only fields without a default null-fill, as conform does; any
    other problem raises."""
    from kafka_streams_plumber_spark import jvm
    from kafka_streams_plumber_spark.sources.avro_codec import decode_record

    reader = wt.model
    if registry is None:
        name = jvm.avro_function("decode", wt.avsc, spark_type(reader))
        if name is not None:
            return F.call_function(name, col, F.lit(wt.avsc), F.lit(framed))
    if not framed:

        def _dec(b, _model=reader):
            return None if b is None else decode_record(b, _model)

    elif registry is None:

        def _dec(b, _model=reader):
            return None if b is None else decode_record(_unframe(b)[1], _model)

    else:

        def _dec(b, _registry=registry, _reader=reader, _plans={}):  # noqa: B006
            if b is None:
                return None
            sid, body = _unframe(b)
            plan = _plans.get(sid)
            if plan is None:
                writer = parse_avsc(_registry.schema_by_id(sid))
                plan = _plans[sid] = read_plan(_reader, writer, null_fill=True)
            return decode_record(body, plan)

    return _py_udf(_dec, spark_type(reader))(col)


def _avro_encode(col: Column, wt: WireType, schema_id: int | None) -> Column:
    """The avro encode: the Java UDF, or the Python codec's UDF when the
    Java codec is unavailable. ``schema_id``, when given, frames every
    payload with its Confluent header, chosen once per plan like
    :func:`_avro_decode`'s framing."""
    from pyspark.sql import types as T

    from kafka_streams_plumber_spark import jvm
    from kafka_streams_plumber_spark.sources.avro_codec import encode_record

    name = jvm.avro_function("encode", wt.avsc, T.BinaryType())
    if name is not None:
        return F.call_function(name, col, F.lit(wt.avsc), F.lit(schema_id).cast("int"))
    model = wt.model
    # struct input arrives as Row (pickled path) or dict (Arrow path);
    # encode_record accepts both
    if schema_id is None:

        def _enc(v, _model=model):
            return None if v is None else encode_record(v, _model)

    else:

        def _enc(v, _model=model, _header=_confluent_header(schema_id)):
            return None if v is None else _header + encode_record(v, _model)

    return _py_udf(_enc, T.BinaryType())(col)
