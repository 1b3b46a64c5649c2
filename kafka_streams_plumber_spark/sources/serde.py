"""Wire serdes: the bridge between Kafka's binary (key, value) and typed
columns — parity with the reference's MappingType serde layer
(TypeConversions.scala:12-35, GenericAvroSerializer.scala:9-73).

Four wire types (SURVEY.md §1.2): long (8-byte big-endian), string
(UTF-8), avro (Confluent-framed, schema from .avsc), void (always NULL).
All decode/encode paths are pure column expressions.

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
    :func:`registry_decode`). No-op for non-avro / already-pinned types.
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
    """binary column -> typed column."""
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
        if wt.registry_resolved and registry is not None:
            # registry-encoded topics may be heterogeneous (old writer
            # ids still in flight) -> per-record writer resolution
            return registry_decode(col, wt, registry)
        payload = col
        if confluent_framing or wt.registry_resolved:
            # Confluent wire format: magic byte 0x00 + 4-byte schema id
            # (GenericAvroSerializer.scala:30-40) — strip the 5-byte header
            payload = F.expr(f"substring({_name(col)}, 6, length({_name(col)}) - 5)")
        if _jvm_avro_available():
            from pyspark.sql.avro.functions import from_avro

            return from_avro(payload, wt.avsc)
        return _py_avro_decode(payload, wt)
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
        if _jvm_avro_available():
            from pyspark.sql.avro.functions import to_avro

            body = to_avro(col, wt.avsc)
        else:
            body = _py_avro_encode(col, wt)
        if confluent_framing or wt.registry_resolved:
            # registry-resolved types frame with their registered id
            # (GenericAvroSerializer.scala:30-40)
            sid = schema_id if schema_id is not None else (wt.schema_id or 0)
            header = F.unhex(F.lpad(F.hex(F.lit(sid)), 8, "0"))
            return F.concat(F.unhex(F.lit("00")), header, body)
        return body
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


def _name(col: Column) -> str:
    # column name for embedding in a SQL expr fragment
    return col._jc.toString()  # noqa: SLF001


_JVM_AVRO: bool | None = None


def _jvm_avro_available() -> bool:
    """True when the spark-avro datasource module is on the JVM classpath
    (the AVRO_NOT_LOADED error only surfaces at analysis time, so probe
    the class eagerly and cache). This pyspark build ships without it;
    real clusters usually add org.apache.spark:spark-avro via packages."""
    global _JVM_AVRO
    if _JVM_AVRO is None:
        try:
            from pyspark.sql import SparkSession
            from pyspark.sql.avro.functions import to_avro

            spark = SparkSession.getActiveSession()
            if spark is None:
                return False  # don't cache a session-less probe
            # the only reliable probe is evaluating the function once:
            # AVRO_NOT_LOADED surfaces at analysis, not at class load
            spark.range(1).select(
                to_avro(F.struct(F.lit(1).alias("a")))
            ).collect()
            _JVM_AVRO = True
        except Exception:
            _JVM_AVRO = False
    return _JVM_AVRO


def _py_avro_decode(payload: Column, wt: WireType) -> Column:
    """Fallback when the JVM spark-avro module is absent (this container):
    spec-correct pure-Python codec (sources/avro_codec.py). Arrow-batched
    (useArrow): the per-record decode is inherently Python, but batches
    move over Arrow instead of per-row pickle — the 10-100x serde
    overhead is gone. (A struct-returning pandas_udf cannot represent a
    NULL struct row, which a Kafka tombstone requires, so the Arrow
    scalar UDF is the correct vectorization here.) Prefer the JVM
    spark-avro path on real clusters."""
    from kafka_streams_plumber_spark.sources.avro_codec import decode_record

    model = wt.model
    out_type = spark_type(model)

    def _dec(b, _model=model):
        return None if b is None else decode_record(b, _model)

    return _py_udf(_dec, out_type)(payload)


def registry_decode(col: Column, wt: WireType, registry) -> Column:
    """Decode Confluent-framed avro with PER-RECORD writer-schema
    resolution (GenericAvroSerializer.scala:9-73 semantics): read the
    4-byte embedded id, fetch that writer schema through ``registry``
    and resolve it against the pinned READER schema (``wt``) with
    sources/avsc.resolve, once per distinct id per executor; records then
    decode straight into reader shape. Reader-only fields without a
    default null-fill, as conform does; any other problem raises.

    Python decode by necessity — ``from_avro`` has no per-record schema
    hook — but Arrow-batched, so only the codec call itself is
    per-record, not the serialization. Use it only for heterogeneous
    topics; homogeneous topics take the JVM path in :func:`decode`.
    """
    from kafka_streams_plumber_spark.sources.avro_codec import decode_record

    reader = wt.model
    out_type = spark_type(reader)

    def _dec(b, _registry=registry, _reader=reader, _plans={}):  # noqa: B006
        if b is None:
            return None
        b = bytes(b)
        if len(b) < 5 or b[0] != 0:
            raise ValueError("not a Confluent-framed avro message")
        sid = int.from_bytes(b[1:5], "big")
        plan = _plans.get(sid)
        if plan is None:
            writer = parse_avsc(_registry.schema_by_id(sid))
            plan = _plans[sid] = read_plan(_reader, writer, null_fill=True)
        return decode_record(b[5:], plan)

    return _py_udf(_dec, out_type)(col)


def _py_avro_encode(col: Column, wt: WireType) -> Column:
    from pyspark.sql import types as T

    from kafka_streams_plumber_spark.sources.avro_codec import encode_record

    model = wt.model

    def _enc(v, _model=model):
        # struct input arrives as Row (pickled path) or dict (Arrow
        # path); encode_record accepts both
        return None if v is None else encode_record(v, _model)

    return _py_udf(_enc, T.BinaryType())(col)
