"""Wire serde round-trips (TypeConversions.scala parity; F8 matrix).

Avro runs on the JVM codec (jvm/AvroCodec.java). Its expected bytes and
values are pinned as literals, so they do not depend on the code under
test."""

from __future__ import annotations

import os
import re
import zipfile

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from kafka_streams_plumber_spark import jvm
from kafka_streams_plumber_spark.plans.inspect import plan_string, python_eval_count
from kafka_streams_plumber_spark.sources.registry import FakeSchemaRegistry
from kafka_streams_plumber_spark.sources.serde import (
    WireType,
    decode,
    encode,
    parse_type,
    resolve_registry_type,
    spark_type_of,
)

DEMO_AVSC = """
{"type":"record","name":"Rec","fields":[
  {"name":"name","type":"string"},
  {"name":"n","type":"long"}]}
"""
#: DEMO_AVSC bodies of {"name": "x", "n": 1} and {"name": "roel", "n": 14}
DEMO_X1 = bytes.fromhex("027802")
DEMO_ROEL = bytes.fromhex("08726f656c1c")


def test_parse_type_specs(tmp_path):
    assert parse_type("long") == WireType("long")
    assert parse_type("string") == WireType("string")
    assert parse_type("void") == WireType("void")
    p = tmp_path / "s.avsc"
    p.write_text(DEMO_AVSC)
    wt = parse_type(f"avro={p}")
    assert wt.kind == "avro" and '"name"' in wt.avsc
    with pytest.raises(ValueError):
        parse_type("protobuf")


@pytest.mark.parametrize("n", [0, 1, 255, 256, 0x1337C0DE, 2**62, -1, -255, -(2**62)])
def test_long_roundtrip(spark, n):
    df = spark.createDataFrame([(n,)], "x long")
    wt = WireType("long")
    enc = df.select(encode(F.col("x"), wt).alias("b"))
    assert len(enc.collect()[0].b) == 8  # kafka LongSerde width
    out = enc.select(decode(F.col("b"), wt).alias("x")).collect()[0].x
    assert out == n


def test_long_big_endian_bytes(spark):
    df = spark.createDataFrame([(1,)], "x long")
    b = df.select(encode(F.col("x"), WireType("long")).alias("b")).collect()[0].b
    assert bytes(b) == b"\x00\x00\x00\x00\x00\x00\x00\x01"


def test_string_roundtrip(spark):
    df = spark.createDataFrame([("héllo",)], "s string")
    wt = WireType("string")
    out = (
        df.select(encode(F.col("s"), wt).alias("b"))
        .select(decode(F.col("b"), wt).alias("s"))
        .collect()[0]
        .s
    )
    assert out == "héllo"


def test_void_is_null(spark):
    df = spark.createDataFrame([("x",)], "s string")
    wt = WireType("void")
    assert df.select(encode(F.col("s"), wt).alias("b")).collect()[0].b is None
    assert df.select(decode(F.col("s"), wt).alias("v")).collect()[0].v is None


def test_avro_roundtrip(spark):
    wt = WireType("avro", DEMO_AVSC)
    df = spark.createDataFrame([(Row(name="roel", n=14),)], "v struct<name:string, n:long>")
    enc = df.select(encode(F.col("v"), wt).alias("b"))
    raw = enc.collect()[0].b
    assert isinstance(bytes(raw), bytes) and len(raw) > 0
    out = enc.select(decode(F.col("b"), wt).alias("v")).collect()[0].v
    assert out == Row(name="roel", n=14)


def test_avro_confluent_framing_roundtrip(spark):
    wt = WireType("avro", DEMO_AVSC)
    df = spark.createDataFrame([(Row(name="x", n=1),)], "v struct<name:string, n:long>")
    enc = df.select(encode(F.col("v"), wt, confluent_framing=True, schema_id=7).alias("b"))
    raw = bytes(enc.collect()[0].b)
    assert raw == b"\x00" + (7).to_bytes(4, "big") + DEMO_X1  # magic + id + body
    out = enc.select(decode(F.col("b"), wt, confluent_framing=True).alias("v")).collect()[0].v
    assert out == Row(name="x", n=1)
    # a column name that is not a bare SQL identifier frames the same way
    spaced = enc.withColumnRenamed("b", "kafka value")
    out = spaced.select(
        decode(F.col("kafka value"), wt, confluent_framing=True).alias("v")
    ).collect()[0].v
    assert out == Row(name="x", n=1)
    # a file-pinned type checks the magic byte as the registry path does
    bad = spark.createDataFrame([(b"\x01" + raw[1:],)], "b binary")
    with pytest.raises(Exception, match="not a Confluent-framed avro message"):
        bad.select(decode(F.col("b"), wt, confluent_framing=True)).collect()


def _decoded(spark, payload: bytes, wt, **kw):
    df = spark.createDataFrame([(payload,)], "b binary")
    return df.select(decode(F.col("b"), wt, **kw).alias("v")).collect()[0].v


def test_long_decode_refuses_payloads_not_8_bytes(spark):
    """Kafka's LongSerde throws on a payload that is not 8 bytes; the long
    wire type fails the query naming the length, and NULL stays NULL."""
    wt = WireType("long")
    assert _decoded(spark, None, wt) is None
    assert _decoded(spark, b"\xff" * 8, wt) == -1
    for payload in (b"", b"\x01\x02", b"\x00" * 9):
        with pytest.raises(Exception, match=f"long payload of {len(payload)} bytes"):
            _decoded(spark, payload, wt)


def test_avro_decode_record_rejects_trailing_and_truncated_payloads(spark):
    wt = WireType("avro", DEMO_AVSC)
    assert _decoded(spark, DEMO_ROEL, wt) == Row(name="roel", n=14)
    with pytest.raises(Exception, match="trailing"):
        _decoded(spark, DEMO_ROEL + b"\x00", wt)
    for cut in range(len(DEMO_ROEL)):
        with pytest.raises(Exception, match="truncated"):
            _decoded(spark, DEMO_ROEL[:cut], wt)


def test_avro_decode_errors_name_the_reason(spark):
    """Each bad payload fails the query with its reason: trailing bytes,
    truncation, an unframed message where the Confluent header is
    expected, and, on the registry path, a writer id the subject lacks."""
    wt = WireType("avro", DEMO_AVSC)
    trailing, truncated = "avro payload: {} trailing bytes", "avro payload truncated or corrupt"
    unframed = "not a Confluent-framed avro message"
    cases = [
        (DEMO_ROEL + b"\x00\x00", False, trailing.format(2)),
        (b"\x00" * 5 + DEMO_ROEL + b"\x01", True, trailing.format(1)),
        *((DEMO_ROEL[:cut], False, truncated) for cut in (0, 3, len(DEMO_ROEL) - 1)),
        (DEMO_ROEL, True, unframed),
        (b"\x00\x00", True, unframed),
    ]
    for payload, framed, reason in cases:
        with pytest.raises(Exception, match=re.escape(reason)):
            _decoded(spark, payload, wt, confluent_framing=framed)
    reg = FakeSchemaRegistry()
    reg.register("t-value", DEMO_AVSC)
    rt = resolve_registry_type(parse_type("avro"), reg, "t-value")
    with pytest.raises(Exception, match="schema id 99 is not a version of the subject"):
        _decoded(spark, b"\x00" + (99).to_bytes(4, "big") + DEMO_ROEL, rt, registry=reg)


#: every type of the codec's subset, N-way union and nested record included
ALL_TYPES_AVSC = """
{"type":"record","name":"All","fields":[
  {"name":"nil","type":"null"},
  {"name":"flag","type":"boolean"},
  {"name":"i","type":"int"},
  {"name":"l","type":"long"},
  {"name":"f","type":"float"},
  {"name":"d","type":"double"},
  {"name":"s","type":"string"},
  {"name":"raw","type":"bytes"},
  {"name":"suit","type":{"type":"enum","name":"Suit","symbols":["HEARTS","SPADES"]}},
  {"name":"tags","type":{"type":"array","items":"string"}},
  {"name":"inner","type":{"type":"record","name":"Inner","fields":[
    {"name":"x","type":"long"},
    {"name":"ys","type":{"type":"array","items":["null","int"]}}]}},
  {"name":"opt","type":["null","string"]},
  {"name":"any","type":["null","int","string","double","Inner",
    {"type":"enum","name":"com.acme.Color","symbols":["RED","BLUE"]}]}]}
"""

ALL_TYPES_ROWS = [
    {"nil": None, "flag": True, "i": -7, "l": 2**40, "f": 1.5, "d": -0.25, "s": "héllo",
     "raw": b"\x00\xff", "suit": "SPADES", "tags": ["a", "b"],
     "inner": {"x": 3, "ys": [1, None, -2]}, "opt": "set",
     "any": {"int": None, "string": "s", "double": None, "Inner": None, "com.acme.Color": None}},
    {"nil": None, "flag": False, "i": 0, "l": -1, "f": -0.0, "d": 1e300, "s": "",
     "raw": b"", "suit": "HEARTS", "tags": [],
     "inner": {"x": 0, "ys": []}, "opt": None,
     "any": {"int": None, "string": None, "double": None, "Inner": {"x": 9, "ys": [None]},
             "com.acme.Color": None}},
    {"nil": None, "flag": True, "i": 2**31 - 1, "l": -(2**63), "f": 0.0, "d": 2.0, "s": "z",
     "raw": b"x", "suit": "HEARTS", "tags": ["c"],
     "inner": {"x": -5, "ys": [7]}, "opt": None, "any": None},
    {"nil": None, "flag": False, "i": 1, "l": 1, "f": 1.0, "d": 1.0, "s": "y",
     "raw": b"y", "suit": "SPADES", "tags": ["d"],
     "inner": {"x": 1, "ys": []}, "opt": "o",
     "any": {"int": None, "string": None, "double": None, "Inner": None, "com.acme.Color": "BLUE"}},
]

#: ALL_TYPES_ROWS in the Avro binary encoding, by the spec's rules
ALL_TYPES_BYTES = [bytes.fromhex(h) for h in (
    "010d8080808080400000c03f000000000000d0bf0c68c3a96c6c6f0400ff0204026102620006060202000203"
    "000206736574040273",
    "000001000000809c7500883ce4377e000000000000000812020000",
    "01feffffff0fffffffffffffffffff01000000000000000000000040027a027800020263000902020e000000",
    "0002020000803f000000000000f03f027902790202026400020002026f0a02",
)]


def _all_types(spark, rows):
    wt = WireType("avro", ALL_TYPES_AVSC)
    return spark.createDataFrame(
        list(enumerate(rows)),
        T.StructType([T.StructField("i", T.LongType()), T.StructField("v", spark_type_of(wt))]),
    )


def test_avro_codec_parity_every_type(spark):
    """Encode gives the pinned bytes and decode gives the rows back, for
    every type of the subset, an N-way union as a struct of branches,
    and a NULL (tombstone) row."""
    wt = WireType("avro", ALL_TYPES_AVSC)
    rows = ALL_TYPES_ROWS + [None]
    want = ALL_TYPES_BYTES + [None]
    enc = _all_types(spark, rows).select("i", encode(F.col("v"), wt).alias("b"))
    assert [None if r.b is None else bytes(r.b) for r in enc.orderBy("i").collect()] == want

    raw = spark.createDataFrame(list(enumerate(want)), "i long, b binary")
    dec = raw.select("i", decode(F.col("b"), wt).alias("v"))
    got = [None if r.v is None else r.v.asDict(recursive=True) for r in dec.orderBy("i").collect()]
    assert got == rows


def test_avro_encode_rejects_null_in_non_nullable_field(spark):
    """A NULL where the schema has no null branch fails with the field's
    path, instead of writing "None" or false."""
    wt = WireType("avro", ALL_TYPES_AVSC)
    for path, row in [
        ("All.s", {"s": None}),
        ("All.flag", {"flag": None}),
        ("All.inner.x", {"inner": {"x": None, "ys": []}}),
        ("All.tags[1]", {"tags": ["a", None]}),
    ]:
        df = _all_types(spark, [{**ALL_TYPES_ROWS[0], **row}])
        with pytest.raises(Exception, match=re.escape("null value for (non-nullable)") + ".* at " + re.escape(path)):
            df.select(encode(F.col("v"), wt)).collect()


def test_every_avro_path_plans_no_python(spark, tmp_path):
    """ROADMAP aim 3, pinned on the executed plans: file-pinned decode and
    encode, framed decode, registry decode and the container-file reader
    all run in the JVM. Schemas ride in each codec function's instance,
    not in the rows: no plan holds schema text, and each codec call's only
    argument is its payload or value column."""
    from kafka_streams_plumber_spark.sources.avro_ocf import read_avro_ocf

    wt = WireType("avro", DEMO_AVSC)
    reg = FakeSchemaRegistry()
    sid = reg.register("t-value", DEMO_AVSC)
    rt = resolve_registry_type(parse_type("avro"), reg, "t-value")
    framed = b"\x00" + sid.to_bytes(4, "big") + DEMO_X1
    raw = spark.createDataFrame([(DEMO_X1, framed)], "b binary, f binary")
    plans = {
        "decode": (raw.select(decode(F.col("b"), wt).alias("v")), "b"),
        "encode": (spark.createDataFrame([(Row(name="x", n=1),)], "v struct<name:string, n:long>")
                   .select(encode(F.col("v"), wt).alias("b")), "v"),
        "framed decode": (raw.select(decode(F.col("f"), wt, confluent_framing=True).alias("v")), "f"),
        "registry decode": (raw.select(decode(F.col("f"), rt, registry=reg).alias("v")), "f"),
    }
    for path, (plan, column) in plans.items():
        assert python_eval_count(plan) == 0, path
        text = plan_string(plan)
        calls = re.findall(r"plumber_avro_\w+\(([^()]*)\)", text)
        assert "fields" not in text and calls, text
        assert all(re.fullmatch(rf"{column}#\d+", c) for c in calls), text
        assert plan.collect()[0][0] in (Row(name="x", n=1), bytearray(DEMO_X1)), path
    (tmp_path / "trash.avro").write_bytes(b"not avro")
    ocf = read_avro_ocf(spark, str(tmp_path), DEMO_AVSC)
    assert python_eval_count(ocf) == 0
    assert [r._corrupt for r in ocf.collect()] == [True]


def test_demo_wire_plan_python_eval_count(spark):
    """PlumberJob's demo decode -> transform -> encode runs no Python."""
    import importlib.util

    from kafka_streams_plumber_spark.streaming.runner import PlumberJob

    demo = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples", "demo")
    spec = importlib.util.spec_from_file_location("demo_example", os.path.join(demo, "example.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    job = PlumberJob(
        spark=spark, pipeline=mod.pipeline(), brokers="", source_topic="in", sink_topic="out",
        input_key=parse_type("void"),
        input_value=parse_type(f"avro={demo}/example.undesired.avsc"),
        output_key=parse_type("void"),
        output_value=parse_type(f"avro={demo}/example.desired.avsc"),
    )
    # {"redundantField": 1, "notValid": True, "person": {"name": "A",
    # "species": "b"}, "fingers_lh": 1, "fingers_rh": 2} in, and
    # {"valid": False, "name": "a", "fingers": 3} out
    rec, want = bytes.fromhex("0201020402410262"), bytes.fromhex("00026106")
    kv = spark.createDataFrame([(None, rec)], "key binary, value binary")
    src = kv.select(decode(kv["key"], job.input_key).alias("key"),
                    decode(kv["value"], job.input_value).alias("value"))
    out = job._transformed(src)
    plan = out.select(encode(out["key"], job.output_key).alias("key"),
                      encode(out["value"], job.output_value).alias("value"))
    assert python_eval_count(plan) == 0
    assert bytes(plan.collect()[0].value) == want


def test_schema_avro_rejects_is_refused_when_the_plan_is_built(spark):
    """Avro's Java parser refuses a record name with a hyphen that the
    Python schema model accepts; the plan is refused when it is built,
    with Avro's message, instead of failing on the executors."""
    wt = WireType("avro", '{"type":"record","name":"my-rec","fields":[{"name":"n","type":"long"}]}')
    df = spark.createDataFrame([(b"\x0a",)], "b binary")
    with pytest.raises(ValueError, match="Avro rejects the schema: Illegal character in: my-rec"):
        df.select(decode(F.col("b"), wt).alias("v"))


@pytest.fixture
def jar_cache(tmp_path, monkeypatch):
    """An empty jar cache in ``tmp_path``, forgotten again afterwards."""
    monkeypatch.setattr(jvm, "cache_dir", lambda: str(tmp_path))
    jvm.codec_jar.cache_clear()
    yield tmp_path
    jvm.codec_jar.cache_clear()


def test_codec_jar_cold_cache_compiles_with_janino(spark, jar_cache, monkeypatch):
    """An empty cache compiles the source with Janino (so an edit that
    leaves Janino's Java subset fails here), and a second process reuses
    the jar."""
    compiles = []
    real = jvm._compile
    monkeypatch.setattr(jvm, "_compile", lambda *a: (compiles.append(a), real(*a))[1])
    first = jvm.codec_jar()
    assert len(compiles) == 1 and first.startswith(str(jar_cache))
    assert os.listdir(jar_cache) == [os.path.basename(first)]  # no temp file left
    with zipfile.ZipFile(first) as z:
        assert {c.replace(".", "/") + ".class" for c in jvm.CLASSES.values()} <= set(z.namelist())
    jvm.codec_jar.cache_clear()  # a second process: only the disk cache is left
    assert jvm.codec_jar() == first and len(compiles) == 1


def test_codec_jar_build_error_names_the_line(spark, jar_cache, monkeypatch, tmp_path):
    """Java outside Janino's subset fails the build with Janino's message,
    which names the line; no jar is left behind."""
    src = tmp_path / "AvroCodec.java"
    src.write_text("package plumber;\npublic final class AvroCodec {\n"
                   "  static Runnable r = () -> {};\n}\n")
    monkeypatch.setattr(jvm, "SOURCE", str(src))
    with pytest.raises(Exception, match="Line 3"):
        jvm.codec_jar()
    assert not any(p.suffix in (".jar", ".part") for p in jar_cache.iterdir())


def test_codec_jar_added_from_a_quoted_path(spark, jar_cache, monkeypatch):
    """A cache path holding a quote still reaches ``ADD JAR`` intact."""
    monkeypatch.setattr(jvm, "cache_dir", lambda: str(jar_cache / "it's"))
    monkeypatch.setattr(jvm, "_REGISTERED", jvm.weakref.WeakKeyDictionary())
    wt = WireType("avro", DEMO_AVSC)
    dec = spark.createDataFrame([(DEMO_ROEL,)], "b binary").select(decode(F.col("b"), wt).alias("v"))
    assert python_eval_count(dec) == 0
    assert dec.collect()[0].v == Row(name="roel", n=14)


def test_avro_plan_without_a_session_is_refused(spark, monkeypatch):
    """With no active session there is nowhere to register the codec:
    the plan is refused when it is built, not run on a fallback."""
    from pyspark.sql import SparkSession

    wt = WireType("avro", DEMO_AVSC)
    df = spark.createDataFrame([(DEMO_ROEL,)], "b binary")
    monkeypatch.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
    for build in (lambda: decode(F.col("b"), wt), lambda: encode(F.col("b"), wt)):
        with pytest.raises(RuntimeError, match="needs an active Spark session"):
            build()


UNION_ENUM_AVSC = """
{"type":"record","name":"U","fields":[
  {"name":"u","type":["null","int","string","double"]},
  {"name":"e","type":{"type":"enum","name":"E","symbols":["A","B"]}}]}
"""


def test_spark_type_of(spark):
    from pyspark.sql import types as T

    assert spark_type_of(WireType("long")) == T.LongType()
    assert spark_type_of(WireType("string")) == T.StringType()
    assert isinstance(spark_type_of(WireType("avro", DEMO_AVSC)), T.StructType)
    # the golden gate types its fixtures with spark_type_of: the decoded
    # column must have exactly that type, N-way unions and enums included
    wt = WireType("avro", UNION_ENUM_AVSC)
    b = spark.range(1).select(F.lit(b"").alias("b"))
    assert b.select(decode(F.col("b"), wt)).schema[0].dataType == spark_type_of(wt)
