"""Wire serde round-trips (TypeConversions.scala parity; F8 matrix).

Avro runs on two codecs: the Java UDFs (the default) and the Python
codec (the fallback). The ``codec`` fixture runs a test on each; the
Python path is forced by patching the availability probe
``jvm.codec_jar``, as a host without javac would."""

from __future__ import annotations

import logging
import os
import re
import subprocess

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from kafka_streams_plumber_spark import jvm
from kafka_streams_plumber_spark.plans.inspect import python_eval_count
from kafka_streams_plumber_spark.sources.avro_codec import decode_record, encode_record
from kafka_streams_plumber_spark.sources.serde import (
    WireType,
    _unframe,
    decode,
    encode,
    parse_type,
    spark_type_of,
)

CODECS = ("jvm", "python")


def _use_codec(path: str, monkeypatch) -> bool:
    """Route Avro plans to ``path``'s codec; False when it is not on this host."""
    if path == "python":
        monkeypatch.setattr(jvm, "codec_jar", lambda: None)
        return True
    return jvm.codec_jar() is not None


@pytest.fixture(params=CODECS)
def codec(request, monkeypatch):
    if not _use_codec(request.param, monkeypatch):
        pytest.skip("no javac or no Avro jar: the JVM codec is unavailable")
    return request.param

DEMO_AVSC = """
{"type":"record","name":"Rec","fields":[
  {"name":"name","type":"string"},
  {"name":"n","type":"long"}]}
"""


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


def test_avro_confluent_framing_roundtrip(spark, monkeypatch):
    wt = WireType("avro", DEMO_AVSC)
    body = encode_record({"name": "x", "n": 1}, wt.model)
    for path in CODECS:
        with monkeypatch.context() as m:
            if not _use_codec(path, m):
                continue
            df = spark.createDataFrame([(Row(name="x", n=1),)], "v struct<name:string, n:long>")
            enc = df.select(encode(F.col("v"), wt, confluent_framing=True, schema_id=7).alias("b"))
            raw = bytes(enc.collect()[0].b)
            assert raw == b"\x00" + (7).to_bytes(4, "big") + body, path  # magic + id + body
            out = enc.select(
                decode(F.col("b"), wt, confluent_framing=True).alias("v")
            ).collect()[0].v
            assert out == Row(name="x", n=1), path
            # a column name that is not a bare SQL identifier frames the same way
            spaced = enc.withColumnRenamed("b", "kafka value")
            out = spaced.select(
                decode(F.col("kafka value"), wt, confluent_framing=True).alias("v")
            ).collect()[0].v
            assert out == Row(name="x", n=1), path
            # a file-pinned type checks the magic byte as the registry path does
            bad = spark.createDataFrame([(b"\x01" + raw[1:],)], "b binary")
            with pytest.raises(Exception, match="not a Confluent-framed avro message"):
                bad.select(decode(F.col("b"), wt, confluent_framing=True)).collect()


def test_avro_decode_record_rejects_trailing_and_truncated_payloads():
    model = WireType("avro", DEMO_AVSC).model
    body = encode_record({"name": "roel", "n": 14}, model)
    assert decode_record(body, model) == {"name": "roel", "n": 14}
    with pytest.raises(ValueError, match="trailing"):
        decode_record(body + b"\x00", model)
    for cut in range(len(body)):
        with pytest.raises(ValueError, match="truncated"):
            decode_record(body[:cut], model)


def _python_reason(payload: bytes, model, framed: bool) -> str:
    try:
        decode_record(_unframe(payload)[1] if framed else payload, model)
    except ValueError as e:
        return str(e)
    raise AssertionError("the Python codec accepted a bad payload")


def test_avro_decode_errors_name_the_python_codec_reason(spark, codec):
    """Each bad payload fails the query on either codec with the reason
    the Python codec gives: trailing bytes, truncation, and an unframed
    message where the Confluent header is expected."""
    wt = WireType("avro", DEMO_AVSC)
    body = encode_record({"name": "roel", "n": 14}, wt.model)
    cases = [(body + b"\x00\x00", False), (b"\x00" * 5 + body + b"\x01", True)]
    cases += [(body[:cut], False) for cut in (0, 3, len(body) - 1)]
    cases += [(body, True), (b"\x00\x00", True)]
    for payload, framed in cases:
        reason = _python_reason(payload, wt.model, framed)
        df = spark.createDataFrame([(payload,)], "b binary")
        with pytest.raises(Exception, match=re.escape(reason)):
            df.select(decode(F.col("b"), wt, confluent_framing=framed)).collect()


#: every type of the avro_codec subset, N-way union and nested record included
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


def test_avro_codec_parity_every_type(spark, codec):
    """Encode through the serde is byte-identical to avro_codec's
    encode_record, and decode gives decode_record's values, for every
    type of the subset, an N-way union as a struct of branches, and a
    NULL (tombstone) row."""
    wt = WireType("avro", ALL_TYPES_AVSC)
    rows = ALL_TYPES_ROWS + [None]
    want = [None if r is None else encode_record(r, wt.model) for r in rows]
    df = spark.createDataFrame(
        list(enumerate(rows)),
        T.StructType([T.StructField("i", T.LongType()), T.StructField("v", spark_type_of(wt))]),
    )
    evals = 0 if codec == "jvm" else 1
    enc = df.select("i", encode(F.col("v"), wt).alias("b"))
    assert python_eval_count(enc) == evals
    assert [None if r.b is None else bytes(r.b) for r in enc.orderBy("i").collect()] == want

    raw = spark.createDataFrame(list(enumerate(want)), "i long, b binary")
    dec = raw.select("i", decode(F.col("b"), wt).alias("v"))
    assert python_eval_count(dec) == evals
    got = [None if r.v is None else r.v.asDict(recursive=True) for r in dec.orderBy("i").collect()]
    assert got == [None if b is None else decode_record(b, wt.model) for b in want]
    assert got == rows


def test_avro_encode_rejects_null_in_non_nullable_field(spark, codec):
    """A NULL where the schema has no null branch fails with the field's
    path on both codecs, instead of writing "None" or false."""
    wt = WireType("avro", ALL_TYPES_AVSC)
    for path, row in [
        ("All.s", {"s": None}),
        ("All.flag", {"flag": None}),
        ("All.inner.x", {"inner": {"x": None, "ys": []}}),
        ("All.tags[1]", {"tags": ["a", None]}),
    ]:
        rec = {**ALL_TYPES_ROWS[0], **row}
        with pytest.raises(ValueError, match=re.escape(f" at {path}")):
            encode_record(rec, wt.model)
        df = spark.createDataFrame([(rec,)], T.StructType([T.StructField("v", spark_type_of(wt))]))
        with pytest.raises(Exception, match=re.escape(f"null value for (non-nullable)") + ".* at " + re.escape(path)):
            df.select(encode(F.col("v"), wt)).collect()


def test_demo_wire_plan_python_eval_count(spark, monkeypatch):
    """ROADMAP aim 3, pinned on the executed plan: PlumberJob's demo
    decode -> transform -> encode runs no Python with the JVM codec, and
    one Python eval per Avro end on the fallback."""
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
    rec = {"redundantField": 1, "notValid": True, "person": {"name": "A", "species": "b"},
           "fingers_lh": 1, "fingers_rh": 2}
    kv = spark.createDataFrame([(None, encode_record(rec, job.input_value.model))],
                               "key binary, value binary")

    def wire_plan():
        src = kv.select(decode(kv["key"], job.input_key).alias("key"),
                        decode(kv["value"], job.input_value).alias("value"))
        out = job._transformed(src)
        return out.select(encode(out["key"], job.output_key).alias("key"),
                          encode(out["value"], job.output_value).alias("value"))

    want = encode_record({"valid": False, "name": "a", "fingers": 3}, job.output_value.model)
    for path, evals in [("jvm", 0), ("python", 2)]:
        with monkeypatch.context() as m:
            if not _use_codec(path, m):
                continue
            plan = wire_plan()
            assert python_eval_count(plan) == evals, path
            assert bytes(plan.collect()[0].value) == want, path


def test_schema_the_jvm_rejects_runs_on_the_python_codec(spark, caplog):
    """Avro's Java parser refuses a record name with a hyphen that the
    Python schema model accepts; that schema falls back to the Python
    codec with a warning instead of failing on the executors."""
    wt = WireType("avro", '{"type":"record","name":"my-rec","fields":[{"name":"n","type":"long"}]}')
    df = spark.createDataFrame([(encode_record({"n": 5}, wt.model),)], "b binary")
    with caplog.at_level(logging.WARNING, logger=jvm.__name__):
        dec = df.select(decode(F.col("b"), wt).alias("v"))
    assert python_eval_count(dec) == 1
    assert dec.collect()[0].v == Row(n=5)
    if jvm.codec_jar() is not None:
        assert "rejects a schema" in caplog.text


@pytest.fixture
def jar_cache(tmp_path, monkeypatch):
    """An empty jar cache in ``tmp_path``, forgotten again afterwards."""
    monkeypatch.setattr(jvm, "cache_dir", lambda: str(tmp_path))
    jvm.codec_jar.cache_clear()
    yield tmp_path
    jvm.codec_jar.cache_clear()


def test_codec_jar_warm_cache_skips_javac(jar_cache, monkeypatch):
    compiles = []
    real = jvm._compile
    monkeypatch.setattr(jvm, "_compile", lambda *a: (compiles.append(a), real(*a))[1])
    first = jvm.codec_jar()
    if first is None:
        pytest.skip("no javac or no Avro jar")
    assert len(compiles) == 1 and first.startswith(str(jar_cache))
    assert os.listdir(jar_cache) == [os.path.basename(first)]  # no temp file left
    jvm.codec_jar.cache_clear()  # a second process: only the disk cache is left
    assert jvm.codec_jar() == first and len(compiles) == 1


def test_codec_jar_failed_compile_warns_once_and_falls_back(jar_cache, monkeypatch, caplog):
    def broken(jar, jars_dir):
        raise subprocess.CalledProcessError(1, "javac", stderr="AvroCodec.java:1: error: boom")

    monkeypatch.setattr(jvm, "_compile", broken)
    with caplog.at_level(logging.WARNING, logger=jvm.__name__):
        assert jvm.codec_jar() is None
        assert jvm.codec_jar() is None
    assert [r.levelno for r in caplog.records] == [logging.WARNING]
    assert "boom" in caplog.records[0].getMessage()


def test_codec_jar_added_from_a_quoted_path(spark, jar_cache, monkeypatch):
    """A cache path holding a quote still reaches ``ADD JAR`` intact."""
    monkeypatch.setattr(jvm, "cache_dir", lambda: str(jar_cache / "it's"))
    if jvm.codec_jar() is None:
        pytest.skip("no javac or no Avro jar")
    monkeypatch.setattr(jvm, "_REGISTERED", jvm.weakref.WeakKeyDictionary())
    wt = WireType("avro", DEMO_AVSC)
    df = spark.createDataFrame([(encode_record({"name": "q", "n": 2}, wt.model),)], "b binary")
    dec = df.select(decode(F.col("b"), wt).alias("v"))
    assert python_eval_count(dec) == 0
    assert dec.collect()[0].v == Row(name="q", n=2)


def test_codec_registration_failure_warns_and_falls_back(spark, monkeypatch, caplog):
    """A class the session cannot load, or no active session, leaves the
    plan on the Python codec with a warning instead of failing it."""
    if jvm.codec_jar() is None:
        pytest.skip("no javac or no Avro jar")
    wt = WireType("avro", DEMO_AVSC)
    df = spark.createDataFrame([(encode_record({"name": "f", "n": 3}, wt.model),)], "b binary")
    monkeypatch.setattr(jvm, "_REGISTERED", jvm.weakref.WeakKeyDictionary())
    monkeypatch.setitem(jvm.CLASSES, "decode", "plumber.NoSuchCodec")
    with caplog.at_level(logging.WARNING, logger=jvm.__name__):
        dec = df.select(decode(F.col("b"), wt).alias("v"))
    assert "rejects a schema or the Avro codec class" in caplog.text
    monkeypatch.undo()
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=jvm.__name__):
        dec2 = df.select(decode(F.col("b"), wt).alias("v"))
    assert "no active Spark session" in caplog.text
    monkeypatch.undo()
    for plan in (dec, dec2):
        assert python_eval_count(plan) == 1
        assert plan.collect()[0].v == Row(name="f", n=3)


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
