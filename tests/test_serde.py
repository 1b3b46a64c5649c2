"""Wire serde round-trips (TypeConversions.scala parity; F8 matrix)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row

from kafka_streams_plumber_spark.sources.avro_codec import decode_record, encode_record
from kafka_streams_plumber_spark.sources.serde import (
    WireType,
    decode,
    encode,
    parse_type,
    spark_type_of,
)

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


def test_avro_confluent_framing_roundtrip(spark):
    wt = WireType("avro", DEMO_AVSC)
    df = spark.createDataFrame([(Row(name="x", n=1),)], "v struct<name:string, n:long>")
    enc = df.select(encode(F.col("v"), wt, confluent_framing=True, schema_id=7).alias("b"))
    raw = bytes(enc.collect()[0].b)
    assert raw[0] == 0 and raw[1:5] == (7).to_bytes(4, "big")  # magic + id
    out = enc.select(
        decode(F.col("b"), wt, confluent_framing=True).alias("v")
    ).collect()[0].v
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


def test_avro_decode_record_rejects_trailing_and_truncated_payloads():
    model = WireType("avro", DEMO_AVSC).model
    body = encode_record({"name": "roel", "n": 14}, model)
    assert decode_record(body, model) == {"name": "roel", "n": 14}
    with pytest.raises(ValueError, match="trailing"):
        decode_record(body + b"\x00", model)
    for cut in range(len(body)):
        with pytest.raises(ValueError, match="truncated"):
            decode_record(body[:cut], model)


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
