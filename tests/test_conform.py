"""conform() semantics, mirroring AllFieldTypesTest.scala (F4-F7) and the
csv example's nullable union (F3). See FIXTURES.md for provenance.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from kafka_streams_plumber_spark import conform
from kafka_streams_plumber_spark.operators.conform import (
    ConformError,
    Enum,
    Field,
    Record,
    Union,
    UnresolvedUnionError,
    conform_column,
    spark_type,
)
from kafka_streams_plumber_spark.sources.avsc import avsc_to_struct, parse_avsc


def one(spark, value, schema):
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    return spark.createDataFrame([(value,)], T.StructType([T.StructField("value", schema)]))


def test_null_fill_of_omitted_fields(spark):
    # F6: transform returns only {mandstring, optstring0}; optstring1 -> NULL
    df = one(
        spark,
        Row(mandstring="mm", optstring0="o0"),
        T.StructType(
            [
                T.StructField("mandstring", T.StringType()),
                T.StructField("optstring0", T.StringType()),
            ]
        ),
    )
    target = "struct<optstring0:string, optstring1:string, mandstring:string>"
    out = conform(df, target).collect()[0].value
    assert out == Row(optstring0="o0", optstring1=None, mandstring="mm")


def test_extra_fields_silently_dropped(spark):
    df = one(
        spark,
        Row(a=1, extra="x"),
        "struct<a:int, extra:string>",
    )
    out = conform(df, "struct<a:long>").collect()[0].value
    assert out == Row(a=1)


def test_string_to_float_coercion(spark):
    # F4: "3.2" into a FLOAT field -> 3.2f (AllFieldTypesTest.scala:92,122)
    df = one(spark, Row(weight="3.2"), "struct<weight:string>")
    out = conform(df, "struct<weight:float>").collect()[0].value
    assert out.weight == pytest.approx(3.2)


def test_unparsable_coercion_gives_null(spark):
    df = one(spark, Row(n="three"), "struct<n:string>")
    out = conform(df, "struct<n:long>").collect()[0].value
    assert out.n is None


def test_non_string_into_string_is_hard_error(spark):
    # require(lv.isstring) — LuaMapper.scala:104
    df = one(spark, Row(x=3), "struct<x:int>")
    with pytest.raises(ConformError, match="STRING"):
        conform(df, "struct<x:string>")


def test_nested_record_and_arrays(spark):
    # F4 arrays of strings and of records
    df = one(
        spark,
        Row(
            strings=["aap", "noot", "mies"],
            bananas=[Row(color="yellow", weight="7.4")],
        ),
        "struct<strings:array<string>, bananas:array<struct<color:string, weight:string>>>",
    )
    target = "struct<strings:array<string>, bananas:array<struct<color:string, weight:float>>>"
    out = conform(df, target).collect()[0].value
    assert out.strings == ["aap", "noot", "mies"]
    assert out.bananas[0].color == "yellow"
    assert out.bananas[0].weight == pytest.approx(7.4)


def test_enum_domain_ok_and_violation(spark):
    # F5: enum MessageQueue {Kafka, ZeroMQ, NATS, Other}
    target = Record((Field("queue", Enum(("Kafka", "ZeroMQ", "NATS", "Other"), "MessageQueue")),))
    df = one(spark, Row(queue="Kafka"), "struct<queue:string>")
    assert conform(df, target).collect()[0].value.queue == "Kafka"
    bad = one(spark, Row(queue="RabbitMQ"), "struct<queue:string>")
    with pytest.raises(Exception, match="no symbol"):
        conform(bad, target).collect()


def test_nullable_union_fast_path(spark):
    # F3: blog is ["null","string"]; collapses to nullable string column
    target = Record(
        (
            Field("blog", Union((T.NullType(), T.StringType()))),
            Field("login", T.StringType()),
        )
    )
    assert spark_type(target) == T.StructType(
        [
            T.StructField("blog", T.StringType()),
            T.StructField("login", T.StringType()),
        ]
    )
    df = one(spark, Row(login="dudebowski"), "struct<login:string>")
    out = conform(df, target).collect()[0].value
    assert out == Row(blog=None, login="dudebowski")


SEVEN = Union(
    (
        T.NullType(),
        T.BooleanType(),
        T.IntegerType(),
        T.LongType(),
        T.FloatType(),
        T.DoubleType(),
        T.StringType(),
    )
)


def test_nway_union_first_match_wins(spark):
    # F7: runtime (static) type picks the first matching branch
    df = one(
        spark,
        Row(a="string a", b=0.75, c=1.5, d=2, e=1, f=False, g=None),
        "struct<a:string, b:double, c:float, d:long, e:int, f:boolean, g:string>",
    )
    target = Record(tuple(Field(n, SEVEN) for n in "abcdefg"))
    out = conform(df, target).collect()[0].value
    assert out.a == Row(boolean=None, int=None, long=None, float=None, double=None, string="string a")
    # double source -> first fractional branch declared = float
    assert out.b.float == pytest.approx(0.75)
    assert out.c.float == pytest.approx(1.5)
    # long/int sources -> first integral branch declared = int
    assert out.d.int == 2
    assert out.e.int == 1
    assert out.f.boolean is False
    assert out.g is None


def test_unresolvable_union_raises(spark):
    # AllFieldTypesTest.scala:176-196 — 1.5 into ["int","string"]
    df = one(spark, Row(a=1.5), "struct<a:double>")
    target = Record((Field("a", Union((T.IntegerType(), T.StringType()))),))
    with pytest.raises(UnresolvedUnionError):
        conform(df, target)


def test_scalar_column_conform_non_struct(spark):
    df = spark.createDataFrame([("42",), ("x",)], "value string")
    out = conform(df, T.LongType()).collect()
    assert [r.value for r in out] == [42, None]


def test_avsc_bridge_demo_schema(spark):
    avsc = """
    {"type":"record","name":"DesiredStructure","fields":[
      {"name":"valid","type":"boolean"},
      {"name":"name","type":"string"},
      {"name":"fingers","type":"long"},
      {"name":"blog","type":["null","string"]}
    ]}
    """
    st = avsc_to_struct(avsc)
    assert st == T.StructType(
        [
            T.StructField("valid", T.BooleanType()),
            T.StructField("name", T.StringType()),
            T.StructField("fingers", T.LongType()),
            T.StructField("blog", T.StringType()),
        ]
    )


def test_avsc_union_and_enum_roundtrip():
    model = parse_avsc(
        '{"type":"record","name":"R","fields":['
        '{"name":"u","type":["null","boolean","int","long","float","double","string"]},'
        '{"name":"e","type":{"type":"enum","name":"Q","symbols":["A","B"]}}]}'
    )
    u, e = (f.type for f in model.fields)
    assert isinstance(u, Union) and len(u.non_null) == 6 and u.nullable
    assert isinstance(e, Enum) and e.symbols == ("A", "B")


def test_avsc_unsupported_types():
    from kafka_streams_plumber_spark.sources.avsc import UnsupportedAvroType

    with pytest.raises(UnsupportedAvroType):
        parse_avsc('{"type":"map","values":"string"}')


def test_conform_is_pure_expression(spark):
    # no UDF: the plan must stay inside codegen (scale requirement)
    df = one(spark, Row(a="1"), "struct<a:string>")
    out = conform(df, "struct<a:long, b:string>")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
