"""Avro schema-resolution compatibility (sources/avsc.py:
schema_incompatibilities) — the consumer-upgrade pre-flight."""

from __future__ import annotations

import json

import pytest

from kafka_streams_plumber_spark.sources.avsc import schema_incompatibilities
from kafka_streams_plumber_spark.sources.registry import (
    FakeSchemaRegistry,
    check_reader_compatibility,
)


def rec(*fields):
    return {"type": "record", "name": "R", "fields": list(fields)}


def f(name, typ, **kw):
    d = {"name": name, "type": typ}
    d.update(kw)
    return d


def test_identical_schemas_compatible(spark):
    ev = {"type": "enum", "name": "ev", "symbols": ["A", "B"]}
    for s in [
        rec(f("a", "long"), f("b", "string")),
        rec(f("e", ev), f("again", "ev")),  # named-type reference
    ]:
        assert schema_incompatibilities(s, s) == []


def test_primitive_promotions_allowed(spark):
    for w, r in [("int", "long"), ("int", "double"), ("long", "double"),
                 ("float", "double"), ("string", "bytes"), ("bytes", "string")]:
        assert schema_incompatibilities(r, w) == [], (w, r)


def test_primitive_narrowing_rejected(spark):
    probs = schema_incompatibilities("int", "long")
    assert probs and "promote" in probs[0]


def test_added_reader_field_needs_default(spark):
    writer = rec(f("a", "long"))
    ok = rec(f("a", "long"), f("b", "string", default="x"))
    bad = rec(f("a", "long"), f("b", "string"))
    assert schema_incompatibilities(ok, writer) == []
    probs = schema_incompatibilities(bad, writer)
    assert probs and "$.b" in probs[0] and "default" in probs[0]


def test_writer_only_fields_ignored(spark):
    writer = rec(f("a", "long"), f("gone", "string"))
    reader = rec(f("a", "long"))
    assert schema_incompatibilities(reader, writer) == []


def test_nested_record_path_in_message(spark):
    writer = rec(f("inner", {"type": "record", "name": "I",
                            "fields": [f("x", "double")]}))
    reader = rec(f("inner", {"type": "record", "name": "I",
                            "fields": [f("x", "int")]}))
    probs = schema_incompatibilities(reader, writer)
    assert probs and "$.inner.x" in probs[0]


def test_enum_symbol_superset_ok_subset_fails(spark):
    writer = rec(f("e", {"type": "enum", "name": "E", "symbols": ["A", "B"]}))
    wider = rec(f("e", {"type": "enum", "name": "E",
                        "symbols": ["A", "B", "C"]}))
    narrower = rec(f("e", {"type": "enum", "name": "E", "symbols": ["A"]}))
    assert schema_incompatibilities(wider, writer) == []
    probs = schema_incompatibilities(narrower, writer)
    assert probs and "'B'" in probs[0]


def test_union_widening_ok_narrowing_fails(spark):
    writer = rec(f("v", ["null", "long"]))
    wider = rec(f("v", ["null", "long", "string"]))
    narrower = rec(f("v", ["null"]))
    assert schema_incompatibilities(wider, writer) == []
    assert schema_incompatibilities(narrower, writer)
    # non-union reader must accept every writer branch
    assert schema_incompatibilities(rec(f("v", "long")), writer)
    # writer non-union into reader union: one branch must catch it
    assert schema_incompatibilities(wider, rec(f("v", "long"))) == []


def test_array_items_resolve(spark):
    writer = rec(f("xs", {"type": "array", "items": "int"}))
    reader = rec(f("xs", {"type": "array", "items": "long"}))
    assert schema_incompatibilities(reader, writer) == []
    assert schema_incompatibilities(writer, reader)  # long -> int narrows


def test_assert_can_read_raises_with_all_problems(spark):
    writer = rec(f("a", "long"), f("b", "string"))
    reader = rec(f("a", "int"), f("c", "long"))
    msg = "\n".join(schema_incompatibilities(reader, writer))
    assert "$.a" in msg and "$.c" in msg


def test_registry_preflight_against_latest_subject(spark):
    reg = FakeSchemaRegistry()
    writer = json.dumps(rec(f("a", "long")))
    reg.register("orders-value", writer)
    ok = json.dumps(rec(f("a", "long"), f("b", "string", default="")))
    bad = json.dumps(rec(f("a", "int")))
    assert check_reader_compatibility(reg, "orders-value", ok) == []
    assert check_reader_compatibility(reg, "orders-value", bad)


# ---------------------------------------------------------------------
# PlumberJob schema-evolution refuse-to-start
# ---------------------------------------------------------------------


def _job(spark, reader_schema, registry, **kw):
    from kafka_streams_plumber_spark.operators.pipeline import Pipeline
    from kafka_streams_plumber_spark.sources.serde import WireType
    from kafka_streams_plumber_spark.streaming.runner import PlumberJob

    return PlumberJob(
        spark=spark,
        pipeline=Pipeline(),
        brokers="none:9092",
        source_topic="orders",
        sink_topic="out",
        input_key=WireType("long"),
        input_value=WireType("avro", json.dumps(reader_schema)),
        output_key=WireType("long"),
        output_value=WireType("string"),
        registry=registry,
        **kw,
    )


def test_job_refuses_incompatible_reader(spark):
    reg = FakeSchemaRegistry()
    reg.register("orders-value", json.dumps(rec(f("a", "long"))))
    job = _job(spark, rec(f("a", "int")), reg)  # long -> int narrows
    with pytest.raises(ValueError, match="refusing to start"):
        job.run(dry_run=True)


def test_job_starts_with_compatible_reader(spark):
    reg = FakeSchemaRegistry()
    reg.register("orders-value", json.dumps(rec(f("a", "long"))))
    ok = rec(f("a", "long"), f("b", "string", default=""))
    # a passing dry run returns the (never-started) streaming plan spec
    assert _job(spark, ok, reg).run(dry_run=True)["source"]["format"] == "kafka"


def test_job_skips_unknown_subject_and_no_registry(spark):
    # new topic: nothing registered yet -> no block
    assert _job(spark, rec(f("a", "int")), FakeSchemaRegistry()).run(
        dry_run=True
    ) is not None
    # no registry attached: explicit-schema jobs keep working
    assert _job(spark, rec(f("a", "int")), None).run(dry_run=True) is not None
