"""Schema-registry-resolved plain `avro` wire types: client contract,
driver-side reader pinning, per-record writer resolution (heterogeneous
topics), framed encode, HTTP client against a live local server.

Reference behavior mirrored: GenericAvroSerializer.scala:9-73 (schema
by embedded id at deserialize time), TypeConversions.scala:22 (plain
`avro` admitted with no .avsc).
"""

from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_streams_plumber_spark.sources.registry import (
    FakeSchemaRegistry,
    HttpSchemaRegistryClient,
    SchemaNotFound,
)
from kafka_streams_plumber_spark.sources.serde import (
    WireType,
    decode,
    encode,
    parse_type,
    resolve_registry_type,
    spark_type_of,
)

V1 = json.dumps(
    {
        "type": "record",
        "name": "m",
        "fields": [{"name": "a", "type": "long"}],
    }
)
V2 = json.dumps(
    {
        "type": "record",
        "name": "m",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"]},
        ],
    }
)


def _framed(schema_id: int, schema_text: str, value: dict) -> bytes:
    """``value`` as a producer with writer ``schema_text`` frames it,
    encoded by the codec's file-pinned path on the active session."""
    from pyspark.sql import SparkSession

    wt = WireType("avro", schema_text)
    df = SparkSession.getActiveSession().createDataFrame(
        [(value,)], T.StructType([T.StructField("v", spark_type_of(wt))])
    )
    enc = encode(F.col("v"), wt, confluent_framing=True, schema_id=schema_id)
    return bytes(df.select(enc.alias("b")).collect()[0].b)


def test_fake_registry_contract():
    reg = FakeSchemaRegistry()
    id1 = reg.register("t-value", V1)
    id2 = reg.register("t-value", V2)
    assert id1 != id2
    assert reg.register("t-value", V1) == id1  # idempotent
    sid, text = reg.latest_schema("t-value")
    assert sid == id2 and json.loads(text) == json.loads(V2)
    with pytest.raises(SchemaNotFound):
        reg.latest_schema("nope")


def test_parse_type_plain_avro_is_registry_resolved():
    wt = parse_type("avro")
    assert wt.kind == "avro" and wt.avsc is None and wt.registry_resolved


def test_resolve_registry_type_pins_latest():
    reg = FakeSchemaRegistry()
    reg.register("t-value", V1)
    sid2 = reg.register("t-value", V2)
    wt = resolve_registry_type(parse_type("avro"), reg, "t-value")
    assert wt.schema_id == sid2
    assert [f.name for f in wt.model.fields] == ["a", "b"]
    # no-op on pinned / non-avro types
    assert resolve_registry_type(parse_type("long"), reg, "t-value").kind == "long"


def test_resolve_registry_type_requires_registry():
    with pytest.raises(ValueError, match="schema registry"):
        resolve_registry_type(parse_type("avro"), None, "t-value")


def test_registry_decode_heterogeneous_writers(spark):
    """A topic carrying BOTH v1 and v2 writer ids decodes against the
    pinned v2 reader: v1 records null-fill the added field."""
    reg = FakeSchemaRegistry()
    id1 = reg.register("t-value", V1)
    id2 = reg.register("t-value", V2)
    wt = resolve_registry_type(parse_type("avro"), reg, "t-value")

    rows = [
        (_framed(id1, V1, {"a": 7}),),
        (_framed(id2, V2, {"a": 8, "b": "x"}),),
        (None,),
    ]
    df = spark.createDataFrame(rows, T.StructType([T.StructField("value", T.BinaryType())]))
    out = df.select(decode(F.col("value"), wt, registry=reg).alias("v"))
    got = {
        (None if r["v"] is None else (r["v"]["a"], r["v"]["b"]))
        for r in out.collect()
    }
    assert got == {(7, None), (8, "x"), None}


def test_registry_decode_null_fills_nested_records(spark):
    """A reader field without default that the writer lacks null-fills
    inside a ["null", record] field (whether the writer's field is that
    union or the bare record) and inside an array of records too."""
    inner = {"type": "record", "name": "inner", "fields": [{"name": "x", "type": "long"}]}
    item = {"type": "record", "name": "item", "fields": [{"name": "p", "type": "long"}]}

    def schema(inner, item, optional=True):
        return json.dumps({"type": "record", "name": "m", "fields": [
            {"name": "a", "type": "long"},
            {"name": "o", "type": ["null", inner] if optional else inner},
            {"name": "l", "type": {"type": "array", "items": item}},
        ]})

    w1 = schema(inner, item)
    w2 = schema(inner, item, optional=False)
    reader = schema(
        {**inner, "fields": inner["fields"] + [{"name": "y", "type": "string"}]},
        {**item, "fields": item["fields"] + [{"name": "q", "type": "string"}]},
    )
    reg = FakeSchemaRegistry()
    id1 = reg.register("n-value", w1)
    id2 = reg.register("n-value", w2)
    rid = reg.register("n-value", reader)
    wt = resolve_registry_type(parse_type("avro"), reg, "n-value")

    rows = [
        (_framed(id1, w1, {"a": 1, "o": {"x": 2}, "l": [{"p": 3}, {"p": 4}]}),),
        (_framed(id1, w1, {"a": 5, "o": None, "l": []}),),
        (_framed(id2, w2, {"a": 6, "o": {"x": 7}, "l": [{"p": 8}]}),),
        (_framed(rid, reader, {"a": 9, "o": {"x": 10, "y": "z"},
                               "l": [{"p": 11, "q": "w"}]}),),
    ]
    df = spark.createDataFrame(rows, T.StructType([T.StructField("value", T.BinaryType())]))
    got = {
        (r.v.a, None if r.v.o is None else (r.v.o.x, r.v.o.y),
         tuple((i.p, i.q) for i in r.v.l))
        for r in df.select(decode(F.col("value"), wt, registry=reg).alias("v")).collect()
    }
    assert got == {
        (1, (2, None), ((3, None), (4, None))),
        (5, None, ()),
        (6, (7, None), ((8, None),)),
        (9, (10, "z"), ((11, "w"),)),
    }


def test_registry_decode_two_registries_with_the_same_ids(spark):
    """Two registries both number their first writer 1, with different
    schemas, under the same reader: each plan reads id 1 with its own
    registry's writer, in one session (every executor thread has read
    the first registry's id 1 before the second plan runs)."""
    reader = json.dumps({"type": "record", "name": "m", "fields": [
        {"name": "a", "type": ["null", "long"], "default": None},
        {"name": "b", "type": ["null", "string"], "default": None},
    ]})
    out = []
    for field, ftype, value in (("a", "long", 7), ("b", "string", "x")):
        writer = json.dumps({"type": "record", "name": "m",
                             "fields": [{"name": field, "type": ftype}]})
        reg = FakeSchemaRegistry()
        wid = reg.register("m-value", writer)
        reg.register("m-value", reader)
        assert wid == 1
        wt = resolve_registry_type(parse_type("avro"), reg, "m-value")
        df = spark.createDataFrame(
            [(_framed(wid, writer, {field: value}),)] * 64,
            T.StructType([T.StructField("value", T.BinaryType())]),
        ).repartition(8)
        v = decode(F.col("value"), wt, registry=reg)
        out.append({(r.v.a, r.v.b) for r in df.select(v.alias("v")).collect()})
    assert out == [{(7, None)}, {(None, "x")}]


def test_registry_encode_frames_with_registered_id(spark):
    reg = FakeSchemaRegistry()
    sid = reg.register("out-value", V1)
    wt = resolve_registry_type(parse_type("avro"), reg, "out-value")
    df = spark.createDataFrame([(5,)], "a long").select(
        F.struct(F.col("a")).alias("v")
    )
    (raw,) = df.select(encode(F.col("v"), wt).alias("b")).collect()
    b = bytes(raw["b"])
    assert b[0] == 0 and int.from_bytes(b[1:5], "big") == sid
    # body round-trips through the decode path
    df2 = spark.createDataFrame([(b,)], T.StructType([T.StructField("value", T.BinaryType())]))
    (back,) = df2.select(decode(F.col("value"), wt, registry=reg).alias("v")).collect()
    assert back["v"]["a"] == 5


def _registry_http_server(reg: FakeSchemaRegistry):
    from http.server import BaseHTTPRequestHandler, HTTPServer

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def do_GET(self):
            try:
                if self.path.startswith("/subjects/") and self.path.endswith(
                    "/versions/latest"
                ):
                    subject = self.path.split("/")[2]
                    sid, text = reg.latest_schema(subject)
                    doc = {"id": sid, "schema": text, "subject": subject}
                elif self.path.startswith("/subjects/") and self.path.endswith("/versions"):
                    subject = self.path.split("/")[2]
                    doc = list(range(1, len(reg.subject_schemas(subject)) + 1))
                elif self.path.startswith("/subjects/") and "/versions/" in self.path:
                    _, _, subject, _, version = self.path.split("/")
                    versions = reg.subject_schemas(subject)
                    if not 1 <= int(version) <= len(versions):
                        raise SchemaNotFound(self.path)
                    sid, text = versions[int(version) - 1]
                    doc = {"id": sid, "schema": text, "subject": subject, "version": int(version)}
                else:
                    raise SchemaNotFound(self.path)
            except SchemaNotFound:
                self.send_response(404)
                self.end_headers()
                self.wfile.write(b'{"error_code": 40403}')
                return
            payload = json.dumps(doc).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def test_http_client_against_live_server():
    reg = FakeSchemaRegistry()
    id1 = reg.register("t-value", V1)
    srv = _registry_http_server(reg)
    try:
        client = HttpSchemaRegistryClient(f"http://127.0.0.1:{srv.server_port}")
        sid, text = client.latest_schema("t-value")
        assert sid == id1 and json.loads(text) == json.loads(V1)
        srv.shutdown()
    finally:
        srv.server_close()


def test_http_client_lists_subject_versions(spark):
    """``subject_schemas`` walks the subject's version endpoints, and a
    registry decode over the HTTP client reads every version's records."""
    reg = FakeSchemaRegistry()
    id1 = reg.register("t-value", V1)
    id2 = reg.register("t-value", V2)
    srv = _registry_http_server(reg)
    try:
        client = HttpSchemaRegistryClient(f"http://127.0.0.1:{srv.server_port}")
        assert client.subject_schemas("t-value") == reg.subject_schemas("t-value")
        assert [sid for sid, _ in client.subject_schemas("t-value")] == [id1, id2]
        with pytest.raises(SchemaNotFound):
            client.subject_schemas("nope")
        wt = resolve_registry_type(parse_type("avro"), client, "t-value")
        df = spark.createDataFrame(
            [(_framed(id1, V1, {"a": 1}),), (_framed(id2, V2, {"a": 2, "b": "y"}),)],
            "value binary",
        )
        out = df.select(decode(F.col("value"), wt, registry=client).alias("v"))
        assert sorted((r.v.a, r.v.b) for r in out.collect()) == [(1, None), (2, "y")]
    finally:
        srv.shutdown()
        srv.server_close()


def test_plumber_job_resolves_plain_avro(spark):
    """PlumberJob with `-d avro`-style types + a registry pins reader
    schemas per TopicNameStrategy and passes the golden pre-flight."""
    from kafka_streams_plumber_spark.operators.pipeline import Pipeline
    from kafka_streams_plumber_spark.streaming.runner import PlumberJob

    reg = FakeSchemaRegistry()
    reg.register("in-value", V2)
    reg.register("out-value", V2)

    job = PlumberJob(
        spark=spark,
        pipeline=Pipeline().map_values(
            lambda v: F.struct(
                (v["a"] * 2).alias("a"), F.upper(v["b"]).alias("b")
            )
        ),
        brokers="none:9092",
        source_topic="in",
        sink_topic="out",
        input_key=parse_type("void"),
        input_value=parse_type("avro"),
        output_key=parse_type("void"),
        output_value=parse_type("avro"),
        registry=reg,
        fixtures=[(None, {"a": 3, "b": "hi"})],
        expectations=[(None, {"a": 6, "b": "HI"})],
    )
    assert job.input_value.avsc is not None  # resolved at construction
    job.run(dry_run=True)  # golden verification passes


def test_registry_decode_schema_evolution_matrix(spark):
    """VERDICT r9 item 6: the hard per-record-writer-id cases the
    sandbox can't reach through the driver gate — field REORDER,
    spec-listed type PROMOTIONS (int->long, float->double,
    string->bytes), enum SYMBOL ADDITION and a reader-only field with a
    non-null DEFAULT across three writer ids in ONE topic, all decoded
    against the pinned latest reader. The runtime resolution must
    agree with the schema_incompatibilities pre-flight: every writer the
    pre-flight accepts decodes losslessly by field NAME (order,
    width, and symbol set free to differ), and the evolutions the
    pre-flight rejects are exactly the ones with no resolution rule."""
    from kafka_streams_plumber_spark.sources.avsc import schema_incompatibilities

    enum_ab = {"type": "enum", "name": "ev", "symbols": ["A", "B"]}
    enum_abc = {"type": "enum", "name": "ev", "symbols": ["A", "B", "C"]}
    w1 = json.dumps(
        {
            "type": "record",
            "name": "m",
            "fields": [
                {"name": "a", "type": "int"},  # promotes to long
                {"name": "e", "type": enum_ab},
                {"name": "x", "type": "float"},  # promotes to double
                {"name": "t", "type": "string"},  # promotes to bytes
            ],
        }
    )
    w2 = json.dumps(
        {
            "type": "record",
            "name": "m",
            "fields": [
                {"name": "a", "type": "long"},
                {"name": "b", "type": ["null", "string"]},
                {"name": "e", "type": enum_ab},
                {"name": "x", "type": "double"},
                {"name": "t", "type": "string"},
            ],
        }
    )
    # same field set as the reader, REORDERED (avro layout is
    # positional, so a reorder changes the byte stream) + the added
    # enum symbol; w1 and w2 lack `lang` (the reader default fills it)
    w3 = json.dumps(
        {
            "type": "record",
            "name": "m",
            "fields": [
                {"name": "x", "type": "double"},
                {"name": "e", "type": enum_abc},
                {"name": "b", "type": ["null", "string"]},
                {"name": "lang", "type": "string"},
                {"name": "t", "type": "bytes"},
                {"name": "a", "type": "long"},
            ],
        }
    )
    reader = json.dumps(
        {
            "type": "record",
            "name": "m",
            "fields": [
                {"name": "a", "type": "long"},
                {
                    "name": "b",
                    "type": ["null", "string"],
                    "default": None,
                },  # absent from w1: null-fills (default makes it legal)
                {"name": "e", "type": enum_abc},
                {"name": "x", "type": "double"},
                {"name": "lang", "type": "string", "default": "und"},
                {"name": "t", "type": "bytes"},
            ],
        }
    )

    # the pre-flight accepts every writer in the matrix...
    for w in (w1, w2, w3):
        assert schema_incompatibilities(reader, w) == []
    # ...and rejects exactly the unresolvable evolutions
    bad_enum = w3.replace('"C"', '"D"')  # writer symbol D absent from reader
    assert "absent from reader" in "\n".join(schema_incompatibilities(reader, bad_enum))
    bad_promo = w2.replace('"a", "type": "long"', '"a", "type": "string"')
    assert "cannot promote" in "\n".join(schema_incompatibilities(reader, bad_promo))
    # w2's b has no default -> w1 data illegal
    assert "no default" in "\n".join(schema_incompatibilities(w2, w1))

    reg = FakeSchemaRegistry()
    id1 = reg.register("m-value", w1)
    id2 = reg.register("m-value", w2)
    id3 = reg.register("m-value", w3)
    id_bad = reg.register("m-value", bad_enum)
    rid = reg.register("m-value", reader)
    wt = resolve_registry_type(parse_type("avro"), reg, "m-value")
    assert wt.schema_id == rid

    rows = [
        (_framed(id1, w1, {"a": 7, "e": "A", "x": 1.5, "t": "p"}),),
        (_framed(id2, w2, {"a": 8, "b": "x", "e": "B", "x": 2.25, "t": "q"}),),
        (
            _framed(
                id3,
                w3,
                {"x": 3.5, "e": "C", "b": "y", "lang": "en", "t": b"r", "a": 9},
            ),
        ),
    ]
    df = spark.createDataFrame(
        rows, T.StructType([T.StructField("value", T.BinaryType())])
    )
    out = df.select(decode(F.col("value"), wt, registry=reg).alias("v"))
    got = {
        (
            r["v"]["a"], r["v"]["b"], r["v"]["e"], r["v"]["x"],
            r["v"]["lang"], bytes(r["v"]["t"]),
        )
        for r in out.collect()
    }
    # w1: int 7 widened to long, missing b null-filled, float 1.5 is
    # exact in binary32 so the promotion is lossless, string t promoted
    # to bytes, missing lang takes the reader default; w3: the reorder
    # resolves by name, not position
    assert got == {
        (7, None, "A", 1.5, "und", b"p"),
        (8, "x", "B", 2.25, "und", b"q"),
        (9, "y", "C", 3.5, "en", b"r"),
    }
    # ...and the decoder refuses the writer the pre-flight rejects
    bad = spark.createDataFrame(
        [(_framed(id_bad, bad_enum, {"x": 0.0, "e": "D", "b": None,
                                     "lang": "", "t": b"", "a": 0}),)],
        T.StructType([T.StructField("value", T.BinaryType())]),
    )
    with pytest.raises(Exception, match="absent from reader"):
        bad.select(decode(F.col("value"), wt, registry=reg)).collect()


def _rec(name, *fields):
    return json.dumps({"type": "record", "name": name, "fields": list(fields)})


def _enum(name, symbols, **kw):
    return {"type": "enum", "name": name, "symbols": symbols, **kw}


#: (reader, writer, the record written, the raw pre-flight's reason or
#: None, what the registry decode gives or None when it refuses the writer)
AGREEMENT = {
    "enum with a reader default": (
        _rec("m", {"name": "e", "type": _enum("E", ["A", "U"], default="U")}),
        _rec("m", {"name": "e", "type": _enum("E", ["A", "B"])}),
        {"e": "B"}, None, {"e": "U"}),
    "field alias": (
        _rec("m", {"name": "b", "type": "long", "aliases": ["a"]}),
        _rec("m", {"name": "a", "type": "long"}),
        {"a": 5}, None, {"b": 5}),
    "enum symbol the reader lacks": (
        _rec("m", {"name": "e", "type": _enum("E", ["A"])}),
        _rec("m", {"name": "e", "type": _enum("E", ["A", "B"])}),
        {"e": "B"}, "absent from reader", None),
    "enum rename": (
        _rec("m", {"name": "e", "type": _enum("F", ["A", "B"])}),
        _rec("m", {"name": "e", "type": _enum("E", ["A", "B"])}),
        {"e": "A"}, "Found E, expecting F", None),
    "top-level record rename": (
        _rec("n", {"name": "a", "type": "long"}),
        _rec("m", {"name": "a", "type": "long"}),
        {"a": 1}, None, {"a": 1}),
    "nested record rename": (
        _rec("m", {"name": "i", "type": json.loads(_rec("J", {"name": "x", "type": "long"}))}),
        _rec("m", {"name": "i", "type": json.loads(_rec("I", {"name": "x", "type": "long"}))}),
        {"i": {"x": 2}}, None, {"i": {"x": 2}}),
    "int to long": (
        _rec("m", {"name": "a", "type": "long"}),
        _rec("m", {"name": "a", "type": "int"}),
        {"a": 3}, None, {"a": 3}),
    "long to int": (
        _rec("m", {"name": "a", "type": "int"}),
        _rec("m", {"name": "a", "type": "long"}),
        {"a": 4}, "cannot promote", None),
    # the registry decode null-fills the field for this writer, by policy
    "reader field with no default": (
        _rec("m", {"name": "a", "type": "long"}, {"name": "b", "type": "string"}),
        _rec("m", {"name": "a", "type": "long"}),
        {"a": 6}, "no default", {"a": 6, "b": None}),
    "union narrowing": (
        _rec("m", {"name": "v", "type": ["null", "long"]}),
        _rec("m", {"name": "v", "type": ["null", "long", "string"]}),
        {"v": {"long": 7, "string": None}}, "branch", None),
}


@pytest.mark.parametrize("case", AGREEMENT)
def test_preflight_agrees_with_the_registry_decode(spark, case):
    """The pre-flight and the registry decode take one verdict: a writer
    the pre-flight accepts for the reader the decode resolves it with
    (the reader, null-filled for that writer) decodes, and one it refuses
    fails with the pre-flight's reasons, never as a corrupt payload. The
    verdicts are the ones Avro's resolving reader acts on."""
    from kafka_streams_plumber_spark.sources.avsc import schema_incompatibilities
    from kafka_streams_plumber_spark.sources.serde import _null_fill

    reader, writer, value, reason, want = AGREEMENT[case]
    problems = schema_incompatibilities(reader, writer)
    assert (reason in "\n".join(problems)) if reason else problems == [], problems

    reg = FakeSchemaRegistry()
    wid = reg.register("a-value", writer)
    reg.register("a-value", reader)
    wt = resolve_registry_type(parse_type("avro"), reg, "a-value")
    df = spark.createDataFrame([(_framed(wid, writer, value),)], "value binary")
    dec = df.select(decode(F.col("value"), wt, registry=reg).alias("v"))
    own = json.dumps(_null_fill(json.loads(reader), json.loads(writer)))
    refused = schema_incompatibilities(own, writer)
    if want is None:
        with pytest.raises(Exception) as e:
            dec.collect()
        assert refused and all(p in str(e.value) for p in refused), str(e.value)
        assert "truncated or corrupt" not in str(e.value)
    else:
        assert refused == []
        assert dec.collect()[0].v.asDict(recursive=True) == want
