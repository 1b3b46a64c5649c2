"""CLI parity: flags -i -o -d -s -l -p -t -D (Plumber.scala:88-145),
dry-run verification exit codes."""

from __future__ import annotations

import textwrap

from kafka_streams_plumber_spark.cli import main

PIPELINE = textwrap.dedent(
    """
    import pyspark.sql.functions as F
    from kafka_streams_plumber_spark import Pipeline

    def pipeline():
        return Pipeline().map_values(lambda v: F.upper(v))
    """
)

TEST_OK = textwrap.dedent(
    """
    def fixtures():
        return [("k", "hello")]

    def expectations():
        return [("k", "HELLO")]
    """
)

TEST_BAD = TEST_OK.replace("HELLO", "nope")


def _write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content)
    return str(p)


def _argv(tmp_path, test_file):
    return [
        "-i", "in", "-o", "out",
        "-d", "string,string", "-s", "string,string",
        "-l", _write(tmp_path, "pipe.py", PIPELINE),
        "-t", test_file,
        "-D",
    ]


def test_dry_run_pass_exits_zero(spark, tmp_path, capsys):
    rc = main(_argv(tmp_path, _write(tmp_path, "t_ok.py", TEST_OK)))
    assert rc == 0
    assert "dry run" in capsys.readouterr().out


def test_dry_run_mismatch_exits_one(spark, tmp_path, capsys):
    rc = main(_argv(tmp_path, _write(tmp_path, "t_bad.py", TEST_BAD)))
    assert rc == 1
    assert "verification failed" in capsys.readouterr().err


def test_properties_file_parsing(tmp_path):
    from kafka_streams_plumber_spark.cli import _load_properties

    p = tmp_path / "app.properties"
    p.write_text("# comment\nbootstrap.servers=broker:9092\nkafka.fetch.max.bytes = 1048576\n")
    props = _load_properties(str(p))
    assert props["bootstrap.servers"] == "broker:9092"
    assert props["kafka.fetch.max.bytes"] == "1048576"


IN_AVSC = """{
  "type": "record", "name": "Sensor", "fields": [
    {"name": "name", "type": "string"},
    {"name": "pressure", "type": "int"},
    {"name": "temperature", "type": "int"}
  ]
}"""

OUT_AVSC = """{
  "type": "record", "name": "Out", "fields": [
    {"name": "valid", "type": "boolean"},
    {"name": "name", "type": "string"},
    {"name": "fingers", "type": ["null", "int"], "default": null}
  ]
}"""

AVRO_PIPELINE = textwrap.dedent(
    """
    import pyspark.sql.functions as F
    from kafka_streams_plumber_spark import Pipeline

    def pipeline():
        # demo transform (examples/demo/example.lua): restructure the
        # record; 'fingers' omitted -> conform null-fills it
        return Pipeline().map_values(
            lambda v: F.struct(
                (v["temperature"] >= 0).alias("valid"),
                F.lower(v["name"]).alias("name"),
            )
        )
    """
)

AVRO_TEST = textwrap.dedent(
    """
    def fixtures():
        return [
            ("k1", {"name": "Amsterdam", "pressure": 1012, "temperature": 5}),
            ("k2", {"name": "Oslo", "pressure": 990, "temperature": -3}),
        ]

    def expectations():
        return [
            ("k1", {"valid": True, "name": "amsterdam", "fingers": None}),
            ("k2", {"valid": False, "name": "oslo", "fingers": None}),
        ]
    """
)


def test_avro_dry_run_with_conform_null_fill(spark, tmp_path, capsys):
    """End-to-end avro wire types through the CLI: -d string,avro=in
    -s string,avro=out -D. The declared output schema drives conform
    (drop-extra/null-fill), the golden gate passes, exit 0."""
    argv = [
        "-i", "in", "-o", "out",
        "-d", f"string,avro={_write(tmp_path, 'in.avsc', IN_AVSC)}",
        "-s", f"string,avro={_write(tmp_path, 'out.avsc', OUT_AVSC)}",
        "-l", _write(tmp_path, "avro_pipe.py", AVRO_PIPELINE),
        "-t", _write(tmp_path, "avro_test.py", AVRO_TEST),
        "-D",
    ]
    rc = main(argv)
    assert rc == 0
    assert "dry run" in capsys.readouterr().out


def test_avro_dry_run_fails_on_wrong_expectation(spark, tmp_path, capsys):
    bad = AVRO_TEST.replace('"amsterdam"', '"AMSTERDAM"')
    argv = [
        "-i", "in", "-o", "out",
        "-d", f"string,avro={_write(tmp_path, 'in.avsc', IN_AVSC)}",
        "-s", f"string,avro={_write(tmp_path, 'out.avsc', OUT_AVSC)}",
        "-l", _write(tmp_path, "avro_pipe.py", AVRO_PIPELINE),
        "-t", _write(tmp_path, "avro_bad.py", bad),
        "-D",
    ]
    rc = main(argv)
    assert rc == 1
    assert "verification failed" in capsys.readouterr().err


def test_single_type_spec_means_void_key(spark, tmp_path, capsys):
    """`-d string` == `-d void,string` (TypeConversions.scala:42-51)."""
    argv = [
        "-i", "in", "-o", "out",
        "-d", "string", "-s", "string",
        "-l", _write(tmp_path, "pipe.py", PIPELINE),
        "-t", _write(tmp_path, "t.py", textwrap.dedent(
            """
            def fixtures():
                return [(None, "hello")]

            def expectations():
                return [(None, "HELLO")]
            """
        )),
        "-D",
    ]
    assert main(argv) == 0


def test_reference_examples_verify(spark):
    """The three reference examples (examples/{demo,time,csv}) pass
    their golden gates through the real CLI surface."""
    import os

    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples")
    cases = {
        "demo": ["-d", "avro=example.undesired.avsc", "-s", "avro=example.desired.avsc"],
        "time": ["-d", "string,string", "-s", "long,long"],
        "csv": ["-d", "string", "-s", "avro=example.avsc"],
    }
    cwd = os.getcwd()
    try:
        for name, types in cases.items():
            os.chdir(os.path.join(root, name))
            rc = main([
                "-i", "in", "-o", "out", *types,
                "-l", "example.py", "-t", "example.test.py", "-D",
            ])
            assert rc == 0, name
    finally:
        os.chdir(cwd)


def test_curation_example_end_to_end(spark, tmp_path):
    """The examples/curation pipeline must run every stage and emit a
    partitioned layout (the repo's showcase path: dedup -> quality ->
    decontaminate -> order -> pack -> write)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "curation_example",
        os.path.join(os.path.dirname(__file__), "..", "examples", "curation", "example.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    out = str(tmp_path / "curated")
    report = mod.curate(spark, "/root/testdata/sf0.001", out)
    counts = {stage: m["rows"] for stage, m in report.items()}
    assert counts["input"] > 0 and report["input"]["chars"] > 0
    assert counts["after_dedup"] <= counts["input"]
    assert counts["after_quality"] <= counts["after_dedup"]
    assert counts["after_resample"] <= counts["after_quality"]
    assert counts["after_decontam"] < counts["after_resample"]  # bench docs removed
    # group_split holds out the val sources before packing
    assert 0 < counts["packed_rows"] <= counts["after_decontam"]
    back = spark.read.parquet(out)
    assert back.count() == counts["packed_rows"]
    assert "shard" in back.columns and "seq_idx" in back.columns


def test_crawl_example_end_to_end(spark, tmp_path):
    """examples/crawl: WARC -> html_to_text -> canonicalize -> blocklist
    -> URL dedup -> near-dup removal, on a synthesized archive."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "crawl_example",
        os.path.join(
            os.path.dirname(__file__), "..", "examples", "crawl", "example.py"
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    warc = mod._demo_warc(str(tmp_path))
    out = str(tmp_path / "out")
    counts = mod.crawl_curate(spark, warc, out)
    assert counts["responses"] == 5
    # 1 blocked domain + 1 canonical-URL duplicate removed
    assert counts["after_blocklist_and_urldedup"] == 3
    # 1 near-duplicate removed
    assert counts["kept"] == 2 and counts["domains"] == 2
    back = spark.read.parquet(out)
    assert back.count() == 2
    assert not any("blocked.net" in r["host"] for r in back.collect())


def test_dry_run_builds_kafka_plan_spec(spark, tmp_path, monkeypatch):
    """VERDICT r5 item 8: the -i/-o topic path must be exercised past
    argument parsing. The dry run constructs the full (never-started)
    Kafka source/sink plan spec; capture the job and assert topics,
    brokers, and the reference-style properties mapped per the
    connector's namespacing rules — no broker, no kafka jar."""
    from kafka_streams_plumber_spark.streaming.runner import PlumberJob

    props = _write(
        tmp_path,
        "job.properties",
        "\n".join(
            [
                "bootstrap.servers=broker1:9092,broker2:9092",
                "security.protocol=SASL_SSL",        # client config -> kafka.*
                "kafka.fetch.min.bytes=1024",        # already namespaced
                "maxOffsetsPerTrigger=5000",         # connector option
            ]
        ),
    )
    captured = {}
    orig_run = PlumberJob.run

    def capture_run(self, **kw):
        captured["spec"] = orig_run(self, **kw)
        return captured["spec"]

    monkeypatch.setattr(PlumberJob, "run", capture_run)
    rc = main(
        _argv(tmp_path, _write(tmp_path, "t_ok2.py", TEST_OK))
        + [
            "-p",
            props,
            "--checkpoint",
            str(tmp_path / "ckpt"),
            "--starting-offsets",
            "latest",
        ]
    )
    assert rc == 0
    spec = captured["spec"]
    src = spec["source"]
    assert src["format"] == "kafka"
    assert src["options"]["subscribe"] == "in"
    assert src["options"]["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert src["options"]["kafka.security.protocol"] == "SASL_SSL"
    assert src["options"]["kafka.fetch.min.bytes"] == "1024"
    assert src["options"]["maxOffsetsPerTrigger"] == "5000"
    assert src["options"]["startingOffsets"] == "latest"
    snk = spec["sink"]
    assert snk["format"] == "kafka"
    assert snk["options"]["topic"] == "out"
    assert snk["options"]["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert snk["options"]["checkpointLocation"] == str(tmp_path / "ckpt")
    assert spec["key_in"] == "string" and spec["value_out"] == "string"


def test_run_starts_kafka_with_the_dry_run_options(spark, tmp_path, monkeypatch):
    """run() starts the Kafka source and sink with the option maps the
    dry run reports, so a -p client config (security.protocol) reaches
    the producer as well as the consumer. The DataSource readers and
    writers are stubbed at the option calls — no broker, no kafka jar."""
    from pyspark.sql.streaming.readwriter import DataStreamReader, DataStreamWriter

    from kafka_streams_plumber_spark.streaming import runner

    props = _write(
        tmp_path,
        "run.properties",
        "bootstrap.servers=broker1:9092\nsecurity.protocol=SASL_SSL\n",
    )
    raw = spark.readStream.format("rate").load().selectExpr(
        "cast(cast(value as string) as binary) as key",
        "cast(cast(value as string) as binary) as value",
    )
    handed = {"source": {}, "sink": {}}

    def recorder(side):
        def option(self, k, v):
            handed[side][k] = v
            return self

        def options(self, **kw):
            handed[side].update(kw)
            return self

        return option, options

    class Query:
        def awaitTermination(self):
            pass

    for cls, side in ((DataStreamReader, "source"), (DataStreamWriter, "sink")):
        option, options = recorder(side)
        monkeypatch.setattr(cls, "option", option)
        monkeypatch.setattr(cls, "options", options)
    monkeypatch.setattr(DataStreamReader, "load", lambda self, *a, **kw: raw)
    monkeypatch.setattr(DataStreamWriter, "start", lambda self, *a, **kw: Query())
    monkeypatch.setattr(runner.signal, "signal", lambda *a: None)
    jobs = []
    orig_run = runner.PlumberJob.run

    def capture_run(self, **kw):
        jobs.append(self)
        return orig_run(self, **kw)

    monkeypatch.setattr(runner.PlumberJob, "run", capture_run)
    argv = _argv(tmp_path, _write(tmp_path, "t_ok3.py", TEST_OK))
    argv.remove("-D")
    rc = main(argv + ["-p", props, "--checkpoint", str(tmp_path / "ckpt")])
    assert rc == 0
    spec = jobs[0].streaming_plan_spec()
    assert handed["sink"]["kafka.security.protocol"] == "SASL_SSL"
    assert handed["sink"] == spec["sink"]["options"]
    assert handed["source"] == spec["source"]["options"]


def test_kafka_options_allowlists():
    """ADVICE r6: dotted CONNECTOR options must pass un-prefixed and
    dot-free CLIENT configs must gain the kafka. prefix — the naive
    dotted/dot-free rule routes both wrong and the connector silently
    drops them. Explicit kafka.-prefixed keys always pass through."""
    from kafka_streams_plumber_spark.cli import _kafka_options

    out = _kafka_options(
        {
            "bootstrap.servers": "b:9092",        # consumed by the CLI
            "fetchOffset.numRetries": "5",        # dotted connector opt
            "fetchOffset.retryIntervalMs": "100", # dotted connector opt
            "kafkaConsumer.pollTimeoutMs": "800", # dotted connector opt
            "acks": "all",                        # dot-free client config
            "retries": "3",                       # dot-free client config
            "security.protocol": "SASL_SSL",      # dotted client config
            "maxOffsetsPerTrigger": "5000",       # dot-free connector opt
            "kafka.linger.ms": "7",               # explicit prefix
        }
    )
    assert out == {
        "fetchOffset.numRetries": "5",
        "fetchOffset.retryIntervalMs": "100",
        "kafkaConsumer.pollTimeoutMs": "800",
        "kafka.acks": "all",
        "kafka.retries": "3",
        "kafka.security.protocol": "SASL_SSL",
        "maxOffsetsPerTrigger": "5000",
        "kafka.linger.ms": "7",
    }


def test_kafka_reserved_options_rejected():
    """ADVICE r6: a .properties entry named subscribe/topic/
    startingOffsets/checkpointLocation would silently override the
    -i/-o/--checkpoint flags (the overlay runs last, and one options
    dict feeds both source and sink) — the option builders must
    reject reserved names loudly."""
    import pytest

    from kafka_streams_plumber_spark.sources.kafka import (
        kafka_sink_options,
        kafka_source_options,
    )

    with pytest.raises(ValueError, match="subscribe"):
        kafka_source_options(
            brokers="b:9092", topic="in", options={"subscribe": "evil"}
        )
    with pytest.raises(ValueError, match="startingOffsets"):
        kafka_source_options(
            brokers="b:9092", topic="in", options={"startingOffsets": "latest"}
        )
    with pytest.raises(ValueError, match="topic"):
        kafka_sink_options(
            brokers="b:9092",
            topic="out",
            checkpoint="/tmp/c",
            options={"topic": "evil"},
        )
    with pytest.raises(ValueError, match="checkpointLocation"):
        kafka_sink_options(
            brokers="b:9092",
            topic="out",
            checkpoint="/tmp/c",
            options={"checkpointLocation": "/evil"},
        )
    # non-reserved keys still overlay fine on both
    src = kafka_source_options(
        brokers="b:9092", topic="in", options={"maxOffsetsPerTrigger": "10"}
    )
    assert src["maxOffsetsPerTrigger"] == "10" and src["subscribe"] == "in"
    snk = kafka_sink_options(
        brokers="b:9092",
        topic="out",
        checkpoint="/tmp/c",
        options={"kafka.linger.ms": "7"},
    )
    assert snk["kafka.linger.ms"] == "7" and snk["topic"] == "out"
