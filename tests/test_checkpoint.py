"""Stream checkpoints: `PlumberJob` output through a file sink is
exactly-once across a restart, and a stream on a local checkpoint starts
with the checkpoint file manager `plans.session.start_stream` picks."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from kafka_streams_plumber_spark import Pipeline
from kafka_streams_plumber_spark.plans.session import (
    CHECKPOINT_MANAGER_CONF,
    LOCAL_CHECKPOINT_MANAGER,
    checkpoint_manager_class,
)
from kafka_streams_plumber_spark.sources.serde import WireType
from kafka_streams_plumber_spark.streaming.runner import PlumberJob

SPARK_DEFAULT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _add_input(spark, src, name: str, ids: range) -> None:
    spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in ids], "key string, value string"
    ).coalesce(1).write.parquet(str(src / name))


def _job(spark, tmp_path) -> PlumberJob:
    """A job draining ``tmp_path/src/*`` into a parquet file sink at
    ``tmp_path/out``, checkpointed at ``tmp_path/ckpt``."""
    src, out, ckpt = tmp_path / "src", str(tmp_path / "out"), str(tmp_path / "ckpt")

    def source(sp):
        return sp.readStream.schema("key string, value string").parquet(str(src / "*"))

    def sink(df):
        return (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    string = WireType("string")
    return PlumberJob(
        spark=spark,
        pipeline=Pipeline().map_values(lambda v: F.upper(v)),
        brokers="",
        source_topic="in",
        sink_topic="out",
        input_key=string,
        input_value=string,
        output_key=string,
        output_value=string,
        checkpoint=ckpt,
        source_factory=source,
        sink_factory=sink,
    )


def _output(spark, tmp_path) -> list[tuple[str, str]]:
    """The sink's committed rows: reading the directory goes through its
    ``_spark_metadata`` log, as any reader of a file sink does."""
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    return sorted((r["key"], r["value"]) for r in rows)


def _expected(ids: range) -> list[tuple[str, str]]:
    return sorted((f"k{i}", f"V{i}") for i in ids)


def _managers(query) -> dict[str, str]:
    """The checkpoint file manager class of each metadata log the running
    query writes: its offset and commit logs, its file source's log and
    its file sink's log (the last two are private fields)."""
    jq = query._jsq.streamingQuery()

    def field(obj, name):
        f = obj.getClass().getDeclaredField(name)
        f.setAccessible(True)
        return f.get(obj)

    logs = {
        "offsets": jq.offsetLog(),
        "commits": jq.commitLog(),
        "source": field(jq.sources().head(), "metadataLog"),
        "sink": field(jq.sink(), "fileLog"),
    }
    return {k: log.fileManager().getClass().getName() for k, log in logs.items()}


def test_restart_on_the_same_checkpoint_delivers_every_record_once(spark, tmp_path):
    _add_input(spark, tmp_path / "src", "f1", range(0, 6))
    _job(spark, tmp_path).run()
    assert _output(spark, tmp_path) == _expected(range(0, 6))

    _add_input(spark, tmp_path / "src", "f2", range(6, 10))
    q = _job(spark, tmp_path).run()
    assert [p["batchId"] for p in q.recentProgress] == [1]
    assert _output(spark, tmp_path) == _expected(range(0, 10))


def test_batch_replayed_after_a_lost_commit_is_skipped_by_the_file_sink(spark, tmp_path):
    """A crash between batch N's data write and its commit-log entry: the
    restart replays N from its offset-log entry, and the file sink, whose
    ``_spark_metadata`` already holds N, skips it."""
    _add_input(spark, tmp_path / "src", "f1", range(0, 6))
    _job(spark, tmp_path).run()
    commits = tmp_path / "ckpt" / "commits"
    assert sorted(p.name for p in commits.iterdir() if not p.name.startswith(".")) == ["0"]
    for p in commits.iterdir():
        if p.name in ("0", ".0.crc"):
            p.unlink()

    _add_input(spark, tmp_path / "src", "f2", range(6, 10))
    q = _job(spark, tmp_path).run()
    # batch 0 runs again, but the sink skips it without reading its rows
    replayed = [(p["batchId"], p["numInputRows"]) for p in q.recentProgress]
    assert replayed == [(0, 0), (1, 4)]
    assert _output(spark, tmp_path) == _expected(range(0, 10))


def test_local_checkpoint_runs_with_the_file_system_manager(spark, tmp_path):
    assert spark.conf.get(CHECKPOINT_MANAGER_CONF, None) is None
    _add_input(spark, tmp_path / "src", "f1", range(0, 3))
    q = _job(spark, tmp_path).run()
    assert spark.conf.get(CHECKPOINT_MANAGER_CONF, None) is None
    assert set(_managers(q).values()) == {LOCAL_CHECKPOINT_MANAGER}
    assert _output(spark, tmp_path) == _expected(range(0, 3))


def test_a_manager_the_user_set_wins(spark, tmp_path):
    _add_input(spark, tmp_path / "src", "f1", range(0, 3))
    spark.conf.set(CHECKPOINT_MANAGER_CONF, SPARK_DEFAULT_MANAGER)
    try:
        q = _job(spark, tmp_path).run()
        assert spark.conf.get(CHECKPOINT_MANAGER_CONF) == SPARK_DEFAULT_MANAGER
    finally:
        spark.conf.unset(CHECKPOINT_MANAGER_CONF)
    assert set(_managers(q).values()) == {SPARK_DEFAULT_MANAGER}


@pytest.mark.parametrize(
    "checkpoint, default_fs, local",
    [
        ("/tmp/ckpt", "file:///", True),
        ("ckpt/relative", "file:///", True),
        ("file:/tmp/ckpt", "file:///", True),
        ("file:///tmp/ckpt", "hdfs://nn:8020", True),
        ("/tmp/ckpt", "local", True),
        ("hdfs://nn:8020/ckpt", "file:///", False),
        ("/tmp/ckpt", "hdfs://nn:8020", False),
        ("ckpt/relative", "hdfs://nn:8020/", False),
        ("s3a://bucket/ckpt", "file:///", False),
        ("/tmp/a:b", "hdfs://nn:8020", False),  # a colon after a slash is no scheme
    ],
)
def test_checkpoint_file_system_resolves_like_a_hadoop_path(checkpoint, default_fs, local):
    want = LOCAL_CHECKPOINT_MANAGER if local else None
    assert checkpoint_manager_class(checkpoint, default_fs) == want


def test_scheme_rule_matches_hadoop_path(spark):
    """The scheme :func:`checkpoint_manager_class` reads from a path is the
    one Hadoop's ``Path`` parses (no file system is opened)."""
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    for text in ("/tmp/ckpt", "rel/ckpt", "file:/tmp/x", "hdfs://nn/x", "/tmp/a:b"):
        scheme = path(text).toUri().getScheme()
        on_hdfs = checkpoint_manager_class(text, "hdfs://nn") is None
        assert on_hdfs == (scheme != "file"), (text, scheme)
