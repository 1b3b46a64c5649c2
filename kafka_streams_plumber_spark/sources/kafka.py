"""Kafka source/sink for the streaming pipeline — parity with the
reference's one-topic-in, one-topic-out shape (Plumber.scala:62-74), on
Structured Streaming.

Scale notes: the Kafka source parallelism follows topic partitions (use
``minPartitions`` to fan out wider than the partition count); the
pipeline itself is stateless per-record, so there is no shuffle anywhere
between source and sink — the whole job is map-only and scales linearly
with executors. The Kafka sink is at-least-once, like the reference
(SURVEY §2.6): a batch replayed after a crash is written again.
Exactly-once output across a restart is ROADMAP aim 3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_plumber_spark.sources.serde import WireType, decode, encode


#: Option names owned by the function parameters (the CLI's -i/-o/
#: --checkpoint flags). A pass-through map may NOT carry them: the
#: overlay runs last, so a stray .properties entry named ``subscribe``
#: or ``topic`` would silently re-route the pipeline — and the same
#: options dict is applied to both source and sink, so a sink-legal
#: key could hijack the source. Reject loudly instead.
_RESERVED_SOURCE_OPTIONS = frozenset(
    {"subscribe", "assign", "subscribePattern", "startingOffsets"}
)
_RESERVED_SINK_OPTIONS = frozenset({"topic", "checkpointLocation"})


def _reject_reserved(
    options: dict[str, str] | None, reserved: frozenset, where: str
) -> dict[str, str]:
    bad = sorted(reserved & set(options or {}))
    if bad:
        raise ValueError(
            f"reserved Kafka {where} option(s) {bad} may not be set via "
            "the pass-through map — use the dedicated CLI flag / "
            "function parameter (-i/-o/--checkpoint, starting_offsets)"
        )
    return dict(options or {})


def kafka_source_options(
    *,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
    options: dict[str, str] | None = None,
) -> dict[str, str]:
    """The exact option map :func:`kafka_source` hands the Kafka
    DataSource — pure and broker-free, so the ``-i`` topic wiring is
    assertable (dry-run, pytest) without the connector jar or a
    broker. Extra ``options`` overlay the defaults last, matching the
    reader's .option() ordering; topic-routing names (``subscribe``,
    ``assign``, ``subscribePattern``, ``startingOffsets``) are
    rejected there — they belong to the function parameters."""
    out = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    out.update(_reject_reserved(options, _RESERVED_SOURCE_OPTIONS, "source"))
    return out


def kafka_sink_options(
    *,
    brokers: str,
    topic: str,
    checkpoint: str,
    options: dict[str, str] | None = None,
) -> dict[str, str]:
    """The exact option map :func:`kafka_sink` hands the Kafka sink —
    the ``-o`` half of :func:`kafka_source_options`'s contract.
    ``topic`` / ``checkpointLocation`` in the pass-through map are
    rejected — they belong to the function parameters."""
    out = {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
        "checkpointLocation": checkpoint,
    }
    out.update(_reject_reserved(options, _RESERVED_SINK_OPTIONS, "sink"))
    return out


def kafka_source(
    spark: SparkSession,
    options: dict[str, str],
    *,
    key_type: WireType,
    value_type: WireType,
    confluent_framing: bool = False,
    registry=None,
) -> DataFrame:
    """Stream one topic with the :func:`kafka_source_options` map
    ``options`` and decode to a typed (key, value) frame. ``registry`` (a
    SchemaRegistryClient) enables per-record writer-schema resolution
    for registry-resolved avro types."""
    raw = spark.readStream.format("kafka").options(**options).load()
    return raw.select(
        decode(
            F.col("key"),
            key_type,
            confluent_framing=confluent_framing,
            registry=registry,
        ).alias("key"),
        decode(
            F.col("value"),
            value_type,
            confluent_framing=confluent_framing,
            registry=registry,
        ).alias("value"),
    )


def kafka_sink(
    df: DataFrame,
    options: dict[str, str],
    *,
    key_type: WireType,
    value_type: WireType,
    confluent_framing: bool = False,
):
    """Encode a (key, value) frame to wire format and start the streaming
    write with the :func:`kafka_sink_options` map ``options``. Returns
    the StreamingQuery (callers own .stop())."""
    encoded = df.select(
        encode(F.col("key"), key_type, confluent_framing=confluent_framing).alias("key"),
        encode(F.col("value"), value_type, confluent_framing=confluent_framing).alias("value"),
    )
    return encoded.writeStream.format("kafka").options(**options).start()
