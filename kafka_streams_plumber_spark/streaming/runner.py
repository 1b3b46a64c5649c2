"""PlumberJob — the reference's whole CLI lifecycle on Structured
Streaming (Plumber.scala:26-86; SURVEY.md §3 entry point 1):

    parse types -> build pipeline -> [golden verification pre-pass,
    ABORT on mismatch] -> [dry-run exit] -> source -> transform ->
    conform to output schema -> sink -> await, with graceful shutdown.

The golden gate is the defining behavior: a job whose pipeline does not
reproduce its declared fixtures REFUSES to start streaming
(Plumber.scala:41-50).
"""

from __future__ import annotations

import signal
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from kafka_streams_plumber_spark.operators.conform import conform
from kafka_streams_plumber_spark.operators.pipeline import Pipeline
from kafka_streams_plumber_spark.sources.kafka import (
    kafka_sink,
    kafka_sink_options,
    kafka_source,
    kafka_source_options,
)
from kafka_streams_plumber_spark.sources.serde import (
    WireType,
    resolve_registry_type,
    spark_type_of,
)
from kafka_streams_plumber_spark.testing.verify import verify


@dataclass
class PlumberJob:
    spark: SparkSession
    pipeline: Pipeline
    brokers: str
    source_topic: str
    sink_topic: str
    input_key: WireType
    input_value: WireType
    output_key: WireType
    output_value: WireType
    checkpoint: str = "/tmp/ksps-checkpoint"
    #: Kafka startingOffsets (earliest/latest/JSON) — a field, not a
    #: kafka_options entry: the option builders reject the raw name so
    #: a .properties line can't silently re-route the source.
    starting_offsets: str = "earliest"
    confluent_framing: bool = False
    fixtures: list[tuple[Any, Any]] = field(default_factory=list)
    expectations: list[tuple[Any, Any]] = field(default_factory=list)
    kafka_options: dict[str, str] = field(default_factory=dict)
    #: SchemaRegistryClient for plain `avro` types. When attached, every
    #: file-pinned input schema (avro=reader.avsc) must resolve the
    #: subject's latest registered WRITER schema before the job starts —
    #: the schema-evolution half of the refuse-to-start gate. Subjects
    #: the registry has never seen are skipped (brand-new topic).
    registry: Any = None
    #: Pluggable transport (None = Kafka): ``source_factory(spark)``
    #: must return a STREAMING DataFrame with the same typed
    #: (key, value) columns kafka_source decodes to;
    #: ``sink_factory(out_df)`` must start and return a StreamingQuery.
    #: Everything else — the golden gate, the schema pre-flight, the
    #: transform, conform, graceful shutdown — is the identical
    #: lifecycle, which is what makes a broker-less end-to-end rehearsal
    #: (examples/streaming) faithful to the production job.
    source_factory: Any = None
    sink_factory: Any = None

    def __post_init__(self):
        # Pin plain `avro` wire types to the registry's latest schema per
        # Confluent TopicNameStrategy ({topic}-key / {topic}-value) —
        # once, driver-side, before any plan is built. Raises if a plain
        # avro type has no registry to resolve against (the reference
        # fails the same way, GenericAvroSerializer.scala:9-73).
        self.input_key = resolve_registry_type(
            self.input_key, self.registry, f"{self.source_topic}-key"
        )
        self.input_value = resolve_registry_type(
            self.input_value, self.registry, f"{self.source_topic}-value"
        )
        self.output_key = resolve_registry_type(
            self.output_key, self.registry, f"{self.sink_topic}-key"
        )
        self.output_value = resolve_registry_type(
            self.output_value, self.registry, f"{self.sink_topic}-value"
        )

    def _transformed(self, df: DataFrame) -> DataFrame:
        out = self.pipeline(df)
        if self.output_value.kind == "avro":
            out = conform(out, self.output_value.model)
        if self.output_key.kind == "avro":
            out = conform(out, self.output_key.model, column="key")
        return out

    def _check_registered_writers(self) -> None:
        """Schema-evolution refuse-to-start: a file-pinned reader schema
        must resolve the subject's latest registered writer schema
        (sources/avsc.py:schema_incompatibilities, Avro's own verdicts)
        — catching a consumer deploy against an incompatibly-evolved
        topic BEFORE it streams (otherwise it only surfaces at decode).
        """
        if self.registry is None:
            return
        from kafka_streams_plumber_spark.sources.registry import (
            SchemaNotFound,
            check_reader_compatibility,
        )

        probs: list[str] = []
        for wt, subject in (
            (self.input_key, f"{self.source_topic}-key"),
            (self.input_value, f"{self.source_topic}-value"),
        ):
            if wt.kind != "avro" or wt.avsc is None or wt.registry_resolved:
                continue
            try:
                probs.extend(
                    f"{subject}: {p}"
                    for p in check_reader_compatibility(
                        self.registry, subject, wt.avsc
                    )
                )
            except SchemaNotFound:
                continue  # brand-new subject: nothing written yet
        if probs:
            raise ValueError(
                "refusing to start: reader schema cannot read the"
                " subject's registered writer schema:\n  "
                + "\n  ".join(probs)
            )

    def preflight(self) -> None:
        """Golden verification pre-pass (Plumber.scala:41-50): run the
        exact production transform (pipeline + conform) over fixtures;
        raise and refuse to stream on mismatch. Extended with the
        schema-evolution check (see _check_registered_writers)."""
        self._check_registered_writers()
        if not self.expectations:
            return
        verify(
            self.spark,
            self._transformed,
            self.fixtures,
            self.expectations,
            key_schema=spark_type_of(self.input_key),
            value_schema=spark_type_of(self.input_value),
        )

    def streaming_plan_spec(self) -> dict:
        """Broker-free description of the streaming plan :meth:`run`
        will start: the source/sink DataSource option maps, which
        :meth:`run` hands kafka_source/kafka_sink as they are, plus the
        decoded/encoded Spark types. This is how the ``-i``/``-o``
        topic path is exercised past argument parsing in environments
        with no broker and no kafka connector jar — the dry-run builds
        it, and pytest asserts on it. Factory transports (the pluggable
        source_factory/sink_factory) report the factory instead of
        Kafka options."""
        spec: dict[str, Any] = {
            "key_in": spark_type_of(self.input_key).simpleString(),
            "value_in": spark_type_of(self.input_value).simpleString(),
            "key_out": spark_type_of(self.output_key).simpleString(),
            "value_out": spark_type_of(self.output_value).simpleString(),
            "confluent_framing": self.confluent_framing,
        }
        if self.source_factory is not None:
            spec["source"] = {"factory": repr(self.source_factory)}
        else:
            spec["source"] = {
                "format": "kafka",
                "options": kafka_source_options(
                    brokers=self.brokers,
                    topic=self.source_topic,
                    starting_offsets=self.starting_offsets,
                    options=self.kafka_options,
                ),
            }
        if self.sink_factory is not None:
            spec["sink"] = {"factory": repr(self.sink_factory)}
        else:
            spec["sink"] = {
                "format": "kafka",
                "options": kafka_sink_options(
                    brokers=self.brokers,
                    topic=self.sink_topic,
                    checkpoint=self.checkpoint,
                    options=self.kafka_options,
                ),
            }
        return spec

    def run(self, *, dry_run: bool = False, await_termination: bool = True):
        """Verify, then start the streaming query (or exit on dry_run,
        mirroring the -D flag, Plumber.scala:53-55). Both build the
        streaming plan spec first, and the query starts with its option
        maps, so bad topic/option wiring surfaces before any deploy."""
        self.preflight()
        spec = self.streaming_plan_spec()
        if dry_run:
            return spec
        if self.source_factory is not None:
            src = self.source_factory(self.spark)
        else:
            src = kafka_source(
                self.spark,
                spec["source"]["options"],
                key_type=self.input_key,
                value_type=self.input_value,
                confluent_framing=self.confluent_framing,
                registry=self.registry,
            )
        out = self._transformed(src)
        if self.sink_factory is not None:
            query = self.sink_factory(out)
        else:
            query = kafka_sink(
                out,
                spec["sink"]["options"],
                key_type=self.output_key,
                value_type=self.output_value,
                confluent_framing=self.confluent_framing,
            )
        # graceful shutdown (Plumber.scala:79-83)
        def _stop(signum, frame):
            query.stop()

        try:
            signal.signal(signal.SIGTERM, _stop)
            signal.signal(signal.SIGINT, _stop)
        except ValueError:
            pass  # not on the main thread (tests)
        if await_termination:
            query.awaitTermination()
        return query
