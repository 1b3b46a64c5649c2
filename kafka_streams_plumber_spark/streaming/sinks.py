"""Streaming sink helpers beyond the built-in Kafka/file sinks.

Structured Streaming's file and Kafka sinks already give exactly-once
(manifest log) and at-least-once (idempotent producer) respectively; for
everything else — JDBC upserts, external stores, multi-sink fanout — the
pattern is ``foreachBatch`` with an idempotent write keyed by
``batch_id``: on failure/restart Spark replays the same batch_id with
the same data, so a write that overwrites (or upserts) by batch id is
effectively exactly-once. (The reference delegates all of this to Kafka
Streams 0.10 at-least-once — Plumber.scala:78-84; this is the
strictly-stronger Spark-side story, SURVEY §7.4.5.)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming.query import StreamingQuery

from kafka_streams_plumber_spark.plans.session import start_stream


def partitioned_parquet_sink(path: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function writing each micro-batch to
    ``path/batch_id=N`` with per-batch overwrite: a replayed batch
    rewrites its own directory and nothing else — idempotent, hence
    exactly-once end-to-end. Readers see ``batch_id`` as a normal
    partition column (prune it or drop it)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    return write


def start_foreach_batch(
    df: DataFrame,
    write_fn: Callable[[DataFrame, int], None],
    *,
    checkpoint: str,
    query_name: str | None = None,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Run a streaming frame through an idempotent per-batch writer.

    The checkpoint ties batch ids to source offsets: after a crash the
    same offsets replay under the same batch_id, which is what makes an
    idempotent ``write_fn`` exactly-once.
    """
    w = df.writeStream.foreachBatch(write_fn).option("checkpointLocation", checkpoint)
    if query_name:
        w = w.queryName(query_name)
    if trigger_once:
        w = w.trigger(availableNow=True)
    return start_stream(df.sparkSession, checkpoint, w.start)
