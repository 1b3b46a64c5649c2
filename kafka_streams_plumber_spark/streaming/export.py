"""Continuous training-shard export: the streaming twin of
``operators/ordering.write_training_shards``.

Documents arrive as a stream; every micro-batch deals its rows into the
same ``n_shards`` shard directories by the deterministic id hash and
appends one manifest row per (batch, shard). A multi-rank loader tails
shard K exactly as in the batch layout; the manifest aggregates to
per-shard row/token totals without listing data files.

What changes vs the batch exporter — and why:

- shard assignment is the pure id-hash (``sampling.split_bucket``), not
  a global permutation: a stream cannot rank rows it has not seen, and
  the hash keeps every row's shard stable under replays. Shard balance
  is by hash uniformity (vs the permutation's +-1 guarantee).
- order within a shard is arrival order (batch_id, then position);
  ``batch_id`` rides in the data so resume-from-batch is a pushdown
  filter, like ``pos_in_shard`` in the batch layout.
- exactly-once: every write lands under ``batch_id=N`` directories with
  per-batch overwrite (the ingest/sinks idempotency pattern), so a
  replayed micro-batch rewrites its own output instead of
  double-appending — data AND manifest.

State lives entirely in parquet; restarts resume from the stream
checkpoint plus the on-disk layout.

Mid-stream READ PROTOCOL: within one micro-batch the data directory
``data/batch_id=N`` becomes visible BEFORE the batch's manifest row —
they are two non-atomic writes, data first, manifest second — so the
manifest append is the batch's COMMIT RECORD. A reader that globs
``data/`` while the stream runs can observe an uncommitted batch and
over-count; readers must join data against the manifest's batch_ids
(:func:`read_committed` does exactly that; :func:`read_manifest`
aggregates only committed rows by construction). The one remaining
window is a crash-restart REPLAY of a batch whose manifest committed
but whose checkpoint didn't: the replay rewrites that batch's data and
manifest in place with identical content, so a concurrent reader can
transiently see it partially rewritten — loaders that must read during
an active restart should retry on read errors.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_plumber_spark.operators.sampling import split_bucket
from kafka_streams_plumber_spark.plans.session import start_stream


def shard_export_batch_fn(
    out_dir: str,
    id_col: str,
    *,
    n_shards: int,
    token_col: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch function (directly usable for batch backfill
    with a manual batch id)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        sharded = batch_df.withColumn(
            "shard", split_bucket(id_col, buckets=n_shards).cast("int")
        ).withColumn("batch_id", F.lit(int(batch_id)))
        (
            sharded.repartition(n_shards, F.col("shard"))
            .write.partitionBy("shard")
            .mode("overwrite")
            .parquet(f"{out_dir}/data/batch_id={batch_id}")
        )
        tok = (
            F.sum(F.col(token_col)).cast("long")
            if token_col is not None
            else F.lit(None).cast("long")
        )
        manifest = sharded.groupBy("shard").agg(
            F.count("*").cast("long").alias("n_rows"),
            tok.alias("n_tokens"),
        )
        (
            manifest.coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/_manifest/batch_id={batch_id}")
        )

    return write


def shard_stream(
    stream_df: DataFrame,
    out_dir: str,
    id_col: str,
    *,
    n_shards: int,
    token_col: str | None = None,
    checkpoint: str,
):
    """Wire a streaming DataFrame into the shard layout. Returns the
    started StreamingQuery."""
    w = stream_df.writeStream.foreachBatch(
        shard_export_batch_fn(out_dir, id_col, n_shards=n_shards, token_col=token_col)
    ).option("checkpointLocation", checkpoint)
    return start_stream(stream_df.sparkSession, checkpoint, w.start)


def read_manifest(spark, out_dir: str) -> DataFrame:
    """Per-shard totals across all COMMITTED batches (what a loader
    bootstraps from): shard, n_rows, n_tokens, n_batches. Commit = the
    batch's manifest row exists (see the module read protocol)."""
    m = spark.read.parquet(f"{out_dir}/_manifest")
    return m.groupBy("shard").agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("batch_id").alias("n_batches"),
    )


def read_committed(spark, out_dir: str) -> DataFrame:
    """Data rows of COMMITTED batches only — the safe mid-stream read.

    ``data/batch_id=N`` is visible before batch N's manifest row (two
    non-atomic writes inside one foreachBatch), so globbing ``data/``
    while the stream runs can include a batch that will be REWRITTEN if
    the job dies before its manifest lands. Joining against the
    manifest's batch_ids (an O(batches) broadcast) yields exactly the
    rows :func:`read_manifest` accounts for."""
    data = spark.read.parquet(f"{out_dir}/data")
    committed = (
        spark.read.parquet(f"{out_dir}/_manifest")
        .select("batch_id")
        .distinct()
    )
    return data.join(F.broadcast(committed), "batch_id")
