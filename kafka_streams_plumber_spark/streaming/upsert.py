"""Streaming keyed-snapshot maintenance: CDC upsert as a sink.

The streaming face of :mod:`operators.cdc`: change events (op,
version, payload) arrive as a stream; each micro-batch folds into a
persisted snapshot with ``apply_changes`` (latest-wins upsert +
delete). This is the engine's merge-into — the sink shape a training
corpus under continuous curation actually needs (takedowns,
re-annotations, new crawls) without a table-format dependency.

Versioned-directory exactly-once: batch N reads the newest snapshot
version STRICTLY BELOW N and writes the folded result to ``v=N`` with
per-directory overwrite. A replayed batch N therefore re-reads the
same input state and rewrites its own output idempotently — the same
replay guard as ingest_batch_fn's ``batch_id <`` filter, expressed in
directory versions. Old versions double as time travel (the
complement of cdc.scd2_history's row-level intervals); prune with
``prune_versions`` once readers no longer need them.

Scale notes: the fold is one map-combinable ``max_by`` reduction of
the micro-batch plus one full-outer equi-join against the snapshot —
with AQE, a small batch broadcasts against a large snapshot. Rewriting
the full snapshot per batch is the cost of format-independence; at
100 TB you point ``snapshot_path`` at a partitioned layout and fold
only the partitions the batch touches (partition pruning on the key's
partition column), or swap the writer for a table format with native
merge — the fold logic is unchanged.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kafka_streams_plumber_spark.operators.cdc import apply_changes
from kafka_streams_plumber_spark.plans.scale import inline_table


def _versions(snapshot_path: str) -> list[int]:
    if not os.path.isdir(snapshot_path):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(snapshot_path)
        if d.startswith("v=")
    )


def upsert_batch_fn(
    snapshot_path: str,
    key_cols: str | list[str],
    version_col: str,
    *,
    op_col: str = "op",
    delete_op: str = "D",
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch function. Also directly usable for batch
    backfill (call with a static DataFrame and a manual batch id)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prior = [v for v in _versions(snapshot_path) if v < int(batch_id)]
        snap_cols = [
            c for c in batch_df.columns if c not in (op_col, version_col)
        ]
        if prior:
            snap = spark.read.parquet(f"{snapshot_path}/v={max(prior)}")
        else:
            snap = inline_table(spark, [], batch_df.select(*snap_cols).schema)
        folded = apply_changes(
            snap,
            batch_df,
            keys,
            version_col,
            op_col=op_col,
            delete_op=delete_op,
        )
        folded.write.mode("overwrite").parquet(
            f"{snapshot_path}/v={int(batch_id)}"
        )

    return write


def read_snapshot(spark: SparkSession, snapshot_path: str) -> DataFrame:
    """The current snapshot (highest version). Pass an explicit
    ``{snapshot_path}/v={N}`` path instead for time travel."""
    vs = _versions(snapshot_path)
    if not vs:
        raise FileNotFoundError(f"no snapshot versions under {snapshot_path}")
    return spark.read.parquet(f"{snapshot_path}/v={vs[-1]}")


def prune_versions(snapshot_path: str, *, keep_last: int = 2) -> list[int]:
    """Drop all but the newest ``keep_last`` versions; returns the
    pruned version numbers. Local-filesystem helper — on object
    storage, prune with the store's own lifecycle tooling."""
    vs = _versions(snapshot_path)
    doomed = vs[:-keep_last] if keep_last > 0 else vs
    for v in doomed:
        shutil.rmtree(f"{snapshot_path}/v={v}")
    return doomed
