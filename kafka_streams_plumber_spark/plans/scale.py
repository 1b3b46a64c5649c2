"""Scale-out plan helpers: skew-salted joins and bucketed co-located
joins.

These are the two knobs AQE cannot always turn for you at 100 TB:

- ``salted_join`` — when one join key carries a disproportionate share
  of rows (a "hot key"), a plain hash join puts that whole key in one
  task. Salting splits each hot left key across ``salt`` subkeys and
  replicates the matching right rows ``salt`` ways, so the hot key runs
  on ``salt`` tasks. AQE's skew-join splitting handles moderate skew
  after the fact; salting is the declarative fix when you KNOW the skew
  (power-law user ids, null-heavy foreign keys).
- ``write_bucketed`` / ``bucketed_table`` — pre-shuffle a fact table
  once into N buckets by its join key. Every later join or aggregation
  on that key reads co-located buckets and plans with ZERO exchanges —
  the amortize-one-shuffle-forever pattern for tables joined daily.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    StructType,
    _make_type_verifier,
    _parse_datatype_string,
)


def ensure_parallelism(df: DataFrame, *, multiple: int = 1) -> DataFrame:
    """Round-robin repartition UP to the session's default parallelism
    (cores x ``multiple``) when the plan currently has fewer partitions;
    a no-op otherwise.

    The knob for explosive per-row work fed by a narrow source (guide
    §2.5 "input skew"): a small parquet file scans as 1-3 splits, so a
    downstream stage that multiplies rows (sequence-explode bootstrap
    replicas, LSH table fanout, shingle explode) runs on 1-3 cores no
    matter how wide the machine is — AQE cannot help because it sizes
    partitions by INPUT bytes, not by the output of the expansion.
    Scale-adaptive by construction: a 100 TB scan already has thousands
    of splits (>= defaultParallelism), so this never repartitions DOWN
    and never adds an exchange on a big cluster run. Apply to the
    SOURCE frame, before the expensive projection is attached —
    repartitioning after would still run the projection on the narrow
    partitioning.
    """
    sc = df.sparkSession.sparkContext
    target = max(1, int(sc.defaultParallelism)) * max(1, int(multiple))
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - .rdd conversion is total on DF plans
        return df
    if cur >= target:
        return df
    return df.repartition(target)


def reuse_barrier(df: DataFrame) -> DataFrame:
    """Always-true filter that makes every consumer of ``df`` share ONE
    copy of its subtree (scan/exchange), instead of each consumer
    getting its own column-pruned specialization.

    Two properties do the work:

    - it is NON-DETERMINISTIC (``monotonically_increasing_id``), so
      Catalyst may not push consumer-specific predicates through it and
      specialize each branch's exchange subtree (which defeats AQE
      stage reuse — measured on the funnel: without a barrier every
      step branch re-scans and re-shuffles its own slice);
    - it references EVERY column of ``df`` through the SIGN BIT of
      their xxhash64 (``shiftright(hash, 63)`` is -1 or 0, and
      ``monotonically_increasing_id() >= 0``, so the predicate holds
      for every row and is retry-safe) — column pruning is NOT blocked
      by mere non-determinism, so without the hash term a consumer
      needing fewer columns still got its own narrowed copy of the
      subtree below the barrier. A zero-weighted term (``0 * hash``)
      does NOT work: Catalyst constant-folds it away.

    Use where one mid-plan frame feeds several consumers and the
    subtree below it is expensive (a scan+explode, a distinct, a
    shared projection). The cost is one xxhash64 per row at the
    barrier; the win is subtree-count-minus-one fewer scans/shuffles.
    """
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.where(
        (F.monotonically_increasing_id() + F.shiftright(h, 63))
        >= F.lit(-1).cast("long")
    )


def inline_table(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """A small literal frame as a true ``LocalRelation``: the package's
    only way to turn Python rows into a DataFrame.

    ``schema`` is a DDL string (nested types included) or a
    ``StructType``. Each row first passes PySpark's type verifier, the
    check a row-list ``createDataFrame`` runs, so a wrong type or a None
    in a non-nullable field raises, nested ones too. The rows then reach
    the JVM as one Arrow table, which Spark keeps as a ``LocalRelation``
    below ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default). No RDD, no Python worker, no job: the optimizer folds the
    frame and the deterministic operators on it into one
    ``LocalTableScan`` at planning time (ConvertToLocalRelation), and
    joins against it can collapse. A row-list ``createDataFrame`` would
    instead parallelize even 5 rows into ``defaultParallelism`` slices
    and scan them in a stage per plan reference.

    Zero rows keep the schema; strings, binary, NaN and subnormal floats
    round-trip exactly.
    """
    struct = (
        _parse_datatype_string(schema) if isinstance(schema, str) else schema
    )
    check_row = _make_type_verifier(struct)
    for row in rows:
        check_row(row)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [[] for _ in arrow]
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def truncate_lineage(
    df: DataFrame, checkpoint_dir: str | None = None, *, eager: bool = True
) -> DataFrame:
    """Materialize ``df`` and sever its lineage — the between-rounds step
    of every iterative operator (connected components, PageRank, Lloyd).

    With ``checkpoint_dir=None`` this is ``localCheckpoint(eager=True)``:
    blocks live in executor storage, which is fast but NOT
    executor-loss-tolerant — if an executor dies, its blocks are gone and
    the job fails (lineage was discarded). Fine on a single node or for
    short jobs; on a real cluster a 50-round iteration WILL see executor
    churn. Passing a ``checkpoint_dir`` (any Hadoop-visible path — HDFS,
    S3A, ...) switches to reliable ``df.checkpoint(eager=True)``: blocks
    are persisted to the shared filesystem and survive executor loss, at
    the cost of a write per round. Iterative operators expose this as
    their own ``checkpoint_dir`` parameter.

    ``eager=False`` defers materialization to the FIRST ACTION on the
    returned frame — use it when the caller immediately runs a
    full-scan action anyway (e.g. connected components' change-count
    aggregate), fusing the checkpoint job and the action into one job
    launch. The action must compute every partition (an aggregate, a
    full write — NOT a limit()) so the checkpoint is fully persisted.

    Reliable-checkpoint path (ADVICE r11): ``RDD.checkpoint()`` writes
    its files by RE-RUNNING the lineage after the first action unless
    the blocks are cached, so a bare ``df.checkpoint()`` computes every
    round's join/aggregate twice on the cluster path. The frame is
    therefore persist()ed first — the checkpoint write then reads the
    cached blocks. The eager branch unpersists immediately (files are
    on disk before checkpoint() returns); the lazy branch cannot know
    when the caller's action runs, so its cache is left to LRU/spill —
    node-grain iterative frames, small next to the data.
    """
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        sc.setCheckpointDir(checkpoint_dir)
        persisted = df.persist()
        out = persisted.checkpoint(eager=eager)
        if eager:
            persisted.unpersist(blocking=False)
        return out
    return df.localCheckpoint(eager=eager)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to heavy left-side key skew.

    Left rows get a uniform random-ish salt in [0, salt) derived from
    deterministic per-row columns (hash of the whole row — stable across
    retries, unlike ``rand()`` which breaks task re-execution
    idempotency). Right rows are replicated once per salt value via an
    exploded literal range — a metadata-cheap ``salt``-way fanout of the
    (smaller) right side. The join key becomes (key, salt): the hot key's
    rows spread over ``salt`` shuffle partitions.
    """
    lsalt = F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in left.columns])), F.lit(salt))
    l = left.withColumn("_salt", lsalt.cast("int"))
    r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<int>"))
    )
    out = l.join(r, [on, "_salt"], how)
    return out.drop("_salt")


def zorder_key(*cols: Column, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of N non-negative integer columns.

    Takes the low ``bits`` bits of each input (callers bucketize raw
    values into ``[0, 2^bits)`` first — e.g. ``F.floor(x / step)`` or a
    percentile rank) and interleaves them into one long: bit ``i`` of
    dimension ``d`` lands at position ``i * N + d``. Points close in
    EVERY dimension land close on the key, which is what makes a
    Z-order sort useful: parquet row-group min/max stats then prune
    selective filters on ANY of the interleaved columns, not just the
    leading sort column — the multi-dimensional layout lever
    (Delta/Iceberg OPTIMIZE ZORDER) for 100 TB scan-heavy tables.

    Pure bit expressions (``bits * N`` shift/mask terms), fully inside
    whole-stage codegen; no shuffle, no Python.
    """
    n = len(cols)
    if n == 0:
        raise ValueError("zorder_key needs at least one column")
    if bits * n > 63:
        raise ValueError(f"bits*dims = {bits * n} overflows a long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        for d, c in enumerate(cols):
            bit = F.shiftright(F.col(c).cast("long") if isinstance(c, str) else c.cast("long"), i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * n + d))
    return key


def zorder_key_sql(cols: list[str], *, bits: int = 16) -> str:
    """The identical interleave as ANSI/DuckDB SQL (unrolled shift-mask
    terms) — the oracle-side twin of :func:`zorder_key`."""
    terms = []
    n = len(cols)
    for i in range(bits):
        for d, c in enumerate(cols):
            terms.append(f"((({c} >> {i}) & 1) << {i * n + d})")
    return " | ".join(terms)


def cluster_by_zorder(
    df: DataFrame,
    cols: list[Column],
    *,
    bits: int = 16,
    partitions: int | None = None,
) -> DataFrame:
    """Lay ``df`` out in Z-order on the given bucketized dimensions:
    one range exchange on the interleaved key plus a within-partition
    sort, so a subsequent parquet write carries tight min/max stats on
    every interleaved column. This is the write-side companion of
    :func:`write_bucketed` — bucketing co-locates JOINS, Z-order
    localizes multi-column RANGE predicates.
    """
    key = zorder_key(*cols, bits=bits).alias("_zkey")
    out = df.withColumn("_zkey", key)
    out = (
        out.repartitionByRange(partitions, "_zkey")
        if partitions
        else out.repartitionByRange("_zkey")
    )
    return out.sortWithinPartitions("_zkey").drop("_zkey")


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_by: str | list[str],
    buckets: int,
    sort_by: str | list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed
    table: one shuffle now, none on any later join/agg over the bucket
    key. ``buckets`` should match downstream ``shuffle.partitions`` (or
    divide it) so Spark can align sides without exchange."""
    cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    w = df.write.mode("overwrite").format("parquet")
    if path is not None:
        w = w.option("path", path)
    w = w.bucketBy(buckets, *cols)
    if sort_by is not None:
        scols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*scols)
    w.saveAsTable(table)


def bucketed_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a table written by :func:`write_bucketed`; joins between two
    tables bucketed the same way on the same key plan with no Exchange
    (verify with plans.inspect.shuffle_count)."""
    return spark.table(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_by: str | list[str],
    mode: str = "overwrite",
    sort_by: str | list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Hive-style partitioned parquet layout: any later filter on the
    partition column prunes whole directories at planning time
    (PartitionFilters in the scan — zero I/O for excluded partitions).
    Keep partition cardinality moderate (10^2-10^4): one dir per value,
    small-file explosion past that.

    ``sort_by`` sorts rows within each task before writing — clustered
    values compress better and give parquet min/max row-group stats real
    pruning power. ``max_records_per_file`` caps file size so one giant
    partition value cannot produce a multi-GB file that a downstream
    reader must split poorly."""
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    if sort_by is not None:
        scols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        # repartition on the partition cols first so each task writes few
        # directories, then cluster rows for stats-friendly row groups
        df = df.repartition(*cols).sortWithinPartitions(*cols, *scols)
    w = df.write.mode(mode)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.partitionBy(*cols).parquet(path)


def compact_files(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 256 << 20,
    sort_by: str | list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~``target_file_bytes`` files —
    the periodic maintenance that keeps streaming/incremental sinks
    (one small file per micro-batch) readable: scans over thousands of
    tiny files pay per-file open/footer costs and schedule one task per
    file regardless of size.

    File count comes from the ON-DISK byte size (no data scan before
    the rewrite); rows are optionally re-clustered by ``sort_by`` for
    row-group stats. Returns the file count written. NOT for
    partitioned layouts (rewrites the directory flat); compact each
    partition directory separately there.

    Safety: the directory must be QUIESCED — run from the stream's
    maintenance window or against a stopped sink. A file appended
    concurrently between the scan and the swap would be lost (this
    function snapshots, rewrites aside, then swaps). The swap itself
    is write-to-``<path>__compact`` + two renames, so a crash leaves
    either the old directory or the old directory under
    ``<path>__old`` plus the new one — never zero copies on disk (the
    plain read-then-overwrite alternative holds the only copy in
    executor memory mid-write). Local/posix rename semantics; on
    object stores use a table format's atomic commit instead.
    """
    import os
    import shutil

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, round(total / target_file_bytes))

    df = spark.read.parquet(path)
    if sort_by is not None:
        scols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        df = df.repartitionByRange(n, *scols).sortWithinPartitions(*scols)
    else:
        df = df.coalesce(n) if df.rdd.getNumPartitions() > n else df.repartition(n)

    tmp, old = path.rstrip("/") + "__compact", path.rstrip("/") + "__old"
    df.write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n


def idempotent_write(
    df: DataFrame,
    path: str,
    *,
    job_token: str,
    fmt: str = "parquet",
) -> bool:
    """Exactly-once batch materialization under retries — the batch
    twin of the streaming sinks' batch-id replay guards: orchestrators
    re-run failed jobs, and a plain ``overwrite`` re-executed halfway
    leaves a reader-visible torn output.

    Protocol: if ``path/_JOB_TOKEN`` exists with this ``job_token``,
    the write already completed — return False (skipped) without
    touching data. Otherwise write to a ``path__inflight`` staging
    directory, then atomically rename over ``path`` (tearing down any
    partial previous attempt) and stamp the token LAST — a crash at
    any point leaves either the old complete output, or staging debris
    that the next attempt overwrites; readers keyed on the token file
    never observe a partial dataset.

    Change ``job_token`` (e.g. include the input snapshot version) to
    force a rewrite. Returns True when this call performed the write.

    Local-FS rename semantics; on object stores, point ``path`` at a
    metastore-managed location or a committer-backed path instead.
    """
    import os
    import shutil

    token_file = os.path.join(path, "_JOB_TOKEN")
    if os.path.exists(token_file):
        with open(token_file) as f:
            if f.read().strip() == job_token:
                return False  # complete: replay is a no-op

    staging = path.rstrip("/") + "__inflight"
    if os.path.exists(staging):
        shutil.rmtree(staging)  # debris from a failed attempt
    df.write.mode("overwrite").format(fmt).save(staging)

    old = path.rstrip("/") + "__old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    if os.path.exists(old):
        shutil.rmtree(old)
    with open(token_file, "w") as f:
        f.write(job_token)
    return True
