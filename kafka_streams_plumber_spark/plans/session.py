"""SparkSession construction tuned for the engine, plus table loading.

Scale notes: the conf below is what we want on a real cluster too — AQE
for runtime re-planning (skew joins, partition coalescing), Arrow for any
pandas-UDF hop, and a UTC session timezone so timestamp semantics are
deterministic across engines (our DuckDB oracle treats naive parquet
timestamps as UTC).

Generated-code cache: Spark keeps at most ``spark.sql.codegen.cache.maxEntries``
compiled classes (default 100) in one LRU per JVM, and one warm pass of
perfbench's ``queries`` workload needs about 205. At 100 every class is
evicted before its next use, so each warm pass recompiled every class
with Janino (7-12 ms each) and ran the fresh classes un-JITted.
:data:`CODEGEN_CACHE_ENTRIES` sizes the cache to hold a whole pass. It
is a static conf, read once per JVM when ``CodeGenerator`` loads, so it
rides the builder in :func:`get_spark`; :func:`tune` cannot apply it to a
session someone else built (the driver contract's ``entry(spark)`` keeps
Spark's 100). Memory cost: after one pass over all 316 ``QUERIES`` at
sf0.001, heap in use after GC was 291 MB and Metaspace 216 MB at 4096
entries, against 166 MB and 184 MB at 100, so about 40 KB per cached
class. A session holds only the classes its plans used.

Call-site capture: PySpark records the Python file:line of every
DataFrame and ``F.*`` call for error messages, at several py4j round
trips each. Building q_mood_median sent 2,226 py4j commands with it and
676 without. :func:`get_spark` turns it off
(``spark.python.sql.dataFrameDebugging.enabled``), a static conf that
also rides the builder; the driver's ``entry(spark)`` session keeps
Spark's default. The cost: the ``== DataFrame ==`` context of an error
names a JVM frame instead of the Python file:line, and only ANSI errors
carry that context at all, while :data:`RUNTIME_CONF` turns ANSI off.

Stream starts: :func:`start_stream` starts a stream on a local checkpoint
with Spark's ``FileSystemBasedCheckpointFileManager`` instead of the
default ``FileContext`` one, whose local file system starts a
``readlink`` process per link-status check when Hadoop's native library
is missing (32 per 50k-record drain of the demo job). The choice is a
session conf set around the start only; :data:`RUNTIME_CONF` and
:func:`get_spark` do not carry it, because on HDFS that manager ignores
``overwriteIfPossible``.

Table loading: :func:`load_tables` builds each table's Spark schema from
the parquet footer pyarrow reads anyway and hands it to the reader, so
loading launches no Spark job (schema inference launched one per table).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Capacity of Spark's generated-code cache (see the module doc). Distinct
#: classes counted: one perfbench ``queries`` pass about 205; bench.py's
#: warm pass 1.66k at sf0.001 plus 110 more in a timed pass at sf0.1; one
#: pass over all 316 QUERIES 5.1k. 2048 would leave bench.py's 1.77k less
#: than 25% headroom.
CODEGEN_CACHE_ENTRIES = 4096

#: Runtime confs safe to set on an existing session (used by the driver
#: contract in __spark_entry__.py, where the session is handed to us).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Permissive casts (Lua tonumber semantics — SURVEY §7.4.2): conform()
    # uses try_cast explicitly, but keep ANSI off so stray casts degrade to
    # null rather than task failure, matching the reference's drop-on-bad-parse.
    "spark.sql.ansi.enabled": "false",
    # The driver's parquet stores TIMESTAMP(NANOS), which Spark's reader
    # rejects outright; read them as long and convert in load_tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Generated classes are cached by their source text, and by default
    # that text names the whole-stage codegen id, which AQE hands out in
    # the order stages get planned; that order varies from run to run, so
    # a warm plan recompiled the same code under another class name.
    "spark.sql.codegen.useIdInClassName": "false",
}


#: The session conf naming the class that writes a stream's offset and
#: commit logs (Spark's ``SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS``).
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"

#: Spark's manager that renames with ``FileSystem.rename``: on a local path
#: that is ``File.renameTo``, an atomic POSIX rename.
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

#: How long :func:`start_stream` waits for a started query's sources.
_SOURCES_WAIT_MS = 60_000


def checkpoint_manager_class(checkpoint: str, default_fs: str) -> str | None:
    """The checkpoint file manager a stream checkpointed at ``checkpoint``
    should start with, or None for Spark's default.

    The file system is resolved as Hadoop's ``Path`` does: a scheme is
    the text before a ``:`` that comes before any ``/``, and a path
    without one lives on ``default_fs`` (``fs.defaultFS``). Only the
    local file system (``file``) gets :data:`LOCAL_CHECKPOINT_MANAGER`.
    """
    colon, slash = checkpoint.find(":"), checkpoint.find("/")
    if colon != -1 and (slash == -1 or colon < slash):
        scheme = checkpoint[:colon]
    else:
        default_fs = default_fs.strip()
        scheme = "file" if default_fs == "local" else default_fs.partition(":")[0]
    return LOCAL_CHECKPOINT_MANAGER if scheme.lower() == "file" else None


def start_stream(
    spark: SparkSession, checkpoint: str, start: Callable[[], StreamingQuery]
) -> StreamingQuery:
    """Call ``start()``, which starts a stream checkpointed at
    ``checkpoint`` and returns its query, with the checkpoint file
    manager :func:`checkpoint_manager_class` picks, and return the query.

    Spark's default manager (``FileContextBasedCheckpointFileManager``)
    goes through Hadoop's ``FileContext``. Without the Hadoop native
    library, the local file system answers each of its link-status
    checks with a ``readlink`` process, 8 per checkpoint write.
    :data:`LOCAL_CHECKPOINT_MANAGER` renames with ``File.renameTo`` and
    starts none. A checkpoint that is not local keeps Spark's default:
    on HDFS the other manager does not overwrite when asked to
    (``overwriteIfPossible``, used for state-store delta files).

    The session conf is set only for the start and then unset; the query
    keeps the manager of each log it made meanwhile. The stream's thread
    makes its sources' and sink's logs before the query counts as
    initialized (``awaitInitialization``), and its offset and commit logs
    lazily, after that. They are made here instead, while the conf is
    still set, so the unset cannot race them. A value already set, in
    the session conf or in the Hadoop conf, is left alone. Only a
    PySpark ``StreamingQuery`` is waited for: a ``sink_factory`` may hand
    back any object with its ``stop`` and ``awaitTermination``, which is
    all ``PlumberJob.run`` uses.
    """
    hadoop = spark._jsparkSession.sessionState().newHadoopConf()
    manager = checkpoint_manager_class(checkpoint, hadoop.get("fs.defaultFS", "file:///"))
    if manager is None or hadoop.get(CHECKPOINT_MANAGER_CONF) is not None:
        return start()
    spark.conf.set(CHECKPOINT_MANAGER_CONF, manager)
    try:
        query = start()
        if isinstance(query, StreamingQuery):
            jq = query._jsq.streamingQuery()
            try:
                jq.awaitInitialization(_SOURCES_WAIT_MS)
            except Py4JJavaError:
                pass  # the query died starting; awaitTermination raises why
            jq.offsetLog()
            jq.commitLog()
        return query
    finally:
        spark.conf.unset(CHECKPOINT_MANAGER_CONF)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-created session (driver contract)."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable at runtime on this build — non-fatal
    return spark


def get_spark(
    app_name: str = "kafka-streams-plumber-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Local-mode default driver heap is 1g and EVERY executor thread
    # shares it — 32 concurrent tasks OOM long before the host's RAM is
    # touched. Must be set before the JVM launches, so it rides the
    # builder; on a real cluster this knob is per-executor instead.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or (int(cpus) if cpus.isdigit() else 32)),
        )
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune(spark)


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Expose every table as a temp view so the whole engine is also a
    plain-SQL surface: ``spark.sql("SELECT ... FROM lineitem JOIN
    orders ...")`` — same frames as :func:`load_tables` (NTZ/nanos
    normalization included), same Catalyst plans as the DataFrame API.
    Returns the registered names."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return sorted(tables)


def _footer_schema(path: str) -> tuple[T.StructType, list[str]]:
    """Spark's read schema of the parquet file at ``path``, built from its
    footer, and the columns stored as TIMESTAMP(NANOS).

    Naive timestamps map to TIMESTAMP_NTZ and UTC-adjusted ones to
    TIMESTAMP, as Spark infers them. TIMESTAMP(NANOS) maps to LONG: Spark
    refuses to read it natively (PARQUET_TYPE_ILLEGAL) and reads it as
    long under ``nanosAsLong``. An unreadable footer raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    try:
        arrow = pq.read_schema(path)
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"cannot read the parquet footer of {path}: {e}") from e
    fields, nanos = [], []
    for f in arrow:
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            nanos.append(f.name)
            dt = T.LongType()
        else:
            dt = from_arrow_type(f.type, prefer_timestamp_ntz=True)
        fields.append(T.StructField(f.name, dt))
    return T.StructType(fields), nanos


#: (id(spark), sf_dir) -> (spark, tables). Holding the session ref keeps
#: the id stable; a new session after stop() gets a fresh id -> cache miss.
_TABLE_CACHE: dict[tuple[int, str], tuple[SparkSession, dict[str, DataFrame]]] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver's parquet star schema as a dict of DataFrames.

    Parquet scans get predicate pushdown + column pruning from Catalyst for
    free; callers should select only needed columns so ReadSchema stays
    narrow. TIMESTAMP(NANOS) columns are read via nanosAsLong and converted
    to TimestampType (microsecond truncation — same as DuckDB's read).

    Each table is one parquet file. Its schema comes from the footer,
    read once with pyarrow (:func:`_footer_schema`), and is handed to the
    reader, so loading launches no Spark job; the first job runs when a
    query does. An unreadable footer raises and names the file.

    Memoized per (session, dir): query entry points each call this, and
    every load still costs a few JVM round trips per table. DataFrames
    are immutable plans, safe to share across queries in one session.
    """
    from pyspark.sql import functions as F

    ck = (id(spark), os.path.abspath(sf_dir))
    hit = _TABLE_CACHE.get(ck)
    if hit is not None and hit[0] is spark:
        return dict(hit[1])

    tune(spark)
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            schema, nanos = _footer_schema(path)
            df = spark.read.schema(schema).parquet(path)
            for c in nanos:
                df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
            # Parquet written with isAdjustedToUTC=false arrives as
            # TIMESTAMP_NTZ, which time-arithmetic builtins (unix_millis,
            # to_utc_timestamp) reject. Under the UTC session timeZone the
            # cast to TimestampType reinterprets the same wall clock as
            # UTC — exactly how DuckDB (the oracle) reads naive parquet
            # timestamps — so downstream semantics are unchanged.
            for f in schema.fields:
                if isinstance(f.dataType, T.TimestampNTZType):
                    df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
            out[name] = df
    _TABLE_CACHE[ck] = (spark, out)
    return dict(out)
