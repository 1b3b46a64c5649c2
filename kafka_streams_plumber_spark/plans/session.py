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
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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
}


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


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (driver testdata uses
    them; Spark refuses to read them natively — PARQUET_TYPE_ILLEGAL)."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        schema = pq.read_schema(path)
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        return []


#: (id(spark), sf_dir) -> (spark, tables). Holding the session ref keeps
#: the id stable; a new session after stop() gets a fresh id -> cache miss.
_TABLE_CACHE: dict[tuple[int, str], tuple[SparkSession, dict[str, DataFrame]]] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver's parquet star schema as a dict of DataFrames.

    Parquet scans get predicate pushdown + column pruning from Catalyst for
    free; callers should select only needed columns so ReadSchema stays
    narrow. TIMESTAMP(NANOS) columns are read via nanosAsLong and converted
    to TimestampType (microsecond truncation — same as DuckDB's read).

    Memoized per (session, dir): schema inference costs a JVM round-trip
    per table, and query entry points each call this — a bench run would
    otherwise pay hundreds of redundant parquet-footer reads. DataFrames
    are immutable plans, safe to share across queries in one session.
    """
    from pyspark.sql import functions as F

    ck = (id(spark), os.path.abspath(sf_dir))
    hit = _TABLE_CACHE.get(ck)
    if hit is not None and hit[0] is spark:
        return dict(hit[1])

    from pyspark.sql import types as T

    tune(spark)
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            for c in _nanos_timestamp_cols(path):
                df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
            # Parquet written with isAdjustedToUTC=false arrives as
            # TIMESTAMP_NTZ, which time-arithmetic builtins (unix_millis,
            # to_utc_timestamp) reject. Under the UTC session timeZone the
            # cast to TimestampType reinterprets the same wall clock as
            # UTC — exactly how DuckDB (the oracle) reads naive parquet
            # timestamps — so downstream semantics are unchanged.
            for f in df.schema.fields:
                if isinstance(f.dataType, T.TimestampNTZType):
                    df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
            out[name] = df
    _TABLE_CACHE[ck] = (spark, out)
    return dict(out)
