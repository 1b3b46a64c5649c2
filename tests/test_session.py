"""Table loading and session confs: what `plans/session.py` costs in Spark
jobs and py4j round trips, and that the footer-built schema is the one
Spark would infer."""

from __future__ import annotations

import gc
import glob
import os
import random
import shutil
from datetime import date, datetime, timezone
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from kafka_streams_plumber_spark.plans.session import _footer_schema, load_tables
from kafka_streams_plumber_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _synthetic_parquet(path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = datetime(2024, 3, 1, 12, 30, 15, 123456)
    table = pa.table(
        {
            "ts_naive": pa.array([ts, None], pa.timestamp("us")),
            "ts_utc": pa.array([ts.replace(tzinfo=timezone.utc), None], pa.timestamp("us", "UTC")),
            "ts_nanos": pa.array([1_709_296_215_123_456_789, None], pa.timestamp("ns")),
            "day": pa.array([date(2024, 3, 1), None], pa.date32()),
            "price": pa.array([Decimal("12.34"), None], pa.decimal128(12, 2)),
            "vec": pa.array([[0.5, 1.5], None], pa.list_(pa.float32())),
            "n": pa.array([7, None], pa.int32()),
            "s": pa.array(["x", None], pa.string()),
        }
    )
    pq.write_table(table, path)
    return path


@pytest.fixture(scope="module")
def synthetic_parquet(tmp_path_factory):
    return _synthetic_parquet(str(tmp_path_factory.mktemp("footer") / "synthetic.parquet"))


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(SF_DIR, "*.parquet"))) + ["synthetic"]
)
def test_footer_schema_is_sparks_inferred_schema(spark, synthetic_parquet, path):
    """Reading with the footer-built schema gives the frame schema Spark's
    own inference gives (TIMESTAMP(NANOS) as long under nanosAsLong, naive
    timestamps as TIMESTAMP_NTZ)."""
    if path == "synthetic":
        path = synthetic_parquet
    schema, _ = _footer_schema(path)
    assert spark.read.schema(schema).parquet(path).schema == spark.read.parquet(path).schema


def test_load_tables_launches_no_spark_job(spark, tmp_path):
    """Schemas come from the footers pyarrow reads, so loading a directory
    never asks Spark to infer one. A fresh directory misses the memo; its
    ``events`` table is the synthetic file, so the nanos conversion and
    the NTZ cast run too."""
    names = [os.path.basename(p) for p in glob.glob(os.path.join(SF_DIR, "*.parquet"))]
    for name in names:
        if name != "events.parquet":
            shutil.copy(os.path.join(SF_DIR, name), tmp_path)
    _synthetic_parquet(str(tmp_path / "events.parquet"))
    sc = spark.sparkContext
    group = "load-tables-launches-no-job"
    sc.setJobGroup(group, "load_tables on a fresh directory")
    try:
        tables = load_tables(spark, str(tmp_path))
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert sorted(tables) == sorted(n.removesuffix(".parquet") for n in names)
    events = tables["events"]
    types = dict(events.dtypes)
    assert [types[c] for c in ("ts_naive", "ts_utc", "ts_nanos")] == ["timestamp"] * 3
    row = events.where("n = 7").selectExpr(
        "string(ts_naive)", "string(ts_utc)", "string(ts_nanos)"
    ).first()
    assert list(row) == ["2024-03-01 12:30:15.123456"] * 3


def test_unreadable_footer_raises_and_names_the_file(spark, tmp_path):
    bad = tmp_path / "customer.parquet"
    bad.write_bytes(b"not a parquet file")
    with pytest.raises(ValueError, match="customer.parquet"):
        load_tables(spark, str(tmp_path))


def test_query_build_round_trip_budget(spark):
    """Building a query costs py4j round trips, and PySpark's per-call
    call-site capture (``spark.python.sql.dataFrameDebugging.enabled``)
    triples them: q_mood_median sends 676 commands with it off and 2,226
    with it on. ``get_spark`` turns it off. Memory-release commands from
    Python's garbage collector are not counted."""
    load_tables(spark, SF_DIR)  # loading is not part of the build
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    gc.collect()
    client.send_command = counting
    try:
        QUERIES["q_mood_median"](spark, SF_DIR)
    finally:
        del client.send_command
    assert len(sent) <= 800, len(sent)


def test_identical_codegen_stages_compile_once(spark, tmp_path):
    """Two branches that differ only in their input file generate the same
    code under different whole-stage codegen ids; with the ids kept out of
    class names they share one compiled class per stage."""
    from kafka_streams_plumber_spark.plans.inspect import codegen_compiles

    for i in (0, 1, 2):
        spark.range(50).selectExpr("id % 5 AS k", "id AS v").write.parquet(str(tmp_path / f"t{i}"))

    def branch(i, c):
        t = spark.read.parquet(str(tmp_path / f"t{i}"))
        return t.groupBy("k").agg(F.sum(F.col("v") * c).alias("s"))

    def compiles(df):
        before = codegen_compiles(spark)
        df.collect()
        return codegen_compiles(spark) - before

    c = random.randrange(1 << 40)  # literals that no cached class holds
    compiles(branch(0, c))  # warms every class that holds no literal
    single = compiles(branch(0, c + 1))
    both = compiles(branch(1, c + 2).union(branch(2, c + 2)))
    assert single > 0
    assert both == single


def test_kendall_warm_runs_compile_nothing(spark):
    """q_kendall's cross join of the grid axes broadcasts one side, so its
    build side stays put from run to run and warm runs in one session
    find every class in the code cache."""
    from kafka_streams_plumber_spark.plans.inspect import codegen_compiles

    QUERIES["q_kendall"](spark, SF_DIR).collect()
    before = codegen_compiles(spark)
    for _ in range(5):
        QUERIES["q_kendall"](spark, SF_DIR).collect()
    assert codegen_compiles(spark) - before == 0
