"""Scale-plan helpers: salted joins preserve join semantics and spread
hot keys; bucketed tables join with zero exchanges; inline_table builds
literal frames that fold at planning time, which the golden gate uses."""

from __future__ import annotations

import pathlib
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from kafka_streams_plumber_spark.plans.inspect import shuffle_count
from kafka_streams_plumber_spark.plans.scale import (
    bucketed_table,
    inline_table,
    salted_join,
    write_bucketed,
)


def test_salted_join_matches_plain_join(spark):
    left = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("lv")
    )
    right = spark.createDataFrame(
        [(i, f"r{i}") for i in range(7)], "k long, rv string"
    )
    plain = {(r["k"], r["lv"], r["rv"]) for r in left.join(right, "k").collect()}
    salted = {
        (r["k"], r["lv"], r["rv"])
        for r in salted_join(left, right, "k", salt=8).collect()
    }
    assert salted == plain
    assert len(salted) == 1000


def test_salted_join_spreads_hot_key(spark):
    """The salt column must actually distribute one hot key over many
    distinct (key, salt) groups."""
    left = spark.range(0, 5000).select(F.lit(1).alias("k"), F.col("id").alias("lv"))
    right = spark.createDataFrame([(1, "hot")], "k long, rv string")
    l = left.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in left.columns])), F.lit(16)).cast("int"),
    )
    n_groups = l.select("k", "_salt").distinct().count()
    assert n_groups == 16
    out = salted_join(left, right, "k", salt=16)
    assert out.count() == 5000


def test_left_join_preserves_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (99, "b")], "k long, lv string")
    right = spark.createDataFrame([(1, "r")], "k long, rv string")
    rows = {r["k"]: r["rv"] for r in salted_join(left, right, "k", salt=4, how="left").collect()}
    assert rows == {1: "r", 99: None}


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed by the join key on the same bucket count must
    plan a SortMergeJoin with zero Exchange operators."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.range(0, 10000).select(
            F.col("id").alias("o_id"), (F.col("id") % 100).alias("cust")
        )
        lines = spark.range(0, 30000).select(
            (F.col("id") % 10000).alias("o_id"), F.col("id").alias("qty")
        )
        write_bucketed(
            orders, "t_orders_b", bucket_by="o_id", buckets=8,
            path=str(tmp_path / "orders_b"),
        )
        write_bucketed(
            lines, "t_lines_b", bucket_by="o_id", buckets=8,
            path=str(tmp_path / "lines_b"),
        )
        j = bucketed_table(spark, "t_orders_b").join(
            bucketed_table(spark, "t_lines_b"), "o_id"
        )
        assert shuffle_count(j) == 0
        assert j.count() == 30000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lines_b")


def test_partitioned_write_prunes_at_plan_time(spark, tmp_path):
    from kafka_streams_plumber_spark.plans.inspect import plan_string
    from kafka_streams_plumber_spark.plans.scale import write_partitioned

    df = spark.createDataFrame(
        [(i, ["click", "view", "purchase"][i % 3]) for i in range(300)],
        "id long, kind string",
    )
    path = str(tmp_path / "part_events")
    write_partitioned(df, path, partition_by="kind")
    scan = spark.read.parquet(path).filter(F.col("kind") == "click")
    p = plan_string(scan)
    assert "PartitionFilters" in p and "kind" in p.split("PartitionFilters")[1][:200]
    assert scan.count() == 100


def test_partitioned_write_sorted_and_capped(spark, tmp_path):
    import glob

    from kafka_streams_plumber_spark.plans.scale import write_partitioned

    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], i * 7 % 100) for i in range(400)],
        "id long, kind string, score int",
    )
    path = str(tmp_path / "sorted_events")
    write_partitioned(
        df, path, partition_by="kind", sort_by="score", max_records_per_file=50
    )
    # file cap honored: 200 rows per partition value / 50 -> >= 4 files each
    for kind in ("a", "b"):
        files = glob.glob(f"{path}/kind={kind}/*.parquet")
        assert len(files) >= 4
    back = spark.read.parquet(path)
    assert back.count() == 400
    # rows clustered by score within files: each file's rows are sorted
    one = glob.glob(f"{path}/kind=a/*.parquet")[0]
    scores = [r["score"] for r in spark.read.parquet(one).collect()]
    assert scores == sorted(scores)


def test_register_views_sql_surface(spark):
    from kafka_streams_plumber_spark.plans.session import register_views

    names = register_views(spark, "/root/testdata/sf0.001")
    assert "lineitem" in names and "documents" in names
    out = spark.sql(
        "SELECT o_orderpriority, count(*) AS n FROM orders "
        "WHERE o_totalprice > 1000 GROUP BY o_orderpriority"
    )
    assert out.count() > 0
    # ts normalization applied: event-time arithmetic works through SQL
    row = spark.sql(
        "SELECT max(unix_millis(ts)) AS m FROM events"
    ).collect()[0]
    assert row["m"] > 0


@pytest.mark.parametrize(
    "cpus, requested, expected",
    [("8", None, "8"), ("8", 4, "4"), ("*", None, "32"), ("*", 4, "4")],
)
def test_get_spark_shuffle_partitions(monkeypatch, cpus, requested, expected):
    """An explicit shuffle_partitions wins whatever SPARK_GRAFT_CPUS
    holds. A fake builder records the confs, so no session starts."""
    from kafka_streams_plumber_spark.plans import session

    confs = {}

    class Builder:
        def appName(self, _name):
            return self

        def master(self, master):
            confs["master"] = master
            return self

        def config(self, key, value):
            confs[key] = value
            return self

        def getOrCreate(self):
            return SimpleNamespace(conf=SimpleNamespace(set=lambda k, v: None))

    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    session.get_spark(shuffle_partitions=requested)
    assert confs["master"] == f"local[{cpus}]"
    assert confs["spark.sql.shuffle.partitions"] == expected


def test_compact_files_reduces_file_count_preserves_rows(spark, tmp_path):
    import glob

    from kafka_streams_plumber_spark.plans.scale import compact_files

    path = str(tmp_path / "t")
    # simulate a micro-batch sink: many tiny files
    for i in range(8):
        spark.range(i * 100, (i + 1) * 100).write.mode(
            "append"
        ).parquet(path)
    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 8
    n = compact_files(spark, path, target_file_bytes=1 << 30)
    assert n == 1
    after = glob.glob(f"{path}/*.parquet")
    assert len(after) == 1
    back = spark.read.parquet(path)
    assert back.count() == 800
    assert sorted(r["id"] for r in back.collect()) == list(range(800))


def test_compact_files_sorted_clusters_rows(spark, tmp_path):
    from kafka_streams_plumber_spark.plans.scale import compact_files

    path = str(tmp_path / "s")
    spark.range(1000).selectExpr("id", "id % 97 AS k").write.parquet(path)
    compact_files(spark, path, target_file_bytes=1 << 30, sort_by="k")
    back = spark.read.parquet(path)
    assert back.count() == 1000


def test_zorder_key_hand_interleave(spark):
    from kafka_streams_plumber_spark.plans.scale import zorder_key

    # x=0b11, y=0b01, bits=2: positions (i*2+d) ->
    # x bit0 -> 0, y bit0 -> 1, x bit1 -> 2, y bit1 -> 3 = 0b0111 = 7
    df = spark.createDataFrame([(3, 1), (0, 0), (3, 3)], "x long, y long")
    got = [
        r["z"]
        for r in df.select(
            zorder_key(F.col("x"), F.col("y"), bits=2).alias("z")
        ).collect()
    ]
    assert got == [7, 0, 15]


def test_zorder_key_monotone_in_shared_prefix(spark):
    from kafka_streams_plumber_spark.plans.scale import zorder_key

    # same high bits in both dims -> same high bits in the key: points
    # in the same (x, y) quadrant sort contiguously ahead of other
    # quadrants (the locality property row-group pruning relies on)
    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.select(
        "x", "y", zorder_key(F.col("x"), F.col("y"), bits=3).alias("z")
    ).collect()
    quad = {
        (r["x"] >= 4, r["y"] >= 4): [] for r in got
    }
    for r in got:
        quad[(r["x"] >= 4, r["y"] >= 4)].append(r["z"])
    ranges = {k: (min(v), max(v)) for k, v in quad.items()}
    # quadrants occupy disjoint key ranges
    spans = sorted(ranges.values())
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))


def test_zorder_key_rejects_long_overflow(spark):
    from kafka_streams_plumber_spark.plans.scale import zorder_key

    with pytest.raises(ValueError, match="overflows"):
        zorder_key(F.col("a"), F.col("b"), F.col("c"), F.col("d"), bits=16)


def test_cluster_by_zorder_plan_is_range_exchange_plus_sort(spark):
    from kafka_streams_plumber_spark.plans.inspect import plan_string
    from kafka_streams_plumber_spark.plans.scale import cluster_by_zorder

    df = spark.range(1000).select(
        (F.col("id") % 32).alias("x"), (F.col("id") % 17).alias("y"), "id"
    )
    out = cluster_by_zorder(df, [F.col("x"), F.col("y")], bits=5, partitions=4)
    p = plan_string(out)
    assert "Exchange rangepartitioning" in p
    assert "Sort" in p
    # layout op, not a reshuffle-per-join: exactly one exchange
    assert p.count("Exchange") == 1


def test_idempotent_write_replay_and_rewrite(spark, tmp_path):
    """Replays with the same token are no-ops; a new token rewrites;
    a torn previous attempt's staging debris is cleaned up."""
    import os

    from kafka_streams_plumber_spark.plans.scale import idempotent_write

    out = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1,), (2,)], "v long")
    assert idempotent_write(df1, out, job_token="run-1") is True
    assert spark.read.parquet(out).count() == 2
    # replay: skipped, data untouched
    df2 = spark.createDataFrame([(9,)], "v long")
    assert idempotent_write(df2, out, job_token="run-1") is False
    assert spark.read.parquet(out).count() == 2
    # simulate a crashed attempt leaving staging debris
    os.makedirs(out + "__inflight/junk", exist_ok=True)
    # new token: rewrite succeeds and cleans debris
    assert idempotent_write(df2, out, job_token="run-2") is True
    assert spark.read.parquet(out).count() == 1
    assert not os.path.exists(out + "__inflight")
    assert not os.path.exists(out + "__old")
    with open(os.path.join(out, "_JOB_TOKEN")) as f:
        assert f.read() == "run-2"


# --- inline_table: the package's one literal-frame builder -----------------


def test_inline_table_nested_types_round_trip(spark):
    """Nested columns from a DDL string, not all of whose commas
    separate columns."""
    from pyspark.sql import Row

    df = inline_table(
        spark,
        [((1, None), [(2, "x")], {"k": 3}, b"\x00\xff", None)],
        "p struct<a:int,b:int>, xs array<struct<i:int,t:string>>,"
        " m map<string,int>, b binary, v void",
    )
    assert [f.dataType.simpleString() for f in df.schema] == [
        "struct<a:int,b:int>",
        "array<struct<i:int,t:string>>",
        "map<string,int>",
        "binary",
        "void",
    ]
    assert df.collect() == [
        Row(
            p=Row(a=1, b=None),
            xs=[Row(i=2, t="x")],
            m={"k": 3},
            b=bytearray(b"\x00\xff"),
            v=None,
        )
    ]


def test_inline_table_zero_rows_keep_schema(spark):
    df = inline_table(spark, [], "a int, p struct<s:string>")
    assert df.schema.simpleString() == "struct<a:int,p:struct<s:string>>"
    assert df.collect() == []


def test_inline_table_literals_round_trip_exactly(spark):
    import math

    strings = ["it's", "back\\slash", "\\'", ""]
    floats = [0.1, 1e-300, float("nan")]
    df = inline_table(
        spark,
        [(s, f) for s, f in zip(strings, floats + [None])],
        "s string, f double",
    )
    got = df.collect()
    assert [r.s for r in got] == strings
    assert [r.f for r in got[:2]] == floats[:2]
    assert math.isnan(got[2].f) and got[3].f is None


def test_inline_table_folds_to_local_table_scan(spark):
    from kafka_streams_plumber_spark.plans.inspect import plan_string

    df = inline_table(spark, [(1, "a"), (2, "b")], "i int, s string")
    plan = plan_string(df.filter(F.col("i") > 1))
    assert plan.startswith("LocalTableScan"), plan
    assert "ExistingRDD" not in plan


def test_inline_table_rejects_null_in_non_nullable_field(spark):
    from pyspark.sql.types import IntegerType, StructField, StructType

    top = StructType([StructField("a", IntegerType(), False)])
    nested = StructType([StructField("p", top, True)])
    with pytest.raises((TypeError, ValueError)):
        inline_table(spark, [(None,)], top)
    with pytest.raises((TypeError, ValueError)):
        inline_table(spark, [((None,),)], nested)


def test_inline_table_rejects_wrong_type(spark):
    # Arrow alone would truncate 1.5 to 1
    with pytest.raises(TypeError):
        inline_table(spark, [(1.5,)], "a int")


def test_package_has_one_literal_frame_builder():
    """Only plans/scale.py:inline_table may call createDataFrame."""
    import kafka_streams_plumber_spark

    root = pathlib.Path(kafka_streams_plumber_spark.__file__).parent
    hits = [
        f"{p.relative_to(root)}:{n}"
        for p in sorted(root.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert hits and all(h.startswith("plans/scale.py:") for h in hits), hits


# --- the golden gate over inline_table -------------------------------------

_EXAMPLES = pathlib.Path(__file__).resolve().parent.parent / "examples"
_EXAMPLE_TYPES = {
    "demo": ("avro=example.undesired.avsc", "avro=example.desired.avsc"),
    "time": ("string,string", "long,long"),
    "csv": ("string", "avro=example.avsc"),
}


def _example_job(spark, name, monkeypatch):
    from kafka_streams_plumber_spark.cli import _load_module, _parse_kv_types
    from kafka_streams_plumber_spark.streaming.runner import PlumberJob

    monkeypatch.chdir(_EXAMPLES / name)
    source, sink = _EXAMPLE_TYPES[name]
    ik, iv = _parse_kv_types(source)
    ok, ov = _parse_kv_types(sink)
    tmod = _load_module("example.test.py", f"{name}_example_test")
    return PlumberJob(
        spark=spark,
        pipeline=_load_module("example.py", f"{name}_example").pipeline(),
        brokers="unused:9092",
        source_topic="in",
        sink_topic="out",
        input_key=ik,
        input_value=iv,
        output_key=ok,
        output_value=ov,
        fixtures=list(tmod.fixtures()),
        expectations=list(tmod.expectations()),
    )


def _gate_output(spark, job, monkeypatch, group):
    """Run the job's golden gate; return the frame it collected and the
    Spark jobs it launched."""
    seen = []

    def spy(df):
        seen.append(type(job)._transformed(job, df))
        return seen[-1]

    monkeypatch.setattr(job, "_transformed", spy)
    spark.sparkContext.setJobGroup(group, group)
    try:
        job.preflight()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return seen[0], spark.sparkContext.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("name", sorted(_EXAMPLE_TYPES))
def test_example_gate_folds_and_matches_codegen(spark, name, monkeypatch):
    """Each reference example's gate plan folds to one LocalTableScan
    (Catalyst's interpreter) and launches no job; the unfolded plan,
    which runs generated code the way the stream does, passes the gate
    with the same rows."""
    from kafka_streams_plumber_spark.plans.inspect import plan_string

    job = _example_job(spark, name, monkeypatch)
    folded, jobs = _gate_output(spark, job, monkeypatch, f"gate-{name}")
    assert plan_string(folded).startswith("LocalTableScan"), plan_string(folded)
    assert jobs == []

    rule = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    spark.conf.set("spark.sql.optimizer.excludedRules", rule)
    try:
        unfolded, _ = _gate_output(spark, job, monkeypatch, f"codegen-{name}")
        plan = plan_string(unfolded)
        assert plan.startswith("*(1) ") and "*(1) LocalTableScan" in plan, plan
        assert unfolded.collect() == folded.collect()
    finally:
        spark.conf.unset("spark.sql.optimizer.excludedRules")


def test_gate_keeps_fixture_order_through_python_udf(spark):
    """A Python UDF step cannot fold, so the fixture frame runs as a
    multi-partition scan; verify(ordered=True) must still see the
    fixtures in order."""
    from kafka_streams_plumber_spark import Pipeline
    from kafka_streams_plumber_spark.testing import value, verify

    shout = F.udf(lambda s: s.upper() + "!", "string")
    words = [f"w{i:02d}" for i in range(12)]
    verify(
        spark,
        Pipeline().map_values(lambda v: shout(v)),
        inputs=[value(w) for w in words],
        expected=[value(w.upper() + "!") for w in words],
        value_schema="string",
        ordered=True,
    )
