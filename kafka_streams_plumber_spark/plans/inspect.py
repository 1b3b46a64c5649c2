"""Plan-inspection helpers: assert the physical plan is the one you'd
want at 100 TB (filters pushed to the scan, schemas pruned, small sides
broadcast, hot paths inside WholeStageCodegen, no stray Python eval).

Used by the plan-quality tests (tests/test_plans.py) so a refactor that
silently breaks pushdown or de-broadcasts a join fails CI, not the
cluster bill.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def plan_string(df: DataFrame) -> str:
    # Scan metadata (PushedFilters/ReadSchema) renders elided with '...'
    # past spark.sql.maxMetadataStringLength (default 100) — widen while
    # stringifying so presence checks see the whole list.
    conf = df.sparkSession.conf
    prev = conf.get("spark.sql.maxMetadataStringLength", "100")
    conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    finally:
        conf.set("spark.sql.maxMetadataStringLength", prev)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries per scan (unbounded — Spark truncates the
    rendered list with '...', which is fine for presence checks)."""
    return re.findall(r"PushedFilters: \[([^\]]*)", plan_string(df))


def read_schemas(df: DataFrame) -> list[list[str]]:
    """Column names each parquet scan actually reads (pruning check)."""
    out = []
    for m in re.findall(r"ReadSchema: struct<([^\n]*)", plan_string(df)):
        out.append([f.split(":")[0] for f in m.rstrip(">").split(",") if ":" in f])
    return out


def broadcast_join_count(df: DataFrame) -> int:
    return plan_string(df).count("BroadcastHashJoin")


def shuffle_count(df: DataFrame) -> int:
    return plan_string(df).count("Exchange hashpartitioning") + plan_string(
        df
    ).count("Exchange rangepartitioning")


def codegen_span_count(df: DataFrame) -> int:
    """WholeStageCodegen stages, rendered as '*(n)' markers.

    Under AQE a shuffling query stringifies as an unfinalized
    AdaptiveSparkPlan with no codegen markers; execute it (noop sink)
    so the final plan is inspected.
    """
    p = plan_string(df)
    if "AdaptiveSparkPlan" in p and "isFinalPlan=true" not in p:
        df.collect()  # finalizes THIS DataFrame's QueryExecution (a
        # write/count would execute a different one and leave it stale)
        p = plan_string(df)
    return len(set(re.findall(r"\*\((\d+)\)", p)))


def runtime_exchange_count(df: DataFrame) -> tuple[int, int]:
    """Post-AQE materialized shuffle count: execute the plan, then
    count DISTINCT ``ShuffleQueryStage`` ids in the final adaptive
    plan. Compile-time Exchange nodes that Spark served from one
    materialized stage (ReuseExchange / AQE stage reuse) count ONCE —
    this is the number of shuffles the cluster actually paid for, the
    figure that adjudicates fat compile-time counts from branch
    double-counting of reused scalar subtrees (q_ad, q_by, q_bh,
    q_stl_runs). Returns ``(materialized_stages, reused_refs)`` where
    ``reused_refs`` is the count of ReusedExchange references (both
    shuffle and broadcast reuse)."""
    p = plan_string(df)
    if "AdaptiveSparkPlan" in p and "isFinalPlan=true" not in p:
        df.collect()  # finalize THIS DataFrame's QueryExecution
        p = plan_string(df)
    # a finalized adaptive plan stringifies BOTH the final and the
    # initial plan; count only the final section or everything doubles
    p = p.split("== Initial Plan ==")[0]
    stages = len(set(re.findall(r"ShuffleQueryStage (\d+)", p)))
    return stages, p.count("ReusedExchange")


def python_eval_count(df: DataFrame) -> int:
    """BatchEvalPython/ArrowEvalPython operators (UDF hops). Zero for
    every pure-expression operator in this engine."""
    p = plan_string(df)
    return p.count("BatchEvalPython") + p.count("ArrowEvalPython")


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the JVM behind ``spark`` has compiled from generated code
    so far (Spark's ``CodegenMetrics`` compile count, driver and
    local-mode executors together). A warm plan whose classes are still
    in the codegen cache adds 0."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
