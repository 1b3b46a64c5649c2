"""The pipeline algebra: chained filter / map / mapValues over (key, value).

Reference semantics (SURVEY.md §2.1; StreamProcessOperations.scala:18-20,
54-67, 138-152, 167-168):

- ``filter(f)``   — keep the record iff ``f(k, v)`` is truthy.
- ``mapValues(f)``— ``v' = f(v)``, key unchanged.
- ``map(f)``      — ``(k', v') = f(k, v)``.
- chaining is left-to-right composition; a record dropped by a filter is
  never seen by later steps (Option fold, StreamProcessOperations.scala:149-152).
- the whole chain emits 0 or 1 records per input (implicit flatMap-0/1,
  StreamProcessOperations.scala:200-217).

Spark-first design: a :class:`Pipeline` is a *builder of a logical plan
fragment* — a pure function ``DataFrame -> DataFrame`` over a two-column
``(key, value)`` frame. Steps are, in order of preference:

1. **Column expressions** (the fast path): the step callable receives
   ``Column`` objects and returns ``Column``(s). These stay inside
   Catalyst/WholeStageCodegen — filters get pushed down into the parquet/
   Kafka scan, projections get pruned, constants get folded. This is the
   idiomatic replacement for the reference's Lua closures, which blocked
   every optimization.
2. **Python UDF steps** (the escape hatch, ``*_py``): arbitrary Python over
   one record, with an explicitly *declared* output schema (the reference
   has the same contract: the output Avro schema is always explicit,
   SURVEY §7.4.4). Row-at-a-time; documented slow path. Use for genuinely
   dynamic restructuring only.

The chain applies steps in user order and never reorders user UDF steps
(they may be assert-bearing, SURVEY §7.3) — but because expression steps
compose into one lazy logical plan, Catalyst is still free to fuse and
push down where semantics allow.

Because a ``Pipeline`` is source-agnostic it runs identically on a batch
fixture frame (golden verification, Plumber.scala:41-50) and on a
Structured Streaming Kafka frame — the same trick the reference uses
("same plan, batch fixtures", SURVEY §3 entry point 2).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructField, StructType

KEY = "key"
VALUE = "value"


def _as_column(x: Any) -> Column:
    if isinstance(x, Column):
        return x
    if isinstance(x, str):
        return F.expr(x)
    return F.lit(x)


@dataclass(frozen=True)
class _Step:
    kind: str  # filter | map | map_values | filter_py | map_py | map_values_py | flat_map_values
    fn: Callable
    schema: Any = None  # declared output type(s) for python steps


class Pipeline:
    """Immutable builder; each method returns a new Pipeline.

    >>> p = (Pipeline()
    ...      .filter(lambda k, v: v["i"] >= 8)
    ...      .map_values(lambda v: F.struct((v["i"] * 2).alias("j")))
    ...      .map(lambda k, v: (F.upper(k), v)))
    >>> out = p(df)        # df has columns (key, value)
    """

    def __init__(self, steps: tuple[_Step, ...] = ()):
        self._steps = steps

    def _with(self, step: _Step) -> "Pipeline":
        return Pipeline(self._steps + (step,))

    # -- expression steps (fast path) ------------------------------------
    def filter(self, pred: Callable[[Column, Column], Any] | str) -> "Pipeline":
        """Keep records where pred(key, value) is true. Mirrors pb.filter
        (StreamProcessOperations.scala:54-57,140). Like the reference's
        truthiness rule, a NULL predicate drops the record."""
        return self._with(_Step("filter", pred))

    def map_values(self, fn: Callable[[Column], Any]) -> "Pipeline":
        """value' = fn(value); key unchanged. Mirrors pb.mapValues
        (StreamProcessOperations.scala:64-67,141)."""
        return self._with(_Step("map_values", fn))

    def map(self, fn: Callable[[Column, Column], tuple[Any, Any]]) -> "Pipeline":
        """(key', value') = fn(key, value); must return exactly 2 values,
        like the reference's `require(retVals.narg == 2)`
        (StreamProcessOperations.scala:59-62,142-146)."""
        return self._with(_Step("map", fn))

    def flat_map_values(self, fn: Callable[[Column], Any]) -> "Pipeline":
        """value' = each element of the array fn(value) (0..N records out).

        The reference chain is capped at 0..1 records per input; this is
        the natural Spark generalization via explode
        (SURVEY §2.1 'general 0..N would be explode/flatMap')."""
        return self._with(_Step("flat_map_values", fn))

    # -- python steps (slow path, declared schema) ------------------------
    def filter_py(self, fn: Callable[[Any, Any], bool]) -> "Pipeline":
        return self._with(_Step("filter_py", fn))

    def map_values_py(self, fn: Callable[[Any], Any], schema: DataType | str) -> "Pipeline":
        return self._with(_Step("map_values_py", fn, schema))

    def map_values_pandas(
        self, fn: Callable[[Any], Any], schema: DataType | str
    ) -> "Pipeline":
        """Vectorized Python step: ``fn`` maps a pandas Series of values
        to a pandas Series (Arrow-batched — the 10-100x-faster escape
        hatch when a transform needs Python but is expressible over a
        whole column at once)."""
        return self._with(_Step("map_values_pandas", fn, schema))

    def map_py(
        self,
        fn: Callable[[Any, Any], tuple[Any, Any]],
        key_schema: DataType | str,
        value_schema: DataType | str,
    ) -> "Pipeline":
        return self._with(_Step("map_py", fn, (key_schema, value_schema)))

    # -- execution ---------------------------------------------------------
    def apply(self, df: DataFrame) -> DataFrame:
        cols = set(df.columns)
        if KEY not in cols:
            # void key (TypeConversions.scala:35): records without a key
            # flow through with key = NULL.
            df = df.withColumn(KEY, F.lit(None))
        if VALUE not in cols:
            raise ValueError(f"pipeline input needs a '{VALUE}' column; got {sorted(cols)}")
        for step in self._steps:
            df = self._apply_step(df, step)
        return df.select(KEY, VALUE)

    __call__ = apply

    def _apply_step(self, df: DataFrame, step: _Step) -> DataFrame:
        k, v = df[KEY], df[VALUE]
        if step.kind == "filter":
            pred = step.fn if isinstance(step.fn, str) else step.fn(k, v)
            return df.filter(_as_column(pred))
        if step.kind == "map_values":
            return df.select(k.alias(KEY), _as_column(step.fn(v)).alias(VALUE))
        if step.kind == "map":
            out = step.fn(k, v)
            if not isinstance(out, tuple) or len(out) != 2:
                raise ValueError("map step must return exactly (key, value)")
            nk, nv = out
            return df.select(_as_column(nk).alias(KEY), _as_column(nv).alias(VALUE))
        if step.kind == "flat_map_values":
            arr = _as_column(step.fn(v))
            return df.select(k.alias(KEY), F.explode(arr).alias(VALUE))
        if step.kind == "filter_py":
            from pyspark.sql.types import BooleanType

            u = _py_udf(step.fn, BooleanType())
            return df.filter(u(k, v))
        if step.kind == "map_values_py":
            u = _py_udf(step.fn, step.schema)
            return df.select(k.alias(KEY), u(v).alias(VALUE))
        if step.kind == "map_values_pandas":
            u = F.pandas_udf(step.fn, step.schema)
            return df.select(k.alias(KEY), u(v).alias(VALUE))
        if step.kind == "map_py":
            key_schema, value_schema = step.schema
            ks = key_schema if isinstance(key_schema, DataType) else _parse_ddl(key_schema)
            vs = value_schema if isinstance(value_schema, DataType) else _parse_ddl(value_schema)
            pair = StructType([StructField("key", ks), StructField("value", vs)])

            def wrapped(key, value, _fn=step.fn):
                nk, nv = _fn(key, value)
                return (nk, nv)

            u = _py_udf(wrapped, pair)
            tmp = df.select(u(k, v).alias("_kv"))
            return tmp.select(F.col("_kv.key").alias(KEY), F.col("_kv.value").alias(VALUE))
        raise AssertionError(f"unknown step kind {step.kind}")

    def __repr__(self) -> str:
        return "Pipeline(" + " -> ".join(s.kind for s in self._steps) + ")"


def _py_udf(fn, schema):
    """Row-Python UDF, Arrow-serialized (SPARK-40307): same per-row
    semantics, much cheaper JVM<->Python transfer than pickle."""
    return F.udf(fn, schema, useArrow=True)


def _parse_ddl(ddl: str) -> DataType:
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(ddl)


def to_kv(df: DataFrame, key: Column | str | None, value: Column | str | None = None) -> DataFrame:
    """Adapt an arbitrary DataFrame to the (key, value) record model.

    value=None packs all non-key columns into a struct; key=None yields a
    void (NULL) key, mirroring the reference's VoidType
    (TypeConversions.scala:35).
    """
    kcol = F.lit(None) if key is None else (F.col(key) if isinstance(key, str) else key)
    if value is None:
        # the key is a projection of the record, not carved out of it —
        # the value struct keeps every column (reference records are
        # independent (k, v) pairs, TypeConversions.scala:18)
        vcol = F.struct(*[F.col(c) for c in df.columns])
    else:
        vcol = F.col(value) if isinstance(value, str) else value
    return df.select(kcol.alias(KEY), vcol.alias(VALUE))


def from_kv(df: DataFrame) -> DataFrame:
    """Unpack value struct fields to top-level columns (key kept if non-void)."""
    value_type = df.schema[VALUE].dataType
    if isinstance(value_type, StructType):
        return df.select(KEY, f"{VALUE}.*")
    return df
