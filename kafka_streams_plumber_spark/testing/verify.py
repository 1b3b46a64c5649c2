"""The golden-test pre-flight gate — the reference's signature feature.

Parity surface (SURVEY.md §2.5, §3 entry point 2):

- ``keyValue(k, v)`` / ``value(v)``  — fixture constructors
  (prelude ``pb.keyValue``/``pb.value``, StreamProcessOperations.scala:33-40);
- ``verify(spark, pipeline, inputs, expected, ...)`` — run the *same*
  pipeline function on an in-memory fixture DataFrame and compare
  against expectations: length check first, then pairwise structural
  deep-equality including key-set equality in both directions
  (``verifyExpectationsForInput`` StreamProcessOperations.scala:154-165;
  ``LuaUtil.deepEq`` :117-132). A mismatch raises
  :class:`VerificationError` — callers (the streaming runner) refuse to
  start the production job, exactly like Plumber.scala:41-50.

This works because a Pipeline is a source-agnostic ``DataFrame ->
DataFrame`` function: the identical logical plan runs on the Kafka
stream in production and here on the fixtures as a ``LocalRelation``
(``plans.scale.inline_table``). Catalyst folds that plan at planning
time into one ``LocalTableScan``, evaluated by its interpreter rather
than generated code, so a gate over a pipeline without Python steps
launches no Spark job. ``tests/test_scale.py`` pins the fold for the
reference examples and that the unfolded (codegen) plan returns the
same rows.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Row, SparkSession
from pyspark.sql.types import DataType, StructField, StructType, _parse_datatype_string

from kafka_streams_plumber_spark.plans.scale import inline_table


class VerificationError(AssertionError):
    """Pipeline output does not reproduce the declared expectations."""


def keyValue(k: Any, v: Any) -> tuple[Any, Any]:
    """Fixture with explicit key and value (pb.keyValue parity)."""
    return (k, v)


def value(v: Any) -> tuple[Any, Any]:
    """Fixture with a void (NULL) key (pb.value parity)."""
    return (None, v)


def _schema(key_schema: DataType | str | None, value_schema: DataType | str) -> StructType:
    ks = (
        _parse_datatype_string(key_schema)
        if isinstance(key_schema, str)
        else key_schema
    )
    vs = (
        _parse_datatype_string(value_schema)
        if isinstance(value_schema, str)
        else value_schema
    )
    fields = []
    if ks is not None:
        fields.append(StructField("key", ks, True))
    fields.append(StructField("value", vs, True))
    return StructType(fields)


def _deep_eq(a: Any, b: Any) -> bool:
    """Structural deep equality with key-set equality both directions
    (LuaUtil.deepEq, StreamProcessOperations.scala:117-132)."""
    if isinstance(a, Row):
        a = a.asDict(recursive=True)
    if isinstance(b, Row):
        b = b.asDict(recursive=True)
    if isinstance(a, dict) and isinstance(b, dict):
        if set(a) != set(b):
            return False
        return all(_deep_eq(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_deep_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, (int, float)):
        return abs(a - float(b)) < 1e-9
    if isinstance(b, float) and isinstance(a, (int, float)):
        return abs(float(a) - b) < 1e-9
    return a == b


def verify(
    spark: SparkSession,
    pipeline,
    inputs: list[tuple[Any, Any]],
    expected: list[tuple[Any, Any]],
    *,
    value_schema: DataType | str,
    key_schema: DataType | str | None = "string",
    ordered: bool = True,
) -> None:
    """Run ``pipeline`` over fixture ``inputs`` and require it to
    reproduce ``expected`` (same count, deep-equal records, in order —
    per-partition order is what Kafka guarantees). Raises
    VerificationError on any mismatch.
    """
    schema = _schema(key_schema, value_schema)
    rows = [tuple(fx) if len(schema) == 2 else (fx[1],) for fx in inputs]
    out = pipeline(inline_table(spark, rows, schema))
    got = [(r["key"], r["value"]) for r in out.collect()]

    if len(got) != len(expected):
        raise VerificationError(
            f"expected {len(expected)} records, pipeline produced {len(got)}:\n"
            f"  expected: {expected}\n  got:      {got}"
        )
    pairs = list(zip(got, expected))
    if not ordered:
        got = sorted(got, key=repr)
        expected = sorted(expected, key=repr)
        pairs = list(zip(got, expected))
    for i, ((gk, gv), (ek, ev)) in enumerate(pairs):
        if not _deep_eq(gk, ek) or not _deep_eq(gv, ev):
            raise VerificationError(
                f"record {i} mismatch:\n"
                f"  expected: key={ek!r} value={ev!r}\n"
                f"  got:      key={gk!r} value={gv!r}"
            )
