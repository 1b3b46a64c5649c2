"""Schema-driven output conformance — the reference's defining semantic.

Mirrors ``luaOntoRecord`` / ``luaValueToObject`` (LuaMapper.scala:99-127;
SURVEY.md §1.4): the *declared output schema* is authoritative at the sink.
For every target field:

- present in the source  -> value is **coerced** to the field type
  (permissive, Lua ``tonumber``-style: string "3.2" -> float 3.2,
  AllFieldTypesTest.scala:92,122); unparsable -> NULL (Lua nil semantics);
- absent from the source -> **NULL** (null-fill, AllFieldTypesTest.scala:37,55);
- extra source fields    -> **silently dropped** (schema-driven projection);
- target STRING fed a non-string -> **hard error at plan time**
  (``require(lv.isstring)``, LuaMapper.scala:104), with no permissive mode;
- union targets resolve ``[null, T]`` to a nullable T column (the fast
  path, LuaMapper.scala:71-73) and N-way unions to a struct-of-branches
  with first-matching-branch-wins resolution (LuaMapper.scala:67-91,
  SURVEY §7.4.1), decided statically from the source column type — the
  faithful analog of the reference's runtime-type dispatch, since a Spark
  column's "runtime type" is its static type;
- enum targets are strings with an optional domain check
  (LuaMapper.scala:30-32,93-97).

Everything is plain ``select`` / ``cast`` / ``struct`` / ``transform``
column expressions — fully inside Catalyst/WholeStageCodegen, no UDFs —
so conformance costs one projection and never blocks pushdown. Coercion
uses legacy (non-ANSI) cast semantics; sessions from
:mod:`..plans.session` set ``spark.sql.ansi.enabled=false``.

Divergence notes (documented, SURVEY §7.4.3): Lua conflates float/double,
so float-vs-double union branches resolve by declaration order — same
here. Lua truthiness would make ``0 -> true`` for BOOLEAN targets; we use
Spark's numeric cast (``0 -> false``) which is saner and only reachable
through a coercion no reference test exercises.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ConformError(TypeError):
    """Raised at plan-build time when the source cannot conform to the target."""


class UnresolvedUnionError(ConformError):
    """No union branch matches the source type (LuaMapper.scala:76,
    tested AllFieldTypesTest.scala:176-196)."""


# --------------------------------------------------------------------------
# Target-schema model. Plain Spark DataTypes cover most targets; Enum and
# Union carry the Avro-level information (symbol domain, branch order) that
# a DataType cannot express. sources/avsc.py produces these from .avsc.
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Enum:
    symbols: tuple[str, ...]
    name: str = "enum"


@dataclass(frozen=True)
class Union:
    """Avro union; branch order is semantic (first match wins on write)."""

    branches: tuple[object, ...]  # DataType | Enum | Struct-like, maybe NullType

    @property
    def non_null(self) -> tuple[object, ...]:
        return tuple(b for b in self.branches if not _is_null(b))

    @property
    def nullable(self) -> bool:
        return any(_is_null(b) for b in self.branches)


@dataclass(frozen=True)
class Field:
    name: str
    type: object  # DataType | Enum | Union | Record | Array
    nullable: bool = True


@dataclass(frozen=True)
class Record:
    fields: tuple[Field, ...]
    name: str = "record"


@dataclass(frozen=True)
class Array:
    element: object


def _is_null(t: object) -> bool:
    return isinstance(t, T.NullType)


# --------------------------------------------------------------------------
# Target normalization: accept Spark DataTypes / DDL strings and lift them
# into the model (StructType -> Record, ArrayType -> Array).
# --------------------------------------------------------------------------


def _lift(target: object) -> object:
    if isinstance(target, str):
        target = T._parse_datatype_string(target)
    if isinstance(target, T.StructType):
        return Record(
            tuple(Field(f.name, _lift(f.dataType), f.nullable) for f in target.fields)
        )
    if isinstance(target, T.ArrayType):
        return Array(_lift(target.elementType))
    return target


def spark_type(target: object) -> T.DataType:
    """The Spark DataType a conformed column will have."""
    if isinstance(target, Record):
        return T.StructType(
            [T.StructField(f.name, spark_type(f.type), True) for f in target.fields]
        )
    if isinstance(target, Array):
        return T.ArrayType(spark_type(target.element), True)
    if isinstance(target, Enum):
        return T.StringType()
    if isinstance(target, Union):
        nn = target.non_null
        if len(nn) == 1:
            return spark_type(nn[0])
        return T.StructType(
            [T.StructField(branch_name(b), spark_type(b), True) for b in nn]
        )
    assert isinstance(target, T.DataType), target
    return target


def branch_name(t: object) -> str:
    """Union branch field name, mirroring Avro's JSON encoding
    (e.g. {"string": ...} — examples/csv/README.md:18-25)."""
    if isinstance(t, Record):
        return t.name
    if isinstance(t, Enum):
        return t.name
    if isinstance(t, Array):
        return "array"
    return {
        T.BooleanType: "boolean",
        T.IntegerType: "int",
        T.LongType: "long",
        T.FloatType: "float",
        T.DoubleType: "double",
        T.StringType: "string",
        T.BinaryType: "bytes",
    }.get(type(t), t.simpleString())  # type: ignore[arg-type]


# --------------------------------------------------------------------------
# Branch matching — the isLuaInstanceOf analog (LuaMapper.scala:80-91).
# Lua has two numeric kinds (integer, number) so int/long are mutually
# assignable, as are float/double; first declared match wins.
# --------------------------------------------------------------------------

_INTEGRALS = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONALS = (T.FloatType, T.DoubleType)


def _matches(src: T.DataType, branch: object) -> bool:
    if isinstance(branch, Record):
        return isinstance(src, T.StructType)
    if isinstance(branch, Array):
        return isinstance(src, T.ArrayType)
    if isinstance(branch, Enum):
        return isinstance(src, T.StringType)
    if isinstance(branch, T.BooleanType):
        return isinstance(src, T.BooleanType)
    if isinstance(branch, _INTEGRALS):
        return isinstance(src, _INTEGRALS)
    if isinstance(branch, _FRACTIONALS):
        return isinstance(src, _FRACTIONALS)
    if isinstance(branch, T.StringType):
        return isinstance(src, T.StringType)
    if isinstance(branch, T.BinaryType):
        return isinstance(src, T.BinaryType)
    return src == branch


# --------------------------------------------------------------------------
# The conform expression builder.
# --------------------------------------------------------------------------


def conform_column(col: Column, src: T.DataType, target: object) -> Column:
    """Build the column expression conforming ``col`` (static type ``src``)
    to ``target``. Pure expression — no UDF."""
    target = _lift(target)

    if isinstance(target, Union):
        return _conform_union(col, src, target)

    if isinstance(target, Record):
        if isinstance(src, T.NullType):
            return F.lit(None).cast(spark_type(target))
        if not isinstance(src, T.StructType):
            raise ConformError(f"cannot conform {src.simpleString()} to record")
        src_fields = {f.name: f.dataType for f in src.fields}
        parts = []
        for f in target.fields:
            if f.name in src_fields:
                child = conform_column(col[f.name], src_fields[f.name], f.type)
            else:
                # null-fill of omitted fields (AllFieldTypesTest.scala:37,55)
                child = F.lit(None).cast(spark_type(f.type))
            parts.append(child.alias(f.name))
        out = F.struct(*parts)
        # a NULL input record stays NULL rather than becoming a struct of nulls
        return F.when(col.isNull(), F.lit(None).cast(spark_type(target))).otherwise(out)

    if isinstance(target, Array):
        if isinstance(src, T.NullType):
            return F.lit(None).cast(spark_type(target))
        if not isinstance(src, T.ArrayType):
            raise ConformError(f"cannot conform {src.simpleString()} to array")
        elem_src = src.elementType
        return F.transform(col, lambda x: conform_column(x, elem_src, target.element))

    if isinstance(target, Enum):
        base = conform_column(col, src, T.StringType())
        # invalid symbol is a hard error on write, like
        # GenericData.EnumSymbol construction (LuaMapper.scala:93-97)
        return F.when(
            base.isNull() | base.isin(*target.symbols), base
        ).otherwise(
            F.raise_error(
                F.concat(F.lit(f"enum {target.name}: no symbol "), base)
            )
        )

    assert isinstance(target, T.DataType)
    if isinstance(src, T.NullType):
        return F.lit(None).cast(target)
    if isinstance(target, T.StringType) and not isinstance(src, T.StringType):
        # require(lv.isstring) — LuaMapper.scala:104
        raise ConformError(
            f"target STRING requires a string source, got {src.simpleString()}"
        )
    if src == target:
        return col
    # permissive coercion: legacy cast = tonumber/toint semantics
    # ("3.2" -> 3.2f; unparsable -> NULL)
    return col.cast(target)


def _conform_union(col: Column, src: T.DataType, target: Union) -> Column:
    nn = target.non_null
    if isinstance(src, T.NullType):
        if not target.nullable:
            raise UnresolvedUnionError("NULL into a union without a null branch")
        return F.lit(None).cast(spark_type(target))
    if len(nn) == 1:
        # [null, T] fast path (LuaMapper.scala:71-73)
        return conform_column(col, src, nn[0])
    # N-way: struct-of-branches, exactly one set; first declared branch
    # matching the source's static type wins (LuaMapper.scala:67-91).
    chosen = None
    for b in nn:
        if _matches(src, b):
            chosen = b
            break
    if chosen is None:
        raise UnresolvedUnionError(
            f"no union branch matches source {src.simpleString()} "
            f"among {[branch_name(b) for b in nn]}"
        )
    parts = []
    for b in nn:
        if b is chosen:
            parts.append(conform_column(col, src, b).alias(branch_name(b)))
        else:
            parts.append(F.lit(None).cast(spark_type(b)).alias(branch_name(b)))
    out = F.struct(*parts)
    return F.when(col.isNull(), F.lit(None).cast(spark_type(target))).otherwise(out)


def conform(df: DataFrame, target: object, *, column: str = "value") -> DataFrame:
    """Conform one column of ``df`` (default: the ``value`` of a (key, value)
    frame) to the target schema. Other columns pass through unchanged.

    ``target`` may be a Spark StructType/DataType, a DDL string, or a
    Record/Union/Enum from :mod:`..sources.avsc`.
    """
    src = df.schema[column].dataType
    new = conform_column(df[column], src, target)
    return df.withColumn(column, new)
