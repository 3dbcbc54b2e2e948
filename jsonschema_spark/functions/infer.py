"""Infer a Spark DataType for a parsed JSON value, and build the literal
Column of the value at that type.

Used to recast free-form JSON instances (e.g. the reference's suite cases)
into typed single-column DataFrames so they can exercise the native Column
backend. Values Spark's type system cannot represent (heterogeneous arrays,
integers beyond int64, exotic unions) raise :class:`Unrepresentable` — those
instances remain on the kernel path by design.
"""

from __future__ import annotations

from fractions import Fraction
from typing import Any

from pyspark.sql import types as T

_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1


class Unrepresentable(ValueError):
    pass


def infer_type(value: Any) -> T.DataType:
    if value is None:
        return T.StringType()  # NULL carrier; verdict comes from the null branch
    if isinstance(value, bool):
        return T.BooleanType()
    if isinstance(value, int):
        if not _I64_MIN <= value <= _I64_MAX:
            raise Unrepresentable(f"integer out of int64 range: {value}")
        return T.LongType()
    if isinstance(value, (float, Fraction)):
        if isinstance(value, Fraction) and value.denominator == 1:
            return infer_type(int(value))
        return T.DoubleType()
    if isinstance(value, str):
        return T.StringType()
    if isinstance(value, list):
        return T.ArrayType(_unify([infer_type(v) for v in value]))
    if isinstance(value, dict):
        if not value:
            raise Unrepresentable("empty object has no struct shape")
        if any(v is None for v in value.values()):
            # the struct convention is NULL field = absent member, so a
            # present-but-null member is not representable (kernel path)
            raise Unrepresentable("object with explicit null member")
        return T.StructType(
            [T.StructField(k, infer_type(v), True) for k, v in value.items()]
        )
    raise Unrepresentable(f"cannot infer Spark type for {type(value).__name__}")


def _unify(types: list) -> T.DataType:
    if not types:
        return T.StringType()
    non_null = [t for t in types if not isinstance(t, T.NullType)]
    if not non_null:
        return T.StringType()
    head = non_null[0]
    out = head
    for t in non_null[1:]:
        out = _unify2(out, t)
    return out


def _unify2(a: T.DataType, b: T.DataType) -> T.DataType:
    if a == b:
        return a
    numeric = (T.LongType, T.DoubleType)
    if isinstance(a, numeric) and isinstance(b, numeric):
        return T.DoubleType()
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_unify2(a.elementType, b.elementType))
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        fields = {f.name: f.dataType for f in a.fields}
        for f in b.fields:
            if f.name in fields:
                fields[f.name] = _unify2(fields[f.name], f.dataType)
            else:
                fields[f.name] = f.dataType
        return T.StructType([T.StructField(k, v, True) for k, v in fields.items()])
    raise Unrepresentable(f"cannot unify {a.simpleString()} and {b.simpleString()}")


def to_literal(value: Any, dtype: T.DataType):
    """Build a typed Column literal for a parsed JSON value (arrays/structs
    included), so many instances can be validated in one Spark job."""
    from pyspark.sql import functions as F

    if value is None:
        return F.lit(None).cast(dtype)
    if isinstance(dtype, T.ArrayType):
        if not value:
            return F.array().cast(dtype)
        return F.array(*[to_literal(v, dtype.elementType) for v in value])
    if isinstance(dtype, T.StructType):
        return F.struct(
            *[
                to_literal(value.get(f.name), f.dataType).alias(f.name)
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, T.DoubleType):
        return F.lit(float(value))
    if isinstance(dtype, T.LongType):
        return F.lit(int(value))
    return F.lit(value)

