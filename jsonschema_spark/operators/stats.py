"""Per-column statistics profiles — the reference's assertion keywords
(minimum/maximum/minLength/required, SURVEY.md §2.3) lifted from per-row
predicates to whole-table profiles.

A profile is built from mergeable per-group partials, one struct per
column (``profile_partials``). A scalar column's partial is its null
count, an HLL sketch, min and max, and length min/max/sum/count. A nested
column's (array, map or struct) is its null count and length statistics
only: for it the keywords that lift are ``minItems``/``maxItems`` and
``required``, and hashing or comparing whole values would cost more than
the rest of the aggregate. ``ValidationJob.partition_lineage`` computes
the partials per lineage unit inside the same aggregate as the verdict
counts, so the profile costs no pass of its own; ``profile_rollup`` merges
the partials of any set of groups into one row per column.
``column_profile`` is that roll-up over a single group, so there is one
profile code path, and a resumed run's profile (a roll-up of ``lineage/``)
equals a full run's.

Each partial and the roll-up is one SQL expression (``F.expr``), built in
a few py4j round trips however many columns there are. The SQL text reads
columns by position (``plans.plan.positions``), never by their own names,
and writes names as literals with ``plans.plan._sql_string``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_spark.plans.plan import _sql_string, positions

PROFILE_PREFIX = "profile_"

# HLL standard error 1.04 / sqrt(2^9) = 4.6%, about approx_count_distinct's
# default rsd 0.05. Spark keeps the sketch as an updatable HLL_8 image:
# 552 bytes per lineage unit and profiled scalar column at any unit size.
HLL_LG_K = 9

_NULL_LENGTHS = ("CAST(NULL AS INT)",) * 2 + ("CAST(NULL AS BIGINT)",) * 2


def _named_struct(fields: dict) -> str:
    """SQL for a struct of the given field name -> SQL expression."""
    return "named_struct(" + ", ".join(f"'{k}', {v}" for k, v in fields.items()) + ")"


def _nested(dtype: T.DataType) -> bool:
    return isinstance(dtype, (T.ArrayType, T.MapType, T.StructType))


def _length(dtype: T.DataType, col: str) -> str | None:
    """SQL for a value's length: a string's characters, an array's or a
    map's entries; None for the other types."""
    if isinstance(dtype, T.StringType):
        return f"length({col})"
    if isinstance(dtype, (T.ArrayType, T.MapType)):
        return f"size({col})"
    return None


def _partial(col: str, dtype: T.DataType) -> str:
    length = _length(dtype, col)
    if length is None:
        lengths = _NULL_LENGTHS
    else:
        lengths = tuple(f"{agg}({length})" for agg in ("min", "max", "sum", "count"))
    fields = {"nulls": f"count_if({col} IS NULL)"}
    if not _nested(dtype):
        # a scalar goes into the sketch as its 64-bit hash: the sketch would
        # skip an empty string or binary given as it is, and xxhash64
        # refuses a variant, which has no ordering either
        unordered = isinstance(dtype, (T.VariantType, T.CalendarIntervalType))
        key = f"to_json({col})" if unordered else col
        fields["sketch"] = (
            f"hll_sketch_agg(CASE WHEN {col} IS NOT NULL THEN xxhash64({key}) END, {HLL_LG_K})"
        )
        if unordered:
            fields["min"] = fields["max"] = "CAST(NULL AS STRING)"
        else:
            fields["min"], fields["max"] = f"min({col})", f"max({col})"
    fields.update(zip(("len_min", "len_max", "len_sum", "len_count"), lengths))
    return _named_struct(fields)


def profile_partials(schema: T.StructType, columns: list[str], refs: dict) -> list[Column]:
    """One aggregate per column, ``profile_<column>``: a struct of
    mergeable partials — ``nulls``; for a scalar column ``sketch`` (HLL) and
    ``min``/``max`` (the column's type; NULL for a variant); then
    ``len_min``/``len_max``/``len_sum``/``len_count`` (string length, array
    or map size; NULL for other types). ``refs`` maps each column to the
    name it has in the aggregated frame (``plans.plan.positions``)."""
    return [
        F.expr(_partial(refs[name], schema[name].dataType)).alias(PROFILE_PREFIX + name)
        for name in columns
    ]


def _rollup_row(name: str, dtype: T.DataType, partial: str, n_rows: str) -> str:
    def part(field: str) -> str:
        return f"{partial}.`{field}`"

    if _nested(dtype):
        distinct = "CAST(NULL AS BIGINT)"
        lo = hi = "CAST(NULL AS STRING)"
    else:
        distinct = f"coalesce(hll_sketch_estimate(hll_union_agg({part('sketch')})), 0)"
        lo, hi = f"CAST(min({part('min')}) AS STRING)", f"CAST(max({part('max')}) AS STRING)"
    fields = {
        "column": _sql_string(name),
        "dtype": _sql_string(dtype.simpleString()),
        "n_rows": n_rows,
        "null_rate": f"coalesce(try_divide(sum({part('nulls')}), {n_rows}), 0D)",
        "approx_distinct": distinct,
        "min_value": lo,
        "max_value": hi,
        "min_len": f"min({part('len_min')})",
        "max_len": f"max({part('len_max')})",
        "avg_len": f"CAST(try_divide(sum({part('len_sum')}), sum({part('len_count')})) AS DOUBLE)",
    }
    return _named_struct(fields)


def profile_rollup(schema: T.StructType, columns: list[str], refs: dict) -> Column:
    """Aggregate over rows of ``n_rows`` + ``profile_partials`` columns:
    ``array<struct<column, dtype, n_rows, null_rate, approx_distinct,
    min_value, max_value, min_len, max_len, avg_len>>``, one element per
    column in the given order (a nested column's ``approx_distinct``,
    ``min_value`` and ``max_value`` are NULL); ``inline`` it for the
    profile rows. ``refs`` maps ``n_rows`` and each ``profile_<column>``
    to its name in the aggregated frame (``plans.plan.positions``)."""
    n_rows = f"coalesce(sum({refs['n_rows']}), 0)"
    rows = ", ".join(
        _rollup_row(name, schema[name].dataType, refs[PROFILE_PREFIX + name], n_rows)
        for name in columns
    )
    return F.expr(f"array({rows})")


def column_profile(df: DataFrame) -> DataFrame:
    """One row per column: null_rate, approx distinct (HLL), min/max
    (numeric or lexicographic, cast to string), plus length stats for
    string, array and map columns — ``profile_rollup`` over a single group,
    so one scan, no driver round trip."""
    refs = positions(df.columns)
    partials = df.toDF(*refs.values()).agg(
        F.count(F.lit(1)).alias("n_rows"), *profile_partials(df.schema, df.columns, refs)
    )
    rolled = positions(partials.columns)
    return (
        partials.toDF(*rolled.values())
        .agg(profile_rollup(df.schema, df.columns, rolled).alias("_profile"))
        .select(F.inline("_profile"))
    )
