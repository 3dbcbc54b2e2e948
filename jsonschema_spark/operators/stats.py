"""Per-column statistics profiles — the reference's assertion keywords
(minimum/maximum/minLength/required, SURVEY.md §2.3) lifted from per-row
predicates to whole-table profiles.

A profile is built from mergeable per-group partials, one struct per
column (``profile_partials``): null count, an HLL sketch, min and max, and
length min/max/sum/count. ``ValidationJob.partition_lineage`` computes them
per lineage unit inside the same aggregate as the verdict counts, so the
profile costs no pass of its own; ``profile_rollup`` merges the partials
of any set of groups into one row per column. ``column_profile`` is that
roll-up over a single group, so there is one profile code path, and a
resumed run's profile (a roll-up of ``lineage/``) equals a full run's.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PROFILE_PREFIX = "profile_"

# HLL standard error 1.04 / sqrt(2^9) = 4.6%, about approx_count_distinct's
# default rsd 0.05. Spark keeps the sketch as an updatable HLL_8 image:
# 552 bytes per lineage unit and profiled column at any unit size.
HLL_LG_K = 9


def _orderable(dtype: T.DataType) -> bool:
    """Whether min/max accept ``dtype``: maps and variants (also nested in
    a struct or an array) have no ordering."""
    if isinstance(dtype, T.StructType):
        return all(_orderable(f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return _orderable(dtype.elementType)
    return not isinstance(dtype, (T.MapType, T.VariantType, T.CalendarIntervalType))


def _sized(dtype: T.DataType) -> bool:
    return isinstance(dtype, (T.StringType, T.ArrayType))


def profile_partials(schema: T.StructType, columns: list[str]) -> list[Column]:
    """One aggregate per column, ``profile_<column>``: a struct of
    mergeable partials — ``nulls``, ``sketch`` (HLL), ``min``/``max`` (the
    column's type; NULL for unorderable types) and ``len_min``/``len_max``/
    ``len_sum``/``len_count`` (string length or array size; NULL for other
    types)."""
    out = []
    for name in columns:
        dtype = schema[name].dataType
        col = F.col(name)
        orderable = _orderable(dtype)
        # every type goes into the sketch as its 64-bit hash: the sketch
        # would skip an empty string or binary given as it is, and xxhash64
        # refuses maps, so unorderable values hash their JSON
        key = F.when(F.isnotnull(col), F.xxhash64(col if orderable else F.to_json(col)))
        if orderable:
            lo, hi = F.min(col), F.max(col)
        else:
            lo = hi = F.lit(None).cast("string")
        if _sized(dtype):
            length = F.length(col) if isinstance(dtype, T.StringType) else F.size(col)
            lengths = [F.min(length), F.max(length), F.sum(length), F.count(length)]
        else:
            lengths = [F.lit(None).cast(t) for t in ("int", "int", "long", "long")]
        out.append(
            F.struct(
                F.count_if(F.isnull(col)).alias("nulls"),
                F.hll_sketch_agg(key, HLL_LG_K).alias("sketch"),
                lo.alias("min"),
                hi.alias("max"),
                *[
                    c.alias(f)
                    for c, f in zip(lengths, ("len_min", "len_max", "len_sum", "len_count"))
                ],
            ).alias(PROFILE_PREFIX + name)
        )
    return out


def profile_rollup(schema: T.StructType, columns: list[str]) -> Column:
    """Aggregate over rows of ``n_rows`` + ``profile_partials`` columns:
    ``array<struct<column, dtype, n_rows, null_rate, approx_distinct,
    min_value, max_value, min_len, max_len, avg_len>>``, one element per
    column in the given order; ``inline`` it for the profile rows."""
    n_rows = F.coalesce(F.sum("n_rows"), F.lit(0))
    rows = []
    for name in columns:
        p = F.col(PROFILE_PREFIX + name)
        rows.append(
            F.struct(
                F.lit(name).alias("column"),
                F.lit(schema[name].dataType.simpleString()).alias("dtype"),
                n_rows.alias("n_rows"),
                F.coalesce(
                    F.try_divide(F.sum(p.getField("nulls")), n_rows), F.lit(0.0)
                ).alias("null_rate"),
                F.coalesce(
                    F.hll_sketch_estimate(F.hll_union_agg(p.getField("sketch"))), F.lit(0)
                ).alias("approx_distinct"),
                F.min(p.getField("min")).cast("string").alias("min_value"),
                F.max(p.getField("max")).cast("string").alias("max_value"),
                F.min(p.getField("len_min")).alias("min_len"),
                F.max(p.getField("len_max")).alias("max_len"),
                F.try_divide(
                    F.sum(p.getField("len_sum")), F.sum(p.getField("len_count"))
                ).cast("double").alias("avg_len"),
            )
        )
    return F.array(*rows)


def column_profile(df: DataFrame) -> DataFrame:
    """One row per column: null_rate, approx distinct (HLL), min/max
    (numeric or lexicographic, cast to string), plus length stats for
    string/array columns — ``profile_rollup`` over a single group, so one
    scan, no driver round trip."""
    partials = df.agg(
        F.count(F.lit(1)).alias("n_rows"), *profile_partials(df.schema, df.columns)
    )
    return partials.agg(profile_rollup(df.schema, df.columns).alias("_profile")).select(
        F.inline("_profile")
    )
