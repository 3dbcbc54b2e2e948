"""Per-column statistics profiles — the reference's assertion keywords
(minimum/maximum/minLength/required, SURVEY.md §2.3) lifted from per-row
predicates to whole-table profiles.

All profiles are single-pass hash aggregations (partial + final, Catalyst
built-in), so they cost one shuffle of a few grouped rows regardless of
input size. Token frequencies explode the tokens column — that is the one
genuinely heavy aggregation here; it shuffles (token, partial_count) pairs
after map-side combine, which is the scalable shape at 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def column_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One row per column: null_rate, approx distinct, min/max (numeric or
    lexicographic), plus length stats for string/array columns.

    ONE aggregation pass computes every column's stats simultaneously (a
    single partial+final hash agg over the whole scan); the flat result row
    is reshaped into per-column rows on the driver — k×10 scalars, trivial.
    """
    columns = columns or df.columns
    total = F.count(F.lit(1))
    aggs, metas = [], []
    for name in columns:
        dtype = df.schema[name].dataType.simpleString()
        col = F.col(name)
        is_sized = dtype.startswith("array") or dtype == "string"
        length = F.length(col) if dtype == "string" else F.size(col)
        k = len(metas)
        aggs.extend(
            [
                (F.sum(col.isNull().cast("long")) / total).alias(f"nr_{k}"),
                F.approx_count_distinct(col).alias(f"ad_{k}"),
                F.min(col).cast("string").alias(f"mn_{k}"),
                F.max(col).cast("string").alias(f"mx_{k}"),
                (F.min(length) if is_sized else F.lit(None).cast("int")).alias(f"ml_{k}"),
                (F.max(length) if is_sized else F.lit(None).cast("int")).alias(f"xl_{k}"),
                (F.avg(length) if is_sized else F.lit(None).cast("double")).alias(f"al_{k}"),
            ]
        )
        metas.append((name, dtype))
    row = df.agg(total.alias("n_rows"), *aggs).collect()[0]
    out_rows = [
        (
            name, dtype, row["n_rows"], float(row[f"nr_{k}"] or 0.0), row[f"ad_{k}"],
            row[f"mn_{k}"], row[f"mx_{k}"], row[f"ml_{k}"], row[f"xl_{k}"],
            float(row[f"al_{k}"]) if row[f"al_{k}"] is not None else None,
        )
        for k, (name, dtype) in enumerate(metas)
    ]
    spark = df.sparkSession
    return spark.createDataFrame(
        out_rows,
        schema=(
            "column string, dtype string, n_rows long, null_rate double, "
            "approx_distinct long, min_value string, max_value string, "
            "min_len int, max_len int, avg_len double"
        ),
    )


def histogram(
    df: DataFrame, column: str, bins: int, lo: float, hi: float
) -> DataFrame:
    """Fixed-width histogram ``(bucket int, cnt long)``; values outside
    [lo, hi) land in buckets -1 / bins. One groupBy shuffle of ≤ bins+2 rows
    after map-side combine."""
    width = (hi - lo) / bins
    bucket = (
        F.when(F.col(column).isNull(), F.lit(None))
        .when(F.col(column) < lo, F.lit(-1))
        .when(F.col(column) >= hi, F.lit(bins))
        .otherwise(F.floor((F.col(column) - lo) / width).cast("int"))
    )
    return (
        df.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def token_frequencies(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """``(token int, cnt long)`` over the exploded token arrays.

    explode → groupBy(token) is the canonical scalable shape: Catalyst's
    partial aggregation combines map-side before the shuffle, so shuffle
    volume is bounded by (#partitions × vocab), not by total token count.
    Token-id keys are near-uniform under hashing, so no salting needed even
    though token *frequencies* are Zipf-skewed.
    """
    return (
        df.select(F.explode(tokens_col).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
