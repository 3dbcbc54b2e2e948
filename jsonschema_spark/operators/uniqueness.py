"""Table-scope uniqueness checks — the reference's ``uniqueItems``
(/root/reference/validate.go:320-370, O(n²) within one array) lifted to a
distributed key-uniqueness check over 10^12 rows.

Strategy (north rule: skew handled explicitly):

- ``duplicate_keys``: two-phase *salted* aggregation. Phase 1 groups by
  (salt, key) where salt varies per partition — a hot key is split across
  ``SALT_BUCKETS`` reducers, each emitting one (key, partial_count) row;
  phase 2 sums the ≤``SALT_BUCKETS`` partials per key. A pathological key
  that appears 10^9 times costs bounded rows per reducer instead of 10^9.
  For near-unique keys AQE coalesces the tiny second shuffle.
  ``salted_key_counts`` is that count; ``referential.orphan_key_counts``
  uses it too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# reducers a hot key's phase-1 rows are spread over
SALT_BUCKETS = 64


def salted_key_counts(df: DataFrame, key: str, count_col: str) -> DataFrame:
    """``(key, count_col)`` per distinct value of ``key`` in ``df``, in two
    salted phases. The salt must vary *within* a key or it splits nothing:
    we salt by partition id, so a key appearing 10^9 times across the
    cluster contributes at most (#partitions) phase-1 rows spread over
    SALT_BUCKETS reducers, and phase 2 sums ≤ SALT_BUCKETS partials per
    key. (Catalyst's map-side partial aggregation gives count-aggs similar
    protection implicitly; the explicit two-phase shape keeps the bound
    even where partial agg degrades — hash-table spill fallback — and is
    the required pattern for non-combinable aggregates.)"""
    salted = (
        df.select(F.col(key).alias("key"))
        .withColumn("salt", F.pmod(F.spark_partition_id(), F.lit(SALT_BUCKETS)))
        .groupBy("salt", "key")
        .agg(F.count(F.lit(1)).alias("partial"))
    )
    return (
        salted.groupBy("key")
        .agg(F.sum("partial").alias(count_col))
        .select(F.col("key").alias(key), count_col)
    )


def duplicate_keys(df: DataFrame, key: str) -> DataFrame:
    """``(key, dup_count)`` for every key value appearing more than once.
    NULL is not a key value: as in SQL ``UNIQUE``, uniqueness holds over
    the rows whose key is not NULL (missingness is the `required` check's
    job)."""
    counts = salted_key_counts(df.filter(F.isnotnull(key)), key, "dup_count")
    return counts.filter(F.col("dup_count") > 1)
