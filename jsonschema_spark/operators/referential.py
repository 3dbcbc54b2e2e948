"""Referential-integrity checks — the reference's ``enum``
(/root/reference/validate.go:79-98) lifted from a static variant list to a
dynamic domain given by a dimension table (SURVEY.md §2.3).

The dimension is small by construction (a source registry), so the check is
a *broadcast* left-anti join: the fact side streams through executors once,
probing an in-memory hash set — no shuffle of the 10^12-row side, ever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def orphan_rows(
    fact: DataFrame, fact_key: str, dim: DataFrame, dim_key: str
) -> DataFrame:
    """Rows of ``fact`` whose ``fact_key`` has no match in ``dim.dim_key``.
    NULL keys are not orphans (missingness is the `required` check's job)."""
    dim_keys = dim.select(F.col(dim_key).alias(fact_key)).distinct()
    return fact.filter(F.col(fact_key).isNotNull()).join(
        F.broadcast(dim_keys), on=fact_key, how="left_anti"
    )


def orphan_key_counts(
    fact: DataFrame, fact_key: str, dim: DataFrame, dim_key: str,
    salt_buckets: int = 64,
) -> DataFrame:
    """``(fact_key, n_rows)`` per distinct orphan key, via two-phase salted
    aggregation: orphan keys are adversarially skewed by nature (one
    unregistered source typically accounts for most violations — our
    injected corpus does exactly this), so phase 1 groups by (salt, key)
    splitting any hot key across salt_buckets reducers; phase 2 sums ≤
    salt_buckets partials per key."""
    salted = (
        orphan_rows(fact, fact_key, dim, dim_key)
        .select(F.col(fact_key).alias("key"))
        .withColumn("salt", F.pmod(F.spark_partition_id(), F.lit(salt_buckets)))
        .groupBy("salt", "key")
        .agg(F.count(F.lit(1)).alias("partial"))
    )
    return (
        salted.groupBy("key")
        .agg(F.sum("partial").alias("n_rows"))
        .select(F.col("key").alias(fact_key), "n_rows")
    )


# Above this many distinct dimension keys the isin literal list stops being
# a fast path: the driver holds the whole domain, the plan serializes it to
# every task, and codegen chokes on huge literal sets. Past it, membership
# becomes a (broadcast-eligible) join instead.
DOMAIN_ISIN_MAX = 10_000


def domain_flag(
    fact: DataFrame, fact_key: str, dim: DataFrame, dim_key: str,
    flag_col: str, isin_max: int = DOMAIN_ISIN_MAX,
) -> DataFrame:
    """``fact`` + boolean ``flag_col`` = key is NULL or present in the
    dimension. Small domains compile to the isin fast path (stays inside the
    verdict codegen stage); larger ones become a left join against the
    distinct key set — broadcast when under Spark's auto-broadcast
    threshold, shuffle otherwise — so domain size never hits the driver.
    NULL dimension keys are not in the domain: ``key IN (..., NULL)`` would
    make the flag NULL for every orphan key."""
    keys = dim.select(F.col(dim_key).alias(fact_key)).dropna().distinct()
    head = keys.limit(isin_max + 1).collect()
    if len(head) <= isin_max:
        domain = [r[0] for r in head]
        pred = F.col(fact_key).isin(domain) | F.col(fact_key).isNull()
        return fact.withColumn(flag_col, pred)
    marked = keys.withColumn("_in_domain", F.lit(True))
    return (
        fact.join(marked, on=fact_key, how="left")
        .withColumn(
            flag_col, F.col(fact_key).isNull() | F.col("_in_domain").isNotNull()
        )
        .drop("_in_domain")
    )
