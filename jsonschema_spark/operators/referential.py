"""Referential-integrity checks — the reference's ``enum``
(/root/reference/validate.go:79-98) lifted from a static variant list to a
dynamic domain given by a dimension table (SURVEY.md §2.3).

``domain_flag`` is the one membership test: a small domain compiles to an
isin set inside the verdict codegen stage, a large one to a
(broadcast-eligible) join against the distinct keys, so the fact side is
never shuffled for a small dimension. ``ValidationJob.annotate`` adds it as
the ``chk_ref_<col>`` verdict. Orphan keys are the rows whose flag failed,
counted per key with the salted two-phase aggregation
(``uniqueness.salted_key_counts``). ``ValidationJob.run`` counts them from
the annotated ``chk_ref_<col>`` flag, so the domain is resolved once per
run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonschema_spark.operators.uniqueness import salted_key_counts


def orphan_key_counts(
    fact: DataFrame, fact_key: str, dim: DataFrame, dim_key: str
) -> DataFrame:
    """``(fact_key, n_rows)`` per distinct key of ``fact`` that is not in
    ``dim.dim_key``: the salted count over the rows ``domain_flag`` fails
    (its flag is never NULL). NULL keys are not orphans (missingness is the
    `required` check's job). Orphan keys are adversarially skewed by nature
    (one unregistered source typically accounts for most violations — our
    injected corpus does exactly this), hence the salt."""
    flagged = domain_flag(fact, fact_key, dim, dim_key, "_in_dim")
    return salted_key_counts(flagged.filter(~F.col("_in_dim")), fact_key, "n_rows")


# Above this many distinct dimension keys the isin literal list stops being
# a fast path: the driver holds the whole domain, the plan serializes it to
# every task, and codegen chokes on huge literal sets. Past it, membership
# becomes a (broadcast-eligible) join instead.
DOMAIN_ISIN_MAX = 10_000


def domain_flag(
    fact: DataFrame, fact_key: str, dim: DataFrame, dim_key: str, flag_col: str
) -> DataFrame:
    """``fact`` + boolean ``flag_col`` = key is NULL or present in the
    dimension. Small domains compile to the isin fast path (stays inside the
    verdict codegen stage); larger ones become a left join against the
    distinct key set — broadcast when under Spark's auto-broadcast
    threshold, shuffle otherwise — so domain size never hits the driver.
    NULL dimension keys are not in the domain: ``key IN (..., NULL)`` would
    make the flag NULL for every orphan key."""
    keys = dim.select(F.col(dim_key).alias(fact_key)).dropna().distinct()
    head = keys.limit(DOMAIN_ISIN_MAX + 1).collect()
    if len(head) <= DOMAIN_ISIN_MAX:
        domain = [r[0] for r in head]
        pred = F.col(fact_key).isin(domain) | F.isnull(fact_key)
        return fact.withColumn(flag_col, pred)
    marked = keys.withColumn("_in_domain", F.lit(True))
    return (
        fact.join(marked, on=fact_key, how="left")
        .withColumn(
            flag_col, F.isnull(fact_key) | F.isnotnull("_in_domain")
        )
        .drop("_in_domain")
    )
