"""Pre-flight validation gate: a constant-size, content-addressed sample
of the corpus run through the full check set, with a Wilson upper bound on
the violation rate (new semantics per the north rule — the reference
validates single documents, SURVEY.md §2.3 extends to table scale)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jsonschema_spark.plans.plan import failed

# Wilson bound at 95% confidence, rounded to 6 decimals before the verdict;
# the DuckDB twin of the gate (``__spark_entry__``) uses the same two values
WILSON_Z = 1.96
ROUND_DECIMALS = 6


def portable_hash60(col: Column) -> Column:
    """Cross-engine deterministic 60-bit hash: the first 15 hex chars of
    md5, as a non-negative bigint. Exists so the gate's content-addressed
    sample is reproducible by an external SQL engine — the DuckDB twin is
    ``CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sampled_validation_gate(
    df: DataFrame,
    id_col: str,
    annotate,
    sample_k: int = 1024,
    budget: float = 0.01,
) -> DataFrame:
    """One-row PRE-FLIGHT validation gate: estimate the corpus's row-level
    violation rate from a deterministic fixed-size sample before
    paying for the full validation pass — ``(n_sampled, n_fail, fail_rate,
    wilson_hi, within_budget)`` where ``wilson_hi`` is the Wilson upper
    bound on the true rate at confidence ``WILSON_Z`` and ``within_budget``
    compares it to ``budget``. At 10^12 rows the full validation pass is
    the expensive step; this gate answers "is this snapshot roughly
    sane?" by running the checks on ``sample_k`` documents — run it
    first, ship the full pass (``ValidationJob``) only when the gate
    passes, and keep the full pass's exact counts as the artifact of
    record. Fails closed: wilson_hi is an UPPER bound, so a small sample
    cannot fake a pass (k=0 or an all-fail sample always exceeds any
    sane budget).

    ``annotate`` is any ``df -> df`` adding ``_valid`` (e.g.
    ``ValidationJob.annotate``, which includes the referential checks), so
    the gate composes with every check the engine can compile.

    A NULL ``_valid`` (a row check that evaluates to NULL) counts as a
    failure, so an undecided row can never help the sample pass.

    Cost: one scan of the payload columns, then k rows. Every input row
    is read and hashed into a TakeOrderedAndProject top-k (per-partition
    heads + driver merge of ≤ partitions·k rows; no global sort, no
    shuffle of the input); the checks then run on the k survivors only,
    so the gate skips the check work on all but k rows, not the scan.
    Content-addressed (``portable_hash60('vgate:'+id)``), so the
    sample — and therefore the gate verdict — is a pure function of the
    corpus on any partitioning, engine, or cluster size.
    """
    prio = portable_hash60(
        F.concat(F.lit("vgate:"), F.col(id_col).cast("string"))
    )
    sample = (
        df.withColumn("_prio", prio)
        .orderBy("_prio", id_col)
        .limit(int(sample_k))
        .drop("_prio")
    )
    ann = annotate(sample)
    agg = ann.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum(failed(F.col("_valid")).cast("long")).alias("n_fail"),
    )
    n = F.col("n_sampled").cast("double")
    p = F.col("n_fail") / n
    z2 = F.lit(WILSON_Z * WILSON_Z)
    wilson_hi = (
        (p + z2 / (F.lit(2.0) * n))
        + F.lit(WILSON_Z)
        * F.sqrt(p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n))
    ) / (F.lit(1.0) + z2 / n)
    return agg.select(
        "n_sampled",
        "n_fail",
        F.round(F.when(F.col("n_sampled") > 0, p), ROUND_DECIMALS).alias(
            "fail_rate"
        ),
        F.round(F.when(F.col("n_sampled") > 0, wilson_hi), ROUND_DECIMALS).alias(
            "wilson_hi"
        ),
        # verdict on the ROUNDED bound (CLAUDE.md invariant: verdicts that
        # hinge on digits beyond ROUND_DECIMALS are engine-underspecified)
        F.when(
            F.col("n_sampled") > 0,
            F.round(wilson_hi, ROUND_DECIMALS) <= F.lit(float(budget)),
        ).otherwise(F.lit(False)).alias("within_budget"),
    )
