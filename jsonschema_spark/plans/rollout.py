"""Spec-rollout audit: what BREAKS before a contract change gates ingest.

The reference validates one document against one schema
(/root/reference/validate.go:15-21); at table scale the operational
question a validator must answer BEFORE a spec change ships is different:
"if I tighten the contract from v1 to v2, which sources break, and by how
much?" — over 10^12 rows that answer has to come from ONE scan, not two
validation passes.

Scale shape: both compiled plans lower to native boolean Columns, so the
dual annotation is a single whole-stage-codegen projection over the scan;
the only shuffle is the map-side-combined groupBy on the (low-cardinality)
group column — shuffle volume O(groups), independent of row count. The
co-occurrence pass filters failing rows inside the scan stage (passing
rows never leave it) and aggregates over a key space bounded by
checks², not rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonschema_spark.plans.plan import (
    CHECK_PREFIX,
    CompiledPlan,
    annotation_columns,
    check_columns,
    failed,
    failed_checks,
)


def _checks(annotated: DataFrame) -> list:
    checks = sorted(check_columns(annotated))
    if not checks:
        raise ValueError("no chk_* columns: annotate the frame first")
    return checks


def spec_rollout_audit(
    df: DataFrame,
    old_plan: CompiledPlan,
    new_plan: CompiledPlan,
    group_col: str = "source",
    decimals: int = 6,
) -> DataFrame:
    """Per-group pass/fail transition matrix between two compiled specs,
    evaluated in ONE pass: ``(group, n, pass_pass, pass_fail, fail_pass,
    fail_fail, break_rate)`` where ``pass_fail`` counts rows the OLD spec
    accepts and the NEW spec rejects (the rollout blast radius) and
    ``break_rate`` = pass_fail / n. ``fail_pass`` > 0 means the new spec
    also *loosens* something — usually a review flag on its own.

    Row-level checks only (column specs, required, row_checks): uniqueness
    and referential verdicts are table-level jobs with their own outputs
    and don't belong in a per-row transition matrix.
    """
    a = old_plan.annotate(df).withColumnRenamed("_valid", "_valid_old")
    a = a.drop(*annotation_columns(a))
    b = new_plan.annotate(a).withColumnRenamed("_valid", "_valid_new")
    old_v = F.col("_valid_old")
    new_v = F.col("_valid_new")

    def _n(cond) -> F.Column:
        return F.sum(cond.cast("long"))

    return (
        b.groupBy(F.col(group_col).alias("group"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _n(old_v & new_v).alias("pass_pass"),
            _n(old_v & ~new_v).alias("pass_fail"),
            _n(~old_v & new_v).alias("fail_pass"),
            _n(~old_v & ~new_v).alias("fail_fail"),
        )
        .select(
            "group",
            "n",
            "pass_pass",
            "pass_fail",
            "fail_pass",
            "fail_fail",
            F.round(
                F.col("pass_fail") / F.col("n").cast("double"), decimals
            ).alias("break_rate"),
        )
        .orderBy("group")
    )


def check_activation_profile(
    annotated: DataFrame, decimals: int = 6
) -> DataFrame:
    """The marginal complement of :func:`violation_cooccurrence` —
    ``(check, n, n_fail, fail_rate, status)`` per compiled check, where
    ``status`` flags the two states a spec review must surface: ``dead``
    (the check never fails — it costs a codegen column but gates nothing,
    so it's either a removal candidate or evidence the defect it guarded
    is fixed upstream) and ``always`` (the check fails every row — the
    contract no longer describes the data; shipping it would quarantine
    the whole corpus). Everything else is ``active``. A NULL verdict
    counts as a failure, matching the engine's reject-on-unknown
    semantics (the reference fails fast on any non-accept,
    validate.go:18).

    Scale shape: ONE map-side-combined aggregate over the already
    annotated scan — two sums per check, so the aggregate output is a
    single row of ``2·|checks|`` longs and no data row ever shuffles;
    the per-check unpivot is a ``stack()`` over that one row,
    metadata-sized at any corpus size.
    """
    checks = _checks(annotated)
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(failed(F.col(c)).cast("long")).alias(f"_f_{c}") for c in checks
    ]
    one = annotated.agg(*aggs)
    stack = ", ".join(
        f"'{c.removeprefix(CHECK_PREFIX)}', `_f_{c}`" for c in checks
    )
    return (
        one.selectExpr(
            "_n", f"stack({len(checks)}, {stack}) AS (`check`, n_fail)"
        )
        .select(
            "check",
            F.col("_n").alias("n"),
            "n_fail",
            F.round(
                F.col("n_fail") / F.col("_n").cast("double"), decimals
            ).alias("fail_rate"),
            F.when(F.col("n_fail") == 0, F.lit("dead"))
            .when(F.col("n_fail") == F.col("_n"), F.lit("always"))
            .otherwise(F.lit("active"))
            .alias("status"),
        )
        .orderBy("check")
    )


def violation_examples(
    annotated: DataFrame,
    id_col: str = "doc_id",
    k: int = 5,
    salt_buckets: int = 64,
) -> DataFrame:
    """(check, n_examples, example_ids): ``k`` DETERMINISTIC example rows
    per failing check — the debug artifact a violation report needs
    next to its counts ("show me five rows that fail col_tokens").
    Examples are content-addressed (the k smallest
    ``portable_hash60('vx:' + id)``), so the same corpus yields the
    same examples on any partitioning, engine, or cluster size — a
    ``LIMIT k`` would be layout-dependent noise.

    Scale shape: failing rows emit one (check, id) pair per failed
    check (array filter + explode bounded by |checks|); top-k is the
    EXACT two-phase form — phase 1 ranks inside (check, salt) windows
    (salt = hash % salt_buckets, so no reducer sees more than a salt
    share of a hot check), phase 2 merges the ≤ salt_buckets·k
    survivors per check. The global top-k of a union of per-salt top-ks
    is exact because every global winner wins its own salt. Output is
    ≤ |checks| rows.
    """
    from jsonschema_spark.functions.text import portable_hash60

    from pyspark.sql import Window

    pairs = (
        annotated.select(
            F.col(id_col).cast("string").alias("id"),
            failed_checks(_checks(annotated)).alias("_f"),
        )
        .filter(F.size("_f") > 0)
        .select("id", F.explode("_f").alias("check"))
        .select(
            "check",
            "id",
            portable_hash60(F.concat(F.lit("vx:"), F.col("id"))).alias(
                "prio"
            ),
        )
    )
    w1 = Window.partitionBy(
        "check", F.pmod(F.col("prio"), F.lit(int(salt_buckets)))
    ).orderBy("prio", "id")
    w2 = Window.partitionBy("check").orderBy("prio", "id")
    return (
        pairs.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= k)
        .groupBy("check")
        .agg(
            F.count(F.lit(1)).alias("n_examples"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("prio", "id"))),
                lambda x: x.getField("id"),
            ).alias("example_ids"),
        )
        .orderBy("check")
    )


def violation_cooccurrence(
    annotated: DataFrame, min_docs: int = 1
) -> DataFrame:
    """Which checks fail TOGETHER: ``(check_a, check_b, n_docs)`` for every
    unordered pair of checks (check_a < check_b) that co-fail on at least
    ``min_docs`` rows. The root-cause view of a validation run — a pair
    that always co-fires (n_docs == both checks' fail counts) is one
    upstream defect, not two.

    Input is a frame already annotated by ``CompiledPlan.annotate`` /
    ``ValidationJob.annotate`` (boolean ``chk_*`` columns) — the pairing
    rides the SAME scan as the validation pass. Rows failing < 2 checks
    are filtered in-stage; the pair fan-out is a higher-order-function
    expansion of a per-row array bounded by the number of CHECKS (not
    data), and the final aggregate's key space is ≤ checks² rows.
    """
    # unordered pairs via index-pairing over the (≤ #checks)-element array;
    # flatten(transform(transform)) stays a native HOF — no explode of a
    # Python product, no join
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size("_failed") - 2),
            lambda i: F.transform(
                F.sequence(i + 1, F.size("_failed") - 1),
                lambda j: F.struct(
                    F.element_at(F.col("_failed"), i + 1).alias("check_a"),
                    F.element_at(F.col("_failed"), j + 1).alias("check_b"),
                ),
            ),
        )
    )
    return (
        annotated.select(failed_checks(sorted(check_columns(annotated))).alias("_failed"))
        .filter(F.size("_failed") >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.check_a").alias("check_a"),
            F.col("p.check_b").alias("check_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .orderBy("check_a", "check_b")
    )
