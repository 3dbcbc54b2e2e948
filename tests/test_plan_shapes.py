"""Physical-plan shape assertions for the validation path — the
properties that decide 100 TB behavior, pinned so a refactor can't
silently regress them:

- small dimensions broadcast (never SortMergeJoin)
- the pre-flight gate samples with TakeOrderedAndProject (no full sort
  of the corpus) and shuffles no input rows
- verdict routing is a scan-stage filter (zero exchanges)
- the validation hot path contains no row-at-a-time Python
  (BatchEvalPython); only Arrow-batched kernels (ArrowEvalPython) appear
- each kernel runs once per row in every output built from annotate
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_orphans_broadcast_no_fact_shuffle(spark):
    plan = _plan(entry_mod.queries()["orphans"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan


def test_dim_source_is_a_jvm_relation(spark):
    """The corpus dimension is built in the JVM: scanning it (every
    domain_flag collect) starts no Python worker."""
    from jsonschema_spark.sources.corpus import dim_source

    plan = _plan(dim_source(spark))
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan


def test_validation_hot_path_has_no_row_python(spark):
    from jsonschema_spark.plans.plan import TableSpec, compile_table_spec
    from jsonschema_spark.plans.job import ValidationJob

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan_c = compile_table_spec(TableSpec.from_dict(entry_mod.DOCS_SPEC), df.schema)
    annotated = ValidationJob(plan_c, id_column="doc_id").annotate(df)
    plan = _plan(annotated)
    assert "BatchEvalPython" not in plan  # row-at-a-time Python forbidden


def test_plan_audit_api(spark):
    """The public audit API sees what the pinned tests see: a clean
    scan-stage query reports no hazards; a crossJoin and a row-Python UDF
    are caught by name."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from jsonschema_spark.plans.audit import plan_report

    clean = entry_mod.queries()["quarantine_rows"](spark, SF_DIR)
    rep = plan_report(clean)
    assert sorted(rep) == [
        "arrow_python", "cartesian", "exchanges", "python_evals",
        "row_python", "single_partition",
    ]
    assert not rep["cartesian"] and not rep["row_python"]
    assert not rep["single_partition"] and rep["exchanges"] == 0

    df = spark.range(10)
    assert plan_report(df.crossJoin(spark.range(3)))["cartesian"]

    slow = df.select(F.udf(lambda x: x + 1, LongType())("id"))
    assert plan_report(slow)["row_python"]


def test_sampled_gate_topk_sample_no_row_python(spark):
    """The pre-flight gate's corpus-sized stage must be a
    TakeOrderedAndProject (distributed top-k, no global Sort of the
    corpus) and the whole plan must stay free of row-at-a-time Python —
    the properties that keep it a constant-cost gate at 10^12 rows."""
    plan = _plan(entry_mod.queries()["sampled_gate"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_sampled_gate_shuffles_no_rows(spark):
    """The gate takes its input as partitioned: a one-partition input is
    not spread round-robin over the cores, and the k survivors are not
    hash-repartitioned before the checks run."""
    from pyspark.sql import functions as F

    from jsonschema_spark.operators.checks import sampled_validation_gate

    df = spark.range(0, 100, 1, 1).withColumnRenamed("id", "doc_id")
    plan = _plan(sampled_validation_gate(
        df, "doc_id", lambda d: d.withColumn("_valid", F.col("doc_id") % 7 > 0),
        sample_k=16,
    ))
    assert "TakeOrderedAndProject" in plan
    assert "RoundRobinPartitioning" not in plan
    assert "hashpartitioning" not in plan


def test_quarantine_rows_zero_exchange_scan_stage(spark):
    """Verdict routing is a filter over ONE annotated scan projection:
    no exchange, no join, no row Python anywhere in the quarantined
    side's plan — the split must cost nothing beyond the scan."""
    plan = _plan(entry_mod.queries()["quarantine_rows"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize(
    "spec,rows",
    [
        (
            {"json_columns": {"doc": {"type": "object", "required": ["a"]}}},
            ['{"a": 1}', "{}", "not json", None, '{"a": null}'],
        ),
        (
            {"columns": {"doc": {"type": "string", "pattern": "^\\d+$"}}},
            ["12", "x", "3", None, "4a"],
        ),
    ],
    ids=["json_columns", "regex_gated_value"],
)
def test_each_kernel_runs_once_per_pass(spark, spec, rows):
    """Each output built from ``annotate`` runs a kernel-backed check's
    pandas UDF once per row: a filter on ``_valid`` is not pushed below
    annotate's projection, where the optimizer would inline the kernel and
    run it a second time for the verdict columns above. Column pruning
    still drops an unread kernel, and the public kernels stay
    deterministic, so an aggregate may call them directly."""
    from pyspark.sql import functions as F

    from jsonschema_spark.compiler.kernel import json_validation_kernel, value_validation_udf
    from jsonschema_spark.plans.audit import plan_report
    from jsonschema_spark.plans.job import ValidationJob
    from jsonschema_spark.plans.plan import TableSpec, compile_table_spec

    df = spark.createDataFrame(
        [(str(i), doc) for i, doc in enumerate(rows)], "doc_id string, doc string"
    )
    job = ValidationJob(compile_table_spec(TableSpec.from_dict(spec), df.schema))
    annotated = job.annotate(df)
    accepted, quarantined = job.quarantine(annotated)
    passes = {
        "annotate": annotated,
        "violations": job.violations(annotated),
        "accepted": accepted,
        "quarantined": quarantined,
        "partition_lineage": job.partition_lineage(annotated),
    }
    got = {name: plan_report(out)["python_evals"] for name, out in passes.items()}
    assert got == dict.fromkeys(passes, 1)
    assert plan_report(annotated.select("doc_id"))["python_evals"] == 0
    assert accepted.count() == 2 and quarantined.count() == 3
    assert job.violations(annotated).count() == 3

    if "json_columns" in spec:
        valid = json_validation_kernel(spec["json_columns"]["doc"], F.col("doc")).getField("valid")
    else:
        valid = value_validation_udf(spec["columns"]["doc"])(F.col("doc"))
    assert df.agg(F.sum(valid.cast("int"))).first()[0] == 2
