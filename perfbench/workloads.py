"""The three workloads. Each drives the engine only through its public
functions and checks every op against the generator's closed form.

A workload has:

- ``prepare(spark, cache, seed)``: make (or find cached) inputs; not timed.
- ``setup(spark)``: build what every op reuses (spec, dimension table);
  counted in ``setup_s``.
- ``op(i)``: one op as a user runs it (timed).
- ``check(i)``: whether the op's verdicts match the closed form (not timed).
- ``replay(i, tracer, op_id)``: the same op split into its public steps, one
  span each (traced runs only). Spans flagged in ``STEP_SPANS`` are the
  op's own steps; the others time a single layer in isolation.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from jsonschema_spark.benchlib import CORPUS_SPEC_DICT
from jsonschema_spark.compiler.kernel import json_validation_kernel
from jsonschema_spark.operators.referential import domain_flag
from jsonschema_spark.operators.stats import column_profile
from jsonschema_spark.plans.job import ValidationJob
from jsonschema_spark.plans.plan import TableSpec, compile_table_spec
from jsonschema_spark.sources.corpus import dim_source
from jsonschema_spark.spec.compile import compile_spec

from perfbench import gen

# Spans that make up an op; the rest time one layer on its own.
STEP_SPANS = (
    "plans.compile_table_spec",
    "plans.annotate_agg",
    "plans.lineage_write",
    "plans.violations_write",
    "plans.violations_collect",
    "operators.uniqueness",
    "operators.orphans",
    "operators.profile",
    "plans.quarantine_write",
)


def _scan(df, columns) -> None:
    """Read ``columns`` of ``df`` in full and discard them."""
    df.select(*columns).write.format("noop").mode("overwrite").save()


def _write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _fail_counts(job, annotated) -> dict:
    """Rows and per-check fail counts in one aggregate action."""
    checks = job.check_columns(annotated)
    row = annotated.agg(
        F.count(F.lit(1)).alias("_rows"),
        F.sum((~F.col("_valid")).cast("long")).alias("_invalid"),
        *[F.sum((~F.col(c)).cast("long")).alias(c.removeprefix("chk_")) for c in checks],
    ).collect()[0]
    return row.asDict()


class _CorpusSpec:
    """Set-up and leading replay steps shared by the two corpus workloads:
    ``benchlib.CORPUS_SPEC_DICT`` with the ``dim_source`` dimension."""

    def setup(self, spark) -> None:
        self.spec = TableSpec.from_dict(CORPUS_SPEC_DICT)
        self.dims = {"dim_source": dim_source(spark)}

    def _job(self, df):
        return ValidationJob(compile_table_spec(self.spec, df.schema), dims=self.dims)

    def _replay_annotate(self, df, span):
        """Scan, spec compile and domain_flag alone, then the op's compile and
        annotate steps; returns (job, annotated frame, fail counts)."""
        with span("sources.scan"):
            _scan(df, ["doc_id", "tokens", "n_tok", "source"])
        with span("spec.compile"):
            for col_spec in CORPUS_SPEC_DICT["columns"].values():
                compile_spec(col_spec)
        with span("operators.domain_flag"):
            domain_flag(df, "source", self.dims["dim_source"], "source_id", "chk_ref_source")
        with span("plans.compile_table_spec"):
            job = self._job(df)
        with span("plans.annotate_agg"):
            annotated = job.annotate(df)
            counts = _fail_counts(job, annotated)
        return job, annotated, counts


class CorpusBatch(_CorpusSpec):
    """One op = ``ValidationJob.run`` over a seeded corpus, full results tree."""

    name = "corpus_batch"
    warmup_ops = 2

    def __init__(self, work: str, n_rows: int):
        self.work = work
        self.n_rows = self.rows_per_op = n_rows
        self.expected = gen.expected_corpus(n_rows)
        self.results = os.path.join(work, "out", self.name)

    def prepare(self, spark, cache, seed) -> dict:
        self.spark = spark
        self.path, meta = gen.corpus_table(spark, cache, self.n_rows, seed)
        return meta

    def op(self, i: int) -> None:
        df = self.spark.read.parquet(self.path)
        self.summary = self._job(df).run(df, self.results)

    def check(self, i: int) -> bool:
        summary = self.summary
        got = {
            "n_rows": summary["n_rows"],
            "n_invalid": summary["n_invalid"],
            "duplicates": summary["duplicates"]["doc_id"],
            "orphans": summary["orphans"]["source"],
        }
        return got == self.expected

    def replay(self, i: int, tracer, op_id: str) -> bool:
        df = self.spark.read.parquet(self.path)
        span = lambda name: tracer.span(name, op_id)  # noqa: E731
        out = os.path.join(self.work, "out", self.name + "_replay")
        job, annotated, counts = self._replay_annotate(df, span)
        with span("plans.lineage_write"):
            _write(job.partition_lineage(annotated), os.path.join(out, "lineage"))
        with span("plans.violations_write"):
            _write(job.violations(annotated), os.path.join(out, "violations"))
        with span("operators.uniqueness"):
            for key, dups in job.uniqueness(df).items():
                _write(dups, os.path.join(out, f"duplicates_{key}"))
                n_dups = self.spark.read.parquet(os.path.join(out, f"duplicates_{key}")).count()
        with span("operators.orphans"):
            for col_name, orphans in job.referential(df).items():
                _write(orphans, os.path.join(out, f"orphans_{col_name}"))
                n_orphans = (
                    self.spark.read.parquet(os.path.join(out, f"orphans_{col_name}"))
                    .agg(F.sum("n_rows")).collect()[0][0] or 0
                )
        with span("operators.profile"):
            _write(column_profile(df), os.path.join(out, "profile"))
        got = {
            "n_rows": counts["_rows"],
            "n_invalid": counts["_invalid"],
            "duplicates": n_dups,
            "orphans": n_orphans,
        }
        return got == self.expected


class JsonRouter:
    """One op = compile a one-``json_columns`` spec, annotate, quarantine and
    write ``accepted/`` and ``quarantined/``."""

    name = "json_router"
    warmup_ops = 2

    def __init__(self, work: str, n_docs: int):
        self.work = work
        self.n_docs = self.rows_per_op = n_docs
        self.out = os.path.join(work, "out", self.name)

    def prepare(self, spark, cache, seed) -> dict:
        self.spark = spark
        self.path, meta = gen.json_table(cache, self.n_docs, seed)
        self.n_invalid = sum(meta["tally"].values())
        return meta

    def setup(self, spark) -> None:
        self.spec = TableSpec.from_dict({"json_columns": {"doc": gen.JSON_SCHEMA}})

    def _route(self, job, df, out: str) -> None:
        accepted, quarantined = job.quarantine(job.annotate(df))
        _write(accepted, os.path.join(out, "accepted"))
        _write(quarantined, os.path.join(out, "quarantined"))

    def _check(self, out: str) -> bool:
        """accepted + quarantined = input and quarantined = the defect tally;
        row counts come from the written parquet footers."""
        n_acc = self.spark.read.parquet(os.path.join(out, "accepted")).count()
        n_quar = self.spark.read.parquet(os.path.join(out, "quarantined")).count()
        return n_acc + n_quar == self.n_docs and n_quar == self.n_invalid

    def op(self, i: int) -> None:
        df = self.spark.read.parquet(self.path)
        job = ValidationJob(compile_table_spec(self.spec, df.schema), id_column="doc_id")
        self._route(job, df, self.out)

    def check(self, i: int) -> bool:
        return self._check(self.out)

    def replay(self, i: int, tracer, op_id: str) -> bool:
        df = self.spark.read.parquet(self.path)
        span = lambda name: tracer.span(name, op_id)  # noqa: E731
        out = os.path.join(self.work, "out", self.name + "_replay")
        with span("sources.scan"):
            _scan(df, ["doc_id", "doc"])
        with span("spec.compile"):
            compile_spec(gen.JSON_SCHEMA)
        with span("compiler.kernel"):
            verdict = json_validation_kernel(gen.JSON_SCHEMA, F.col("doc"))
            n_kernel_invalid = df.agg(
                F.sum((~verdict.getField("valid")).cast("long"))
            ).collect()[0][0]
        with span("plans.compile_table_spec"):
            job = ValidationJob(compile_table_spec(self.spec, df.schema), id_column="doc_id")
        with span("plans.annotate_agg"):
            counts = _fail_counts(job, job.annotate(df))
        with span("plans.quarantine_write"):
            self._route(job, df, out)
        return (
            counts["_rows"] == self.n_docs
            and counts["_invalid"] == n_kernel_invalid == self.n_invalid
            and self._check(out)
        )


class ShardGate(_CorpusSpec):
    """One op = compile, annotate, collect per-check fail counts and the
    ``violations()`` rows of one small pre-materialized shard."""

    name = "shard_gate"
    warmup_ops = 3

    def __init__(self, work: str, n_shards: int, shard_rows: int):
        self.work = work
        self.n_shards = n_shards
        self.shard_rows = self.rows_per_op = shard_rows

    def prepare(self, spark, cache, seed) -> dict:
        self.spark = spark
        self.paths, meta = gen.shard_tables(
            spark, cache, self.n_shards, self.shard_rows, seed
        )
        return meta

    def _expected(self, i: int) -> dict:
        k = i % self.n_shards
        return gen.expected_shard_fails(k * self.shard_rows, (k + 1) * self.shard_rows)

    def _verdicts_match(self, i: int, counts: dict, violations: list) -> bool:
        expected = self._expected(i)
        fails = {k: v for k, v in counts.items() if k not in ("_rows", "_invalid") and v}
        want = {k: v for k, v in expected.items() if k != "_invalid" and v}
        return (
            counts["_rows"] == self.shard_rows
            and counts["_invalid"] == expected["_invalid"]
            and fails == want
            and len(violations) == sum(want.values())
        )

    def op(self, i: int) -> None:
        df = self.spark.read.parquet(self.paths[i % self.n_shards])
        job = self._job(df)
        annotated = job.annotate(df)
        self.counts = _fail_counts(job, annotated)
        self.violations = job.violations(annotated).collect()

    def check(self, i: int) -> bool:
        return self._verdicts_match(i, self.counts, self.violations)

    def replay(self, i: int, tracer, op_id: str) -> bool:
        df = self.spark.read.parquet(self.paths[i % self.n_shards])
        span = lambda name: tracer.span(name, op_id)  # noqa: E731
        job, annotated, counts = self._replay_annotate(df, span)
        with span("plans.violations_collect"):
            violations = job.violations(annotated).collect()
        return self._verdicts_match(i, counts, violations)

