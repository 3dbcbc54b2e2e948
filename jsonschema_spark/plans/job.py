"""ValidationJob — one partition-parallel pass over the input table producing:

- per-row verdict columns + violation rows (the reference's per-document
  accept/reject contract, /root/reference/validate.go:15-21, reshaped to
  verdict rows per its own collect-errors TODO at validate.go:18),
- per-unit pass/fail lineage, per-check fail counts and column-profile
  partials (persisted — the checkpoint a resumed run continues from),
- table-level check results: uniqueness, referential, stats profile.

Scale shape (design target 10^12 rows; see SURVEY.md §4). ``run()`` reads
the input four times and runs no job whose only purpose is to count:

1. **Lineage** — ONE aggregation over the annotated scan, grouped by a
   *unit id* (input file when reading files, else spark partition id) with
   map-side combine: row and valid counts, each check's fail count and the
   mergeable profile partials (operators/stats.py; a nested column's are
   its NULL count and sizes). Each aggregate is one SQL expression over
   the columns' positional names (``plan.positions``). Shuffle volume is
   O(#units × (#checks + #columns)), independent of row count.
2. **Violations** — failing rows filtered *before* leaving the scan stage
   and written partition-parallel.
3. **Duplicates** — the salted two-phase key count (operators/uniqueness.py);
   its row count is an ``Observation`` on the write.
4. **Orphans** — the same salted count over the rows whose ``chk_ref_<col>``
   verdict failed, read from the annotated frame, so the dimension's
   domain is resolved once per run (operators/referential.py).

Everything else comes from ONE read of ``lineage/``: ``n_rows``,
``n_valid``, each check's fail count (the sum of ``fail_<check>``; a
reference's is its orphan row count) and ``profile/`` (a roll-up of the
partials), so a resumed run's totals and profile cover the whole table
without re-reading it. That read takes the schema the run wrote (no
inference job) and rolls up in one task (no exchange): ``lineage/`` holds
one row per unit. The passes re-read the scan rather than caching 10^12
rows; Parquet column pruning makes each re-read touch only the columns it
needs.

The outputs are independent, so they run as concurrent Spark jobs, one
driver thread each (the ``lineage/`` read waits for its write in the same
thread): at today's sizes most of a job is fixed cost, and the small
outputs fill the cores the large scans leave idle. The lineage frame, its
schema and the roll-up aggregates are built before any output starts; the
other outputs build their frames in their own threads, so the lineage job
does not wait for them, and an error building one fails the run as a
failing job does. With FIFO scheduling a large input's first scan takes
every slot, so at scale the run falls back to the serial order. Each
thread keeps the caller's job group, description and tags; a perfbench
``corpus_batch`` op (the input read and ``run()``) is 12 jobs. The first
output to fail cancels the others' jobs and its error is raised;
``summary.json`` is written only after every output has succeeded.

Checkpoint/resume: lineage rows are written per unit; a resumed run
anti-joins completed units and processes only the remainder (results are
parquet directories). It refuses a ``lineage/`` whose columns differ from
the ones it would append (another spec, or another profile layout), and a
``lineage/`` without data files (what a failed write leaves).
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
import uuid
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import Callable, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from jsonschema_spark.operators import stats as stats_ops
from jsonschema_spark.operators.referential import domain_flag, orphan_key_counts
from jsonschema_spark.operators.uniqueness import duplicate_keys, salted_key_counts
from jsonschema_spark.plans.plan import (
    CHECK_PREFIX,
    VERDICT_PREFIX,
    CompiledPlan,
    _sql_string,
    annotation_columns,
    check_columns,
    failed,
    positions,
    root_failures,
)


def _unit() -> Column:
    """The lineage unit of a row: its input file when reading files (stable
    across reruns, so resumable), else its spark partition id."""
    return F.expr(
        "coalesce(nullif(input_file_name(), ''),"
        " concat('partition:', CAST(spark_partition_id() AS STRING)))"
    )


def _payload(annotated: DataFrame) -> list:
    """The input columns of an annotated frame: what the profile covers."""
    skip = set(annotation_columns(annotated))
    return [c for c in annotated.columns if c not in skip]


def _check_lineage_layout(spark, lineage_path: str, lineage: DataFrame) -> None:
    """Refuse to resume onto a ``lineage/`` whose columns differ from the
    ones this run writes — one written for another spec or by a version
    with another profile layout. Appending to it would leave units whose
    counts or partials read as NULL or cannot be read at all, and the
    totals and profile would come out wrong. The footers of all files are
    merged, and a file without some column reads as NULL there, which no
    unit with rows has: its counts and partials are aggregates.

    A ``lineage/`` without data files (what a failed write leaves) is
    refused too: read as "no units done", the resume would append every
    unit's violation rows again next to those a failed run may have
    committed."""
    if all(name.startswith(("_", ".")) for name in os.listdir(lineage_path)):
        raise ValueError(
            f"cannot resume onto {lineage_path}: it holds no data files, as a"
            " failed write leaves it, and the run's other outputs may be"
            " complete; write to a new results directory instead"
        )
    found = spark.read.option("mergeSchema", "true").parquet(lineage_path)
    got = {f.name: f.dataType.simpleString() for f in found.schema.fields}
    want = {f.name: f.dataType.simpleString() for f in lineage.schema.fields}
    differ = sorted(n for n in got.keys() | want.keys() if got.get(n) != want.get(n))
    counted = [c for c in want if c.startswith(("fail_", stats_ops.PROFILE_PREFIX))]
    if counted and not differ:
        gaps = (
            found.filter(F.col("n_rows") > 0)
            .agg(*[F.count_if(F.col(c).isNull()).alias(c) for c in counted])
            .first()
        )
        differ = [c for c in counted if gaps[c]]
    if differ:
        raise ValueError(
            f"cannot resume onto {lineage_path}: columns {differ} are missing"
            " from some or all of its files, or of another type than the"
            " lineage this run writes; write to a new results directory"
            " instead"
        )


def _built_once(build: Callable[[], dict]) -> Callable[[], dict]:
    """``build`` as a call that runs it once: the first thread to call it
    builds, the others wait for that result."""
    lock = threading.Lock()
    built = []

    def get() -> dict:
        with lock:
            if not built:
                built.append(build())
            return built[0]

    return get


def _run_concurrently(spark: SparkSession, tasks: dict[str, Callable]) -> dict:
    """Run each task (name -> callable without arguments) in a driver thread
    of its own, so that their Spark jobs share the cores, and return name ->
    result in ``tasks`` order. Each thread is wrapped with
    ``inheritable_thread_target``, so its jobs keep the caller's job group,
    description and tags; a plain thread's jobs would leave the group. The
    jobs also carry a tag of their own: the first task to fail cancels its
    siblings' jobs, and its error is raised once every task has ended, so no
    job of this call outlives it."""
    sc = spark.sparkContext
    tag = f"jsonschema_spark-run-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        wrapped = {name: inheritable_thread_target(spark)(fn) for name, fn in tasks.items()}
    finally:
        sc.removeJobTag(tag)
    with ThreadPoolExecutor(max_workers=len(wrapped)) as pool:
        futures = {name: pool.submit(fn) for name, fn in wrapped.items()}
        finished, running = wait(futures.values(), return_when=FIRST_EXCEPTION)
        first = next((f.exception() for f in finished if f.exception()), None)
        if first is not None:
            sc.cancelJobsWithTag(tag)
            wait(running)
            raise first
    return {name: f.result() for name, f in futures.items()}


def _lineage_rollup(
    checks: list[str], schema: T.StructType, columns: list[str], refs: dict
) -> list:
    """The aggregates that roll ``lineage/`` up: ``_totals``, a struct of
    the sums of ``n_rows``, ``n_valid`` and each check's ``fail_<check>``,
    and ``_profile`` (``stats.profile_rollup`` of the input ``columns``).
    ``refs`` maps each ``lineage/`` column to its name in the frame read
    (``positions``)."""
    totals = ["n_rows", "n_valid", *[f"fail_{c}" for c in checks]]
    summed = ", ".join(f"{_sql_string(k)}, sum({refs[k]})" for k in totals)
    return [
        F.expr(f"named_struct({summed})").alias("_totals"),
        stats_ops.profile_rollup(schema, columns, refs).alias("_profile"),
    ]


def drop_completed_units(annotated: DataFrame, done_units: DataFrame) -> DataFrame:
    """Left-anti join the corpus against the completed-unit table (one
    ``unit`` column). Broadcast: O(#files) rows vs the corpus — a shuffled
    anti-join would re-shuffle every input row on ``_unit``, and an isin
    literal list would inline potentially millions of path strings into
    the plan (tests/test_corpus_pipeline.py pins the join shape)."""
    return (
        annotated.withColumn("_unit", _unit())
        .join(
            F.broadcast(done_units.select("unit")),
            F.col("_unit") == F.col("unit"),
            "left_anti",
        )
        .drop("_unit")
    )


class ValidationJob:
    def __init__(
        self,
        plan: CompiledPlan,
        dims: Optional[dict] = None,  # dim name -> DataFrame
        id_column: str = "doc_id",
    ):
        self.plan = plan
        self.dims = dims or {}
        self.id_column = id_column

    # ---- row pass -----------------------------------------------------------

    def annotate(self, df: DataFrame) -> DataFrame:
        """Input + one boolean column per check + `_valid`. A json_columns
        check lands as `_verdict_<name>` + the derived boolean — the kernel
        runs ONCE for both. Every output built from this frame
        (``violations``, both halves of ``quarantine``,
        ``partition_lineage``) reads those columns, so each kernel runs
        once per row in each: ``compile_table_spec`` marks its UDF
        non-deterministic, and the optimizer neither pushes a filter below
        it nor inlines a second copy. A payload filter on this frame stays
        above the kernel too (``annotate(df).filter("doc_id = '7'")``
        validates every row): filter the input first. An output that reads
        no kernel column still drops the kernel. Referential checks join
        the row pass as domain-membership predicates: small dimensions
        compile to an isin set inside the verdict codegen stage; large ones
        fall back to a (broadcast-eligible) join so the domain never has to
        fit on the driver (see referential.domain_flag).

        Each layer is one projection (a column of the input with the same
        name is replaced in place): the kernel verdict structs, then the
        checks, then ``_valid`` over them, then each reference's flag."""
        checks = self.plan.checks
        kernels = {
            VERDICT_PREFIX + name: check.kernel
            for name, check in checks.items()
            if check.kernel is not None
        }
        out = df.withColumns(kernels) if kernels else df
        if checks:
            out = out.withColumns(
                {CHECK_PREFIX + name: check.verdict for name, check in checks.items()}
            )
        valid = F.lit(True)
        for name in checks:
            valid = valid & F.col(CHECK_PREFIX + name)
        out = out.withColumn("_valid", valid)
        for col_name, ref in self.plan.references.items():
            dim = self.dims.get(ref["dim"])
            if dim is None:
                raise ValueError(f"missing dimension table {ref['dim']!r}")
            flag = f"{CHECK_PREFIX}ref_{col_name}"
            out = domain_flag(out, col_name, dim, ref["key"], flag)
            out = out.withColumn("_valid", F.col("_valid") & F.col(flag))
        return out

    def check_columns(self, annotated: DataFrame) -> list:
        return check_columns(annotated)

    def violations(self, annotated: DataFrame) -> DataFrame:
        """(id, check, path, detail) rows for every failed check: each
        check's failure entries (CompiledCheck.failures) exploded from the
        failing rows only, in the scan stage. For struct and map columns
        ``path`` pinpoints the failing field ('/addr/zip'), matching the
        reference's path-wrapped errors (validate.go:74,346,500); scalar
        checks report path ''. A NULL verdict is a failure. A kernel-backed
        check's failures read its annotated column, so the filter on
        ``_valid`` runs no kernel of its own (see ``annotate``)."""
        per_check = []
        for c in self.check_columns(annotated):
            name = c.removeprefix(CHECK_PREFIX)
            check = self.plan.checks.get(name)
            failures = check.failures if check is not None else root_failures(name, None)
            per_check.append(
                F.struct(F.lit(name).alias("check"), failures.alias("failures"))
            )
        if not per_check:
            # no row checks (e.g. only `unique`): nothing fails, and an empty
            # array literal would have no element type to inline
            return annotated.select(
                F.col(self.id_column).alias("id"),
                *[F.lit(None).cast("string").alias(c) for c in ("check", "path", "detail")],
            ).filter(F.lit(False))
        return (
            annotated.filter(failed(F.col("_valid")))
            .select(F.col(self.id_column).alias("id"), F.inline(F.array(*per_check)))
            .select("id", "check", F.inline("failures"))
        )

    def quarantine(
        self, annotated: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """Route rows by verdict: ``(accepted, quarantined)`` — the
        serving split a validation stage hands downstream (accepted rows
        flow on with the check/_valid columns dropped; quarantined rows
        carry ``n_failed`` and the sorted comma-joined ``failed_checks``
        label next to their original payload, the triage artifact an
        ingest-repair queue consumes). The reference's fail-fast
        accept/reject (validate.go:15) lifted to a table-scale router.

        Scale shape: both halves are filters over the SAME annotated
        scan-stage projection — no shuffle, no second pass; the
        failed-check array is bounded by |checks|. Each half runs each
        kernel once per row: the filter stays above the kernel's
        projection (see ``annotate``). A NULL ``_valid`` routes
        to the quarantined half, so the two halves always partition the
        input."""
        drop = annotation_columns(annotated)
        rejected = failed(F.col("_valid"))
        accepted = annotated.filter(~rejected).drop(*drop)
        names = F.filter(
            F.array(*[
                F.when(failed(F.col(c)), F.lit(c.removeprefix(CHECK_PREFIX)))
                for c in self.check_columns(annotated)
            ]),
            F.isnotnull,
        )
        quarantined = annotated.filter(rejected).select(
            *[c for c in annotated.columns if c not in drop],
            F.size(names).alias("n_failed"),
            F.array_join(F.array_sort(names), ",").alias("failed_checks"),
        )
        return accepted, quarantined

    def partition_lineage(self, annotated: DataFrame) -> DataFrame:
        """Per-unit pass/fail, per-check fail counts and the profile
        partials of every input column, in one aggregate. Unit = input file
        name when present (stable across reruns → resumable), else
        partition id.

        Columns: ``unit``, ``n_rows``, ``n_valid``, ``fail_<check>`` per
        check, then ``profile_<column>`` per input column (a struct of
        mergeable partials, see ``stats.profile_partials``; the HLL sketch
        adds 552 bytes per unit and scalar column)."""
        refs = positions(annotated.columns)
        aggs = [
            F.expr("count(1)").alias("n_rows"),
            F.expr(f"sum(CAST({refs['_valid']} AS BIGINT))").alias("n_valid"),
        ]
        for c in self.check_columns(annotated):
            aggs.append(
                F.expr(f"sum(CAST(NOT coalesce({refs[c]}, false) AS BIGINT))").alias(
                    "fail_" + c.removeprefix(CHECK_PREFIX)
                )
            )
        aggs.extend(stats_ops.profile_partials(annotated.schema, _payload(annotated), refs))
        return annotated.toDF(*refs.values()).groupBy(_unit().alias("unit")).agg(*aggs)

    # ---- table-level checks --------------------------------------------------

    def uniqueness(self, df: DataFrame) -> dict:
        return {
            key: duplicate_keys(df, key) for key in self.plan.unique
        }

    def referential(self, df: DataFrame) -> dict:
        """``(col, n_rows)`` orphan-key counts per referenced column. On
        ``annotate``'s output they count the rows whose ``chk_ref_<col>``
        failed, so the domain is not resolved again; on the input they
        resolve it (``orphan_key_counts``)."""
        out = {}
        for col_name, ref in self.plan.references.items():
            flag = f"{CHECK_PREFIX}ref_{col_name}"
            if flag in df.columns:
                failing = df.filter(failed(F.col(flag)))
                out[col_name] = salted_key_counts(failing, col_name, "n_rows")
            else:
                dim = self.dims.get(ref["dim"])
                out[col_name] = orphan_key_counts(df, col_name, dim, ref["key"])
        return out

    # ---- orchestrated run with checkpoint/resume ------------------------------

    def run(self, df: DataFrame, results_dir: str, resume: bool = False) -> dict:
        """Full validation pass. Writes under results_dir:
        ``lineage/`` (per-unit verdicts and profile partials, the
        checkpoint), ``violations/``, ``duplicates_<key>/``,
        ``orphans_<col>/``, ``profile/`` (the roll-up of ``lineage/``),
        ``summary.json``. Returns the summary dict; its ``checks`` maps
        each check (the plan's, then ``ref_<col>``) to the number of rows
        that failed it. Raises ValueError, before anything is written,
        when ``id_column`` is not a column of ``df``."""
        try:
            df.select(self.id_column)
        except AnalysisException:
            raise ValueError(f"id_column {self.id_column!r} is not a column of the input") from None
        spark = df.sparkSession
        t0 = time.time()

        full = annotated = self.annotate(df)
        columns = _payload(annotated)

        resumed_units_skipped = 0
        lineage_path = os.path.join(results_dir, "lineage")
        if resume and os.path.isdir(lineage_path):
            _check_lineage_layout(spark, lineage_path, self.partition_lineage(annotated))
            # Anti-join resume (the contract in the module docstring): at
            # design scale units are input files — potentially millions of
            # path strings — so the completed set must never ride the plan
            # as an isin literal list or a driver-side collect. Eagerly
            # localCheckpoint the tiny distinct-units table first: the
            # lineage dir is appended to below, and a lazy read of the same
            # path inside the anti-join would race its own writer.
            done_units = (
                spark.read.parquet(lineage_path)
                .select("unit")
                .distinct()
                .localCheckpoint(eager=True)
            )
            resumed_units_skipped = done_units.count()
            if resumed_units_skipped:
                annotated = drop_completed_units(annotated, done_units)

        mode = "append" if resume else "overwrite"
        # everything the lineage thread needs is built here, before any
        # output starts: the other outputs build their frames in their own
        # threads while the lineage job runs
        lineage = self.partition_lineage(annotated)
        lineage_schema = lineage.schema
        lineage_refs = positions(lineage_schema.names)
        checks = self.plan.check_names + [f"ref_{c}" for c in self.plan.references]
        rollup = _lineage_rollup(checks, df.schema, columns, lineage_refs)
        observed_totals = F.expr("max(_totals) AS _totals")
        profile_rows = F.inline("_profile")

        duplicate_frames = _built_once(lambda: self.uniqueness(df))
        # orphans read the whole annotated table, resumed units included
        orphan_frames = _built_once(lambda: self.referential(full))

        def write(frame: DataFrame, name: str, how: str = "overwrite") -> None:
            frame.write.mode(how).parquet(os.path.join(results_dir, name))

        def lineage_and_profile() -> dict:
            write(lineage, "lineage", mode)
            # one read of lineage/, with the schema this run wrote (no
            # inference job) and in one task (no exchange): the totals are
            # aggregated next to the profile roll-up and observed on its
            # one-row result, in the write's own stage (an observation in a
            # shuffle map stage could count a retried task twice)
            rolled = (
                spark.read.schema(lineage_schema)
                .parquet(lineage_path)
                .toDF(*lineage_refs.values())
                .coalesce(1)
                .agg(*rollup)
            )
            seen = Observation()
            write(rolled.observe(seen, observed_totals).select(profile_rows), "profile")
            return {k: v or 0 for k, v in seen.get["_totals"].asDict().items()}

        def violations() -> None:
            write(self.violations(annotated), "violations", mode)

        def duplicates(key: str) -> int:
            seen = Observation()
            dups = duplicate_frames()[key]
            write(dups.observe(seen, F.count(F.lit(1)).alias("n")), f"duplicates_{key}")
            return seen.get["n"]

        def orphans(col_name: str) -> None:
            write(orphan_frames()[col_name], f"orphans_{col_name}")

        outputs = {"lineage": lineage_and_profile, "violations": violations}
        for key in self.plan.unique:
            outputs[f"duplicates_{key}"] = functools.partial(duplicates, key)
        for col_name in self.plan.references:
            outputs[f"orphans_{col_name}"] = functools.partial(orphans, col_name)
        done = _run_concurrently(spark, outputs)

        got = done["lineage"]
        fails = {c: got[f"fail_{c}"] for c in checks}
        dup_counts = {key: done[f"duplicates_{key}"] for key in self.plan.unique}
        summary = {
            "n_rows": got["n_rows"],
            "n_valid": got["n_valid"],
            "n_invalid": got["n_rows"] - got["n_valid"],
            "checks": fails,
            "duplicates": dup_counts,
            "orphans": {c: fails[f"ref_{c}"] for c in self.plan.references},
            "resumed_units_skipped": resumed_units_skipped,
            "wall_sec": time.time() - t0,
        }
        with open(os.path.join(results_dir, "summary.json"), "w") as fh:
            json.dump(summary, fh, indent=2, default=str)
        return summary
