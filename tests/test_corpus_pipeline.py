"""End-to-end tests of the tokenized-corpus validation pipeline (the north
rule's flagship): synthetic corpus → TableSpec → one-pass verdicts →
violations / uniqueness / referential / stats → lineage + resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.benchlib import CORPUS_SPEC_DICT
from jsonschema_spark.sources.corpus import (
    DUP_MOD, LEN_MOD, NTOK_MOD, SRC_MOD, VOCAB_SIZE, corpus, dim_source,
)
from jsonschema_spark.plans.plan import TableSpec, compile_table_spec
from jsonschema_spark.plans.job import ValidationJob
from jsonschema_spark.spec.compile import SpecError

N = 20_000


@pytest.fixture(scope="module")
def corpus_df(spark, tmp_path_factory):
    """Materialized to parquet once — downstream actions scan bytes instead
    of re-running the hash-based generator expression chain per action."""
    path = str(tmp_path_factory.mktemp("corpus") / "dirty")
    corpus(spark, N, seed=42).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def job(spark, corpus_df):
    plan = compile_table_spec(TableSpec.from_dict(CORPUS_SPEC_DICT), corpus_df.schema)
    return ValidationJob(plan, dims={"dim_source": dim_source(spark)})


# id -> (keys merged into CORPUS_SPEC_DICT, the SpecError they raise)
_MALFORMED_TABLESPECS = {
    "unknown_key": ({"drift": {}}, "unknown TableSpec keys: \\['drift'\\]"),
    "columns_list": ({"columns": ["doc_id"]}, "'columns' must be an object"),
    "unique_string": ({"unique": "doc_id"}, "'unique' must be an array"),
    "required_string": ({"required": "doc_id"}, "'required' must be an array"),
    "required_nested": ({"required": [["doc_id"]]}, "'required' must be an array"),
    "row_checks_list": ({"row_checks": ["n_tok > 0"]}, "'row_checks' must be an object"),
    "row_checks_bool": ({"row_checks": {"pos": True}}, "'row_checks' must be an object"),
    "json_columns_string": ({"json_columns": "meta"}, "'json_columns' must be an object"),
    "references_list": ({"references": ["source"]}, "'references' must be an object"),
    "references_string": ({"references": {"source": "dim_source"}}, "'references' must be"),
}


@pytest.mark.parametrize(
    "extra, match", _MALFORMED_TABLESPECS.values(), ids=_MALFORMED_TABLESPECS
)
def test_tablespec_rejects_unknown_keys(extra, match):
    """``from_dict`` refuses any key it does not know, ``drift`` included,
    and any value of the wrong shape, naming its key."""
    with pytest.raises(SpecError, match=match):
        TableSpec.from_dict({**CORPUS_SPEC_DICT, **extra})


def _expected(mods_hit: str) -> set:
    """Row ids whose *first-matching* injection rule is `mods_hit` (mirrors
    the when-chain precedence in the generator)."""
    out = set()
    for i in range(N):
        if i % NTOK_MOD == NTOK_MOD - 1:
            kind = "ntok"
        elif i % LEN_MOD == LEN_MOD - 1:
            kind = "len"
        else:
            kind = None
        if mods_hit == "ntok" and kind == "ntok":
            out.add(i)
        elif mods_hit == "len" and kind == "len":
            out.add(i)
        elif mods_hit == "src" and i % SRC_MOD == SRC_MOD - 1:
            out.add(i)
        elif mods_hit == "dup" and i % DUP_MOD == DUP_MOD - 1:
            out.add(i)
    return out


def test_generator_is_deterministic_across_parallelism(spark):
    a = corpus(spark, 2000, seed=42, num_partitions=2).orderBy("doc_id").collect()
    b = corpus(spark, 2000, seed=42, num_partitions=16).orderBy("doc_id").collect()
    assert a == b


def test_generator_shape_and_rates(corpus_df):
    row = corpus_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.array_min("tokens")).alias("tmin"),
        F.max(F.array_max("tokens")).alias("tmax"),
    ).collect()[0]
    assert row.n == N
    assert 0 <= row.tmin and row.tmax < VOCAB_SIZE
    assert [f.name for f in corpus_df.schema.fields] == ["doc_id", "tokens", "n_tok", "source"]


def test_row_verdicts_match_injection(job, corpus_df):
    annotated = job.annotate(corpus_df)
    agg = annotated.agg(
        F.sum((~F.col("chk_col_n_tok")).cast("long")).alias("bad_ntok"),
        F.sum((~F.col("chk_row_len_consistent")).cast("long")).alias("bad_len"),
        F.sum((~F.col("chk_ref_source")).cast("long")).alias("bad_src"),
        F.sum((~F.col("_valid")).cast("long")).alias("invalid"),
        F.sum((~F.col("chk_col_doc_id")).cast("long")).alias("bad_docid"),
        F.sum((~F.col("chk_col_tokens")).cast("long")).alias("bad_tokens"),
    ).collect()[0]
    exp_ntok = _expected("ntok")
    exp_len = _expected("len")
    exp_src = _expected("src")
    # n_tok out-of-bounds rows: injected 0 or 4096 — both violate [1, 2048]
    assert agg.bad_ntok == len(exp_ntok)
    # len mismatch: n_tok+1 (plus every bad-ntok row also mismatches size)
    assert agg.bad_len == len(exp_len) + len(exp_ntok)
    assert agg.bad_src == len(exp_src)
    assert agg.bad_docid == 0 and agg.bad_tokens == 0
    assert agg.invalid == len(exp_ntok | exp_len | exp_src)


def test_quarantine_split(job, corpus_df):
    """accepted/quarantined partition the corpus exactly; accepted drops
    every check/_valid column (clean payload schema for downstream);
    quarantined carries the sorted failed-check label matching the
    injection closed form."""
    annotated = job.annotate(corpus_df)
    accepted, quarantined = job.quarantine(annotated)
    n_acc, n_quar = accepted.count(), quarantined.count()
    invalid = _expected("ntok") | _expected("len") | _expected("src")
    assert n_quar == len(invalid)
    assert n_acc + n_quar == N
    assert [f.name for f in accepted.schema.fields] == [
        "doc_id", "tokens", "n_tok", "source",
    ]
    # an injected ntok row fails both the bound and the length check
    labels = {
        r.doc_id: r.failed_checks
        for r in quarantined.select("doc_id", "failed_checks").collect()
        if r.doc_id is not None
    }
    ntok_id = f"doc-{min(_expected('ntok')):012d}"
    assert labels[ntok_id] == "col_n_tok,row_len_consistent"
    src_id = f"doc-{min(_expected('src')):012d}"
    assert labels[src_id] == "ref_source"


def test_quarantine_partitions_null_verdicts(tmp_path, spark):
    """Rows whose verdict is NULL stay in the partition: a row check that
    evaluates to NULL, and an annotated frame whose ``_valid`` is NULL,
    both land in the quarantined half, so accepted + quarantined always
    equals the input."""
    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, -1), (4, None)], "doc_id long, x int"
    )
    plan = compile_table_spec(
        TableSpec.from_dict({"row_checks": {"positive": "x > 0"}}), df.schema
    )
    job = ValidationJob(plan)
    accepted, quarantined = job.quarantine(job.annotate(df))
    assert sorted(r.doc_id for r in accepted.collect()) == [1]
    assert sorted(r.doc_id for r in quarantined.collect()) == [2, 3, 4]

    raw = df.select(
        "doc_id", "x", (F.col("x") > 0).alias("chk_positive")
    ).withColumn("_valid", F.col("chk_positive"))
    accepted, quarantined = job.quarantine(raw)
    assert accepted.count() + quarantined.count() == df.count()
    labels = {r.doc_id: r.failed_checks for r in quarantined.collect()}
    assert labels == {2: "positive", 3: "positive", 4: "positive"}

    # violations and lineage count the same NULL verdicts as failures
    assert sorted(r.id for r in job.violations(raw).collect()) == [2, 3, 4]
    lineage = job.partition_lineage(raw).agg(F.sum("fail_positive")).collect()
    assert lineage[0][0] == 3
    # and so do run()'s per-check fail counts, a roll-up of that lineage
    summary = job.run(df, str(tmp_path / "results"))
    assert summary["checks"] == {"row_positive": 3}


def test_null_dimension_key_keeps_orphans_failing(spark):
    """A NULL key in a small dimension is not part of the domain: the orphan
    row fails ref_source, not NULL, so quarantine, violations, lineage and
    referential() all report the same single orphan."""
    fact = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "zz"), (4, None)], "doc_id long, source string"
    )
    dim = spark.createDataFrame([("a",), ("b",), (None,)], "source_id string")
    plan = compile_table_spec(
        TableSpec.from_dict(
            {"references": {"source": {"dim": "dim_source", "key": "source_id"}}}
        ),
        fact.schema,
    )
    job = ValidationJob(plan, dims={"dim_source": dim})
    ann = job.annotate(fact)
    assert {r.doc_id: r.chk_ref_source for r in ann.collect()} == {
        1: True, 2: True, 3: False, 4: True,
    }
    _, quarantined = job.quarantine(ann)
    assert [(r.doc_id, r.failed_checks) for r in quarantined.collect()] == [
        (3, "ref_source")
    ]
    assert [(r.id, r.check, r.path) for r in job.violations(ann).collect()] == [
        (3, "ref_source", "")
    ]
    lineage = job.partition_lineage(ann).agg(F.sum("fail_ref_source")).collect()
    assert lineage[0][0] == 1
    orphans = job.referential(fact)["source"].collect()
    assert {r.source: r.n_rows for r in orphans} == {"zz": 1}


def test_violation_rows(job, corpus_df):
    v = job.violations(job.annotate(corpus_df))
    counts = {r.check: r.cnt for r in v.groupBy("check").agg(F.count("*").alias("cnt")).collect()}
    assert counts["ref_source"] == len(_expected("src"))
    assert counts["col_n_tok"] == len(_expected("ntok"))


def test_uniqueness_salted(job, corpus_df):
    dups = job.uniqueness(corpus_df)["doc_id"]
    rows = dups.collect()
    assert len(rows) == len(_expected("dup"))
    assert all(r.dup_count == 2 for r in rows)


def test_uniqueness_ignores_null_keys(spark):
    """NULL is not a key value (SQL ``UNIQUE``): two rows with a NULL key
    are not a duplicate, two rows with the same value are."""
    from jsonschema_spark.operators.uniqueness import duplicate_keys

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "a"), (4, "a"), (5, "b"), (6, None)],
        "id long, key string",
    )
    assert [tuple(r) for r in duplicate_keys(df, "key").collect()] == [("a", 2)]


def test_referential_orphans(job, corpus_df):
    orphans = job.referential(corpus_df)["source"].collect()
    assert len(orphans) == 1  # one unregistered source value
    assert orphans[0].n_rows == len(_expected("src"))


def test_run_and_resume(tmp_path, spark, job, corpus_df):
    results = str(tmp_path / "results")
    summary = job.run(corpus_df, results)
    assert summary["n_rows"] == N
    assert summary["n_invalid"] == len(
        _expected("ntok") | _expected("len") | _expected("src")
    )
    assert summary["duplicates"]["doc_id"] == len(_expected("dup"))
    assert summary["orphans"]["source"] == len(_expected("src"))
    # per-check fail counts, in plan order: every corpus check reports at
    # the root path, so each is its check's row count in violations/
    assert list(summary["checks"]) == job.plan.check_names + ["ref_source"]
    written = {
        r.check: r.n
        for r in spark.read.parquet(results + "/violations")
        .groupBy("check").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert summary["checks"] == {c: written.get(c, 0) for c in summary["checks"]}
    assert written.keys() <= summary["checks"].keys()
    assert summary["checks"]["ref_source"] == len(_expected("src"))
    assert summary["checks"]["col_n_tok"] == len(_expected("ntok"))
    # resume: all units already completed -> zero new rows processed
    summary2 = job.run(corpus_df, results, resume=True)
    assert summary2["resumed_units_skipped"] > 0
    assert summary2["n_rows"] == N  # lineage total unchanged (append of empty)
    assert summary2["checks"] == summary["checks"]  # a roll-up of lineage/


def test_profile(spark, corpus_df):
    from jsonschema_spark.operators.stats import column_profile

    prof = {r.column: r for r in column_profile(corpus_df).collect()}
    assert prof["doc_id"].null_rate == 0.0
    assert prof["tokens"].min_len >= 1
    assert prof["n_tok"].n_rows == N


def test_profile_counts_empty_values(spark):
    """An empty string and an empty binary are values: the distinct count
    includes them, and NULL is not counted."""
    from jsonschema_spark.operators.stats import column_profile

    df = spark.createDataFrame(
        [("", bytearray(b"")), ("a", bytearray(b"a")), (None, None), ("", bytearray(b""))],
        "s string, b binary",
    )
    prof = {r.column: r for r in column_profile(df).collect()}
    assert prof["s"].approx_distinct == 2 and prof["b"].approx_distinct == 2
    assert (prof["s"].min_value, prof["s"].max_value, prof["s"].min_len) == ("", "a", 0)


def test_partial_resume_processes_only_remainder(tmp_path, spark, job, corpus_df):
    """Resume with PARTIAL prior lineage: only not-yet-completed units are
    re-processed; totals converge to the full run."""
    results = str(tmp_path / "partial")
    full = job.run(corpus_df, results)
    lineage = spark.read.parquet(results + "/lineage")
    units = [r.unit for r in lineage.select("unit").distinct().collect()]
    assert len(units) > 1
    # rewrite lineage keeping only half the units -> simulates a crash
    keep = sorted(units)[: len(units) // 2]
    partial = lineage.filter(F.col("unit").isin(keep))
    kept_rows = partial.agg(F.sum("n_rows")).collect()[0][0]
    partial.write.mode("overwrite").parquet(str(tmp_path / "lineage_tmp"))
    spark.read.parquet(str(tmp_path / "lineage_tmp")).write.mode(
        "overwrite"
    ).parquet(results + "/lineage")

    full_profile = spark.read.parquet(results + "/profile").collect()

    resumed = job.run(corpus_df, results, resume=True)
    assert resumed["resumed_units_skipped"] == len(keep)
    # lineage total: kept rows + re-processed remainder = full corpus
    assert resumed["n_rows"] == full["n_rows"] == N
    assert resumed["orphans"] == full["orphans"]
    final_units = {
        r.unit for r in spark.read.parquet(results + "/lineage").select("unit").distinct().collect()
    }
    assert final_units == set(units)
    # the profile is a roll-up of lineage, so the resumed run's covers the
    # whole table, sketches included
    assert spark.read.parquet(results + "/profile").collect() == full_profile


def test_resume_refuses_a_lineage_of_another_layout(tmp_path, spark, job, corpus_df):
    """A lineage/ whose files lack the profile partials (written by a
    version without them) is refused on resume, whether every file lacks
    them or only some: appending would profile only the new units."""
    import os

    results = str(tmp_path / "layout")
    job.run(corpus_df, results)
    lineage = spark.read.parquet(results + "/lineage")
    old = lineage.select(*[c for c in lineage.columns if not c.startswith("profile_")])

    old_only = str(tmp_path / "old_only")
    old.write.parquet(old_only + "/lineage")
    # one old-layout file next to the new ones
    old.limit(1).localCheckpoint(eager=True).write.mode("append").parquet(
        results + "/lineage"
    )
    for path in (old_only, results):
        before = sorted(os.listdir(path + "/lineage"))
        with pytest.raises(ValueError, match="profile_doc_id"):
            job.run(corpus_df, path, resume=True)
        assert sorted(os.listdir(path + "/lineage")) == before


def test_resume_refuses_a_lineage_without_data_files(tmp_path, spark, job, corpus_df):
    """A ``lineage/`` directory without data files, what a failed lineage
    write leaves next to a committed ``violations/``, is refused on resume
    with one ValueError line before anything is written. Read as "no units
    done", the resume would append every violation row a second time."""
    import shutil

    results = tmp_path / "empty_lineage"
    job.run(corpus_df, str(results))
    shutil.rmtree(results / "lineage")
    (results / "lineage").mkdir()
    before = {p: p.stat().st_mtime_ns for p in results.rglob("*")}
    with pytest.raises(ValueError, match="lineage: it holds no data files") as refused:
        job.run(corpus_df, str(results), resume=True)
    assert "\n" not in str(refused.value)
    assert {p: p.stat().st_mtime_ns for p in results.rglob("*")} == before


def test_run_refuses_an_absent_id_column(tmp_path, spark):
    """An ``id_column`` the frame lacks is refused (ValueError naming it)
    before ``run()`` writes anything: no partial ``lineage/`` is left."""
    df = spark.createDataFrame([("a", 1), ("b", 2)], "doc_id string, n long")
    plan = compile_table_spec(TableSpec.from_dict({"required": ["n"]}), df.schema)
    results = tmp_path / "results"
    with pytest.raises(ValueError, match="id_column 'nope'"):
        ValidationJob(plan, id_column="nope").run(df, str(results))
    assert not (results / "lineage").exists()


def test_run_profile_matches_column_profile(tmp_path, spark, job, corpus_df):
    """``profile/`` written by run() equals column_profile(df) on every
    field; a scalar column's approx_distinct (HLL, lgConfigK 9: rsd
    1.04/sqrt(512)) is within 3 rsd of the exact distinct count, and the
    nested ``tokens`` column is profiled by nulls and lengths only: its
    approx_distinct, min_value and max_value are NULL."""
    from jsonschema_spark.operators.stats import column_profile

    results = str(tmp_path / "profiled")
    ValidationJob(job.plan, dims=job.dims).run(corpus_df, results)
    got = {r.column: r.asDict() for r in spark.read.parquet(results + "/profile").collect()}
    want = {r.column: r.asDict() for r in column_profile(corpus_df).collect()}
    assert list(got) == corpus_df.columns
    scalars = [c for c in corpus_df.columns if c != "tokens"]
    exact = corpus_df.agg(*[F.countDistinct(c).alias(c) for c in scalars]).collect()[0]
    rsd = 1.04 / 512 ** 0.5
    for name in scalars:
        assert abs(got[name].pop("approx_distinct") - exact[name]) <= 3 * rsd * exact[name]
        want[name].pop("approx_distinct")
        assert got[name] == want[name], name
    tokens = got["tokens"]
    assert (tokens["approx_distinct"], tokens["min_value"], tokens["max_value"]) == (None,) * 3
    assert tokens == want["tokens"]
    assert tokens["min_len"] >= 1 and tokens["null_rate"] == 0.0


def _last_job_id(spark, group: str) -> int:
    """Run one small job under ``group`` and return its id: job ids grow
    in submission order, so two of these bracket every job in between."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup(group))


def test_run_pass_structure(spark, job, corpus_df, tmp_path):
    """run() is four input passes plus one lineage read: at most 11 Spark
    jobs on this corpus (no read-back counts, no separate profile scan, no
    schema inference on ``lineage/``, no exchange before its roll-up), and
    every job started while it runs is in the caller's job group, although
    its outputs run in threads of their own."""
    sc = spark.sparkContext
    group = "test_run_pass_structure"
    first = _last_job_id(spark, group + ":before")
    sc.setJobGroup(group, "run()")
    try:
        ValidationJob(job.plan, dims=job.dims).run(corpus_df, str(tmp_path / "r"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    last = _last_job_id(spark, group + ":after")
    grouped = sorted(sc.statusTracker().getJobIdsForGroup(group))
    assert grouped == list(range(first + 1, last))
    assert 0 < len(grouped) <= 11


def test_a_failing_output_stops_the_run(spark, job, corpus_df, tmp_path, monkeypatch):
    """When one output fails, run() cancels the jobs of the others and
    raises that output's error: no job of the run is left running and no
    ``summary.json`` is written. The orphans output here is made slow (one
    task that sleeps a millisecond per row, about 20 s): it is still running
    when the duplicates output fails, so it never completes."""
    uniqueness = ValidationJob.uniqueness

    def failing(self, df):
        boom = F.raise_error(F.lit("duplicates failed on purpose")).cast("string")
        return {key: df.select(boom.alias(key)) for key in uniqueness(self, df)}

    def slow(self, df):
        sleep = F.expr("reflect('java.lang.Thread', 'sleep', cast(1 as bigint))")
        return {"source": df.select("source", sleep.alias("slept")).coalesce(1)}

    monkeypatch.setattr(ValidationJob, "uniqueness", failing)
    monkeypatch.setattr(ValidationJob, "referential", slow)
    results = tmp_path / "r"
    with pytest.raises(Exception, match="duplicates failed on purpose"):
        ValidationJob(job.plan, dims=job.dims).run(corpus_df, str(results))
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert not (results / "summary.json").exists()
    assert not (results / "orphans_source" / "_SUCCESS").exists()


def test_a_failing_frame_build_stops_the_run(spark, job, corpus_df, tmp_path, monkeypatch):
    """An output frame that fails to build, now inside its own output
    thread, fails the run as a failing job does: its error is raised, no
    job of the run is left running and no ``summary.json`` is written."""

    def broken(self, df):
        raise RuntimeError("orphans frame failed to build")

    monkeypatch.setattr(ValidationJob, "referential", broken)
    results = tmp_path / "r"
    with pytest.raises(RuntimeError, match="orphans frame failed to build"):
        ValidationJob(job.plan, dims=job.dims).run(corpus_df, str(results))
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert not (results / "summary.json").exists()


def test_a_frame_is_built_once_across_threads():
    """``_built_once``: however many output threads ask for a frame map at
    the same moment, it is built once and every thread gets that build."""
    import sys
    import threading
    import time

    from jsonschema_spark.plans.job import _built_once

    calls = []

    def build():
        calls.append(1)
        time.sleep(0.01)
        return {"n": len(calls)}

    get = _built_once(build)
    start = threading.Barrier(16)
    got = []

    def ask():
        start.wait(timeout=10)
        got.append(get())

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=ask) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1 and len(got) == 16
    assert all(g is got[0] for g in got)


def test_summary_order_under_concurrency(spark, tmp_path, monkeypatch):
    """``summary["duplicates"]`` follows ``plan.unique`` and
    ``summary["checks"]`` the plan, whichever output finishes first: the
    first key's write is delayed here, so the second key's ends first. The
    values equal those of a run that writes its outputs one after another."""
    from jsonschema_spark.plans import job as job_module

    df = spark.createDataFrame(
        [(1, "x", "p", 5), (2, "x", "p", -1), (3, "y", "q", 2), (4, "z", "q", None),
         (5, "w", "r", 7), (6, "v", "r", 0)],
        "id long, a string, b string, n int",
    )
    spec = {
        "columns": {"n": {"type": "integer", "minimum": 1}},
        "required": ["n"],
        "row_checks": {"small": "n < 7"},
        "unique": ["a", "b"],
    }
    plan = compile_table_spec(TableSpec.from_dict(spec), df.schema)
    run = ValidationJob(plan, id_column="id").run

    monkeypatch.setattr(
        job_module, "_run_concurrently", lambda spark, tasks: {n: t() for n, t in tasks.items()}
    )
    serial = run(df, str(tmp_path / "serial"))
    monkeypatch.undo()

    uniqueness = ValidationJob.uniqueness
    sleep = F.expr("reflect('java.lang.Thread', 'sleep', cast(3000 as bigint))")

    def first_key_late(self, frame):
        dups = uniqueness(self, frame)
        first = plan.unique[0]
        return {**dups, first: dups[first].filter(F.isnotnull(sleep))}

    monkeypatch.setattr(ValidationJob, "uniqueness", first_key_late)
    got = run(df, str(tmp_path / "concurrent"))
    assert list(got["duplicates"]) == plan.unique == ["a", "b"]
    assert list(got["checks"]) == plan.check_names
    assert got["duplicates"] == {"a": 1, "b": 3}
    del serial["wall_sec"], got["wall_sec"]
    assert got == serial


def test_shard_check_build_round_trips(spark, corpus_df, monkeypatch):
    """Compiling the corpus spec, annotating and building ``violations``
    stays under 700 py4j round trips (``send_command`` calls, py4j's own
    garbage-collection messages aside). A Column method costs 1 with the
    session's DataFrame debugging off and 11-21 with it on; this build
    took about 1,200 with it on."""
    from py4j.clientserver import ClientServerConnection

    dim = dim_source(spark)
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    plan = compile_table_spec(TableSpec.from_dict(CORPUS_SPEC_DICT), corpus_df.schema)
    job = ValidationJob(plan, dims={"dim_source": dim})
    job.violations(job.annotate(corpus_df))
    monkeypatch.undo()
    assert 100 < len(sent) <= 700, len(sent)


def test_lineage_and_rollup_build_round_trips(spark, job, corpus_df, monkeypatch):
    """Building ``partition_lineage``, its schema and the roll-up aggregates
    of ``lineage/`` on the corpus spec stays under 250 py4j round trips:
    each aggregate is one SQL expression, not a tree of Column calls (about
    1,070 trips when each partial was built from Column calls)."""
    from py4j.clientserver import ClientServerConnection

    from jsonschema_spark.plans.job import _lineage_rollup, _payload
    from jsonschema_spark.plans.plan import positions

    annotated = job.annotate(corpus_df)
    checks = job.plan.check_names + [f"ref_{c}" for c in job.plan.references]
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    refs = positions(job.partition_lineage(annotated).schema.names)
    _lineage_rollup(checks, corpus_df.schema, _payload(annotated), refs)
    monkeypatch.undo()
    assert 0 < len(sent) <= 250, len(sent)


def test_lineage_reads_an_array_column_by_size_and_nulls(job, corpus_df):
    """The lineage aggregate profiles the nested ``tokens`` column by its
    NULLs and sizes only: no ``xxhash64``, HLL sketch, ``min`` or ``max``
    runs over the array."""
    import re

    plan = job.partition_lineage(job.annotate(corpus_df))._jdf.queryExecution()
    text = plan.optimizedPlan().toString()
    aggregate = text.splitlines()[0]
    assert aggregate.startswith("Aggregate"), text
    # the aggregate reads the column by its positional name (``positions``)
    names = set(re.findall(r"\btokens#\d+", text))
    names |= set(re.findall(r"\btokens#\d+ AS (\w+#\d+)", text))
    ref = "|".join(map(re.escape, names))
    # a function applied to the column in the aggregate itself, or in a
    # common subexpression the optimizer moved into the projection below it
    direct = set(re.findall(rf"(\w+)\((?:{ref})\b", aggregate))
    common = set(re.findall(rf"(\w+)\((?:{ref})\) AS _common_expr", text))
    assert "size" in direct and (direct | common) <= {"size", "isnull"}, (direct, common)


def test_annotate_runs_in_codegen_without_lambdas(job, corpus_df):
    """The corpus spec's annotate projection has no interpreted lambda (the
    ``items`` NULL guard is ``array_contains``, not ``array_compact``'s
    ``filter``), so each of its projections is whole-stage codegen'd."""
    plan = job.annotate(corpus_df)._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan
    projects = [line for line in plan.splitlines() if "Project [" in line]
    assert projects and all("*(" in line for line in projects), plan


def test_run_on_map_column(spark, tmp_path):
    """A MAP column is nested: the profile leaves its approx_distinct,
    min and max NULL (a map has no ordering) instead of failing the run,
    and still counts its NULLs."""
    df = spark.createDataFrame(
        [(1, {"a": 1}), (2, {"b": 2}), (3, None), (4, {"a": 1})],
        "id long, doc map<string,long>",
    )
    plan = compile_table_spec(TableSpec.from_dict({"required": ["id"]}), df.schema)
    results = str(tmp_path / "map")
    summary = ValidationJob(plan, id_column="id").run(df, results)
    assert summary["n_rows"] == 4 and summary["n_invalid"] == 0
    prof = {r.column: r for r in spark.read.parquet(results + "/profile").collect()}
    assert prof["doc"].min_value is None and prof["doc"].max_value is None
    assert prof["doc"].null_rate == 0.25 and prof["doc"].approx_distinct is None
    assert (prof["id"].min_value, prof["id"].max_value) == ("1", "4")
    assert (prof["doc"].min_len, prof["doc"].max_len, prof["doc"].avg_len) == (1, 1, 1.0)


def test_run_profiles_hostile_column_names(spark, tmp_path):
    """Column names that SQL text must quote (a backtick, a quote, a ``$``,
    a space, a non-ASCII letter; one of them an array) or could not name at
    all (``${...}``, which the SQL parser's variable substitution rewrites
    even inside backticks) reach ``lineage/``'s ``profile_<name>`` columns,
    the ``fail_<check>`` counts and the ``profile/`` rows exactly as they
    are."""
    from pyspark.sql import types as T

    types = {
        "a`b": T.StringType(), "it's": T.ArrayType(T.IntegerType()), "x$y": T.IntegerType(),
        "two words": T.StringType(), "é": T.DoubleType(), "v${spark.app.name}": T.LongType(),
    }
    schema = T.StructType(
        [T.StructField("id", T.LongType())] + [T.StructField(n, t) for n, t in types.items()]
    )
    df = spark.createDataFrame(
        [(1, "p", [1, 2], 3, "q r", 1.5, 7), (2, None, [], 4, "s", None, 8),
         (3, "t", None, 5, "", 2.5, 9)],
        schema,
    )
    spec = {"required": ["it's", "x$y"]}
    plan = compile_table_spec(TableSpec.from_dict(spec), df.schema)
    results = str(tmp_path / "hostile")
    summary = ValidationJob(plan, id_column="id").run(df, results)
    assert summary["checks"] == {"required_it's": 1, "required_x$y": 0}
    # Spark's parquet write rewrites a ``${...}`` in a column name on its
    # own, so the last column is left out of the comparison
    lineage = spark.read.parquet(results + "/lineage")
    assert [c for c in lineage.columns if c.startswith(("fail_", "profile_"))][:-1] == [
        "fail_required_it's", "fail_required_x$y", *["profile_" + n for n in df.columns[:-1]]
    ]
    prof = {r.column: r for r in spark.read.parquet(results + "/profile").collect()}
    assert list(prof) == df.columns
    assert (prof["a`b"].min_value, prof["a`b"].max_value, prof["a`b"].null_rate) == ("p", "t", 1 / 3)
    assert (prof["it's"].approx_distinct, prof["it's"].min_len, prof["it's"].max_len) == (None, 0, 2)
    assert (prof["x$y"].min_value, prof["x$y"].max_value, prof["x$y"].approx_distinct) == ("3", "5", 3)
    assert (prof["two words"].min_value, prof["two words"].max_len) == ("", 3)
    assert (prof["é"].max_value, prof["é"].dtype) == ("2.5", "double")
    dollar = prof["v${spark.app.name}"]
    assert (dollar.min_value, dollar.max_value, dollar.approx_distinct) == ("7", "9", 3)


def test_json_columns_kernel_in_tablespec(spark):
    """TableSpec.json_columns: a free-form JSON text column validated by
    the Arrow kernel inside the same one-pass verdict projection as the
    native checks."""
    rows = [
        (1, '{"k": 5}'),
        (2, '{"k": -1}'),      # minimum violated
        (3, '{"nope": 1}'),    # required violated
        (4, 'not json'),       # malformed
        (5, None),             # null text
    ]
    df = spark.createDataFrame(rows, "id long, payload string")
    spec = TableSpec.from_dict(
        {
            "columns": {"id": {"type": "integer", "minimum": 0}},
            "json_columns": {
                "payload": {
                    "type": "object",
                    "required": ["k"],
                    "properties": {"k": {"type": "integer", "minimum": 0}},
                }
            },
        }
    )
    plan = compile_table_spec(spec, df.schema)
    ann = ValidationJob(plan, id_column="id").annotate(df)
    got = {r.id: r["chk_json_payload"] for r in ann.collect()}
    assert got == {1: True, 2: False, 3: False, 4: False, 5: False}


def test_domain_flag_large_dim_fallback(spark):
    """Above DOMAIN_ISIN_MAX distinct keys, membership switches from a
    driver-side isin set to a (broadcast-eligible) left join — a huge
    dimension must never be collected to the driver (VERDICT r1 #8)."""
    from jsonschema_spark.operators.referential import DOMAIN_ISIN_MAX, domain_flag

    fact = spark.createDataFrame(
        [(i,) for i in range(1000)] + [(None,)], "k: long"
    )
    big_dim = spark.range(50_000).select((F.col("id") * 2).alias("source_id"))
    assert 50_000 > DOMAIN_ISIN_MAX

    out = domain_flag(fact, "k", big_dim, "source_id", "ok")
    assert "Join" in out._jdf.queryExecution().executedPlan().toString()
    agg = out.agg(
        F.sum(F.col("ok").cast("long")).alias("n_ok"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert agg.n == 1001
    assert agg.n_ok == 501  # 500 even keys + the NULL row (not an orphan)

    # small dimension: isin path, identical semantics
    small = spark.range(10).select(F.col("id").alias("source_id"))
    out2 = domain_flag(fact, "k", small, "source_id", "ok")
    assert "Join" not in out2._jdf.queryExecution().executedPlan().toString()
    assert out2.filter("ok").count() == 11  # keys 0..9 + NULL


def test_resume_anti_joins_completed_units(tmp_path, spark, job, corpus_df):
    """Resume at unit = input-file scale: with a few thousand completed
    units the plan must anti-join the lineage table, never inline an isin
    literal list (millions of path strings at design scale)."""
    from jsonschema_spark.plans.job import drop_completed_units

    results = str(tmp_path / "many_units")
    full = job.run(corpus_df, results)
    lineage = spark.read.parquet(results + "/lineage")
    n_real = lineage.select("unit").distinct().count()

    # append 4000 synthetic completed units (zero-filled counts and NULL
    # profile partials, so totals are unchanged) — simulates resuming a
    # many-file run
    fill = [
        (
            F.lit(None).cast(f.dataType)
            if f.name.startswith("profile_")
            else F.lit(0).cast("long")
        ).alias(f.name)
        for f in lineage.schema.fields
        if f.name != "unit"
    ]
    spark.range(4000).select(
        F.concat(F.lit("file:///gone/part-"), F.col("id").cast("string")).alias("unit"),
        *fill,
    ).write.mode("append").parquet(results + "/lineage")

    resumed = job.run(corpus_df, results, resume=True)
    assert resumed["resumed_units_skipped"] == n_real + 4000
    assert resumed["n_rows"] == full["n_rows"] == N

    # plan shape: broadcast left-anti join, no literal unit list
    done = spark.read.parquet(results + "/lineage").select("unit").distinct()
    plan = (
        drop_completed_units(job.annotate(corpus_df), done)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert "file:///gone/part-7" not in plan  # no inlined unit literals
