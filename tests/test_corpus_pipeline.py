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
    field; approx_distinct (HLL, lgConfigK 9: rsd 1.04/sqrt(512)) is within
    3 rsd of the exact distinct count."""
    from jsonschema_spark.operators.stats import column_profile

    results = str(tmp_path / "profiled")
    ValidationJob(job.plan, dims=job.dims).run(corpus_df, results)
    got = {r.column: r.asDict() for r in spark.read.parquet(results + "/profile").collect()}
    want = {r.column: r.asDict() for r in column_profile(corpus_df).collect()}
    assert list(got) == corpus_df.columns
    exact = corpus_df.agg(
        *[F.countDistinct(c).alias(c) for c in corpus_df.columns]
    ).collect()[0]
    rsd = 1.04 / 512 ** 0.5
    for name in corpus_df.columns:
        assert abs(got[name].pop("approx_distinct") - exact[name]) <= 3 * rsd * exact[name]
        want[name].pop("approx_distinct")
        assert got[name] == want[name], name


def test_run_pass_structure(spark, job, corpus_df, tmp_path):
    """run() is four input passes plus one lineage read: at most 16 Spark
    jobs on this corpus (no read-back counts, no separate profile scan)."""
    sc = spark.sparkContext
    group = "test_run_pass_structure"
    sc.setJobGroup(group, "run()")
    try:
        ValidationJob(job.plan, dims=job.dims).run(corpus_df, str(tmp_path / "r"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= 16


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


def test_annotate_runs_in_codegen_without_lambdas(job, corpus_df):
    """The corpus spec's annotate projection has no interpreted lambda (the
    ``items`` NULL guard is ``array_contains``, not ``array_compact``'s
    ``filter``), so each of its projections is whole-stage codegen'd."""
    plan = job.annotate(corpus_df)._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan
    projects = [line for line in plan.splitlines() if "Project [" in line]
    assert projects and all("*(" in line for line in projects), plan


def test_run_on_map_column(spark, tmp_path):
    """A MAP column has no ordering: the profile leaves its min/max NULL
    instead of failing the run, and still counts its distinct values."""
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
    assert prof["doc"].null_rate == 0.25 and prof["doc"].approx_distinct == 2
    assert (prof["id"].min_value, prof["id"].max_value) == ("1", "4")


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
