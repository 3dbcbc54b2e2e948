"""Struct-path violation detail on the native path (VERDICT r1 #7): one
lowering walk yields per-path predicates so violation rows carry the
failing field location — the reference's path-wrapped errors
(validate.go:74,346,500) — while their conjunction stays exactly the
single-column predicate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_spark.compiler.columns import lower_check, lower_predicate
from jsonschema_spark.plans.audit import plan_report
from jsonschema_spark.plans.job import ValidationJob
from jsonschema_spark.plans.plan import TableSpec, compile_table_spec
from jsonschema_spark.spec.compile import compile_spec

DOC_TYPE = (
    "id long, doc struct<name: string, n: long,"
    " addr: struct<street: string, zip: string>>"
)

DOC_SPEC = {
    "type": "object",
    "required": ["name"],
    "properties": {
        "name": {"type": "string", "minLength": 3},
        "n": {"minimum": 0},
        "addr": {
            "type": "object",
            "properties": {
                "street": {"minLength": 5},
                "zip": {"pattern": "^[0-9]{5}$"},
            },
            "required": ["zip"],
        },
    },
}

ROWS = [
    (1, ("alice", 5, ("long street", "12345"))),   # all pass
    (2, ("al", 5, ("long street", "12345"))),      # /name too short
    (3, ("alice", -1, ("long street", "12345"))),  # /n below minimum
    (4, ("alice", 5, ("st", "12345"))),            # /addr/street too short
    (5, ("alice", 5, ("long street", "12x45"))),   # /addr/zip bad pattern
    (6, ("alice", 5, ("long street", None))),      # /addr required zip -> /addr root
    (7, (None, 5, ("long street", "12345"))),      # required name -> root ''
    (8, ("al", 5, ("st", "12x45"))),               # three paths at once
    (9, None),                                     # null object: type check at root
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, DOC_TYPE)


def _failure_paths(plan, name, annotated) -> set:
    """(id, path) of every entry in check ``name``'s compiled failures."""
    rows = annotated.select("id", plan.checks[name].failures.alias("f")).collect()
    return {(r.id, e.path) for r in rows for e in r.f}


def _on_kernel(df, check) -> bool:
    """True iff the check's verdict runs in the Arrow-batched kernel."""
    return plan_report(df.select(check.verdict))["arrow_python"]


def _conjunction(paths: dict):
    conj = F.lit(True)
    for pred in paths.values():
        conj = conj & pred
    return conj


def test_named_conjunction_equals_single_predicate(spark, docs):
    compiled = compile_spec(DOC_SPEC)
    dtype = docs.schema["doc"].dataType
    single = lower_predicate(compiled, F.col("doc"), dtype)
    parts = lower_check(compiled, F.col("doc"), dtype)
    assert "" in parts.paths and "/name" in parts.paths and "/addr/zip" in parts.paths
    assert parts.entry_cases is None
    conj = _conjunction(parts.paths)
    mismatches = docs.filter((single != conj) | (single != parts.verdict)).count()
    assert mismatches == 0


def test_violation_rows_carry_field_paths(spark, docs):
    plan = compile_table_spec(
        TableSpec.from_dict({"columns": {"doc": DOC_SPEC}}), docs.schema
    )
    job = ValidationJob(plan, id_column="id")
    ann = job.annotate(docs)
    got = {
        (r.id, r.check, r.path)
        for r in job.violations(ann).collect()
    }
    assert _failure_paths(plan, "col_doc", ann) == {(i, p) for i, _, p in got}
    assert got == {
        (2, "col_doc", "/name"),
        (3, "col_doc", "/n"),
        (4, "col_doc", "/addr/street"),
        (5, "col_doc", "/addr/zip"),
        (6, "col_doc", "/addr"),   # nested `required` fails at the addr node
        (7, "col_doc", ""),        # object-level required -> root path
        (8, "col_doc", "/name"),
        (8, "col_doc", "/addr/street"),
        (8, "col_doc", "/addr/zip"),
        (9, "col_doc", ""),        # null object fails `type: object` at root
    }


def test_scalar_checks_report_root_path(spark):
    df = spark.createDataFrame([(1, 5), (2, -3)], "id long, v long")
    plan = compile_table_spec(
        TableSpec.from_dict({"columns": {"v": {"minimum": 0}}}), df.schema
    )
    job = ValidationJob(plan, id_column="id")
    ann = job.annotate(df)
    rows = job.violations(ann).collect()
    assert [(r.id, r.check, r.path, r.detail) for r in rows] == [
        (2, "col_v", "", '{"minimum":0}')
    ]
    assert _failure_paths(plan, "col_v", ann) == {(2, "")}


def test_detail_carries_violated_fragment(spark, docs):
    """The detail column holds the spec fragment at the failing path —
    the reference's keyword-bearing error text, statically folded."""
    plan = compile_table_spec(
        TableSpec.from_dict({"columns": {"doc": DOC_SPEC}}), docs.schema
    )
    job = ValidationJob(plan, id_column="id")
    by_key = {
        (r.id, r.path): r.detail
        for r in job.violations(job.annotate(docs)).collect()
    }
    assert by_key[(2, "/name")] == '{"minLength":3,"type":"string"}'
    assert by_key[(5, "/addr/zip")] == '{"pattern":"^[0-9]{5}$"}'
    assert by_key[(3, "/n")] == '{"minimum":0}'


def test_additional_properties_false_paths(spark):
    df = spark.createDataFrame(
        [(1, ("a", None)), (2, ("a", "extra"))],
        "id long, doc struct<k: string, junk: string>",
    )
    spec = {"properties": {"k": {"type": "string"}}, "additionalProperties": False}
    plan = compile_table_spec(
        TableSpec.from_dict({"columns": {"doc": spec}}), df.schema
    )
    job = ValidationJob(plan, id_column="id")
    rows = {(r.id, r.path) for r in job.violations(job.annotate(df)).collect()}
    assert rows == {(2, "/junk")}


def test_null_object_fails_at_root_when_type_object(spark, docs):
    """Row 9 (null struct): draft-4 'type: object' rejects null — the
    violation lands at the root path, not a field."""
    plan = compile_table_spec(
        TableSpec.from_dict({"columns": {"doc": DOC_SPEC}}), docs.schema
    )
    job = ValidationJob(plan, id_column="id")
    rows = {
        (r.id, r.path)
        for r in job.violations(job.annotate(docs)).collect()
        if r.id == 9
    }
    assert rows == {(9, "")}


def test_kernel_json_violations_carry_evaluator_paths(spark):
    """json_columns checks surface the evaluator's own error location
    (first_path/keyword/message from the verdict struct) in violation
    rows — the kernel runs once for both the boolean and the detail."""
    rows = [
        (1, '{"k": 5}'),
        (2, '{"k": -1}'),
        (3, '{"nope": 1}'),
        (4, "not json"),
        (5, '{"k": NaN}'),  # not JSON (RFC 8259), though Python's decoder takes it
    ]
    df = spark.createDataFrame(rows, "id long, payload string")
    spec = TableSpec.from_dict(
        {
            "json_columns": {
                "payload": {
                    "type": "object",
                    "required": ["k"],
                    "properties": {"k": {"type": "integer", "minimum": 0}},
                }
            }
        }
    )
    plan = compile_table_spec(spec, df.schema)
    job = ValidationJob(plan, id_column="id")
    got = {
        r.id: (r.check, r.path, r.detail)
        for r in job.violations(job.annotate(df)).collect()
    }
    assert set(got) == {2, 3, 4, 5}
    assert got[2] == ("json_payload", "/k", "minimum: value must be >= 0")
    assert got[3][1] == "" and got[3][2].startswith("required")
    assert got[4][2].startswith("json")
    assert got[5] == ("json_payload", "", "json: invalid json")


def test_precision_warning_beyond_decimal38(spark):
    """VERDICT r1 missing #3: bounds beyond Decimal(38) emit a compile-time
    PrecisionWarning and compile to the double approximation (saturating to
    inf for values beyond double range, like the reference's 1e1000 case)."""
    from jsonschema_spark.compiler.columns import PrecisionWarning

    compiled = compile_spec({"minimum": 10**1000})
    with pytest.warns(PrecisionWarning):
        pred = lower_predicate(compiled, F.col("v"), T.DoubleType())
    df = spark.createDataFrame([(1.0,), (float("inf"),)], "v: double")
    assert [r[0] for r in df.select(pred).collect()] == [False, True]

    # exact-range bounds stay silent
    import warnings as W

    with W.catch_warnings():
        W.simplefilter("error", PrecisionWarning)
        lower_predicate(
            compile_spec({"minimum": 0.07, "maximum": 10**30}),
            F.col("v"),
            T.DoubleType(),
        )


def test_precision_warning_on_struct_column(spark):
    """A bound beyond Decimal(38) inside a struct check keeps the double
    approximation (the kernel takes no struct cell), so compiling the
    table spec warns; the same bound on a plain column goes to the
    kernel's exact math and stays silent."""
    import warnings as W
    from decimal import Decimal

    from jsonschema_spark.compiler.columns import PrecisionWarning

    bound = {"minimum": 10**38 + 7}
    near = Decimal(10**38 - 1)
    nested = spark.createDataFrame([((near,),)], "s struct<a: decimal(38,0)>")
    with pytest.warns(PrecisionWarning):
        compile_table_spec(
            TableSpec.from_dict({"columns": {"s": {"properties": {"a": bound}}}}),
            nested.schema,
        )

    flat = spark.createDataFrame([(near,)], "a decimal(38,0)")
    with W.catch_warnings():
        W.simplefilter("error", PrecisionWarning)
        plan = compile_table_spec(TableSpec.from_dict({"columns": {"a": bound}}), flat.schema)
    assert _on_kernel(flat, plan.checks["col_a"])
    assert flat.filter(~plan.checks["col_a"].verdict).count() == 1


MAP_SPEC = {
    "type": "object",
    "required": ["a"],
    "properties": {
        "a": {"type": "integer", "minimum": 0},
        "b": {"type": "integer", "maximum": 10},
    },
    "additionalProperties": False,
}

MAP_ROWS = [
    (1, {"a": 5, "b": 3}),    # all pass
    (2, {"a": -1, "b": 3}),   # /a below minimum
    (3, {"a": 5, "b": 99}),   # /b above maximum
    (4, {"b": 3}),            # required a -> root ''
    (5, {"a": 5, "x": 1}),    # additionalProperties (dynamic key) -> root ''
    (6, None),                # null object -> type check at root
]


@pytest.fixture(scope="module")
def map_docs(spark):
    return spark.createDataFrame(MAP_ROWS, "id long, doc map<string, long>")


def test_map_named_conjunction_equals_single_predicate(spark, map_docs):
    """Declared keys get their own paths; the undeclared key of row 5 is
    matched per entry (additionalProperties: false), so the verdict is the
    paths' conjunction AND no failed entry case."""
    compiled = compile_spec(MAP_SPEC)
    dtype = map_docs.schema["doc"].dataType
    single = lower_predicate(compiled, F.col("doc"), dtype)
    parts = lower_check(compiled, F.col("doc"), dtype)
    assert set(parts.paths) == {"", "/a", "/b"}
    assert parts.entry_cases is not None
    assert map_docs.filter(single != parts.verdict).count() == 0
    conj = _conjunction(parts.paths)
    assert {r.id for r in map_docs.filter(single != conj).collect()} == {5}


def test_map_violations_pinpoint_declared_keys(spark, map_docs):
    """Map columns report the failing DECLARED key in the path — the
    reference's per-key wrapped object errors (validate.go:500) — AND
    (VERDICT r3 #4) dynamic keys rejected by additionalProperties report
    their runtime key name too, not the check-level root."""
    plan = compile_table_spec(
        TableSpec.from_dict({"columns": {"doc": MAP_SPEC}}), map_docs.schema
    )
    job = ValidationJob(plan, id_column="id")
    ann = job.annotate(map_docs)
    got = {(r.id, r.path) for r in job.violations(ann).collect()}
    assert _failure_paths(plan, "col_doc", ann) == got
    assert got == {
        (2, "/a"),
        (3, "/b"),
        (4, ""),    # object-level required -> root
        (5, "/x"),  # additionalProperties: false -> the offending key
        (6, ""),    # null object fails type at root
    }


DYN_SPEC = {
    "type": "object",
    "properties": {"a": {"type": "integer", "minimum": 0}},
    "patternProperties": {"^n_": {"minimum": 0}},
    "additionalProperties": {"maximum": 100},
}

DYN_ROWS = [
    (1, {"a": 5, "n_x": 1, "other": 50}),    # all pass
    (2, {"a": 5, "n_bad": -3}),              # pattern key fails -> /n_bad
    (3, {"a": 5, "free": 999}),              # additional schema fails -> /free
    (4, {"a": -1, "n_ok": 2}),               # declared key fails -> /a (static)
    (5, {"n_bad": -1, "wild": 101, "z": 3}), # two dynamic failures at once
]


@pytest.fixture(scope="module")
def dyn_docs(spark):
    return spark.createDataFrame(DYN_ROWS, "id long, doc map<string, long>")


def test_dynamic_key_violations_carry_runtime_paths(spark, dyn_docs):
    """VERDICT r3 #4: keys matched only by patternProperties /
    additionalProperties produce per-key '/name' paths computed at runtime
    (reference validate.go:471-500), with the violated keyword fragment in
    detail."""
    plan = compile_table_spec(
        TableSpec.from_dict({"columns": {"doc": DYN_SPEC}}), dyn_docs.schema
    )
    job = ValidationJob(plan, id_column="id")
    ann = job.annotate(dyn_docs)
    rows = job.violations(ann).collect()
    got = {(r.id, r.path) for r in rows}
    assert _failure_paths(plan, "col_doc", ann) == got
    assert got == {
        (2, "/n_bad"),
        (3, "/free"),
        (4, "/a"),
        (5, "/n_bad"),
        (5, "/wild"),
    }
    details = {(r.id, r.path): r.detail for r in rows}
    assert details[(2, "/n_bad")] == '{"patternProperties":{"^n_":{"minimum":0}}}'
    assert details[(3, "/free")] == '{"additionalProperties":{"maximum":100}}'


def test_dynamic_conjunction_equals_single_predicate(spark, dyn_docs, map_docs):
    """One walk, two uses: the verdict joined from the parts equals
    lower_predicate, and the check's failure entries, built from the same
    parts (static paths and runtime key paths), are empty exactly where it
    holds — nothing dropped, nothing reported on a passing row."""
    for spec, docs in ((DYN_SPEC, dyn_docs), (MAP_SPEC, map_docs)):
        compiled = compile_spec(spec)
        dtype = docs.schema["doc"].dataType
        single = lower_predicate(compiled, F.col("doc"), dtype)
        parts = lower_check(compiled, F.col("doc"), dtype)
        assert parts.entry_cases is not None
        plan = compile_table_spec(
            TableSpec.from_dict({"columns": {"doc": spec}}), docs.schema
        )
        ann = ValidationJob(plan, id_column="id").annotate(docs)
        failures = plan.checks["col_doc"].failures
        wrong = (
            (single != parts.verdict)
            | (single != F.col("chk_col_doc"))
            | (single != (F.size(failures) == 0))
        )
        assert ann.filter(wrong).count() == 0


def test_beyond_decimal38_routes_to_exact_kernel(spark):
    """A bound past Spark's exact range (long / Decimal(38)) must not be
    approximated natively: compile_table_spec routes the check to the
    evaluator kernel's Fraction math (reference big.Rat semantics,
    internal/jsonequal/equal.go:39-79 / equal_test.go:45). The case below
    is adversarial: v = 10^38-1 < B = 10^38+7 exactly, but double(v) ==
    double(B), so the native approximation would wrongly accept."""
    from decimal import Decimal

    B = 10**38 + 7
    rows = [(1, Decimal(10**38 - 1)), (2, Decimal(10**37))]
    df = spark.createDataFrame(rows, "id long, v decimal(38,0)")

    plan = compile_table_spec(
        TableSpec.from_dict({"columns": {"v": {"minimum": B}}}), df.schema
    )
    assert _on_kernel(df, plan.checks["col_v"])

    job = ValidationJob(plan, id_column="id")
    got = {r.id for r in job.violations(job.annotate(df)).collect()}
    assert got == {1, 2}  # both below B exactly — the evaluator's verdict

    # evaluator parity on the same values (suite-style cross-check)
    from jsonschema_spark.spec.evaluate import is_valid

    compiled = compile_spec({"minimum": B})
    assert not is_valid(compiled, 10**38 - 1)
    assert not is_valid(compiled, 10**37)

    # 1e1000: beyond double range entirely — kernel still exact
    plan2 = compile_table_spec(
        TableSpec.from_dict({"columns": {"v": {"maximum": 10**1000}}}), df.schema
    )
    assert _on_kernel(df, plan2.checks["col_v"])
    job2 = ValidationJob(plan2, id_column="id")
    assert job2.violations(job2.annotate(df)).count() == 0  # all <= 1e1000

    # in-range bounds stay on the native codegen path
    plan3 = compile_table_spec(
        TableSpec.from_dict({"columns": {"v": {"minimum": 0}}}), df.schema
    )
    assert not _on_kernel(df, plan3.checks["col_v"])


def test_struct_field_paths_escape_pointer_characters(spark):
    """A field named 'a/b~c' is one RFC 6901 token: '/a~1b~0c'."""
    df = spark.createDataFrame([(1, (5,)), (2, (-1,))], "id long, doc struct<`a/b~c`: long>")
    spec = {"properties": {"a/b~c": {"minimum": 0}}}
    plan = compile_table_spec(TableSpec.from_dict({"columns": {"doc": spec}}), df.schema)
    job = ValidationJob(plan, id_column="id")
    rows = job.violations(job.annotate(df)).collect()
    assert [(r.id, r.path, r.detail) for r in rows] == [(2, "/a~1b~0c", '{"minimum":0}')]


def test_map_key_paths_escape_pointer_characters(spark):
    """Declared (static) and dynamic map keys escape '~' and '/' alike."""
    df = spark.createDataFrame(
        [(1, {"a/b": 1}), (2, {"a/b": -1}), (3, {"x/y~z": 1})],
        "id long, doc map<string, long>",
    )
    spec = {"properties": {"a/b": {"minimum": 0}}, "additionalProperties": False}
    plan = compile_table_spec(TableSpec.from_dict({"columns": {"doc": spec}}), df.schema)
    job = ValidationJob(plan, id_column="id")
    got = {(r.id, r.path) for r in job.violations(job.annotate(df)).collect()}
    assert got == {(2, "/a~1b"), (3, "/x~1y~0z")}


def test_violations_of_a_plan_without_row_checks(spark, tmp_path):
    """A spec with only table-level checks has no per-row check array:
    violations() is empty with its usual columns, and run() completes."""
    df = spark.createDataFrame([(1,), (1,), (2,)], "id long")
    plan = compile_table_spec(TableSpec.from_dict({"unique": ["id"]}), df.schema)
    job = ValidationJob(plan, id_column="id")
    violations = job.violations(job.annotate(df))
    assert violations.columns == ["id", "check", "path", "detail"]
    assert violations.count() == 0
    summary = job.run(df, str(tmp_path / "results"))
    assert summary["n_invalid"] == 0 and summary["duplicates"] == {"id": 1}


def test_root_detail_survives_sql_quoting(spark):
    """A root check's failure entry is built as one SQL expression: its
    detail (quotes, backslashes, newlines, non-ASCII, ``${...}`` that the
    SQL parser would substitute) comes back verbatim, and a column name
    that needs quoting still resolves."""
    df = spark.createDataFrame([(1, "it's"), (2, "ok"), (3, None)], "id long, `we ird` string")
    pattern = "^[a-z]+\\d?$"  # a regex with a backslash escape
    row_check = "`we ird` <> 'it\\'s' AND `we ird` RLIKE '^o\\\\w'\n-- é ✓"
    spec = {
        "columns": {
            "we ird": {"pattern": pattern, "not": {"enum": ["${env:HOME}", "${system:user.name}"]}}
        },
        "required": ["we ird"],
        "row_checks": {"quote": row_check},
    }
    plan = compile_table_spec(TableSpec.from_dict(spec), df.schema)
    job = ValidationJob(plan, id_column="id")
    rows = job.violations(job.annotate(df)).collect()
    got = {(r.id, r.check): (r.path, r.detail) for r in rows}
    assert got == {
        (1, "col_we ird"): (
            "",
            '{"not":{"enum":["${env:HOME}","${system:user.name}"]},"pattern":"^[a-z]+\\\\d?$"}',
        ),
        (1, "row_quote"): ("", row_check),
        (3, "required_we ird"): ("", None),
        (3, "row_quote"): ("", row_check),
    }
