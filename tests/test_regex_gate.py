"""Regex dialect gate (SURVEY §7): patterns whose meaning differs between
Python re (the engine's semantic reference) and java.util.regex (rlike)
must never silently diverge — the native lowering refuses them and the plan
builder reroutes through the evaluator-backed kernel.

Reference analog: the RE2 dialect pin at /root/reference/compiler.go:195-200.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_spark.compiler.columns import LoweringError, lower_predicate
from jsonschema_spark.spec.compile import compile_spec, regex_dialect_risks
from jsonschema_spark.spec.evaluate import validate_value


SAFE = [
    r"^doc-[0-9]{12}$",
    r"^Customer#00[0-9]+$",
    r"a+b*c?",
    r"^[a-z_]([a-z0-9_-]*)$",
    r"(foo|bar)\.baz",
    r"^\(paren\)\[br\]$",      # escaped metachars are fine
    r"x{2,5}",
    r"[]a]",                    # leading ] is literal in both dialects
]

DIVERGENT = [
    (r"foo\Z", "\\Z"),
    (r"(?i)abc", "inline flags"),
    (r"(?i:abc)d", "inline flags"),
    (r"^\d+$", "\\d"),
    (r"\w+", "\\w"),
    (r"[a-z&&b]", "'&&'"),
    (r"[a[b]]", "'['"),
    (r"(?P<g>x)\1", "(?P"),
    (r"a*+b", "possessive"),
    (r"\08", "\\0"),
]


def test_safe_patterns_have_no_risks():
    for pat in SAFE:
        assert regex_dialect_risks(pat) == [], pat


@pytest.mark.parametrize("pat,needle", DIVERGENT)
def test_divergent_patterns_flagged(pat, needle):
    risks = regex_dialect_risks(pat)
    assert risks, pat
    assert any(needle in r for r in risks), (pat, risks)


@pytest.mark.parametrize("pat,needle", DIVERGENT)
def test_native_lowering_refuses_divergent_patterns(spark, pat, needle):
    spec = compile_spec({"type": "string", "pattern": pat})
    with pytest.raises(LoweringError, match="rlike-safe"):
        lower_predicate(spec, F.col("s"), T.StringType())


def test_gate_applies_to_map_pattern_properties(spark):
    spec = compile_spec({"patternProperties": {r"^\d+$": {"type": "string"}}})
    with pytest.raises(LoweringError, match="rlike-safe"):
        lower_predicate(
            spec, F.col("m"), T.MapType(T.StringType(), T.StringType())
        )


# strings picked to demonstrate actual cross-dialect divergence: unicode
# digits (Python \d matches, Java \d does not), trailing newline (\Z), and
# unicode case folding under (?i)
CORPUS = [
    "doc-000000000001",
    "123",
    "٣٤٥",  # Arabic-Indic digits
    "foo",
    "foo\n",
    "ABC",
    "İstanbul",       # dotted capital I: unicode case folding
    "",
    None,
]


@pytest.mark.parametrize(
    "pat", [r"^\d+$", r"foo\Z", r"(?i)abc", r"^doc-[0-9]{12}$"]
)
def test_tablespec_verdicts_match_evaluator_on_divergent_corpus(spark, pat):
    """End-to-end: compile a TableSpec whose pattern may be dialect-gated;
    the per-row verdicts must equal the pure-Python evaluator on every
    string — i.e. the gate + kernel fallback preserves the engine's
    reference semantics where a raw rlike would silently diverge."""
    from jsonschema_spark.plans.plan import TableSpec, compile_table_spec
    from jsonschema_spark.plans.audit import plan_report
    from jsonschema_spark.plans.job import ValidationJob

    rows = [(i, s) for i, s in enumerate(CORPUS)]
    df = spark.createDataFrame(rows, "id long, s string")
    spec_dict = {"type": "string", "pattern": pat}
    plan = compile_table_spec(
        TableSpec.from_dict({"columns": {"s": spec_dict}}), df.schema
    )
    gated = bool(regex_dialect_risks(pat))
    verdict = df.select(plan.checks["col_s"].verdict)
    assert plan_report(verdict)["arrow_python"] == gated

    ann = ValidationJob(plan, id_column="id").annotate(df)
    got = {r.id: bool(r.chk_col_s) for r in ann.collect()}
    compiled = compile_spec(spec_dict)
    want = {i: not validate_value(compiled, s) for i, s in rows}
    assert got == want
