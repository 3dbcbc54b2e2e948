"""Hand-written draft-4 conformance table for the PAPER.md §1.2 semantics.

Every row is checked against the pure-Python evaluator (``spec.evaluate``)
and against the native Column lowering (``compiler.columns``) in one Spark
job. The last column says what the native leg must do:

- ``EXACT``: lower, and reproduce the table's verdict;
- ``DOUBLE``: the instance is a decimal with no exact double, so the native
  leg sees the nearest double; it must agree with the evaluator on that
  double (the table's verdict is the exact one — the documented gap of
  recasting JSON decimals into double columns);
- ``REFUSED``: outside what Spark holds exactly (or a keyword form the
  lowering leaves to the kernel); the lowering must refuse it (or warn
  about precision) rather than evaluate it.

No row is skipped, so neither backend can silently collect zero cases.

Schemas and instances are JSON text. The evaluator leg runs each row twice:
on the value from the engine's exact-number parser (so ``1e1000`` is
compared as a rational, never as a float), and on the text through
``validate_json``, which parses floats first and must re-parse exactly when
a float cannot settle the decision (the ``tie/`` rows).
"""

from __future__ import annotations

import json
import warnings
from fractions import Fraction

import pytest

from jsonschema_spark.spec.compile import compile_spec
from jsonschema_spark.spec.evaluate import Violation, is_valid, validate_json
from jsonschema_spark.spec.model import parse_json

EXACT, DOUBLE, REFUSED = "exact", "double", "refused"

# (id, schema, instance, valid, native)
TABLE = [
    # `integer` is decided by value, not by lexeme
    ("integer/plain", '{"type": "integer"}', "1", True, EXACT),
    ("integer/one-point-zero", '{"type": "integer"}', "1.0", True, EXACT),
    ("integer/exponent", '{"type": "integer"}', "1e2", True, EXACT),
    ("integer/fraction", '{"type": "integer"}', "1.5", False, EXACT),
    ("integer/string", '{"type": "integer"}', '"1"', False, EXACT),
    ("integer/negative-zero-frac", '{"type": "integer"}', "-0.0", True, EXACT),
    ("number/accepts-integer", '{"type": "number"}', "7", True, EXACT),
    # string length counts code points, not bytes or UTF-16 units
    ("length/astral-max", '{"maxLength": 2}', '"\U0001F4A9\U0001F4A9"', True, EXACT),
    ("length/astral-min", '{"minLength": 2}', '"\U0001F4A9"', False, EXACT),
    ("length/accented", '{"maxLength": 1}', '"é"', True, EXACT),
    ("length/escaped-astral", '{"minLength": 2}', '"\\ud83d\\udca9"', False, EXACT),
    ("length/combining", '{"maxLength": 1}', '"e\\u0301"', False, EXACT),
    # numbers compare exactly, beyond float64
    ("exact/minimum-equal", '{"minimum": 1e1000}', "1e1000", True, REFUSED),
    ("exact/minimum-below", '{"minimum": 1e1000}', "1e999", False, REFUSED),
    ("exact/exclusive-max", '{"maximum": 1e1000, "exclusiveMaximum": true}',
     "1e1000", False, REFUSED),
    ("exact/enum-huge", '{"enum": [1e1000]}', "10e999", True, REFUSED),
    ("exact/enum-huge-miss", '{"enum": [1e1000]}', "1e999", False, REFUSED),
    ("exact/integer-huge", '{"type": "integer"}', "1e1000", True, REFUSED),
    ("exact/decimal-bound", '{"maximum": 0.3}', "0.30000000000000004", False, EXACT),
    ("exact/multiple-of-tenth", '{"multipleOf": 0.1}', "0.3", True, DOUBLE),
    ("exact/multiple-of-half", '{"multipleOf": 0.5}', "2.5", True, EXACT),
    # enum / uniqueItems: structural equality, object-key order ignored,
    # numbers equal by value, arrays order-sensitive
    ("enum/key-order", '{"enum": [{"a": 1, "b": 2}]}', '{"b": 2, "a": 1}', True,
     REFUSED),
    ("enum/key-order-miss", '{"enum": [{"a": 1, "b": 2}]}', '{"b": 3, "a": 1}',
     False, REFUSED),
    ("enum/number-value", '{"enum": [10]}', "1e1", True, EXACT),
    ("enum/array-order", '{"enum": [[1, 2]]}', "[2, 1]", False, EXACT),
    ("unique/key-order", '{"uniqueItems": true}',
     '[{"a": 1, "b": 2}, {"b": 2, "a": 1}]', False, EXACT),
    ("unique/distinct-objects", '{"uniqueItems": true}', '[{"a": 1}, {"a": 2}]',
     True, EXACT),
    ("unique/number-value", '{"uniqueItems": true}', "[1, 1.0]", False, EXACT),
    ("unique/nested-arrays", '{"uniqueItems": true}', "[[1, 2], [2, 1]]", True, EXACT),
]

# Text-path ties: the instance's nearest double cannot decide the keyword
# (it equals the bound's double, is integral, or equals an enum number), so
# validate_json must re-parse the text exactly. Evaluator-only (native None):
# a double column holds the nearest double, and the native leg compares it
# with the bound's double, so a native leg would test that rounding instead.
TIES = [
    ("tie/maximum-equal", '{"maximum": 0.1}', "0.1", True, None),
    ("tie/maximum-above", '{"maximum": 0.1}', "0.10000000000000000001", False, None),
    ("tie/integer-near-one", '{"type": "integer"}', "1.0000000000000001", False, None),
    ("tie/enum-near-one", '{"enum": [1]}', "1.0000000000000001", False, None),
    ("tie/minimum-overflow", '{"minimum": 1e1000}', "1e400", False, None),
]

IDS = [row[0] for row in TABLE + TIES]


@pytest.mark.parametrize("case_id,schema,instance,valid,native", TABLE + TIES, ids=IDS)
def test_evaluator(case_id, schema, instance, valid, native):
    assert is_valid(compile_spec(schema), parse_json(instance)) is valid
    assert (not validate_json(compile_spec(schema), instance)) is valid


# RFC 8259 has no NaN or Infinity; Python's decoder accepts the tokens
NOT_JSON = [
    ("nan/minimum", '{"minimum": 0}', "NaN"),
    ("infinity/number", '{"type": "number"}', "Infinity"),
    ("neg-infinity/number", '{"type": "number"}', "-Infinity"),
    ("nan/in-array", '{"items": {"minimum": 0}}', "[NaN]"),
]


@pytest.mark.parametrize(
    "case_id,schema,instance", NOT_JSON, ids=[row[0] for row in NOT_JSON]
)
def test_non_json_number_tokens_are_invalid_json(case_id, schema, instance):
    assert validate_json(compile_spec(schema), instance) == [
        Violation("", "json", "invalid json")
    ]
    with pytest.raises(ValueError):
        parse_json(instance)


def _lower(schema: str, instance: str):
    """(predicate Column, None) or (None, reason) for one table row."""
    from jsonschema_spark.compiler.columns import (
        LoweringError,
        PrecisionWarning,
        lower_predicate,
    )
    from infer import Unrepresentable, infer_type, to_literal

    value = parse_json(instance)
    with warnings.catch_warnings():
        warnings.simplefilter("error", PrecisionWarning)
        try:
            dtype = infer_type(value)
            return lower_predicate(
                compile_spec(schema), to_literal(value, dtype), dtype
            ), None
        except (Unrepresentable, LoweringError, PrecisionWarning) as exc:
            return None, f"{type(exc).__name__}: {exc}"


def _as_double(value):
    """The value as a DoubleType column holds it."""
    if isinstance(value, Fraction):
        return Fraction(float(value))
    if isinstance(value, list):
        return [_as_double(v) for v in value]
    if isinstance(value, dict):
        return {k: _as_double(v) for k, v in value.items()}
    return value


def test_native_lowering(spark):
    preds, want, ids, unrefused = [], [], [], []
    for case_id, schema, instance, valid, native in TABLE:
        pred, reason = _lower(schema, instance)
        if native == REFUSED:
            if pred is not None:
                unrefused.append(case_id)
            continue
        assert pred is not None, f"{case_id} did not lower: {reason}"
        if native == DOUBLE:
            valid = is_valid(compile_spec(schema), _as_double(parse_json(instance)))
        preds.append(pred.alias(f"c{len(preds)}"))
        want.append(valid)
        ids.append(case_id)
    assert unrefused == [], f"lowered rows outside Spark's exact range: {unrefused}"

    got = spark.range(1).select(*preds).collect()[0]
    mismatches = [
        f"{ids[i]}: got {got[i]}, want {want[i]}"
        for i in range(len(preds))
        if got[i] is not want[i]
    ]
    assert not mismatches, "\n".join(mismatches)


def test_required_order_is_the_same_in_every_process():
    """Missing members come out in declared ``required`` order, then the
    dependency names, each once — never in ``set`` order, which moves with
    the string hash seed."""
    import os
    import subprocess
    import sys

    code = (
        "import json\n"
        "from jsonschema_spark.spec.compile import compile_spec\n"
        "from jsonschema_spark.spec.evaluate import validate_json\n"
        "s = compile_spec({'required': ['zeta', 'alpha', 'mid'],"
        " 'dependencies': {'x': ['beta', 'alpha', 'omega']}})\n"
        "print(json.dumps([v.message for v in validate_json(s, '{\"x\": 1}')]))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    runs = []
    for seed in ("0", "1"):
        env = {**os.environ, "PYTHONHASHSEED": seed, "PYTHONPATH": root}
        res = subprocess.run(
            [sys.executable, "-c", code], env=env, capture_output=True, text=True,
            timeout=60, check=True,
        )
        runs.append(res.stdout)
    want = [
        f"required member {k!r} is missing"
        for k in ("zeta", "alpha", "mid", "beta", "omega")
    ]
    assert [json.loads(r) for r in runs] == [want, want]
