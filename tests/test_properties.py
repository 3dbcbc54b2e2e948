"""Hypothesis metamorphic properties for the spec evaluator.

The official suite pins POINT cases; the seeded fuzzers pin
Spark-vs-evaluator agreement. This layer pins the evaluator's own
ALGEBRA on arbitrary generated JSON values and schemas — invariants the
reference's semantics imply for every input (validate.go:100-161
combinator composition):

- ``not`` is an involution at the verdict level
- single-child ``allOf``/``anyOf``/``oneOf`` are identity wrappers
- a singleton ``enum`` accepts exactly structural equality
- every value satisfies its own JSON type; integral numbers also
  satisfy ``integer`` (value-not-lexeme, validate.go:220-229)
- the float-first text path agrees with the exact path on decimal texts
  at and next to numeric bounds, ``multipleOf`` and ``enum`` values

Pure Python — no Spark session.
"""

from __future__ import annotations

import math
from fractions import Fraction

from hypothesis import given, settings, strategies as st

from jsonschema_spark.spec.compile import compile_spec
from jsonschema_spark.spec.evaluate import is_valid, validate_json, validate_value
from jsonschema_spark.spec.model import json_equal, json_type, parse_json

# JSON values: no NaN/inf (not JSON), bounded depth/size for speed
_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(10**12), max_value=10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=8),
)
json_values = st.recursive(
    _scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(max_size=6), children, max_size=4),
    ),
    max_leaves=10,
)

# schemas: a pool of small keyword dicts the compiler accepts
_schemas = st.one_of(
    st.just({"type": "integer"}),
    st.just({"type": ["string", "null"]}),
    st.just({"type": "object"}),
    st.just({"minimum": 0}),
    st.just({"maximum": 3, "exclusiveMaximum": True}),
    st.just({"multipleOf": 2}),
    st.just({"minLength": 1}),
    st.just({"maxLength": 3}),
    st.just({"pattern": "^a"}),
    st.just({"minItems": 1}),
    st.just({"uniqueItems": True}),
    st.just({"items": {"type": "integer"}}),
    st.just({"required": ["a"]}),
    st.just({"properties": {"a": {"minimum": 2}}}),
    st.just({"enum": [1, "a", [1, 2], {"k": 1}]}),
    st.just({"not": {"type": "number"}}),
    st.just({"anyOf": [{"type": "string"}, {"minimum": 5}]}),
)

_SETTINGS = dict(max_examples=150, deadline=None)


@settings(**_SETTINGS)
@given(schema=_schemas, value=json_values)
def test_not_negates_verdict(schema, value):
    plain = is_valid(compile_spec(schema), value)
    negated = is_valid(compile_spec({"not": schema}), value)
    assert negated == (not plain)


@settings(**_SETTINGS)
@given(schema=_schemas, value=json_values)
def test_double_not_is_identity(schema, value):
    plain = is_valid(compile_spec(schema), value)
    wrapped = is_valid(compile_spec({"not": {"not": schema}}), value)
    assert wrapped == plain


@settings(**_SETTINGS)
@given(schema=_schemas, value=json_values)
def test_single_child_combinators_are_identity(schema, value):
    plain = is_valid(compile_spec(schema), value)
    for kw in ("allOf", "anyOf", "oneOf"):
        assert is_valid(compile_spec({kw: [schema]}), value) == plain


@settings(**_SETTINGS)
@given(a=json_values, b=json_values)
def test_singleton_enum_is_structural_equality(a, b):
    accepted = is_valid(compile_spec({"enum": [a]}), b)
    assert accepted == json_equal(a, b)


@settings(**_SETTINGS)
@given(value=json_values)
def test_value_satisfies_own_type(value):
    t = json_type(value)
    assert is_valid(compile_spec({"type": t}), value)
    if t == "number" and isinstance(value, (int, float)):
        integral = isinstance(value, int) or float(value).is_integer()
        assert is_valid(compile_spec({"type": "integer"}), value) == integral


@settings(**_SETTINGS)
@given(schema=_schemas, value=json_values)
def test_oneof_with_disjoint_pair(schema, value):
    """oneOf [S, not S] is a tautology: exactly one branch always
    matches, whatever S and the value are."""
    assert is_valid(
        compile_spec({"oneOf": [schema, {"not": schema}]}), value
    )


# decimal texts "<mantissa>e<exponent>", small and past the double range
_decimals = st.builds(
    "{}e{}".format,
    st.integers(min_value=-(10**20), max_value=10**20),
    st.one_of(st.integers(-30, 30), st.integers(-330, 330)),
)


def _near(bound: str) -> st.SearchStrategy:
    """Texts equal to ``bound``, past double precision on either side of
    it, or on its double and the double's neighbours."""
    m, e = (int(part) for part in bound.split("e"))
    texts = [
        bound,
        f"{m}.0e{e}",
        f"{m * 10**20 - 1}e{e - 20}",
        f"{m * 10**20 + 1}e{e - 20}",
    ]
    try:
        f = float(Fraction(bound))
    except OverflowError:
        f = math.inf
    if math.isfinite(f):
        texts += [repr(f), repr(math.nextafter(f, math.inf)), repr(math.nextafter(f, -math.inf))]
    return st.sampled_from(texts)


@st.composite
def _numeric_cases(draw):
    bound = draw(_decimals)
    kind = draw(st.sampled_from(
        ["minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum",
         "multipleOf", "enum", "integer", "uniqueItems"]
    ))
    text = draw(_near(bound))
    if kind.startswith("exclusive"):
        bound_kw = "minimum" if kind == "exclusiveMinimum" else "maximum"
        schema = '{"%s": %s, "%s": true}' % (bound_kw, bound, kind)
    elif kind == "multipleOf":
        schema = '{"multipleOf": %s}' % bound.lstrip("-")
        if Fraction(bound) == 0:
            schema = '{"multipleOf": 1e-3}'
    elif kind == "enum":
        schema = '{"enum": [%s, [%s]]}' % (bound, bound)
        text = draw(st.sampled_from([text, f"[{text}]"]))
    elif kind == "integer":
        schema = '{"type": "integer"}'
    elif kind == "uniqueItems":
        schema = '{"uniqueItems": true}'
        text = f"[{text}, {bound}]"
    else:
        schema = '{"%s": %s}' % (kind, bound)
    return schema, text


@settings(max_examples=400, deadline=None)
@given(case=_numeric_cases())
def test_float_first_text_path_matches_exact_values(case):
    """validate_json parses floats first and re-parses exactly on a tie;
    its violations must be those of the exact parse."""
    schema, text = case
    compiled = compile_spec(schema)
    assert validate_json(compiled, text) == validate_value(compiled, parse_json(text))
