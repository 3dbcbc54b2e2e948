"""Evaluator verdicts against an independent draft-4 implementation.

python-jsonschema's ``Draft4Validator`` is installed next to Spark but the
package never imports it, so it is a second opinion the evaluator does not
share code with. Two of its choices are bent to PAPER.md §1.2 before any
verdict is compared:

- ``integer`` is redefined by value (``1.0``, ``1e2`` and ``1e1000`` are
  integers); python-jsonschema decides it by Python type;
- schemas and instances are parsed with ``parse_float=Decimal``, so
  numbers compare exactly, as the evaluator's ``Fraction`` does.

Cases: ``RENDER_CORPUS`` (one failing document per keyword branch), the
conformance table with its text-path ties, and hand-written ``$ref``/``id``
cases. Remote refs resolve from ``tests/data/remotes`` on both sides: a
``file_map_resolver`` for the engine, a ``referencing`` registry for the
oracle (which therefore never fetches anything).

Only verdicts are compared; error paths and messages have another form. A
spec the engine refuses (``SpecError``) and a ``$ref`` the oracle cannot
resolve both read ``REFUSED``. A disagreement fails unless the case is in
``DIVERGENCES``, and a listed case that stops disagreeing fails too.

Limits:

- python-jsonschema matches ``pattern`` with Python ``re``, as the
  evaluator does, so it cannot check the regex dialect;
- its ``multipleOf`` on a Decimal divides within the decimal context's
  precision (28 digits), so very long decimals are not a fair question;
- this is the evaluator only: the native lowering and the kernel answer to
  it through their own tests against the evaluator;
- it is separate from the official-suite floors and does not replace them.
"""

from __future__ import annotations

import functools
import json
import os
from decimal import Decimal

import pytest
from jsonschema import Draft4Validator, validators
from referencing import Registry
from referencing.exceptions import Unresolvable
from referencing.jsonschema import DRAFT4

from jsonschema_spark.spec.compile import SpecError, compile_spec, file_map_resolver
from jsonschema_spark.spec.evaluate import validate_json
from test_conformance import TABLE, TIES
from test_evaluator_corpus import RENDER_CORPUS

REMOTES_DIR = os.path.join(os.path.dirname(__file__), "data", "remotes")
REMOTE_PREFIX = "http://localhost:1234/"
REFUSED = "refused"


def _integer_by_value(checker, instance) -> bool:
    if isinstance(instance, bool) or not isinstance(instance, (int, Decimal)):
        return False
    return isinstance(instance, int) or instance == instance.to_integral_value()


Oracle = validators.extend(
    Draft4Validator,
    type_checker=Draft4Validator.TYPE_CHECKER.redefine("integer", _integer_by_value),
)


@functools.cache
def _remote_registry() -> Registry:
    resources = []
    for dirpath, _, names in os.walk(REMOTES_DIR):
        for name in names:
            path = os.path.join(dirpath, name)
            uri = REMOTE_PREFIX + os.path.relpath(path, REMOTES_DIR).replace(os.sep, "/")
            with open(path) as fh:
                resources.append((uri, DRAFT4.create_resource(json.load(fh, parse_float=Decimal))))
    assert resources, f"no remote documents under {REMOTES_DIR}"
    return Registry().with_resources(resources)


RESOLVER = file_map_resolver({REMOTE_PREFIX: REMOTES_DIR})


def _oracle(schema: str, instance: str):
    validator = Oracle(json.loads(schema, parse_float=Decimal), registry=_remote_registry())
    try:
        return validator.is_valid(json.loads(instance, parse_float=Decimal))
    except Unresolvable:
        return REFUSED


def _engine(schema: str, instance: str):
    try:
        compiled = compile_spec(schema, resolver=RESOLVER)
    except SpecError:
        return REFUSED
    return not validate_json(compiled, instance)


def _ref_case(case_id: str, schema: dict, *instances) -> list:
    text = json.dumps(schema, ensure_ascii=False)
    return [
        (f"{case_id}[{i}]", text, json.dumps(instance, ensure_ascii=False))
        for i, instance in enumerate(instances)
    ]


ROOT = "http://example.test/root.json"
FOLDER = REMOTE_PREFIX + "folder/"

# (case id, schema, instance); each schema has valid and invalid instances
REF_CASES = [
    *_ref_case(
        "ref/root-id",
        {
            "id": ROOT,
            "definitions": {"pos": {"minimum": 0}},
            "properties": {
                "a": {"$ref": "#/definitions/pos"},
                "b": {"$ref": ROOT + "#/definitions/pos"},
            },
        },
        {"a": 1, "b": 2}, {"a": -1}, {"b": -1},
    ),
    *_ref_case(
        "ref/root-id-names-subschema",
        {
            "id": "http://example.test/schemas/root.json",
            "definitions": {"s": {"id": "str.json", "type": "string"}},
            "items": {"$ref": "str.json"},
        },
        ["a"], [1],
    ),
    *_ref_case(
        "ref/nested-relative-scopes",
        {
            "id": REMOTE_PREFIX,
            "items": {"id": "folder/", "items": {"$ref": "folderInteger.json"}},
        },
        [[1]], [["a"]],
    ),
    *_ref_case(
        "ref/scope-change-in-definitions",
        {
            "id": REMOTE_PREFIX + "scope_change_defs.json",
            "properties": {"list": {"$ref": "#/definitions/baz"}},
            "definitions": {
                "baz": {"id": "folder/", "type": "array",
                        "items": {"$ref": "folderInteger.json"}},
            },
        },
        {"list": [1]}, {"list": ["a"]},
    ),
    *_ref_case(
        "ref/pointer-walk-crosses-id",
        {
            "id": REMOTE_PREFIX + "walk.json",
            "definitions": {
                "f": {"id": "folder/", "definitions": {
                    "ints": {"items": {"$ref": "folderInteger.json"}},
                }},
            },
            "properties": {"x": {"$ref": "#/definitions/f/definitions/ints"}},
        },
        {"x": [1]}, {"x": ["a"]},
    ),
    *_ref_case(
        "ref/relative-id-named-by-ref",
        {
            "id": REMOTE_PREFIX + "by_uri.json",
            "definitions": {"f": {"id": "folder/", "items": {"$ref": "folderInteger.json"}}},
            "properties": {"x": {"$ref": "folder/"}},
        },
        {"x": [1]}, {"x": ["a"]},
    ),
    *_ref_case(
        "ref/absolute-id-in-subschema",
        {
            "definitions": {"i": {"id": FOLDER + "ints.json",
                                  "items": {"$ref": "folderInteger.json"}}},
            "properties": {"x": {"$ref": FOLDER + "ints.json"}},
        },
        {"x": [1]}, {"x": [1.5]},
    ),
    *_ref_case(
        "ref/urn-scope",
        {
            "id": "urn:example:root",
            "definitions": {
                "b": {"type": "string"},
                "a": {"id": "urn:example:a", "definitions": {"b": {"type": "integer"}},
                      "items": {"$ref": "#/definitions/b"}},
            },
            "properties": {"x": {"$ref": "urn:example:a"}},
        },
        {"x": [1]}, {"x": ["a"]},
    ),
    *_ref_case(
        "ref/name-fragment",
        {
            "definitions": {"a": {"id": "#foo", "type": "integer"}},
            "properties": {"x": {"$ref": "#foo"}},
        },
        {"x": 1}, {"x": "a"},
    ),
    *_ref_case(
        "ref/name-fragment-root-id",
        {
            "id": ROOT,
            "definitions": {"a": {"id": "#foo", "type": "integer"}},
            "items": {"$ref": ROOT + "#foo"},
        },
        [1], ["a"],
    ),
    *_ref_case(
        "ref/empty-id",
        {
            "definitions": {"pos": {"minimum": 0}},
            "properties": {"a": {"id": "", "properties": {"n": {"$ref": "#/definitions/pos"}}}},
        },
        {"a": {"n": 1}}, {"a": {"n": -1}},
    ),
    *_ref_case(
        "ref/empty-id-root-id",
        {
            "id": ROOT,
            "definitions": {"pos": {"minimum": 0}},
            "properties": {"a": {"id": "", "properties": {"n": {"$ref": "#/definitions/pos"}}}},
        },
        {"a": {"n": 1}}, {"a": {"n": -1}},
    ),
    *_ref_case(
        "ref/sibling-id-is-inert",
        {
            "id": REMOTE_PREFIX + "sibling_id/base/",
            "definitions": {
                "foo": {"id": REMOTE_PREFIX + "sibling_id/foo.json", "type": "string"},
                "base_foo": {"id": "foo.json", "type": "number"},
            },
            "allOf": [{"id": REMOTE_PREFIX + "sibling_id/", "$ref": "foo.json"}],
        },
        1, "a",
    ),
    *_ref_case(
        "ref/escaped-pointer",
        {
            "definitions": {
                "tilde~field": {"type": "integer"},
                "slash/field": {"type": "integer"},
                "percent%field": {"type": "integer"},
            },
            "properties": {
                "t": {"$ref": "#/definitions/tilde~0field"},
                "s": {"$ref": "#/definitions/slash~1field"},
                "p": {"$ref": "#/definitions/percent%25field"},
            },
        },
        {"t": 1, "s": 2, "p": 3}, {"t": "a"}, {"s": "a"}, {"p": "a"},
    ),
    *_ref_case(
        "ref/array-index",
        {"items": [{"type": "string"}, {"type": "integer"}],
         "properties": {"a": {"$ref": "#/items/1"}}},
        {"a": 1}, {"a": "x"},
    ),
    *_ref_case(
        "ref/array-index-leading-zero",
        {"items": [{"type": "string"}, {"type": "integer"}],
         "properties": {"a": {"$ref": "#/items/01"}}},
        {"a": "x"},
    ),
    *_ref_case(
        "ref/array-index-non-ascii",
        {"items": [{"type": "string"}, {"type": "integer"}],
         "properties": {"a": {"$ref": "#/items/١"}}},
        {"a": "x"},
    ),
    *_ref_case(
        "ref/recursive-root",
        {"properties": {"child": {"$ref": "#"}}, "additionalProperties": False},
        {"child": {"child": {}}}, {"child": {"bad": 1}},
    ),
    *_ref_case(
        "ref/remote",
        {"$ref": REMOTE_PREFIX + "integer.json"},
        1, "a",
    ),
    *_ref_case(
        "ref/remote-fragment-with-ref",
        {"$ref": REMOTE_PREFIX + "subSchemas.json#/refToInteger"},
        1, "a",
    ),
    *_ref_case(
        "ref/remote-relative-to-root-id",
        {"id": REMOTE_PREFIX, "items": {"$ref": "subSchemas.json#/integer"}},
        [1], ["a"],
    ),
    *_ref_case(
        "ref/remote-root-ref-in-remote",
        {"id": REMOTE_PREFIX + "object", "type": "object",
         "properties": {"name": {"$ref": "name.json#/definitions/orNull"}}},
        {"name": "foo"}, {"name": None}, {"name": {"name": None}},
    ),
    *_ref_case(
        "ref/metaschema",
        {"$ref": "http://json-schema.org/draft-04/schema#"},
        {"type": "string"}, {"type": 12}, {"minLength": -1},
    ),
]

# The engine follows the reference where the oracle differs. Each entry
# names its source; a case outside this list must agree.
_STRICT_INDEX = (
    "RFC 6901 §4: an array index is '0' or ASCII digits without a leading "
    "zero (tests/test_pointer.py pins /foo/01 as invalid); python-jsonschema "
    "indexes with int(), which accepts both"
)
DIVERGENCES = {
    "ref/array-index-leading-zero[0]": _STRICT_INDEX,
    "ref/array-index-non-ascii[0]": _STRICT_INDEX,
}

CASES = (
    [(f"render/{case_id}", schema, doc) for case_id, schema, doc in RENDER_CORPUS]
    + [(f"table/{row[0]}", row[1], row[2]) for row in TABLE + TIES]
    + REF_CASES
)


@pytest.mark.parametrize("case_id,schema,instance", CASES, ids=[c[0] for c in CASES])
def test_evaluator_agrees_with_oracle(case_id, schema, instance):
    got, want = _engine(schema, instance), _oracle(schema, instance)
    if case_id in DIVERGENCES:
        assert got == REFUSED and want != REFUSED, (
            f"listed divergence no longer holds: engine {got}, oracle {want}"
        )
        return
    assert want != REFUSED, "the oracle cannot resolve this case: fix the case"
    assert got == want, f"engine {got}, oracle {want}"


def test_ref_cases_reach_both_verdicts():
    """Each hand-written ``$ref`` schema has an accepted and a rejected
    instance, so agreement is never agreement on a constant."""
    verdicts: dict = {}
    for case_id, schema, instance in REF_CASES:
        if case_id not in DIVERGENCES:
            verdicts.setdefault(case_id.rsplit("[", 1)[0], set()).add(
                _oracle(schema, instance)
            )
    one_sided = sorted(k for k, v in verdicts.items() if v != {True, False})
    assert not one_sided, one_sided
