"""Replay of the official JSON-Schema-Test-Suite draft-4 corpus (and the
reference's custom suite) against our spec compiler + evaluator.

Mirrors the reference's authority order (SURVEY.md §5): every suite schema is
first validated against the embedded draft-4 metaschema, then compiled, then
each case's verdict must equal the suite's ``valid`` flag. The ``format``
keyword file is skipped (the reference skips it too,
jsonschema_test.go:90-99). Remote refs (localhost:1234) resolve from the
suite's remotes directory via a file resolver.

Pure Python — no Spark session needed; this is the semantic ground-truth
layer that the Column-lowering and kernel backends are later checked against.
"""

from __future__ import annotations

import os

import pytest

from jsonschema_spark.spec.compile import SpecError, compile_spec, file_map_resolver
from jsonschema_spark.spec.evaluate import is_valid, validate_value
from jsonschema_spark.spec.metaschema import DRAFT4_METASCHEMA
from jsonschema_spark.spec.model import parse_json

SUITE_DIR = "/root/reference/_testdata/suite/draft4"
CUSTOM_DIR = "/root/reference/_testdata/custom/draft4"
REMOTES_DIR = "/root/reference/_testdata/remotes"
SKIP_FILES = {"format.json"}

resolver = file_map_resolver({"http://localhost:1234/": REMOTES_DIR})


def _load_cases(directory):
    if not os.path.isdir(directory):
        yield pytest.param(
            None, None, None,
            marks=pytest.mark.skip(reason=f"reference suite absent: {directory}"),
        )
        return
    for fname in sorted(os.listdir(directory)):
        if not fname.endswith(".json") or fname in SKIP_FILES:
            continue
        with open(os.path.join(directory, fname), "rb") as fh:
            groups = parse_json(fh.read())
        for group in groups:
            for case in group["tests"]:
                yield pytest.param(
                    group["schema"],
                    case["data"],
                    case["valid"],
                    id=f"{fname[:-5]}::{group['description']}::{case['description']}",
                )


def _run_case(schema, data, valid):
    # metaschema gate first (reference: jsonschema_test.go:55)
    meta = compile_spec(DRAFT4_METASCHEMA)
    assert is_valid(meta, schema), "suite schema must satisfy the draft-4 metaschema"
    compiled = compile_spec(schema, resolver=resolver)
    violations = validate_value(compiled, data)
    got = not violations
    assert got == valid, f"verdict {got} != expected {valid}; violations={violations[:3]}"


@pytest.mark.parametrize("schema,data,valid", list(_load_cases(SUITE_DIR)))
def test_official_suite(schema, data, valid):
    _run_case(schema, data, valid)


@pytest.mark.parametrize("schema,data,valid", list(_load_cases(CUSTOM_DIR)))
def test_custom_suite(schema, data, valid):
    _run_case(schema, data, valid)


# one-for-one mirror of the reference's TestParse negative table
# (/root/reference/jsonschema_test.go:114-194), same order
_VERY_BAD = (
    '{"allOf":[{"patternProperties":{"foo$":{"dependencies":{"foo":'
    '{"additionalProperties":{"additionalItems":{"properties":{"foo":'
    '{"items":{"required":["foo","foo"]}}}}}}}}}}]}'
)

REFERENCE_NEGATIVE_PARSE = [
    "",                                           # invalid JSON
    "{",
    "[]",
    '{"type":{}}',                                # invalid structure
    '{"id":{}}',
    '{"items":10}',
    '{"minimum":"10"}',
    '{"minimum":true}',
    '{"properties":["foobar"]}',
    '{"additionalProperties":{"type":1}}',
    '{"additionalProperties":[]}',
    '{"patternProperties":{"foo":[]}}',
    '{"dependencies":{"foo":1}}',
    '{"dependencies":{"foo":[1]}}',
    '{"dependencies":{"foo":{"type":1}}}',
    '{"type":["foobar"]}',                        # invalid "type"
    '{"dependencies":{"id":":"}}',                # invalid "id"
    '{"definitions":{"foo":{"id":":"}}}',
    '{"items":[{"id":":"}]}',
    '{"items":{"id":":"}}',
    '{"$ref":":"}',                               # invalid "ref"
    _VERY_BAD,                                    # invalid "required"
    '{"pattern":"\\\\"}',                         # bad regex
    '{"patternProperties":{"\\\\":{}}}',
]


@pytest.mark.parametrize(
    "spec", REFERENCE_NEGATIVE_PARSE, ids=range(len(REFERENCE_NEGATIVE_PARSE))
)
def test_reference_negative_parse_parity(spec):
    with pytest.raises(SpecError):
        compile_spec(spec)


def test_malformed_specs_fail_to_compile():
    """Additional negative-parse cases beyond the reference's table."""
    bad_specs = [
        "{",  # invalid json
        '{"type": "unknown"}',
        '{"type": 42}',
        '{"pattern": "["}',
        '{"patternProperties": {"[": {}}}',
        '{"required": ["a", "a"]}',
        '{"required": [1]}',
        '{"multipleOf": 0}',
        '{"multipleOf": -2}',
        '{"minLength": -1}',
        '{"minLength": "x"}',
        '{"enum": "not-an-array"}',
        '{"allOf": []}',
        '{"allOf": "x"}',
        '{"not": 42}',
        '{"$ref": 42}',
        '{"$ref": "#/nope/nothing"}',
        '{"dependencies": {"a": 42}}',
        '{"dependencies": {"a": []}}',
        '{"properties": 42}',
        '{"uniqueItems": "yes"}',
        '{"exclusiveMinimum": true}',
    ]
    for spec in bad_specs:
        with pytest.raises(SpecError):
            compile_spec(spec)


def test_metaschema_self_validates():
    meta = compile_spec(DRAFT4_METASCHEMA)
    assert is_valid(meta, DRAFT4_METASCHEMA)
