"""One failing document per draft-4 keyword branch, checked against the
evaluator and the Spark kernel.

``RENDER_CORPUS`` pairs a schema with a document that breaks it: every
keyword the evaluator can report, nested under object members and array
elements, keys that need quoting, and local, remote and recursive
``$ref``. It runs whether or not the official suite is present, so these
checks never pass on zero cases.
"""

from __future__ import annotations

import os

from jsonschema_spark.spec.compile import SpecError, compile_spec, file_map_resolver
from jsonschema_spark.spec.evaluate import validate_value
from jsonschema_spark.spec.model import parse_json

# (id, schema, failing document)
RENDER_CORPUS = [
    ("type", '{"type": "string"}', "5"),
    ("type/union-bool", '{"type": ["string", "null"]}', "true"),
    ("enum", '{"enum": [1, "a"]}', '{"x": 1}'),
    ("anyOf", '{"anyOf": [{"type": "string"}, {"minimum": 10}]}', "3"),
    ("oneOf/none", '{"oneOf": [{"type": "string"}, {"type": "boolean"}]}', "1"),
    ("oneOf/two", '{"oneOf": [{"type": "integer"}, {"minimum": 0}]}', "3"),
    ("not", '{"not": {"type": "null"}}', "null"),
    ("allOf", '{"allOf": [{"type": "integer"}, {"minimum": 5}]}', "2"),
    ("minimum/exclusive", '{"minimum": 2.5, "exclusiveMinimum": true}', "2.5"),
    ("maximum", '{"maximum": 3}', "7"),
    ("multipleOf", '{"multipleOf": 0.5}', "0.3"),
    ("minLength", '{"minLength": 2}', '"a"'),
    ("maxLength", '{"maxLength": 1}', '"ab"'),
    ("minItems", '{"minItems": 2}', "[1]"),
    ("maxItems", '{"maxItems": 1}', "[1, 2]"),
    ("minProperties", '{"minProperties": 1}', "{}"),
    ("maxProperties", '{"maxProperties": 1}', '{"a": 1, "b": 2}'),
    ("pattern", '{"pattern": "^a"}', '"b"'),
    ("uniqueItems", '{"uniqueItems": true}', "[1, 1.0]"),
    ("required/quote-key", '{"required": ["it\'s"]}', "{}"),
    ("additionalProperties/quote-key",
     '{"properties": {"a": {}}, "additionalProperties": false}',
     '{"a": 1, "say \\"hi\\"": 2}'),
    ("additionalItems", '{"items": [{}], "additionalItems": false}', "[1, 2]"),
    ("dependencies/array", '{"dependencies": {"bar": ["foo"]}}', '{"bar": 2}'),
    ("dependencies/schema", '{"dependencies": {"bar": {"required": ["baz"]}}}',
     '{"bar": 1}'),
    ("patternProperties", '{"patternProperties": {"^x": {"type": "string"}}}',
     '{"x1": 2}'),
    ("nested/array-of-objects",
     '{"properties": {"list": {"items": {"properties": {"n": {"type": "integer"}}}}}}',
     '{"list": [{"n": 1}, {"n": "x"}]}'),
    ("ref/local",
     '{"definitions": {"pos": {"minimum": 0}}, '
     '"properties": {"p": {"$ref": "#/definitions/pos"}}}',
     '{"p": -1}'),
    ("ref/remote", '{"$ref": "http://localhost:1234/integer.json"}', '"a"'),
    ("ref/recursive",
     '{"properties": {"child": {"$ref": "#"}}, "additionalProperties": false}',
     '{"child": {"bad": 1}}'),
    ("key/pointer-escapes", '{"properties": {"a/b~c": {"type": "string"}}}',
     '{"a/b~c": 1}'),
]

KEYWORDS = {
    "type", "enum", "anyOf", "oneOf", "not", "minimum", "maximum",
    "multipleOf", "minLength", "maxLength", "minItems", "maxItems",
    "minProperties", "maxProperties", "pattern", "uniqueItems",
    "required", "additionalProperties", "additionalItems", "dependencies",
}


def test_render_corpus_fails_on_every_keyword():
    """Every document fails, and together they reach each of the 20
    keywords above (remote refs resolve from tests/data/remotes)."""
    remotes = os.path.join(os.path.dirname(__file__), "data", "remotes")
    resolver = file_map_resolver({"http://localhost:1234/": remotes})
    keywords = set()
    for case_id, schema, doc_text in RENDER_CORPUS:
        violations = validate_value(compile_spec(schema, resolver=resolver), parse_json(doc_text))
        assert violations, f"{case_id}: document no longer fails"
        keywords.update(v.keyword for v in violations)
    missing = KEYWORDS - keywords
    assert not missing, f"keyword branches not reached: {sorted(missing)}"


def test_render_corpus_kernel_rejects_every_document(spark):
    """Each pair whose schema compiles without a resolver (all but
    ``ref/remote``: executors resolve no refs) is rejected by the evaluator
    and by ``multi_spec_validity_kernel``, all pairs in one Spark job."""
    from pyspark.sql import functions as F

    from jsonschema_spark.compiler.kernel import multi_spec_validity_kernel

    specs, rows, unresolved = [], [], []
    for case_id, schema, doc_text in RENDER_CORPUS:
        try:
            compiled = compile_spec(schema)
        except SpecError:
            unresolved.append(case_id)
            continue
        assert validate_value(compiled, parse_json(doc_text)), case_id
        rows.append((len(specs), doc_text, case_id))
        specs.append(schema)
    assert unresolved == ["ref/remote"]

    df = spark.createDataFrame(rows, "spec_idx int, doc string, case_id string")
    got = df.select(
        "case_id", multi_spec_validity_kernel(specs, F.col("spec_idx"), F.col("doc")).alias("valid")
    ).collect()
    assert len(got) == len(RENDER_CORPUS) - 1
    accepted = [r.case_id for r in got if r.valid is not False]
    assert not accepted, accepted
