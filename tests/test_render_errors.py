"""Error-path rendering parity with the reference's wrapped errors.

The reference emits ``outer: inner`` chains (type frame per value,
Go-quoted key per object member, [i] per array element — validate.go:74,
500, 107/346); its README pins the canonical example (README.md:41-42).
Our engine's native artifact is violation rows; spec/render.py maps a
row + its document back to the exact reference string.
"""

from __future__ import annotations

from jsonschema_spark.spec.compile import compile_spec
from jsonschema_spark.spec.evaluate import validate_value
from jsonschema_spark.spec.model import parse_json
from jsonschema_spark.spec.render import render_reference_error


def _render_first(schema_text: str, doc_text: str) -> str:
    compiled = compile_spec(schema_text)
    doc = parse_json(doc_text)
    violations = validate_value(compiled, doc)
    assert violations, "expected a failing document"
    return render_reference_error(doc, violations[0])


def test_readme_example_exact():
    """The reference README's pinned output (README.md:41-42):
    object: "number": string: type is not allowed"""
    schema = """{
      "$schema": "http://json-schema.org/draft-04/schema#",
      "title": "Product",
      "type": "object",
      "properties": {
        "number":      { "type": "number" },
        "street_name": { "type": "string" },
        "street_type": { "type": "string",
                         "enum": ["Street", "Avenue", "Boulevard"] }
      }
    }"""
    out = _render_first(schema, '{"number": "1600"}')
    assert out == 'object: "number": string: type is not allowed'


def test_nested_array_and_object_frames():
    schema = """{
      "type": "object",
      "properties": {
        "a": {"type": "object", "properties": {
          "b": {"type": "array", "items": {"type": "integer"}}}}
      }
    }"""
    out = _render_first(schema, '{"a": {"b": [1, "x"]}}')
    assert out == (
        'object: "a": object: "b": array: [1]: string: type is not allowed'
    )


def test_required_renders_at_object_frame():
    """validate.go:514 literal: required property %q is missing, wrapped
    by the object's type frame only."""
    out = _render_first(
        '{"type": "object", "required": ["name"]}', '{"other": 1}'
    )
    assert out == 'object: required property "name" is missing'


def test_root_scalar_type_gate():
    out = _render_first('{"type": "object"}', "123")
    assert out == "number: type is not allowed"


def test_bounds_render_rational_like_big_rat():
    """validate.go:240 formats both sides as big.Rat (num/denom)."""
    out = _render_first('{"minimum": 3}', "2")
    assert out == "number: value 2/1 is smaller than 3/1"


def test_key_with_pointer_escapes():
    """A key holding '/' and '~' travels as one RFC 6901 token ('~1',
    '~0') and renders as the original key."""
    out = _render_first('{"properties": {"a/b~c": {"type": "string"}}}', '{"a/b~c": 1}')
    assert out == 'object: "a/b~c": number: type is not allowed'


def test_length_literals():
    out = _render_first('{"maxLength": 2}', '"abc"')
    assert out == "string: length is bigger than 2"
    out = _render_first('{"minItems": 2}', "[1]")
    assert out == "array: length is smaller than 2"


def test_unique_items_literal():
    """validate.go:366: items %d and %d are equal."""
    out = _render_first('{"uniqueItems": true}', "[1, 2, 1]")
    assert out == "array: items 0 and 2 are equal"


def test_additional_properties_member_frame():
    """validate.go:490 wrapped by the member key (validate.go:500)."""
    out = _render_first(
        '{"properties": {"a": {}}, "additionalProperties": false}',
        '{"a": 1, "zz": 2}',
    )
    assert out == 'object: "zz": additional properties are not allowed'


def test_combinator_keyword_frame_replaces_type_frame():
    """Combinators run before the type dispatch and wrap with their own
    keyword (validate.go:29-54), not the value's type name."""
    out = _render_first('{"not": {"type": "integer"}}', "5")
    assert out == "not: must not match"
    out = _render_first(
        '{"oneOf": [{"type": "integer"}, {"minimum": 0}]}', "5"
    )
    assert out == "oneOf: must match exactly once"
    out = _render_first('{"anyOf": [{"type": "string"}]}', "5")
    assert out == "anyOf: must match at least once"


# (id, schema, failing document): every keyword branch of the renderer,
# nested under object members and array elements, keys that need quoting,
# local/remote/recursive $ref.  Runs whether or not the official suite is
# present, so the no-crash property never passes on zero cases.
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

FIRST_FRAMES = {
    "object", "array", "string", "number", "bool", "null",
    "enum", "anyOf", "oneOf", "not", "invalid json",
}


def _render_all(fname, compiled, doc) -> list[str]:
    """Render every violation of ``doc``; each must be a non-empty string
    whose first frame is a type name or a combinator keyword."""
    rendered = []
    for v in validate_value(compiled, doc):
        out = render_reference_error(doc, v)
        assert out and isinstance(out, str)
        first = out.split(":", 1)[0]
        assert first in FIRST_FRAMES, (
            f"{fname}: unexpected first frame {first!r} in {out!r}"
        )
        rendered.append(v.keyword)
    return rendered


def test_render_never_raises_on_suite_corpus():
    """No-crash property: every violation of every failing document renders
    to a non-empty string whose first frame is either the document's type
    name or a combinator keyword.  Runs over the in-repo corpus above
    (every keyword branch must be reached) and, when present, over the
    official draft-4 suite as well.  (Exact-text parity is pinned
    per-keyword above; this pins total coverage of the rendering dispatch
    over real schema diversity.)"""
    import os

    from jsonschema_spark.spec.compile import compile_spec, file_map_resolver

    local_remotes = os.path.join(os.path.dirname(__file__), "data", "remotes")
    resolver = file_map_resolver({"http://localhost:1234/": local_remotes})
    keywords = set()
    for case_id, schema, doc_text in RENDER_CORPUS:
        compiled = compile_spec(schema, resolver=resolver)
        rendered = _render_all(case_id, compiled, parse_json(doc_text))
        assert rendered, f"{case_id}: document no longer fails"
        keywords.update(rendered)
    missing = {
        "type", "enum", "anyOf", "oneOf", "not", "minimum", "maximum",
        "multipleOf", "minLength", "maxLength", "minItems", "maxItems",
        "minProperties", "maxProperties", "pattern", "uniqueItems",
        "required", "additionalProperties", "additionalItems", "dependencies",
    } - keywords
    assert not missing, f"keyword branches not reached: {sorted(missing)}"

    suite_dir = "/root/reference/_testdata/suite/draft4"
    remotes = "/root/reference/_testdata/remotes"
    if not os.path.isdir(suite_dir):
        return
    resolver = file_map_resolver({"http://localhost:1234/": remotes})
    n_rendered = 0
    for fname in sorted(os.listdir(suite_dir)):
        if not fname.endswith(".json") or fname == "format.json":
            continue
        with open(os.path.join(suite_dir, fname), "rb") as fh:
            groups = parse_json(fh.read())
        for group in groups:
            compiled = compile_spec(group["schema"], resolver=resolver)
            for case in group["tests"]:
                if not case["valid"]:
                    n_rendered += len(_render_all(fname, compiled, case["data"]))
    assert n_rendered > 250, n_rendered
