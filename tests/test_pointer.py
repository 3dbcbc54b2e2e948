"""RFC 6901 JSON Pointer vectors — the exact §5/§6 examples the reference
pins (/root/reference/jsonpointer_test.go:14-94), plus escape-order and
not-found cases (jsonpointer_test.go:142-231)."""

from __future__ import annotations

import pytest

from jsonschema_spark.spec.pointer import (
    PointerError, resolve_pointer, split_pointer, unescape_token,
)

RFC_DOC = {
    "foo": ["bar", "baz"],
    "": 0,
    "a/b": 1,
    "c%d": 2,
    "e^f": 3,
    "g|h": 4,
    "i\\j": 5,
    'k"l': 6,
    " ": 7,
    "m~n": 8,
}

RFC_CASES = [
    ("", RFC_DOC),
    ("/foo", ["bar", "baz"]),
    ("/foo/0", "bar"),
    ("/", 0),
    ("/a~1b", 1),
    ("/c%d", 2),
    ("/e^f", 3),
    ("/g|h", 4),
    ("/i\\j", 5),
    ('/k"l', 6),
    ("/ ", 7),
    ("/m~0n", 8),
]

URI_CASES = [
    ("", RFC_DOC),
    ("/foo", ["bar", "baz"]),
    ("/foo/0", "bar"),
    ("/", 0),
    ("/a~1b", 1),
    ("/c%25d", 2),
    ("/e%5Ef", 3),
    ("/g%7Ch", 4),
    ("/i%5Cj", 5),
    ("/k%22l", 6),
    ("/%20", 7),
    ("/m~0n", 8),
]


@pytest.mark.parametrize("pointer,expected", RFC_CASES)
def test_rfc6901_section5(pointer, expected):
    assert resolve_pointer(RFC_DOC, pointer) == expected


@pytest.mark.parametrize("pointer,expected", URI_CASES)
def test_rfc6901_section6_uri_fragments(pointer, expected):
    assert resolve_pointer(RFC_DOC, pointer, uri_escaped=True) == expected


def test_escape_order():
    # ~01 must unescape to "~1", NOT to "/" (order: ~1 first, then ~0)
    assert unescape_token("~01") == "~1"
    assert unescape_token("~10") == "/0"
    assert unescape_token("~0~1") == "~/"


@pytest.mark.parametrize(
    "pointer",
    [
        "/nope",                # missing member
        "/foo/2",               # index out of range
        "/foo/-",               # "-" (past-the-end) is unresolvable
        "/foo/01",              # leading zero index
        "/foo/\u0661",          # Arabic-Indic digit one: indexes are ASCII
        "/foo/\uff11",          # full-width digit one
        "/foo/bar",             # non-numeric index into array
        "/foo/0/deep",          # indexing into a scalar
        "foo",                  # missing leading slash
    ],
)
def test_not_found_and_invalid(pointer):
    with pytest.raises(PointerError):
        resolve_pointer(RFC_DOC, pointer)


def test_nested_resolution():
    doc = {"a": {"b": [{"c": 42}]}}
    assert resolve_pointer(doc, "/a/b/0/c") == 42
