"""RFC 6901 JSON Pointer resolution (reference contract:
/root/reference/jsonpointer.go:26-75 and the RFC 6901 §5/§6 vectors in
/root/reference/jsonpointer_test.go:14-94)."""

from __future__ import annotations

import re
from typing import Any
from urllib.parse import unquote


class PointerError(ValueError):
    pass


def escape_token(token: str) -> str:
    # order matters: ~ before / (RFC 6901 §3)
    return token.replace("~", "~0").replace("/", "~1")


def unescape_token(token: str) -> str:
    # order matters: ~1 before ~0 (RFC 6901 §4)
    return token.replace("~1", "/").replace("~0", "~")


def split_pointer(pointer: str, uri_escaped: bool = False) -> list[str]:
    """Split a JSON Pointer into unescaped reference tokens.

    ``uri_escaped`` applies %-decoding first (pointers arriving inside URI
    fragments, e.g. ``#/definitions/foo%22bar``).
    """
    if pointer == "":
        return []
    if not pointer.startswith("/"):
        raise PointerError(f"invalid JSON pointer {pointer!r}: must start with '/'")
    tokens = pointer.split("/")[1:]
    if uri_escaped:
        tokens = [unquote(t) for t in tokens]
    return [unescape_token(t) for t in tokens]


def walk_pointer(doc: Any, pointer: str, uri_escaped: bool = False) -> list:
    """The nodes ``pointer`` passes through: ``doc`` first, the target last.
    Raise PointerError when not found."""
    path = [doc]
    for token in split_pointer(pointer, uri_escaped=uri_escaped):
        node = path[-1]
        if isinstance(node, dict):
            if token not in node:
                raise PointerError(f"pointer member {token!r} not found")
            path.append(node[token])
        elif isinstance(node, list):
            if _ARRAY_INDEX.fullmatch(token) is None:
                raise PointerError(f"invalid array index {token!r}")
            idx = int(token)
            if idx >= len(node):
                raise PointerError(f"array index {idx} out of range")
            path.append(node[idx])
        else:
            raise PointerError(f"cannot index scalar with {token!r}")
    return path


def resolve_pointer(doc: Any, pointer: str, uri_escaped: bool = False) -> Any:
    """Walk ``pointer`` into ``doc``; raise PointerError when not found."""
    return walk_pointer(doc, pointer, uri_escaped=uri_escaped)[-1]


# RFC 6901 §4: "0" or ASCII digits without a leading zero ("-" never resolves)
_ARRAY_INDEX = re.compile(r"0|[1-9][0-9]*")
