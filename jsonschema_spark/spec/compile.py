"""ConstraintSpec front-end: parse → collect ids → resolve $refs → compile.

Driver-side only (no Spark dependency). This is the analog of the reference's
query front-end (SURVEY.md §3 entry point 1): all keyword constants are
normalized exactly once — regexes compiled, numeric bounds parsed to exact
``Fraction``, enum variants parsed, refs resolved with memoization and a
recursion-depth cap (reference contract: /root/reference/compiler.go:48-247,
/root/reference/resolve.go:11,56-91, /root/reference/document.go:59-136).

The output IR (:class:`~jsonschema_spark.spec.model.CompiledSchema`) feeds two
backends: the pure-Python evaluator (spec/evaluate.py, used inside Arrow-batched
pandas-UDF kernels for free-form JSON columns) and the native-Column lowerer
(compiler/columns.py, the zero-Python hot path for typed columns).
"""

from __future__ import annotations

import re
from fractions import Fraction
from typing import Any, Callable, Optional, Union
from urllib.parse import urldefrag, urljoin

from jsonschema_spark.spec.metaschema import DRAFT4_METASCHEMA, DRAFT4_URI
from jsonschema_spark.spec.model import ALL_TYPES, CompiledSchema, parse_json
from jsonschema_spark.spec.pointer import PointerError, walk_pointer

MAX_RESOLVE_DEPTH = 1000  # cycle guard, same cap as the reference (resolve.go:11)

# keyword -> how to walk into subschemas when collecting ids
_SINGLE_SCHEMA_KEYS = ("additionalItems", "additionalProperties", "not")
_SCHEMA_MAP_KEYS = ("properties", "patternProperties", "definitions")
_SCHEMA_LIST_KEYS = ("allOf", "anyOf", "oneOf")


def regex_dialect_risks(pattern: str) -> list:
    """Constructs whose meaning differs between Python ``re`` (the engine's
    semantic reference, used by the evaluator and Arrow kernels) and
    ``java.util.regex`` (Spark ``rlike``, the native-column fast path) — or
    that Java rejects outright. The native lowering refuses these (SURVEY §7:
    "flag exotic constructs at compile time") and the plan builder falls
    back to the kernel path, which keeps Python-re semantics; rewriting the
    pattern (e.g. ``[0-9]`` for ``\\d``) restores the fast path.

    Returned list is empty for dialect-safe patterns. The reference pins the
    same problem for RE2 vs its host dialect (compiler.go:195-200).
    """
    risks = []

    def risk(msg: str) -> None:
        if msg not in risks:
            risks.append(msg)

    i, n = 0, len(pattern)
    in_class = False
    class_start = -1
    while i < n:
        c = pattern[i]
        if c == "\\":
            nxt = pattern[i + 1] if i + 1 < n else ""
            if nxt == "Z":
                risk(r"\Z: absolute end in Python, end-before-final-newline in Java (use \z semantics via the kernel or rewrite with $)")
            elif nxt == "0":
                risk(r"\0 octal escape: parsed differently by java.util.regex")
            elif nxt in "dDwWsSbB":
                risk(
                    rf"\{nxt}: Unicode-aware in Python but ASCII-only in Java "
                    "(rewrite with an explicit class like [0-9] for the native path)"
                )
            i += 2
            continue
        if in_class:
            if c == "]" and i > class_start + (2 if pattern[class_start + 1 : class_start + 2] == "^" else 1):
                in_class = False
            elif c == "[":
                risk("'[' inside a character class: literal in Python, nested class in Java")
            elif c == "&" and pattern[i + 1 : i + 2] == "&":
                risk("'&&' inside a character class: literal in Python, intersection in Java")
                i += 2
                continue
        else:
            if c == "[":
                in_class = True
                class_start = i
            elif c == "(" and pattern[i + 1 : i + 2] == "?":
                tail = pattern[i + 2 :]
                if tail[:1] == "P":
                    risk("(?P...) named-group syntax: Python-only, Java rejects it at runtime")
                elif tail[:1] == "(":
                    risk("(?(id)...) conditional: Python-only, Java rejects it at runtime")
                elif tail[:1] == "#":
                    risk("(?#...) comment: Python-only, Java rejects it at runtime")
                elif tail[:1] == ">":
                    risk("(?>...) atomic group: flagged for dialect caution (kernel path keeps Python semantics)")
                else:
                    m = re.match(r"([aiLmsux]+)(?:-[imsx]+)?[):]", tail)
                    if m:
                        flags = m.group(1)
                        if "a" in flags or "L" in flags:
                            risk("(?a)/(?L) flags: Python-only, Java rejects them at runtime")
                        else:
                            risk(
                                f"inline flags (?{flags}...): case/verbose semantics differ "
                                "between Python and Java (e.g. (?i) folds Unicode in Python, ASCII in Java)"
                            )
            elif c in "*+?}" and pattern[i + 1 : i + 2] == "+":
                risk("possessive quantifier: flagged for dialect caution (kernel path keeps Python semantics)")
                i += 2
                continue
        i += 1
    return risks


class SpecError(ValueError):
    """Malformed constraint spec (bad keyword type, bad regex, duplicate
    required entry, unresolvable $ref, ...). Raised at compile time, never
    during execution."""


Resolver = Callable[[str], Any]


def default_resolver(uri: str) -> Any:
    """Resolves nothing: remote http/file loading must be injected
    explicitly (driver-side only; executors never resolve refs). The
    embedded draft-4 metaschema resolves before any resolver is asked."""
    raise SpecError(f"cannot resolve remote spec {uri!r}: no resolver configured")


def file_map_resolver(prefix_to_dir: dict, fallback: Optional[Resolver] = None) -> Resolver:
    """Map URI prefixes to local directories (the in-sandbox stand-in for the
    reference's HTTP resolver, resolver.go:44-74)."""
    import os

    def resolve(uri: str) -> Any:
        for prefix, directory in prefix_to_dir.items():
            if uri.startswith(prefix):
                path = os.path.join(directory, uri[len(prefix):].lstrip("/"))
                with open(path, "rb") as fh:
                    return parse_json(fh.read())
        return (fallback or default_resolver)(uri)

    return resolve


def http_resolver(
    allow_hosts: Optional[set] = None,
    max_bytes: int = 4 << 20,
    timeout_sec: float = 5.0,
    fallback: Optional[Resolver] = None,
) -> Resolver:
    """Driver-side http(s) ``$ref`` fetcher — the real-network counterpart
    of ``file_map_resolver`` (reference analog: resolver.go:15-95, exercised
    through an embedded server exactly like suite_test.go:20-31).

    Guard rails, because a $ref is attacker-controllable in hosted settings:
    scheme must be http/https (everything else falls through to ``fallback``
    / the refusing default), an optional host allowlist, a response
    size cap, and per-URI memoization. Resolution happens ONLY at compile
    time on the driver; executors receive compiled specs and never fetch.
    The embedded draft-4 metaschema never reaches this resolver.
    """
    import urllib.request
    from urllib.parse import urlparse

    cache: dict = {}

    def resolve(uri: str) -> Any:
        parsed = urlparse(uri)
        if parsed.scheme not in ("http", "https"):
            return (fallback or default_resolver)(uri)
        if allow_hosts is not None and parsed.hostname not in allow_hosts:
            raise SpecError(
                f"refusing to fetch {uri!r}: host {parsed.hostname!r} "
                "not in the resolver allowlist"
            )
        if uri in cache:
            return cache[uri]
        try:
            with urllib.request.urlopen(uri, timeout=timeout_sec) as resp:
                data = resp.read(max_bytes + 1)
        except OSError as exc:
            raise SpecError(f"failed to fetch remote spec {uri!r}: {exc}") from exc
        if len(data) > max_bytes:
            raise SpecError(f"remote spec {uri!r} exceeds {max_bytes} bytes")
        doc = parse_json(data)
        cache[uri] = doc
        return doc

    return resolve


def _join(base: str, ref: str) -> str:
    """An ``id`` or a ``$ref`` resolved against ``base`` (RFC 3986), as a
    normalized absolute URI: an empty fragment is dropped. ``base`` never
    has a fragment. A fragment-only ``ref`` keeps ``base`` whatever its
    scheme: ``urljoin`` returns it unchanged against a ``urn:`` base."""
    if ref.startswith("#"):
        uri, frag = base, ref[1:]
    else:
        uri, frag = urldefrag(urljoin(base, ref))
    return f"{uri}#{frag}" if frag else uri


def _id_uri(node: Any, base: str) -> Optional[str]:
    """The URI ``node``'s ``id`` names, or None when it names nothing new:
    no ``id``, an ``id`` beside ``$ref`` (inert in draft 4), or one that
    resolves to ``base`` itself (an empty ``id``)."""
    if not isinstance(node, dict) or "$ref" in node:
        return None
    ident = node.get("id")
    if not isinstance(ident, str):
        return None
    uri = _join(base, ident)
    return None if uri == base else uri


def _scope(node: Any, base: str) -> str:
    """The base URI inside ``node``, given the base around it."""
    uri = _id_uri(node, base)
    return base if uri is None else urldefrag(uri)[0]


class Compiler:
    """Compiles one root spec document (plus any transitively referenced
    documents) into a CompiledSchema graph. Reusable caches make repeated and
    cyclic refs cheap and terminating.

    A base URI passed with a node is always the base *around* it; the node's
    own ``id`` is applied by whoever enters it (``_compile``, ``_collect_ids``,
    the pointer walk in ``_resolve_ref``)."""

    def __init__(self, root: Any, resolver: Optional[Resolver] = None):
        if isinstance(root, (str, bytes)):
            try:
                root = parse_json(root)
            except ValueError as exc:
                raise SpecError(f"invalid json: {exc}") from exc
        self.root = root
        self.resolver = resolver or default_resolver
        # normalized absolute uri -> (raw schema node, base uri around it)
        self.ids: dict = {"": (root, "")}
        # (id(raw node), base uri) -> CompiledSchema (pre-registered: cycle-safe)
        self.node_cache: dict = {}
        self.depth = 0
        self._collect_ids(root, "")

    # -- id collection (reference analog: document.go:59-136) ----------------

    @staticmethod
    def _validate_id(node: dict) -> None:
        """Reference parity (jsonschema_test.go:114-194): ``id`` must be a
        string and a syntactically valid URI reference — a ':' before any
        '/?#' delimits a scheme, which must match [A-Za-z][A-Za-z0-9+.-]*."""
        if "id" not in node or "$ref" in node:
            return
        value = node["id"]
        if not isinstance(value, str):
            raise SpecError(f"id must be a string, got {value!r}")
        head = re.split(r"[/?#]", value, maxsplit=1)[0]
        if ":" in head:
            scheme = head.split(":", 1)[0]
            if re.fullmatch(r"[A-Za-z][A-Za-z0-9+.\-]*", scheme) is None:
                raise SpecError(f"id is not a valid URI reference: {value!r}")

    def _collect_ids(self, node: Any, base: str) -> None:
        if not isinstance(node, dict):
            return
        self._validate_id(node)
        uri = _id_uri(node, base)
        if uri is not None:
            self.ids[uri] = (node, base)
            base = urldefrag(uri)[0]
        for key in _SINGLE_SCHEMA_KEYS:
            self._collect_ids(node.get(key), base)
        items = node.get("items")
        if isinstance(items, list):
            for child in items:
                self._collect_ids(child, base)
        else:
            self._collect_ids(items, base)
        for key in _SCHEMA_LIST_KEYS:
            children = node.get(key)
            if isinstance(children, list):
                for child in children:
                    self._collect_ids(child, base)
        for key in _SCHEMA_MAP_KEYS:
            children = node.get(key)
            if isinstance(children, dict):
                for child in children.values():
                    self._collect_ids(child, base)
        deps = node.get("dependencies")
        if isinstance(deps, dict):
            for child in deps.values():
                if isinstance(child, dict):
                    self._collect_ids(child, base)

    # -- ref resolution (reference analog: resolve.go:56-91) -----------------

    def _resolve_ref(self, ref: str, base: str) -> tuple:
        """ref + base uri -> (raw target node, base uri around the target)."""
        absolute = _join(base, ref)
        doc_uri, frag = urldefrag(absolute)
        if absolute not in self.ids and doc_uri not in self.ids:
            self._load_remote(doc_uri)
        if absolute in self.ids:  # a document, or an id ("#name" included)
            return self.ids[absolute]
        if doc_uri not in self.ids or not frag.startswith("/"):
            raise SpecError(f"unresolvable $ref {ref!r} (absolute: {absolute!r})")
        node, base = self.ids[doc_uri]
        try:
            path = walk_pointer(node, frag, uri_escaped=True)
        except PointerError as exc:
            raise SpecError(f"unresolvable $ref {ref!r}: {exc}") from exc
        for passed in path[:-1]:  # the base moves across each id on the way
            base = _scope(passed, base)
        return path[-1], base

    def _load_remote(self, doc_uri: str) -> None:
        if doc_uri == DRAFT4_URI:
            raw = DRAFT4_METASCHEMA
        else:
            try:
                raw = self.resolver(doc_uri)
            except SpecError:
                return  # lookup failure surfaces as unresolvable-$ref
            except OSError as exc:
                raise SpecError(f"failed to load remote spec {doc_uri!r}: {exc}") from exc
            if isinstance(raw, (str, bytes)):
                raw = parse_json(raw)
        self.ids[doc_uri] = (raw, doc_uri)
        self._collect_ids(raw, doc_uri)

    # -- keyword lowering (reference analog: compiler.go:48-247) -------------

    def compile(self) -> CompiledSchema:
        return self._compile(self.root, "")

    def _compile(self, node: Any, base: str) -> CompiledSchema:
        if not isinstance(node, dict):
            raise SpecError(f"schema must be an object, got {type(node).__name__}")
        cache_key = (id(node), base)
        if cache_key in self.node_cache:
            return self.node_cache[cache_key]
        cs = CompiledSchema()
        self.node_cache[cache_key] = cs  # pre-register: cyclic refs terminate

        ref = node.get("$ref")
        if ref is not None:
            if not isinstance(ref, str):
                raise SpecError(f"$ref must be a string, got {ref!r}")
            self.depth += 1
            try:
                if self.depth > MAX_RESOLVE_DEPTH:
                    raise SpecError(f"$ref recursion deeper than {MAX_RESOLVE_DEPTH}")
                target, target_base = self._resolve_ref(ref, base)
                cs.ref = self._compile(target, target_base)
            finally:
                self.depth -= 1
            return cs  # $ref overrides all sibling keywords (draft 4)

        base = _scope(node, base)
        self._compile_type(node, cs)
        self._compile_combinators(node, cs, base)
        self._compile_number(node, cs)
        self._compile_string(node, cs)
        self._compile_array(node, cs, base)
        self._compile_object(node, cs, base)
        return cs

    def _compile_type(self, node: dict, cs: CompiledSchema) -> None:
        typ = node.get("type")
        if typ is None:
            return
        names = typ if isinstance(typ, list) else [typ]
        out = set()
        for name in names:
            if not isinstance(name, str) or name not in ALL_TYPES:
                raise SpecError(f"invalid type name {name!r}")
            out.add(name)
        cs.types = frozenset(out)
        cs.integer_only = "integer" in out and "number" not in out

    def _compile_combinators(self, node: dict, cs: CompiledSchema, base: str) -> None:
        enum = node.get("enum")
        if enum is not None:
            if not isinstance(enum, list):
                raise SpecError(f"enum must be an array, got {type(enum).__name__}")
            cs.enum = list(enum)
        for key, attr in (("allOf", "all_of"), ("anyOf", "any_of"), ("oneOf", "one_of")):
            children = node.get(key)
            if children is None:
                continue
            if not isinstance(children, list) or not children:
                raise SpecError(f"{key} must be a non-empty array")
            setattr(cs, attr, [self._compile(child, base) for child in children])
        if "not" in node:
            cs.not_ = self._compile(node["not"], base)

    def _compile_number(self, node: dict, cs: CompiledSchema) -> None:
        cs.minimum = self._num(node, "minimum")
        cs.maximum = self._num(node, "maximum")
        cs.exclusive_minimum = self._flag(node, "exclusiveMinimum")
        cs.exclusive_maximum = self._flag(node, "exclusiveMaximum")
        if cs.exclusive_minimum and cs.minimum is None:
            raise SpecError("exclusiveMinimum requires minimum")
        if cs.exclusive_maximum and cs.maximum is None:
            raise SpecError("exclusiveMaximum requires maximum")
        mult = self._num(node, "multipleOf")
        if mult is not None and mult <= 0:
            raise SpecError(f"multipleOf must be > 0, got {mult}")
        cs.multiple_of = mult

    def _compile_string(self, node: dict, cs: CompiledSchema) -> None:
        cs.min_length = self._uint(node, "minLength")
        cs.max_length = self._uint(node, "maxLength")
        pattern = node.get("pattern")
        if pattern is not None:
            if not isinstance(pattern, str):
                raise SpecError(f"pattern must be a string, got {pattern!r}")
            cs.pattern = self._regex(pattern)
        # "format" is parsed-but-ignored, mirroring the reference
        # (compiler.go:64-67): accept any string, enforce nothing.
        fmt = node.get("format")
        if fmt is not None and not isinstance(fmt, str):
            raise SpecError(f"format must be a string, got {fmt!r}")

    def _compile_array(self, node: dict, cs: CompiledSchema, base: str) -> None:
        cs.min_items = self._uint(node, "minItems")
        cs.max_items = self._uint(node, "maxItems")
        unique = node.get("uniqueItems")
        if unique is not None:
            if not isinstance(unique, bool):
                raise SpecError(f"uniqueItems must be a boolean, got {unique!r}")
            cs.unique_items = unique
        items = node.get("items")
        if isinstance(items, list):
            cs.items = [self._compile(child, base) for child in items]
        elif items is not None:
            cs.items = self._compile(items, base)
        additional = node.get("additionalItems")
        if additional is not None and not isinstance(additional, bool):
            additional = self._compile(additional, base)
        cs.additional_items = additional

    def _compile_object(self, node: dict, cs: CompiledSchema, base: str) -> None:
        props = node.get("properties")
        if props is not None:
            if not isinstance(props, dict):
                raise SpecError("properties must be an object")
            cs.properties = {k: self._compile(v, base) for k, v in props.items()}
        pattern_props = node.get("patternProperties")
        if pattern_props is not None:
            if not isinstance(pattern_props, dict):
                raise SpecError("patternProperties must be an object")
            cs.pattern_properties = [
                (self._regex(k), self._compile(v, base)) for k, v in pattern_props.items()
            ]
        additional = node.get("additionalProperties")
        if additional is not None and not isinstance(additional, bool):
            additional = self._compile(additional, base)
        cs.additional_properties = additional
        required = node.get("required")
        if required is not None:
            if not isinstance(required, list) or not all(
                isinstance(r, str) for r in required
            ):
                raise SpecError("required must be an array of strings")
            if len(set(required)) != len(required):
                raise SpecError("required entries must be unique")
            cs.required = tuple(required)
        deps = node.get("dependencies")
        if deps is not None:
            if not isinstance(deps, dict):
                raise SpecError("dependencies must be an object")
            compiled_deps = {}
            for key, dep in deps.items():
                if isinstance(dep, list):
                    if not dep or not all(isinstance(d, str) for d in dep):
                        raise SpecError(
                            f"dependency {key!r} must be a non-empty string array or schema"
                        )
                    compiled_deps[key] = tuple(dep)
                elif isinstance(dep, dict):
                    compiled_deps[key] = self._compile(dep, base)
                else:
                    raise SpecError(f"dependency {key!r} must be an array or schema")
            cs.dependencies = compiled_deps
        cs.min_properties = self._uint(node, "minProperties")
        cs.max_properties = self._uint(node, "maxProperties")

    # -- scalar keyword parsers ----------------------------------------------

    @staticmethod
    def _num(node: dict, key: str) -> Optional[Fraction]:
        value = node.get(key)
        if value is None:
            return None
        if isinstance(value, bool) or not isinstance(value, (int, float, Fraction)):
            raise SpecError(f"{key} must be a number, got {value!r}")
        return Fraction(value)

    @staticmethod
    def _uint(node: dict, key: str) -> Optional[int]:
        value = node.get(key)
        if value is None:
            return None
        if isinstance(value, bool) or not isinstance(value, int):
            if isinstance(value, Fraction) and value.denominator == 1:
                value = int(value)
            else:
                raise SpecError(f"{key} must be an integer, got {value!r}")
        if value < 0:
            raise SpecError(f"{key} must be >= 0, got {value}")
        return value

    @staticmethod
    def _flag(node: dict, key: str) -> bool:
        value = node.get(key)
        if value is None:
            return False
        if not isinstance(value, bool):
            raise SpecError(f"{key} must be a boolean, got {value!r}")
        return value

    @staticmethod
    def _regex(pattern: str) -> re.Pattern:
        try:
            return re.compile(pattern)
        except re.error as exc:
            raise SpecError(f"invalid regex {pattern!r}: {exc}") from exc


def compile_spec(
    spec: Union[dict, str, bytes], resolver: Optional[Resolver] = None
) -> CompiledSchema:
    """Parse + compile a constraint spec into an executable check tree."""
    return Compiler(spec, resolver=resolver).compile()
