"""Evaluator for a CompiledSchema over JSON values.

This is the engine's *semantic ground truth*: it defines the exact
accept/reject contract (same observable verdicts as the reference validator,
/root/reference/validate.go:23-77) and is executed on Spark only inside
Arrow-batched pandas-UDF kernels for free-form JSON columns — never per-row
Python on the typed-column hot path (that path lowers to native Columns in
compiler/columns.py).

Each schema node is lowered once, on first use, into a type-dispatched
closure ``check(value, path, out)`` cached on the node: the conjunction, in
the reference's keyword order, of one check per keyword. ``$ref`` edges are
resolved at build time, cycles through a cell. (The reference compiles once
the same way, /root/reference/compiler.go:48-247; python-fastjsonschema
takes the same compile-to-code idea.) With ``out=None`` a check returns
``False`` at the first failure, like the reference's fail-fast walk
(/root/reference/validate.go:18). With a list it appends *every* violation
with its RFC 6901 path and returns whether it appended none.
``validate_json`` and ``validate_value`` run fail-fast first and collect the
full list only for failing documents.

Floats first: ``validate_json`` parses with plain floats. Rounding to the
nearest double is monotonic, so the doubles decide every comparison except a
*tie*: a float equal to the double of a bound, any ``multipleOf`` on a
float, ``type: integer`` on a float that is integral or overflowed, and
float equality under ``enum`` or ``uniqueItems``. A tie re-parses that one
document with exact ``Fraction`` numbers (``parse_json``) and runs it again.
A ``float`` passed to ``validate_value`` has no text, so its ties are
decided on its exact binary value.
"""

from __future__ import annotations

import math
import operator
from dataclasses import dataclass
from fractions import Fraction
from typing import Any, Callable, Optional, Union

from jsonschema_spark.spec.model import (
    CompiledSchema,
    deref,
    is_json_integer,
    json_type,
    parse_json,
    parse_json_float,
    to_float,
)
from jsonschema_spark.spec.pointer import escape_token


@dataclass(frozen=True)
class Violation:
    path: str  # RFC 6901 JSON Pointer inside the instance ("" = root)
    keyword: str
    message: str


# check(value, path, out) -> valid; see the module docstring
Check = Callable[[Any, str, Optional[list]], bool]


class _Tie(Exception):
    """A float decision that rounding cannot settle."""


_JSON_TYPE = {
    type(None): "null", bool: "boolean", int: "number", float: "number",
    Fraction: "number", str: "string", list: "array", dict: "object",
}


def _closure(schema: CompiledSchema, exact: bool) -> Check:
    """The check of ``schema``, built on first use and cached on the node.
    ``exact`` says whether floats are exact values (``validate_value``) or
    rounded decimals from text (``validate_json``, which may raise _Tie)."""
    fn = schema.closures.get(exact)
    if fn is None:
        target = deref(schema)
        if target is None:
            fn = _accept  # pure-$ref cycle: no reachable constraints
        elif target is not schema:
            fn = _closure(target, exact)
        else:
            cell = []  # recursive references call through it until built
            schema.closures[exact] = lambda v, path, out: cell[0](v, path, out)
            fn = _build(schema, exact)
            cell.append(fn)
        schema.closures[exact] = fn
    return fn


def _accept(v: Any, path: str, out: Optional[list]) -> bool:
    return True


def _fail(out: Optional[list], path: str, keyword: str, message: str) -> bool:
    if out is not None:
        out.append(Violation(path, keyword, message))
    return False


def _all(checks: list) -> Check:
    """The conjunction of ``checks``, run in order."""
    checks = [c for c in checks if c is not None]
    if not checks:
        return _accept
    if len(checks) == 1:
        return checks[0]

    def run(v: Any, path: str, out: Optional[list]) -> bool:
        ok = True
        for c in checks:
            if not c(v, path, out):
                if out is None:
                    return False
                ok = False
        return ok

    return run


def _build(s: CompiledSchema, exact: bool) -> Check:
    by_json = {
        "null": _accept,
        "boolean": _accept,
        "number": _all(_number(s, exact)),
        "string": _all(_string(s)),
        "array": _all(_array(s, exact)),
        "object": _all(_object(s, exact)),
    }
    # the type gate: a wrong type skips the type's keyword group
    number = by_json["number"]
    for jt in by_json:
        if s.types and jt not in s.types:
            message = f"type {jt} is not allowed"
            by_json[jt] = lambda v, path, out, m=message: _fail(out, path, "type", m)
    by_type = {t: by_json[jt] for t, jt in _JSON_TYPE.items()}
    if s.integer_only:
        is_integer = _integer_exact if exact else _integer_text
        wrong = by_json["number"]
        by_json["number"] = by_type[float] = by_type[Fraction] = (
            lambda v, path, out: number(v, path, out) if is_integer(v) else wrong(v, path, out)
        )
        by_type[int] = number
    of_type = by_type.get

    def typed(v: Any, path: str, out: Optional[list]) -> bool:
        return (of_type(type(v)) or by_json[json_type(v)])(v, path, out)

    # combinators run against the raw value first (validate.go:29-54
    # ordering; conjunctive with everything else)
    return _all(_combinators(s, exact) + [typed])


# --- combinators ---------------------------------------------------------------


def _combinators(s: CompiledSchema, exact: bool) -> list:
    checks = []
    if s.enum is not None:
        member = _member(s.enum, exact)
        checks.append(
            lambda v, path, out: member(v) or _fail(out, path, "enum", "value not in enum")
        )
    checks.extend(_closure(child, exact) for child in s.all_of)
    if s.any_of:
        any_of = [_closure(child, exact) for child in s.any_of]

        def any_check(v: Any, path: str, out: Optional[list]) -> bool:
            for c in any_of:
                if c(v, path, None):
                    return True
            return _fail(out, path, "anyOf", "value matches no anyOf variant")

        checks.append(any_check)
    if s.one_of:
        one_of = [_closure(child, exact) for child in s.one_of]

        def one_check(v: Any, path: str, out: Optional[list]) -> bool:
            matches = 0
            for c in one_of:
                if c(v, path, None):
                    matches += 1
                    if matches > 1 and out is None:
                        return False
            return matches == 1 or _fail(
                out, path, "oneOf", f"value must match exactly one variant, matched {matches}"
            )

        checks.append(one_check)
    if s.not_ is not None:
        forbidden = _closure(s.not_, exact)
        checks.append(
            lambda v, path, out: not forbidden(v, path, None)
            or _fail(out, path, "not", "value matches the forbidden schema")
        )
    return checks


# --- numbers -------------------------------------------------------------------


def _integer_exact(v: Any) -> bool:
    return v.is_integer() if type(v) is float else is_json_integer(v)


def _integer_text(v: Any) -> bool:
    if type(v) is float:
        if v.is_integer() or not math.isfinite(v):
            raise _Tie
        return False  # the decimal rounds to a fraction, so it is one
    return is_json_integer(v)


def _bound(keyword: str, bound: Fraction, fails: Callable, message: str, exact: bool) -> Check:
    """``fails(v, bound)`` decides the keyword; a float compares against the
    bound's double first, which settles it unless the two are equal."""
    b = int(bound) if bound.denominator == 1 else bound
    bf = to_float(bound)

    def check(v: Any, path: str, out: Optional[list]) -> bool:
        if type(v) is float:
            if v != bf:
                return not fails(v, bf) or _fail(out, path, keyword, message)
            if not exact:
                raise _Tie
        return not fails(v, b) or _fail(out, path, keyword, message)

    return check


def _number(s: CompiledSchema, exact: bool) -> list:
    checks = []
    if s.minimum is not None:
        op, fails = (">", operator.le) if s.exclusive_minimum else (">=", operator.lt)
        message = f"value must be {op} {s.minimum}"
        checks.append(_bound("minimum", s.minimum, fails, message, exact))
    if s.maximum is not None:
        op, fails = ("<", operator.ge) if s.exclusive_maximum else ("<=", operator.gt)
        message = f"value must be {op} {s.maximum}"
        checks.append(_bound("maximum", s.maximum, fails, message, exact))
    if s.multiple_of is not None:
        m = s.multiple_of
        mi = int(m) if m.denominator == 1 else None
        message = f"value must be a multiple of {m}"

        def multiple(v: Any) -> bool:
            if type(v) is float:
                if not exact:
                    raise _Tie
                if not math.isfinite(v):
                    return False
            elif mi is not None and type(v) is int:
                return v % mi == 0
            return (Fraction(v) / m).denominator == 1

        checks.append(
            lambda v, path, out: multiple(v) or _fail(out, path, "multipleOf", message)
        )
    return checks


# --- structural equality (enum, uniqueItems) -----------------------------------

_BOOL_KEYS = {True: object(), False: object()}


def _same(n: Any) -> Any:
    return n


def _no_float(n: Any) -> Any:
    if type(n) is float:
        raise _Tie
    return n


def _rounded(n: Any) -> float:
    return n if type(n) is float else to_float(n)


def _key(v: Any, num: Callable) -> Any:
    """Hashable key of a JSON value: equal keys iff structurally equal
    (type-strict, object-key order ignored), numbers mapped by ``num``.
    Python's numeric equality and hash are exact across int/float/Fraction."""
    t = type(v)
    if t is str or v is None:
        return v
    if t is int or t is float or t is Fraction:
        return num(v)
    if t is bool:
        return _BOOL_KEYS[v]
    if t is list:
        return tuple([_key(x, num) for x in v])
    if t is dict:
        return frozenset([(k, _key(x, num)) for k, x in v.items()])
    plain = {"boolean": bool, "number": Fraction, "string": str, "array": list,
             "object": dict}[json_type(v)]
    return _key(plain(v), num)


def _member(enum: list, exact: bool) -> Callable[[Any], bool]:
    keys = {_key(e, _same) for e in enum}
    if exact:
        return lambda v: _key(v, _same) in keys
    rounded = {_key(e, _rounded) for e in enum}

    def member(v: Any) -> bool:
        try:
            return _key(v, _no_float) in keys
        except _Tie:  # the value holds floats: doubles can only prove a miss
            if _key(v, _rounded) in rounded:
                raise
            return False

    return member


def _first_pair(items: list, num: Callable) -> Optional[tuple]:
    """The first ``(i, j)``, i < j, of equal items in (i, j) order."""
    seen: dict = {}
    pair = None
    for j, x in enumerate(items):
        i = seen.setdefault(_key(x, num), j)
        if i != j and (pair is None or i < pair[0]):
            pair = (i, j)
    return pair


def _unique(exact: bool) -> Check:
    def check(v: list, path: str, out: Optional[list]) -> bool:
        if exact:
            pair = _first_pair(v, _same)
        else:
            try:
                pair = _first_pair(v, _no_float)
            except _Tie:  # floats: doubles can only prove the items distinct
                if _first_pair(v, _rounded) is not None:
                    raise
                pair = None
        return pair is None or _fail(
            out, path, "uniqueItems", "items [%d] and [%d] are equal" % pair
        )

    return check


# --- strings, arrays, objects ---------------------------------------------------


def _sizes(kind: str, noun: str, lo: Optional[int], hi: Optional[int]) -> list:
    """min/max checks on ``len(v)``."""
    checks = []
    if lo is not None:
        checks.append(
            lambda v, path, out: len(v) >= lo
            or _fail(out, path, f"min{kind}", noun.format(len(v), "<", lo))
        )
    if hi is not None:
        checks.append(
            lambda v, path, out: len(v) <= hi
            or _fail(out, path, f"max{kind}", noun.format(len(v), ">", hi))
        )
    return checks


def _string(s: CompiledSchema) -> list:
    # Unicode code points, matching the reference's RuneCount
    checks = _sizes("Length", "length {} {} {}", s.min_length, s.max_length)
    if s.pattern is not None:
        search = s.pattern.search
        message = f"value does not match {s.pattern.pattern!r}"
        checks.append(
            lambda v, path, out: search(v) is not None or _fail(out, path, "pattern", message)
        )
    return checks


def _array(s: CompiledSchema, exact: bool) -> list:
    checks = _sizes("Items", "{} items {} {}", s.min_items, s.max_items)
    if s.unique_items:
        checks.append(_unique(exact))
    if isinstance(s.items, CompiledSchema):
        each = _closure(s.items, exact)

        def items(v: list, path: str, out: Optional[list]) -> bool:
            if out is None:
                for x in v:
                    if not each(x, path, None):
                        return False
                return True
            ok = True
            for i, x in enumerate(v):
                ok = each(x, f"{path}/{i}", out) and ok
            return ok

        checks.append(items)
    elif isinstance(s.items, list):
        positional = [_closure(child, exact) for child in s.items]
        extra = s.additional_items
        if isinstance(extra, CompiledSchema):
            extra = _closure(extra, exact)
        elif extra is not False:
            extra = _accept
        n = len(positional)

        def tuple_items(v: list, path: str, out: Optional[list]) -> bool:
            ok = True
            for i, x in enumerate(v):
                item_path = path if out is None else f"{path}/{i}"
                if i < n:
                    valid = positional[i](x, item_path, out)
                elif extra is False:
                    valid = _fail(out, path, "additionalItems", f"extra item [{i}] is not allowed")
                else:
                    valid = extra(x, item_path, out)
                if not valid:
                    if out is None:
                        return False
                    ok = False
            return ok

        checks.append(tuple_items)
    return checks


def _object(s: CompiledSchema, exact: bool) -> list:
    checks = _sizes("Properties", "{} members {} {}", s.min_properties, s.max_properties)
    required = s.required
    dep_names = [(k, dep) for k, dep in s.dependencies.items() if isinstance(dep, tuple)]
    dep_schemas = [
        (k, _closure(dep, exact))
        for k, dep in s.dependencies.items()
        if not isinstance(dep, tuple)
    ]

    def required_check(v: dict, path: str, out: Optional[list]) -> bool:
        if out is None:
            for key in required:
                if key not in v:
                    return False
            for key, names in dep_names:
                if key in v:
                    for name in names:
                        if name not in v:
                            return False
            return True
        # declared order, then dependency names: a dict keeps the first
        # occurrence, so the list is the same in every process
        missing = dict.fromkeys(required)
        for key, names in dep_names:
            if key in v:
                missing.update(dict.fromkeys(names))
        ok = True
        for key in missing:
            if key not in v:
                ok = _fail(out, path, "required", f"required member {key!r} is missing")
        return ok

    def dependencies(v: dict, path: str, out: Optional[list]) -> bool:
        ok = True
        for key, dep in dep_schemas:
            if key in v:
                found = None if out is None else []
                if not dep(v, path, found):
                    if out is None:
                        return False
                    ok = False
                    for x in found:
                        out.append(Violation(
                            x.path, "dependencies", f"dependency on {key!r}: {x.message}"
                        ))
        return ok

    checks.append(required_check if required or dep_names else None)
    checks.append(dependencies if dep_schemas else None)
    checks.append(_members(s, exact))
    return checks


def _members(s: CompiledSchema, exact: bool) -> Optional[Check]:
    """properties, patternProperties and additionalProperties, per member."""
    props = {key: _closure(child, exact) for key, child in s.properties.items()}
    prop_paths = {key: "/" + escape_token(key) for key in s.properties}
    patterns = [(regex.search, _closure(child, exact)) for regex, child in s.pattern_properties]
    extra = s.additional_properties
    if isinstance(extra, CompiledSchema):
        extra = _closure(extra, exact)
    elif extra is not False:
        extra = None
        if not props and not patterns:
            return None

    def members(v: dict, path: str, out: Optional[list]) -> bool:
        if out is None:
            for key, member in v.items():
                c = props.get(key)
                if c is not None:
                    if not c(member, path, None):
                        return False
                    if not patterns:
                        continue
                matched = c is not None
                for search, pc in patterns:
                    if search(key) is not None:
                        matched = True
                        if not pc(member, path, None):
                            return False
                if not matched and extra is not None:
                    if extra is False or not extra(member, path, None):
                        return False
            return True
        ok = True
        for key, member in v.items():
            c = props.get(key)
            member_path = path + (prop_paths[key] if c is not None else "/" + escape_token(key))
            if c is not None:
                ok = c(member, member_path, out) and ok
            matched = c is not None
            for search, pc in patterns:
                if search(key) is not None:
                    matched = True
                    ok = pc(member, member_path, out) and ok
            if not matched:
                if extra is False:
                    ok = _fail(out, path, "additionalProperties", f"member {key!r} is not allowed")
                elif extra is not None:
                    ok = extra(member, member_path, out) and ok
        return ok

    return members


# --- entry points --------------------------------------------------------------


def is_valid(schema: CompiledSchema, value: Any) -> bool:
    """Verdict of a parsed JSON value, stopping at the first failure."""
    return _closure(schema, True)(value, "", None)


def validate_value(schema: CompiledSchema, value: Any) -> list[Violation]:
    """All violations of a parsed JSON value (empty list = accept)."""
    check = _closure(schema, True)
    if check(value, "", None):
        return []
    out: list = []
    check(value, "", out)
    return out


def is_valid_json(schema: CompiledSchema, text: Union[str, bytes]) -> bool:
    """Verdict of raw JSON text; malformed text is invalid."""
    try:
        value = parse_json_float(text)
    except ValueError:
        return False
    try:
        return _closure(schema, False)(value, "", None)
    except _Tie:
        return is_valid(schema, parse_json(text))


def validate_json(schema: CompiledSchema, text: Union[str, bytes]) -> list[Violation]:
    """Validate raw JSON text; malformed input is itself a violation
    (reference contract: /root/reference/validate.go:25-34)."""
    try:
        value = parse_json_float(text)
    except ValueError:
        return [Violation("", "json", "invalid json")]
    check = _closure(schema, False)
    try:
        if check(value, "", None):
            return []
        out: list = []
        check(value, "", out)
        return out
    except _Tie:
        return validate_value(schema, parse_json(text))
