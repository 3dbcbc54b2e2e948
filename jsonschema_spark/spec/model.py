"""Value model + compiled check-tree node for the constraint engine.

Design notes (Spark-first, not a port):

- Numbers are exact rationals (``fractions.Fraction``), so numeric bound,
  ``multipleOf`` and structural-equality semantics are value-based with
  arbitrary precision — the same observable contract as the reference's
  ``big.Rat`` comparisons (reference: /root/reference/schema.go:119-124,
  /root/reference/internal/jsonequal/equal.go:39-79) but achieved with the
  Python stdlib, not a translation of that code.
- ``integer`` is a *value* property, not a lexeme property: ``1.0`` and
  ``1e2`` are integers (reference contract: /root/reference/validate.go:220-229).
- String length counts Unicode code points — Python ``len(str)`` already
  does (reference contract: /root/reference/validate.go:194).
- Structural equality is deep, key-order-insensitive for objects,
  order-sensitive for arrays, value-based for numbers, and type-strict
  (``true != 1``) (reference contract:
  /root/reference/internal/jsonequal/equal.go:176-222).
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import dataclass, field
from fractions import Fraction
from typing import Any, Optional, Union

# --- JSON type lattice -------------------------------------------------------

TYPE_NULL = "null"
TYPE_BOOLEAN = "boolean"
TYPE_STRING = "string"
TYPE_NUMBER = "number"
TYPE_INTEGER = "integer"
TYPE_ARRAY = "array"
TYPE_OBJECT = "object"

ALL_TYPES = frozenset(
    {TYPE_NULL, TYPE_BOOLEAN, TYPE_STRING, TYPE_NUMBER, TYPE_INTEGER, TYPE_ARRAY, TYPE_OBJECT}
)


def _not_json(token: str) -> Any:
    raise ValueError(f"{token} is not a JSON value (RFC 8259)")


def parse_json(text: Union[str, bytes]) -> Any:
    """Parse JSON with exact-rational numbers.

    Floats become ``Fraction`` (exact decimal value, any magnitude — e.g.
    ``1e1000`` round-trips exactly); ints stay ``int``. Raises ``ValueError``
    on malformed input, including the ``NaN``/``Infinity`` tokens that
    Python's decoder would otherwise accept.
    """
    return json.loads(text, parse_float=Fraction, parse_constant=_not_json)


_FLOAT_DECODER = json.JSONDecoder(parse_constant=_not_json)


def parse_json_float(text: Union[str, bytes]) -> Any:
    """Parse JSON with floats as ``float``: the evaluator's fast first pass
    (spec/evaluate.py re-parses with :func:`parse_json` when a float cannot
    settle a decision). Same errors as :func:`parse_json`."""
    if isinstance(text, str):
        return _FLOAT_DECODER.decode(text)
    return json.loads(text, parse_constant=_not_json)


def is_json_integer(value: Any) -> bool:
    """True iff the value is a JSON number with an integral value."""
    if isinstance(value, bool):
        return False
    if isinstance(value, int):
        return True
    if isinstance(value, Fraction):
        return value.denominator == 1
    if isinstance(value, float):
        return value.is_integer()
    return False


def is_json_number(value: Any) -> bool:
    return not isinstance(value, bool) and isinstance(value, (int, float, Fraction))


def json_type(value: Any) -> str:
    """Primary JSON type name of a parsed value (``integer`` folds into
    ``number``; integer-ness is decided separately by :func:`is_json_integer`)."""
    if value is None:
        return TYPE_NULL
    if isinstance(value, bool):
        return TYPE_BOOLEAN
    if is_json_number(value):
        return TYPE_NUMBER
    if isinstance(value, str):
        return TYPE_STRING
    if isinstance(value, list):
        return TYPE_ARRAY
    if isinstance(value, dict):
        return TYPE_OBJECT
    raise TypeError(f"not a JSON value: {type(value)!r}")


def to_float(q: Any) -> float:
    """The nearest double, saturating to ±inf like float('1e400') (e.g.
    1e1000, which the reference compares exactly via big.Rat)."""
    try:
        return float(q)
    except OverflowError:
        return math.inf if q > 0 else -math.inf


def as_fraction(value: Any) -> Fraction:
    if isinstance(value, bool) or not isinstance(value, (int, float, Fraction)):
        raise TypeError(f"not a JSON number: {value!r}")
    return Fraction(value)


def json_equal(a: Any, b: Any) -> bool:
    """Structural JSON equality (type-strict, number-by-value)."""
    ta, tb = json_type(a), json_type(b)
    if ta != tb:
        return False
    if ta == TYPE_NUMBER:
        return as_fraction(a) == as_fraction(b)
    if ta == TYPE_ARRAY:
        return len(a) == len(b) and all(json_equal(x, y) for x, y in zip(a, b))
    if ta == TYPE_OBJECT:
        if len(a) != len(b) or a.keys() != b.keys():
            return False
        return all(json_equal(v, b[k]) for k, v in a.items())
    return a == b


# --- Compiled check tree -----------------------------------------------------


def deref(schema: "CompiledSchema") -> Optional["CompiledSchema"]:
    """Follow $ref indirection; a degenerate pure-ref cycle has no reachable
    constraints and therefore accepts everything (returns None)."""
    seen = set()
    while schema.ref is not None:
        if id(schema) in seen:
            return None
        seen.add(id(schema))
        schema = schema.ref
    return schema


@dataclass
class CompiledSchema:
    """One node of the executable check tree.

    The compiler (spec/compile.py) guarantees every field is normalized:
    regexes pre-compiled, numeric bounds exact ``Fraction``, enum variants
    parsed values, child schemas compiled. Evaluation (spec/evaluate.py) and
    Column-lowering (compiler/columns.py) both consume this one IR.
    """

    # empty set = any type (matches everything)
    types: frozenset = frozenset()
    # True in types-set means plain "number" was requested (integer included);
    # integer_only tracks whether "integer" (and not "number") was requested.
    integer_only: bool = False

    enum: Optional[list] = None

    all_of: list = field(default_factory=list)
    any_of: list = field(default_factory=list)
    one_of: list = field(default_factory=list)
    not_: Optional["CompiledSchema"] = None

    minimum: Optional[Fraction] = None
    exclusive_minimum: bool = False
    maximum: Optional[Fraction] = None
    exclusive_maximum: bool = False
    multiple_of: Optional[Fraction] = None

    min_length: Optional[int] = None
    max_length: Optional[int] = None
    pattern: Optional[re.Pattern] = None

    min_items: Optional[int] = None
    max_items: Optional[int] = None
    unique_items: bool = False
    # None | CompiledSchema (single form) | list[CompiledSchema] (tuple form)
    items: Any = None
    # None/True = accept extras; False = reject; CompiledSchema = validate
    additional_items: Any = None

    properties: dict = field(default_factory=dict)
    pattern_properties: list = field(default_factory=list)  # [(re.Pattern, CompiledSchema)]
    # None/True = accept; False = reject; CompiledSchema = validate
    additional_properties: Any = None
    required: tuple = ()
    # key -> tuple[str,...] (dependentRequired) or CompiledSchema (dependentSchemas)
    dependencies: dict = field(default_factory=dict)
    min_properties: Optional[int] = None
    max_properties: Optional[int] = None

    # $ref indirection: filled after resolution (may create cycles).
    ref: Optional["CompiledSchema"] = None

    # evaluator closures (spec/evaluate.py), built on first use, keyed by mode
    closures: dict = field(default_factory=dict, init=False, repr=False, compare=False)
