"""Lower a CompiledSchema to a native Spark ``Column`` boolean predicate.

This is the engine's hot path: every constraint that *can* be a Catalyst
expression becomes one, so validation of typed columns runs entirely inside
whole-stage codegen — zero Python on executors (north rule). The mapping per
keyword follows SURVEY.md §2.1's table; semantics are pinned by the
pure-Python evaluator (spec/evaluate.py), which the pytest suite
cross-checks this lowering against on the same inputs.

One walk per column check (:func:`lower_check`) yields both the verdict and
its parts: a boolean per RFC 6901 path ('' for root-level keywords,
'/<member>' for struct fields and declared map keys, recursively for nested
objects) and, for a map whose keys patternProperties/additionalProperties
match at runtime, one per-entry case list. The verdict is the conjunction
of the parts; the plan builder turns the same parts into the check's failure
entries. Where no path is needed (array items, combinators, map entry
values) ``_lower`` joins the parts under one NULL guard.

Typed-column conventions (documented semantic bridge, SURVEY.md §7):

- SQL ``NULL`` represents JSON ``null``. Struct fields use NULL = "member
  absent" (JSON cannot round-trip absent-vs-null through typed structs).
  The verdict for a NULL value is computed exactly by running the reference
  evaluator on ``None`` at plan-build time — a compile-time constant.
- ``integer`` on fractional/decimal columns is a *value* check
  (``c == floor(c)``), matching /root/reference/validate.go:220-229.
- ``pattern`` lowers to ``rlike`` (java.util.regex) behind a compile-time
  dialect gate: constructs whose meaning differs from Python re (inline
  flags, ``\\Z``, ``\\d``-style Unicode classes, class intersection, ...)
  raise LoweringError so the plan builder routes the check through the
  Arrow kernel — never a silent cross-dialect divergence.

Anything not expressible raises :class:`LoweringError`; the plan builder
falls back to the Arrow-batched kernel for that check (never silently).
"""

from __future__ import annotations

import math
import operator
from decimal import Decimal
from fractions import Fraction
from functools import reduce
from typing import Any, Callable, NamedTuple, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_spark.spec.compile import regex_dialect_risks
from jsonschema_spark.spec.evaluate import is_valid
from jsonschema_spark.spec.model import CompiledSchema, deref, to_float
from jsonschema_spark.spec.pointer import escape_token


class LoweringError(ValueError):
    """Constraint not expressible as a native Column; use the kernel path."""


def _rlike(col: Column, pattern: str) -> Column:
    """Gated ``rlike``: a pattern whose meaning differs between Python re
    (the engine's semantic reference) and java.util.regex refuses the native
    lowering instead of silently diverging — the plan builder then routes
    the check through the Arrow kernel, which keeps Python-re semantics
    (SURVEY §7 compile-time dialect gate; reference analog of the RE2
    dialect pin at compiler.go:195-200)."""
    risks = regex_dialect_risks(pattern)
    if risks:
        raise LoweringError(
            f"pattern {pattern!r} is not rlike-safe "
            f"(Python-re vs java.util.regex): {'; '.join(risks)}"
        )
    return col.rlike(pattern)


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONAL = (T.FloatType, T.DoubleType, T.DecimalType)


def _json_type_of(dtype: T.DataType) -> str:
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, _INTEGRAL) or isinstance(dtype, _FRACTIONAL):
        return "number"
    if isinstance(dtype, T.ArrayType):
        return "array"
    if isinstance(dtype, (T.StructType, T.MapType)):
        return "object"
    raise LoweringError(f"no JSON type mapping for Spark type {dtype.simpleString()}")


class PrecisionWarning(UserWarning):
    """A numeric bound exceeds Spark's exact range (long / Decimal(38)) and
    was compiled as a double approximation — the documented ceiling vs the
    reference's big.Rat arbitrary precision (equal_test.go:45). Emitted at
    compile time (SURVEY §7), never during execution."""


def _warn_precision(value: Fraction) -> None:
    import warnings

    warnings.warn(
        f"bound {value} exceeds Decimal(38) exact precision; compiled as the "
        f"double approximation {to_float(value)!r}",
        PrecisionWarning,
        stacklevel=4,
    )


def _fraction_literal(value: Fraction) -> Column:
    """Exact literal when the rational fits long / Decimal(38); double
    approximation otherwise, with a compile-time PrecisionWarning whenever
    exactness is actually lost (a float-origin fraction round-trips
    exactly and stays silent)."""
    if value.denominator == 1:
        n = value.numerator
        if -(2**63) <= n < 2**63:
            return F.lit(n)
        if len(str(abs(n))) <= 38:
            return F.lit(Decimal(n))
        if value != to_float(value):
            _warn_precision(value)
        return F.lit(to_float(value))
    d = value.denominator
    while d % 2 == 0:
        d //= 2
    while d % 5 == 0:
        d //= 5
    if d == 1:  # terminating decimal → exact Decimal literal
        from decimal import localcontext

        with localcontext() as ctx:
            ctx.prec = 60
            dec = Decimal(value.numerator) / Decimal(value.denominator)
        # Spark decimals cap at precision 38 (documented gap vs big.Rat);
        # a wider exact expansion (e.g. binary floats like 0.02) goes float.
        if len(dec.as_tuple().digits) <= 38:
            return F.lit(dec)
    if value != to_float(value):
        _warn_precision(value)
    return F.lit(to_float(value))


def _scalar_literal(value: Any) -> Column:
    if isinstance(value, Fraction):
        return _fraction_literal(value)
    return F.lit(value)


def _is_integral_value(col: Column, dtype: T.DataType) -> Column:
    if isinstance(dtype, _INTEGRAL):
        return F.lit(True)
    if isinstance(dtype, _FRACTIONAL):
        return col == F.floor(col).cast(dtype)
    return F.lit(False)


def lower_predicate(
    schema: CompiledSchema, col: Column, dtype: T.DataType
) -> Column:
    """Boolean Column: True iff the value satisfies the schema. Never NULL."""
    return _lower(schema, col, dtype, seen=frozenset())


class CheckParts(NamedTuple):
    """A column check from one lowering walk (:func:`lower_check`).

    ``paths`` maps an RFC 6901 path to a boolean Column, never NULL, that
    holds iff the value meets what the schema asks at that path: '' carries
    the root-level keywords (type, enum, combinators, required,
    dependencies, min/maxProperties), '/<name>' a struct field's or a
    declared map key's subschema, recursively ('/addr/zip') when that
    member is itself an object. ``entry_cases`` is None unless the column
    is a map whose keys the schema matches only at runtime
    (patternProperties / additionalProperties): then it maps one
    ``map_entries`` element to its ``(failed, keyword)`` cases, where
    ``keyword`` is the raw-spec key path of the subschema the entry broke
    (``('patternProperties', regex)`` or ``('additionalProperties',)``).
    ``verdict`` is the conjunction of ``paths`` and no failed case; it
    equals ``lower_predicate``."""

    verdict: Column
    paths: dict
    entry_cases: Optional[Callable]


def lower_check(schema: CompiledSchema, col: Column, dtype: T.DataType) -> CheckParts:
    """The column check's verdict and its per-path parts, from one walk.
    The parts recover the reference's path-wrapped errors
    (validate.go:74,346,500) and the per-key errors of dynamically matched
    keys (validate.go:471-500). Dynamic keys of a map nested under a
    member report at that member's path."""
    null_ok, paths, cases = _parts(schema, col, dtype, frozenset())
    guarded = _guarded(col, null_ok, paths)
    verdict = list(guarded.values())
    if cases is not None:  # a NULL map's type check is at ''
        verdict.append(F.coalesce(_entries_ok(col, cases), F.lit(True)))
    return CheckParts(_conjoin(verdict), guarded, cases)


def _conjoin(preds) -> Column:
    preds = list(preds)
    return reduce(operator.and_, preds) if preds else F.lit(True)


def _parts(
    schema: CompiledSchema, col: Column, dtype: T.DataType, seen: frozenset
) -> tuple:
    """``(null_ok, paths, entry_cases)``: ``paths`` maps a path to the
    predicates the schema puts there on a NON-NULL value (they may be NULL
    themselves); ``null_ok`` is the exact verdict on NULL, computed at
    build time."""
    target = deref(schema)
    if target is None:
        return True, {"": []}, None  # degenerate pure-$ref cycle: no reachable constraints
    if id(target) in seen:
        # cyclic schema at the same column position: a finite typed value
        # cannot recurse further than its own DataType, so the recursion is
        # driven by dtype descent; a same-position revisit means no progress.
        raise LoweringError("cyclic $ref not expressible at fixed column type")
    seen = seen | {id(target)}
    paths, cases = _lower_non_null(target, col, dtype, seen)
    return is_valid(target, None), paths, cases


def _guarded(col: Column, null_ok: bool, paths: dict) -> dict:
    """One boolean per path, never NULL: a NULL value gets ``null_ok`` at
    '' and is not constrained below it."""
    return {
        path: F.when(F.isnull(col), F.lit(null_ok if path == "" else True)).otherwise(
            F.coalesce(_conjoin(preds), F.lit(False))
        )
        for path, preds in paths.items()
    }


def _lower(
    schema: CompiledSchema, col: Column, dtype: T.DataType, seen: frozenset
) -> Column:
    """The verdict where no failure needs a path: every part joined with
    AND under one NULL guard."""
    null_ok, paths, cases = _parts(schema, col, dtype, seen)
    preds = [p for group in paths.values() for p in group]
    if cases is not None:
        preds.append(_entries_ok(col, cases))
    return _guarded(col, null_ok, {"": preds})[""]


def _entries_ok(col: Column, cases: Callable) -> Column:
    """True iff no entry of the map ``col`` fails one of its cases; NULL
    for a NULL map."""
    return F.forall(
        F.map_entries(col), lambda kv: ~reduce(operator.or_, [bad for bad, _ in cases(kv)])
    )


def _lower_non_null(
    schema: CompiledSchema, col: Column, dtype: T.DataType, seen: frozenset
) -> tuple:
    """``(paths, entry_cases)`` of a non-null value (see ``_parts``):
    everything lands at '' except an object's member subschemas."""
    preds: list[Column] = []
    paths = {"": preds}
    vtype = _json_type_of(dtype)

    # type -------------------------------------------------------------------
    if schema.types:
        if vtype in schema.types:
            pass  # statically satisfied
        elif vtype == "number" and "integer" in schema.types:
            preds.append(_is_integral_value(col, dtype))
        else:
            preds.append(F.lit(False))  # statically wrong type for every non-null value
            return paths, None

    # enum -------------------------------------------------------------------
    if schema.enum is not None:
        preds.append(_lower_enum(schema.enum, col, dtype))

    # combinators ------------------------------------------------------------
    for child in schema.all_of:
        preds.append(_lower(child, col, dtype, seen))
    if schema.any_of:
        any_pred = _lower(schema.any_of[0], col, dtype, seen)
        for child in schema.any_of[1:]:
            any_pred = any_pred | _lower(child, col, dtype, seen)
        preds.append(any_pred)
    if schema.one_of:
        count = F.lit(0)
        for child in schema.one_of:
            count = count + _lower(child, col, dtype, seen).cast("int")
        preds.append(count == 1)
    if schema.not_ is not None:
        preds.append(~_lower(schema.not_, col, dtype, seen))

    # type-directed keyword groups (only the group matching the column type
    # can ever fire — the reference's skip-fast path becomes a static skip)
    cases = None
    if vtype == "number":
        preds.extend(_lower_number(schema, col, dtype))
    elif vtype == "string":
        preds.extend(_lower_string(schema, col))
    elif vtype == "array":
        preds.extend(_lower_array(schema, col, dtype, seen))
    elif vtype == "object":
        # each member's subschema under the member's path (``_nest``);
        # required, dependencies and min/maxProperties at ''
        lower = _lower_struct if isinstance(dtype, T.StructType) else _lower_map
        cases = lower(schema, col, dtype, seen, paths)
    return paths, cases


def _lower_enum(enum: list, col: Column, dtype: T.DataType) -> Column:
    """Scalar enums → hash-set ``isin``; array-of-scalar enums → equality
    against array literals. Composite (object) variants are kernel-only."""
    scalars, arrays = [], []
    for variant in enum:
        if isinstance(variant, (dict,)):
            raise LoweringError("object enum variant not expressible natively")
        if isinstance(variant, list):
            if any(isinstance(x, (list, dict)) for x in variant):
                raise LoweringError("nested array enum variant not expressible")
            arrays.append(variant)
        else:
            scalars.append(variant)

    pred: Optional[Column] = None
    if isinstance(dtype, T.ArrayType):
        for variant in arrays:
            eq = col == F.array(*[_scalar_literal(x) for x in variant])
            pred = eq if pred is None else pred | eq
    else:
        matching = [s for s in scalars if _scalar_matches_dtype(s, dtype)]
        if matching:
            if all(not isinstance(s, Fraction) for s in matching):
                pred = col.isin(matching)
            else:
                for s in matching:
                    eq = col == _scalar_literal(s)
                    pred = eq if pred is None else pred | eq
    return pred if pred is not None else F.lit(False)


def _scalar_matches_dtype(value: Any, dtype: T.DataType) -> bool:
    if value is None:
        return False  # null handled by the outer null_verdict branch
    if isinstance(value, bool):
        return isinstance(dtype, T.BooleanType)
    if isinstance(value, (int, float, Fraction)):
        return isinstance(dtype, _INTEGRAL + _FRACTIONAL)
    if isinstance(value, str):
        return isinstance(dtype, T.StringType)
    return False


def _lower_number(schema: CompiledSchema, col: Column, dtype: T.DataType) -> list:
    preds = []
    if schema.minimum is not None:
        bound = _fraction_literal(schema.minimum)
        preds.append(col > bound if schema.exclusive_minimum else col >= bound)
    if schema.maximum is not None:
        bound = _fraction_literal(schema.maximum)
        preds.append(col < bound if schema.exclusive_maximum else col <= bound)
    if schema.multiple_of is not None:
        m = schema.multiple_of
        if m.denominator == 1 and isinstance(dtype, _INTEGRAL):
            preds.append(F.pmod(col, F.lit(m.numerator)) == 0)
        else:
            q = col / _fraction_literal(m)
            preds.append(q == F.floor(q))
    return preds


def _lower_string(schema: CompiledSchema, col: Column) -> list:
    preds = []
    if schema.min_length is not None:
        preds.append(F.length(col) >= schema.min_length)
    if schema.max_length is not None:
        preds.append(F.length(col) <= schema.max_length)
    if schema.pattern is not None:
        preds.append(_rlike(col, schema.pattern.pattern))
    return preds


def _lower_array(
    schema: CompiledSchema, col: Column, dtype: T.ArrayType, seen: frozenset
) -> list:
    preds = []
    elem_type = dtype.elementType
    if schema.min_items is not None:
        preds.append(F.size(col) >= schema.min_items)
    if schema.max_items is not None:
        preds.append(F.size(col) <= schema.max_items)
    if schema.unique_items:
        # typed equality == structural equality for typed arrays; NULL elements
        # collapse in array_distinct the same way (one null kept)
        preds.append(F.size(F.array_distinct(col)) == F.size(col))
    if isinstance(schema.items, CompiledSchema):
        items = schema.items
        fast = _bounds_only_items(items, col, elem_type)
        if fast is not None:
            preds.extend(fast)
        else:
            preds.append(
                F.forall(col, lambda e: _lower(items, e, elem_type, seen))
            )
    elif isinstance(schema.items, list):
        for i, child in enumerate(schema.items):
            elem_ok = _lower(child, F.element_at(col, i + 1), elem_type, seen)
            preds.append(F.when(F.size(col) > i, elem_ok).otherwise(F.lit(True)))
        n = len(schema.items)
        if schema.additional_items is False:
            preds.append(F.size(col) <= n)
        elif isinstance(schema.additional_items, CompiledSchema):
            extra = schema.additional_items
            tail = F.slice(col, n + 1, F.greatest(F.size(col) - n, F.lit(0)))
            preds.append(F.forall(tail, lambda e: _lower(extra, e, elem_type, seen)))
    return preds


def _bounds_only_items(
    items: CompiledSchema, col: Column, elem_type: T.DataType
) -> Optional[list]:
    """Plan-builder optimization (the engine's analog of a Catalyst rule):
    ``items: {type: integer, minimum: lo, maximum: hi}`` over an integral
    element type needs no per-element lambda — ``array_min/array_max``
    bounds are equivalent and stay out of interpreted higher-order-function
    evaluation (the hottest expression of the corpus validation pass; see
    BASELINE.md). Null elements fail the numeric type check in the general
    path, so the fast path adds an explicit no-nulls guard for parity
    (``_no_null_elements``)."""
    target = deref(items)
    if target is None or not isinstance(elem_type, _INTEGRAL):
        return None
    simple_type = not target.types or set(target.types) <= {"integer", "number"}
    others_unset = (
        target.enum is None
        and not target.all_of and not target.any_of and not target.one_of
        and target.not_ is None and target.multiple_of is None
        and target.ref is None
    )
    if not (simple_type and others_unset):
        return None
    preds = []
    if target.types:
        # a NULL element fails the type check in the general path
        preds.append(_no_null_elements(target, col, elem_type))
    # bounds are vacuous over empty / all-null arrays (array_min -> NULL),
    # matching forall's vacuous truth — hence the coalesce(True)
    if target.minimum is not None:
        bound = _fraction_literal(target.minimum)
        mn = F.array_min(col)
        p = mn > bound if target.exclusive_minimum else mn >= bound
        preds.append(F.coalesce(p, F.lit(True)))
    if target.maximum is not None:
        bound = _fraction_literal(target.maximum)
        mx = F.array_max(col)
        p = mx < bound if target.exclusive_maximum else mx <= bound
        preds.append(F.coalesce(p, F.lit(True)))
    return preds


# an integral element type holds [-half, half)
_INTEGRAL_HALF = {T.ByteType: 2**7, T.ShortType: 2**15, T.IntegerType: 2**31, T.LongType: 2**63}


def _no_null_elements(target: CompiledSchema, col: Column, elem_type: T.DataType) -> Column:
    """True iff the non-null integral array ``col`` has no NULL element,
    next to ``target``'s bounds. With a value ``s`` of the element type
    that fails a bound, ``array_contains(col, s) IS NOT NULL`` is exact:
    ``array_contains`` is NULL only when ``s`` is absent and some element
    is NULL, and an array holding ``s`` fails its bound anyway. It stays in
    whole-stage codegen, where ``array_compact`` is an interpreted
    ``filter`` lambda. Without such an ``s`` (no bound, or one at the
    type's edge) the guard counts the elements ``array_compact`` keeps."""
    half = _INTEGRAL_HALF[type(elem_type)]
    candidates = []
    if target.minimum is not None:
        candidates.append(math.floor(target.minimum) - 1)
    if target.maximum is not None:
        candidates.append(math.ceil(target.maximum) + 1)
    for s in candidates:
        if -half <= s < half:
            return F.array_contains(col, F.lit(s).cast(elem_type)).isNotNull()
    return F.size(F.array_compact(col)) == F.size(col)


def _nest(
    paths: dict,
    prefix: str,
    child: CompiledSchema,
    value: Column,
    dtype: T.DataType,
    present: Optional[Column],
    seen: frozenset,
) -> None:
    """Add ``child``'s parts on the member ``value`` under ``prefix``.
    ``present`` tests a map key's presence; for a struct field (``None``)
    a NULL value is the absent member. An absent member passes, and a NULL
    member constrains nothing below its own path. A nested map's
    runtime-matched keys report at ``prefix``."""
    null_ok, sub, cases = _parts(child, value, dtype, seen)
    if cases is not None:
        sub[""].append(_entries_ok(value, cases))
    for path, preds in sub.items():
        ok = F.coalesce(_conjoin(preds), F.lit(False))
        if path or present is None or null_ok:
            ok = F.when(F.isnull(value), F.lit(True)).otherwise(ok)
        else:  # a map key's NULL value fails the subschema; an absent key passes
            ok = F.when(F.isnull(value), ~present).otherwise(ok)
        paths.setdefault(prefix + path, []).append(ok)


def _member_keywords(
    schema: CompiledSchema,
    col: Column,
    dtype: T.DataType,
    seen: frozenset,
    present: Callable,
    count: Callable,
) -> list:
    """required / dependencies / min-maxProperties, given the member test
    ``present(name)`` and the member count ``count()``."""
    preds = [present(name) for name in schema.required]
    for key, dep in schema.dependencies.items():
        if isinstance(dep, tuple):
            need = _conjoin([present(d) for d in dep])
        else:
            need = _lower(dep, col, dtype, seen)
        preds.append(F.when(present(key), need).otherwise(F.lit(True)))
    if schema.min_properties is not None:
        preds.append(count() >= schema.min_properties)
    if schema.max_properties is not None:
        preds.append(count() <= schema.max_properties)
    return preds


def _lower_struct(
    schema: CompiledSchema, col: Column, dtype: T.StructType, seen: frozenset, paths: dict
) -> None:
    """Struct columns: member names are *static* (the fields), so key-directed
    keywords (properties / patternProperties / additionalProperties /
    required / min-maxProperties counting) partially evaluate at plan-build
    time — the reference's per-key dispatch loop (validate.go:452-508)
    becomes compile-time constant folding here. A NULL field is an absent
    member."""
    fields = {f.name: f.dataType for f in dtype.fields}
    members = {name: col.getField(name) for name in fields}

    for name, ftype in fields.items():
        applied = [schema.properties[name]] if name in schema.properties else []
        for regex, child in schema.pattern_properties:
            if regex.search(name) is not None:
                applied.append(child)
        path = "/" + escape_token(name)
        if not applied and schema.additional_properties is False:
            paths.setdefault(path, []).append(F.isnull(members[name]))
        elif not applied and isinstance(schema.additional_properties, CompiledSchema):
            applied.append(schema.additional_properties)
        for child in applied:
            _nest(paths, path, child, members[name], ftype, None, seen)

    def present(name: str) -> Column:
        return F.isnotnull(members[name]) if name in fields else F.lit(False)

    def count() -> Column:
        n = F.lit(0)
        for member in members.values():
            n = n + F.isnotnull(member).cast("int")
        return n

    paths[""].extend(_member_keywords(schema, col, dtype, seen, present, count))


def _lower_map(
    schema: CompiledSchema, col: Column, dtype: T.MapType, seen: frozenset, paths: dict
) -> Optional[Callable]:
    """Map columns: dynamic keys — absent-vs-null is preserved
    (map_contains_key). Declared keys get their own paths; keys matched by
    patternProperties / additionalProperties are known only per row, so
    they come back as the per-entry cases."""
    if not isinstance(dtype.keyType, T.StringType):
        raise LoweringError("object checks require map<string, _> columns")
    vtype = dtype.valueType

    def present(name: str) -> Column:
        return F.map_contains_key(col, F.lit(name))

    for name, child in schema.properties.items():
        value = F.element_at(col, F.lit(name))
        _nest(paths, "/" + escape_token(name), child, value, vtype, present(name), seen)
    paths[""].extend(
        _member_keywords(schema, col, dtype, seen, present, lambda: F.size(col))
    )

    extra = schema.additional_properties
    if not schema.pattern_properties and (extra is None or extra is True):
        return None
    declared = F.array(*[F.lit(n) for n in schema.properties]) if schema.properties else None
    needs_value = bool(schema.pattern_properties) or extra is not False

    def cases(kv: Column) -> list:
        key = kv.getField("key")
        value = kv.getField("value") if needs_value else None
        out = []
        matched = F.array_contains(declared, key) if declared is not None else F.lit(False)
        for regex, child in schema.pattern_properties:
            hit = _rlike(key, regex.pattern)
            matched = matched | hit
            failed = hit & ~_lower(child, value, vtype, seen)
            out.append((failed, ("patternProperties", regex.pattern)))
        if extra is False:
            out.append((~matched, ("additionalProperties",)))
        elif isinstance(extra, CompiledSchema):
            failed = ~matched & ~_lower(extra, value, vtype, seen)
            out.append((failed, ("additionalProperties",)))
        return out

    return cases
