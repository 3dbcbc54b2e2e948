"""Lower a CompiledSchema to a native Spark ``Column`` boolean predicate.

This is the engine's hot path: every constraint that *can* be a Catalyst
expression becomes one, so validation of typed columns runs entirely inside
whole-stage codegen — zero Python on executors (north rule). The mapping per
keyword follows SURVEY.md §2.1's table; semantics are pinned by the
pure-Python evaluator (spec/evaluate.py), which the pytest suite
cross-checks this lowering against on the same inputs.

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

from decimal import Decimal
from fractions import Fraction
from typing import Any, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_spark.spec.compile import regex_dialect_risks
from jsonschema_spark.spec.evaluate import is_valid
from jsonschema_spark.spec.model import CompiledSchema, deref
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


def _approx_float(value: Fraction) -> float:
    """float(value), saturating to ±inf when the rational overflows a
    double (e.g. 1e1000 — the reference compares it exactly via big.Rat)."""
    import math

    try:
        return float(value)
    except OverflowError:
        return math.inf if value > 0 else -math.inf


def _warn_precision(value: Fraction) -> None:
    import warnings

    warnings.warn(
        f"bound {value} exceeds Decimal(38) exact precision; compiled as the "
        f"double approximation {_approx_float(value)!r}",
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
        if value != _approx_float(value):
            _warn_precision(value)
        return F.lit(_approx_float(value))
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
    if value != _approx_float(value):
        _warn_precision(value)
    return F.lit(_approx_float(value))


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


def _has_dynamic_map_keys(s: CompiledSchema) -> bool:
    return bool(s.pattern_properties) or (
        s.additional_properties is not None and s.additional_properties is not True
    )


def lower_dynamic_key_violations(
    schema: CompiledSchema,
    col: Column,
    dtype: T.DataType,
    raw_spec: Optional[dict] = None,
) -> Optional[Column]:
    """``array<struct<path,detail>>`` of per-key failures for map entries
    matched only DYNAMICALLY — ``patternProperties`` value failures (on any
    key, declared or not) and ``additionalProperties`` failures on keys
    matched by neither a declared name nor a pattern. The key names exist
    only at runtime, so unlike :func:`lower_named_predicates` (static paths)
    this returns one runtime-computed, RFC 6901-escaped ``'/<key>'`` path
    per failing entry — the reference's per-key wrapped object errors for
    arbitrary keys (/root/reference/validate.go:471-500).

    Contract with ``lower_named_predicates(..., dynamic_paths=True)``:
    ``AND(static predicates) AND size(this) == 0  ==  lower_predicate``.
    Returns None when the schema has no dynamic key constraints (or the
    dtype is not map<string, _>). NULL maps yield an empty array (the type
    gate reports at root). Scope: top-level map columns; nested maps under
    declared keys keep static-prefix reporting."""
    import json as _json

    target = deref(schema)
    if (
        target is None
        or not isinstance(dtype, T.MapType)
        or not isinstance(dtype.keyType, T.StringType)
        or not _has_dynamic_map_keys(target)
    ):
        return None
    s = target
    seen = frozenset({id(s)})
    vtype = dtype.valueType
    raw = raw_spec or {}

    def _frag(obj: Any, fallback: str) -> str:
        try:
            return _json.dumps(obj, sort_keys=True, separators=(",", ":"))
        except TypeError:
            return fallback

    def matched(k: Column) -> Column:
        m = (
            F.array_contains(F.array(*[F.lit(n) for n in s.properties]), k)
            if s.properties
            else F.lit(False)
        )
        for regex, _ in s.pattern_properties:
            m = m | _rlike(k, regex.pattern)
        return m

    raw_pp = raw.get("patternProperties") or {}

    def per_entry(kv: Column) -> Column:
        k = kv.getField("key")
        v = kv.getField("value")
        # RFC 6901: "~" -> "~0" before "/" -> "~1"
        path = F.concat(
            F.lit("/"), F.replace(F.replace(k, F.lit("~"), F.lit("~0")), F.lit("/"), F.lit("~1"))
        )
        cases = []
        for regex, child in s.pattern_properties:
            ok = F.coalesce(_lower(child, v, vtype, seen), F.lit(False))
            detail = _frag(
                {"patternProperties": {regex.pattern: raw_pp.get(regex.pattern)}},
                '{"patternProperties":%s}' % _json.dumps(regex.pattern),
            )
            cases.append(
                F.when(
                    _rlike(k, regex.pattern) & ~ok,
                    F.struct(path.alias("path"), F.lit(detail).alias("detail")),
                )
            )
        if s.additional_properties is False:
            cases.append(
                F.when(
                    ~matched(k),
                    F.struct(
                        path.alias("path"),
                        F.lit('{"additionalProperties":false}').alias("detail"),
                    ),
                )
            )
        elif s.additional_properties is not None and s.additional_properties is not True:
            ok = F.coalesce(
                _lower(s.additional_properties, v, vtype, seen), F.lit(False)
            )
            detail = _frag(
                {"additionalProperties": raw.get("additionalProperties")},
                '"additionalProperties"',
            )
            cases.append(
                F.when(
                    ~matched(k) & ~ok,
                    F.struct(path.alias("path"), F.lit(detail).alias("detail")),
                )
            )
        return F.filter(F.array(*cases), lambda x: x.isNotNull())

    empty = F.array().cast("array<struct<path: string, detail: string>>")
    return F.coalesce(F.flatten(F.transform(F.map_entries(col), per_entry)), empty)


def lower_named_predicates(
    schema: CompiledSchema, col: Column, dtype: T.DataType, dynamic_paths: bool = False
) -> dict:
    """Per-path boolean predicates whose conjunction equals
    ``lower_predicate``: for struct columns, each property subschema keys
    under ``/<field>`` (RFC 6901-escaped; recursively ``/a/b`` for nested
    structs) while every schema-level constraint (type, enum, combinators,
    required, min/maxProperties, dependencies) keys at ``''``. Non-struct
    dtypes yield a single ``''`` entry.

    This is how the native path recovers the reference's path-wrapped error
    locations (validate.go:74,346,500): ValidationJob.violations evaluates
    these per-path predicates in the same scan stage and emits
    (id, check, path) rows instead of path-less check names. Termination for
    cyclic specs is driven by dtype descent, like ``_lower``.

    Map columns (dynamic keys) get per-key entries for the spec's DECLARED
    property names — the statically known part, matching the reference's
    per-key wrapped object errors (validate.go:500). Pattern/additional
    properties over arbitrary keys stay at ``''`` by default (their keys
    don't exist at compile time); with ``dynamic_paths=True`` the caller
    pairs this with :func:`lower_dynamic_key_violations` (which reports
    those per-key at runtime), so the root entry DROPS
    patternProperties/additionalProperties and the invariant becomes
    ``AND(static) AND size(dynamic) == 0 == lower_predicate``."""
    import dataclasses

    target = deref(schema)
    if (
        target is not None
        and isinstance(dtype, T.MapType)
        and isinstance(dtype.keyType, T.StringType)
        and (target.properties or (dynamic_paths and _has_dynamic_map_keys(target)))
    ):
        s = target
        seen = frozenset({id(s)})
        vtype = dtype.valueType
        entries = {}
        for name, child in s.properties.items():
            v = F.element_at(col, F.lit(name))
            path = "/" + escape_token(name)
            # absent key / NULL map: a property doesn't constrain
            guard = ~F.coalesce(F.map_contains_key(col, F.lit(name)), F.lit(False))
            if isinstance(vtype, (T.StructType, T.MapType)) and deref(child) is not None:
                for p, pred in lower_named_predicates(child, v, vtype).items():
                    entries[path + p] = F.when(guard, F.lit(True)).otherwise(
                        F.coalesce(pred, F.lit(False))
                    )
            else:
                entries[path] = F.when(guard, F.lit(True)).otherwise(
                    F.coalesce(_lower(child, v, vtype, seen), F.lit(False))
                )
        # root keeps everything else; declared property VALUES are already
        # covered above, so they become empty schemas — but the NAMES must
        # survive so additionalProperties key-matching still sees them
        replacements: dict = {
            "properties": {name: CompiledSchema() for name in s.properties}
        }
        if dynamic_paths and _has_dynamic_map_keys(s):
            # covered per-key by lower_dynamic_key_violations — dropping
            # them here is what keeps the conjunction-with-dynamic exact
            replacements["pattern_properties"] = []
            replacements["additional_properties"] = None
        root = dataclasses.replace(s, **replacements)
        entries[""] = lower_predicate(root, col, dtype)
        return entries

    if target is None or not isinstance(dtype, T.StructType):
        return {"": lower_predicate(schema, col, dtype)}
    s = target
    fields = {f.name: f.dataType for f in dtype.fields}
    seen = frozenset({id(s)})
    entries: dict = {}

    def put(key: str, pred: Column, guard: Column) -> None:
        wrapped = F.when(guard, F.lit(True)).otherwise(F.coalesce(pred, F.lit(False)))
        entries[key] = (entries[key] & wrapped) if key in entries else wrapped

    for name, ftype in fields.items():
        applied = [s.properties[name]] if name in s.properties else []
        for regex, child in s.pattern_properties:
            if regex.search(name) is not None:
                applied.append(child)
        fcol = col.getField(name)
        path = "/" + escape_token(name)
        # absent member (NULL field) / NULL object: properties don't constrain
        guard = col.isNull() | fcol.isNull()
        if applied:
            for child in applied:
                if isinstance(ftype, T.StructType) and deref(child) is not None:
                    for p, pred in lower_named_predicates(child, fcol, ftype).items():
                        put(path + p, pred, guard)
                else:
                    put(path, _lower(child, fcol, ftype, seen), guard)
        elif s.additional_properties is False:
            entries[path] = F.when(col.isNull(), F.lit(True)).otherwise(
                fcol.isNull()
            )
        elif isinstance(s.additional_properties, CompiledSchema):
            put(path, _lower(s.additional_properties, fcol, ftype, seen), guard)

    root = dataclasses.replace(
        s, properties={}, pattern_properties=[], additional_properties=None
    )
    entries[""] = lower_predicate(root, col, dtype)
    return entries


def _lower(
    schema: CompiledSchema, col: Column, dtype: T.DataType, seen: frozenset
) -> Column:
    target = deref(schema)
    if target is None:
        return F.lit(True)  # degenerate pure-$ref cycle: no reachable constraints
    if id(target) in seen:
        # cyclic schema at the same column position: a finite typed value
        # cannot recurse further than its own DataType, so the recursion is
        # driven by dtype descent; a same-position revisit means no progress.
        raise LoweringError("cyclic $ref not expressible at fixed column type")
    seen = seen | {id(target)}
    schema = target

    null_verdict = F.lit(is_valid(schema, None))  # exact, computed at build time
    non_null = _lower_non_null(schema, col, dtype, seen)
    return F.when(col.isNull(), null_verdict).otherwise(F.coalesce(non_null, F.lit(False)))


def _lower_non_null(
    schema: CompiledSchema, col: Column, dtype: T.DataType, seen: frozenset
) -> Column:
    preds: list[Column] = []
    vtype = _json_type_of(dtype)

    # type -------------------------------------------------------------------
    if schema.types:
        if vtype in schema.types:
            pass  # statically satisfied
        elif vtype == "number" and "integer" in schema.types:
            preds.append(_is_integral_value(col, dtype))
        else:
            return F.lit(False)  # statically wrong type for every non-null value

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
    if vtype == "number":
        preds.extend(_lower_number(schema, col, dtype))
    elif vtype == "string":
        preds.extend(_lower_string(schema, col))
    elif vtype == "array":
        preds.extend(_lower_array(schema, col, dtype, seen))
    elif vtype == "object":
        preds.extend(_lower_object(schema, col, dtype, seen))

    result = None
    for p in preds:
        result = p if result is None else result & p
    return result if result is not None else F.lit(True)


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
    path, so the fast path adds an explicit no-nulls guard for parity."""
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
        preds.append(F.size(F.array_compact(col)) == F.size(col))
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


def _lower_object(
    schema: CompiledSchema, col: Column, dtype: T.DataType, seen: frozenset
) -> list:
    if isinstance(dtype, T.StructType):
        return _lower_struct(schema, col, dtype, seen)
    return _lower_map(schema, col, dtype, seen)


def _lower_struct(
    schema: CompiledSchema, col: Column, dtype: T.StructType, seen: frozenset
) -> list:
    """Struct columns: member names are *static* (the fields), so key-directed
    keywords (properties / patternProperties / additionalProperties /
    required / min-maxProperties counting) partially evaluate at plan-build
    time — the reference's per-key dispatch loop (validate.go:452-508)
    becomes compile-time constant folding here."""
    preds = []
    fields = {f.name: f.dataType for f in dtype.fields}

    for name, ftype in fields.items():
        applied = []
        if name in schema.properties:
            applied.append(schema.properties[name])
        for regex, child in schema.pattern_properties:
            if regex.search(name) is not None:
                applied.append(child)
        fcol = col.getField(name)
        if applied:
            for child in applied:
                child_pred = _lower(child, fcol, ftype, seen)
                # absent member (NULL field) is not constrained by properties
                preds.append(F.when(fcol.isNull(), F.lit(True)).otherwise(child_pred))
        elif schema.additional_properties is False:
            preds.append(fcol.isNull())
        elif isinstance(schema.additional_properties, CompiledSchema):
            extra_pred = _lower(schema.additional_properties, fcol, ftype, seen)
            preds.append(F.when(fcol.isNull(), F.lit(True)).otherwise(extra_pred))

    def present(name: str) -> Column:
        return col.getField(name).isNotNull() if name in fields else F.lit(False)

    for name in schema.required:
        preds.append(present(name))

    for key, dep in schema.dependencies.items():
        if isinstance(dep, tuple):
            need = present(dep[0])
            for d in dep[1:]:
                need = need & present(d)
        else:
            need = _lower(dep, col, dtype, seen)
        preds.append(F.when(present(key), need).otherwise(F.lit(True)))

    if schema.min_properties is not None or schema.max_properties is not None:
        n = F.lit(0)
        for name in fields:
            n = n + col.getField(name).isNotNull().cast("int")
        if schema.min_properties is not None:
            preds.append(n >= schema.min_properties)
        if schema.max_properties is not None:
            preds.append(n <= schema.max_properties)
    return preds


def _lower_map(
    schema: CompiledSchema, col: Column, dtype: T.MapType, seen: frozenset
) -> list:
    """Map columns: dynamic keys — absent-vs-null is preserved
    (map_contains_key), pattern keys run per-entry via forall."""
    if not isinstance(dtype.keyType, T.StringType):
        raise LoweringError("object checks require map<string, _> columns")
    preds = []
    vtype = dtype.valueType

    for name, child in schema.properties.items():
        member_ok = _lower(child, F.element_at(col, F.lit(name)), vtype, seen)
        preds.append(
            F.when(F.map_contains_key(col, F.lit(name)), member_ok).otherwise(F.lit(True))
        )
    for regex, child in schema.pattern_properties:
        preds.append(
            F.forall(
                F.map_entries(col),
                lambda kv: F.when(
                    _rlike(kv.getField("key"), regex.pattern),
                    _lower(child, kv.getField("value"), vtype, seen),
                ).otherwise(F.lit(True)),
            )
        )
    if schema.additional_properties is not None and schema.additional_properties is not True:
        known = (
            F.array(*[F.lit(k) for k in schema.properties])
            if schema.properties
            else F.array().cast("array<string>")
        )

        def matched(k: Column) -> Column:
            m = F.array_contains(known, k) if schema.properties else F.lit(False)
            for regex, _ in schema.pattern_properties:
                m = m | _rlike(k, regex.pattern)
            return m

        if schema.additional_properties is False:
            preds.append(F.forall(F.map_keys(col), matched))
        else:
            extra = schema.additional_properties
            preds.append(
                F.forall(
                    F.map_entries(col),
                    lambda kv: F.when(
                        matched(kv.getField("key")), F.lit(True)
                    ).otherwise(_lower(extra, kv.getField("value"), vtype, seen)),
                )
            )
    for name in schema.required:
        preds.append(F.map_contains_key(col, F.lit(name)))
    for key, dep in schema.dependencies.items():
        if isinstance(dep, tuple):
            need = F.map_contains_key(col, F.lit(dep[0]))
            for d in dep[1:]:
                need = need & F.map_contains_key(col, F.lit(d))
        else:
            need = _lower(dep, col, dtype, seen)
        preds.append(
            F.when(F.map_contains_key(col, F.lit(key)), need).otherwise(F.lit(True))
        )
    if schema.min_properties is not None:
        preds.append(F.size(col) >= schema.min_properties)
    if schema.max_properties is not None:
        preds.append(F.size(col) <= schema.max_properties)
    return preds
