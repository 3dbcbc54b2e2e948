"""TableSpec — the engine's declarative query language — and its compiled
form.

A TableSpec is to this engine what the schema document is to the reference
(/root/reference/raw_schema.go:85-120): a JSON-serializable constraint
specification. Instead of addressing one JSON document by pointer, it
addresses a *table* by column name, and adds the table-scope checks
(uniqueness, referential).

Compilation happens once, driver-side (the reference's compile-once contract,
compiler.go:48-247): every per-column draft-4 spec lowers to a native Column
predicate via compiler/columns.py; a column spec that cannot lower natively
(cyclic refs, regex-dialect-gated patterns, ...) falls back to an
Arrow-batched kernel that validates the raw string VALUE with the
pure-Python evaluator *only if* the column is a string column — otherwise
compilation fails loudly. (JSON-text columns are the separate, explicit
``json_columns`` path.)

Example::

    spec = TableSpec.from_dict({
        "columns": {
            "doc_id": {"type": "string", "pattern": "^doc-[0-9]{12}$"},
            "tokens": {"type": "array", "minItems": 1,
                        "items": {"type": "integer", "minimum": 0,
                                  "maximum": 50256}},
            "n_tok":  {"type": "integer", "minimum": 1, "maximum": 2048},
        },
        "required": ["doc_id", "tokens", "n_tok", "source"],
        "row_checks": {"len_consistent": "n_tok = size(tokens)"},
        "unique": ["doc_id"],
        "references": {"source": {"dim": "dim_source", "key": "source_id"}},
    })
"""

from __future__ import annotations

import json
import warnings
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_spark.compiler.columns import LoweringError, PrecisionWarning, lower_check
from jsonschema_spark.compiler.kernel import json_validation_udf, value_validation_udf
from jsonschema_spark.spec.compile import SpecError, compile_spec
from jsonschema_spark.spec.pointer import split_pointer


def _strs(values) -> bool:
    return all(isinstance(v, str) for v in values)


@dataclass
class TableSpec:
    columns: dict = field(default_factory=dict)       # col -> draft-4 keyword dict
    required: list = field(default_factory=list)      # cols that must be non-null
    row_checks: dict = field(default_factory=dict)    # name -> SQL boolean expr
    json_columns: dict = field(default_factory=dict)  # col of JSON text -> spec
    unique: list = field(default_factory=list)        # key columns, each unique
    references: dict = field(default_factory=dict)    # col -> {"dim": name, "key": col}

    @classmethod
    def from_dict(cls, raw: dict) -> "TableSpec":
        """A TableSpec from its JSON object (CLI ``--spec``). An unknown key,
        or a value of the wrong shape, raises SpecError naming the key."""
        if not isinstance(raw, dict):
            raise SpecError(f"a TableSpec is a JSON object, got {raw!r}")
        unknown = set(raw) - set(cls.__dataclass_fields__)
        if unknown:
            raise SpecError(f"unknown TableSpec keys: {sorted(unknown)}")
        for key, value in raw.items():
            if key in ("required", "unique"):
                want = "an array of column names"
                ok = isinstance(value, list) and _strs(value)
            elif key == "row_checks":
                want = "an object of SQL boolean expressions"
                ok = isinstance(value, dict) and _strs(value.values())
            elif key == "references":
                want = 'an object of {"dim": name, "key": column}'
                ok = isinstance(value, dict) and all(
                    isinstance(r, dict) and set(r) == {"dim", "key"} and _strs(r.values())
                    for r in value.values()
                )
            else:
                want, ok = "an object", isinstance(value, dict)
            if not ok:
                raise SpecError(f"TableSpec {key!r} must be {want}, got {value!r}")
        return cls(**raw)

    @classmethod
    def from_json(cls, text: str) -> "TableSpec":
        try:
            raw = json.loads(text)
        except json.JSONDecodeError as exc:
            raise SpecError(f"a TableSpec is a JSON object, got invalid JSON: {exc}") from None
        return cls.from_dict(raw)


CHECK_PREFIX = "chk_"
VERDICT_PREFIX = "_verdict_"
FAILURES_TYPE = "array<struct<path:string,detail:string>>"


def failed(verdict: Column) -> Column:
    """The failed-check test: a check fails unless its verdict is TRUE, so
    a NULL verdict is a failure in every output that reads it."""
    return ~F.coalesce(verdict, F.lit(False))


def failure_entries(verdict: Column | str, path: str, detail: str) -> Column:
    """One ``(path, detail)`` failure entry when ``verdict`` fails, else an
    empty array — a CASE over literal arrays, so no higher-order function
    runs per row. ``path`` and ``detail`` are SQL expressions
    (``_sql_string`` quotes a literal). So is ``verdict`` when it reads the
    annotated frame: the entry is then one ``F.expr``, 3 py4j round trips
    where Column operators cost about 60. A predicate the annotated frame
    has no column for comes as a Column."""
    entry = f"array(named_struct('path', {path}, 'detail', CAST({detail} AS STRING)))"
    empty = f"CAST(array() AS {FAILURES_TYPE})"
    if isinstance(verdict, Column):
        return F.when(failed(verdict), F.expr(entry)).otherwise(F.expr(empty))
    return F.expr(f"CASE WHEN coalesce({verdict}, false) THEN {empty} ELSE {entry} END")


def _sql_ident(name: str) -> str:
    """A Spark SQL identifier naming the top-level column ``name``."""
    return "`" + name.replace("`", "``") + "`"


def _sql_string(value: Optional[str]) -> str:
    """A Spark SQL literal of ``value`` (NULL for None). ``$`` is written
    as an escape, so the parser's ``${var}`` substitution never rewrites
    it."""
    if value is None:
        return "CAST(NULL AS STRING)"
    escaped = value.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    return "'" + escaped + "'"


def root_failures(name: str, detail: Optional[str]) -> Column:
    """``failure_entries`` of check ``name`` at the root path: it reads the
    annotated ``chk_`` column, so a kernel verdict is never recomputed."""
    return failure_entries(_sql_ident(CHECK_PREFIX + name), "''", _sql_string(detail))


def positions(columns: list[str]) -> dict:
    """Each column name -> ``_<its index>``, the name SQL text reads it by
    in the frame renamed with ``toDF(*positions(df.columns).values())``.
    The SQL parser's variable substitution rewrites a ``${...}`` in a name
    even inside backticks (``_sql_ident``); ``toDF`` renames without
    parsing."""
    return {c: f"_{i}" for i, c in enumerate(columns)}


def check_columns(annotated: DataFrame) -> list:
    """The ``chk_*`` verdict columns of an annotated frame, in order."""
    return [c for c in annotated.columns if c.startswith(CHECK_PREFIX)]


def annotation_columns(annotated: DataFrame) -> list:
    """Every column annotation adds: the checks, the kernel verdict structs
    and ``_valid`` — what a consumer strips to get the payload back."""
    return [
        c
        for c in annotated.columns
        if c.startswith((CHECK_PREFIX, VERDICT_PREFIX)) or c == "_valid"
    ]


@dataclass(frozen=True)
class CompiledCheck:
    """One compiled check. ``verdict`` is its boolean (True = pass);
    ``failures`` its ``array<struct<path, detail>>`` of failure entries,
    empty on a pass. A struct or map column check with member subschemas
    has one entry per failing path of its lowering walk (static member
    paths, plus runtime '/<key>' paths for dynamically matched map keys),
    built from the same Columns its verdict joins; a JSON-text check has
    the evaluator's first path/keyword/message; any other check the root
    path '' with the check's spec fragment. ``failures`` reads the
    annotated frame, so it is valid only on ``ValidationJob.annotate``'s
    output. ``kernel`` is the evaluator's verdict struct of a
    ``json_columns`` check: annotate materializes it once as
    ``_verdict_<name>`` and both ``verdict`` and ``failures`` read it.
    A kernel-backed check (``kernel``, or a string check the regex gate
    sends to the evaluator) calls its pandas UDF marked non-deterministic,
    so each output of ``ValidationJob.annotate`` runs it once per row."""

    verdict: Column
    failures: Column
    kernel: Optional[Column] = None


def _root_check(name: str, verdict: Column, detail: Optional[str]) -> CompiledCheck:
    """A check reported at the root path (see ``root_failures``)."""
    return CompiledCheck(verdict, root_failures(name, detail))


@dataclass
class CompiledPlan:
    """Compiled checks plus table-check descriptors; ValidationJob.annotate
    projects every check over the scan in one pass."""

    spec: TableSpec
    checks: dict  # check name -> CompiledCheck; kernel-backed checks last
    unique: list
    references: dict

    @property
    def check_names(self) -> list:
        return list(self.checks)


def compile_table_spec(spec: TableSpec, schema: T.StructType) -> CompiledPlan:
    checks: dict = {}
    # kernel-backed checks follow the native ones in annotate's column order
    kernel_backed: dict = {}
    fields = {f.name: f.dataType for f in schema.fields}

    for col_name, col_spec in spec.columns.items():
        if col_name not in fields:
            raise SpecError(f"column {col_name!r} not in table schema")
        compiled = compile_spec(col_spec)
        name = f"col_{col_name}"
        dtype = fields[col_name]
        try:
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                check = _native_check(name, compiled, col_name, dtype, col_spec)
        except LoweringError:
            if not isinstance(dtype, T.StringType):
                raise
            # the kernel validates the cell as a raw string VALUE
            # (json_columns is the explicit JSON-text path) — used when the
            # native lowering refuses, e.g. the regex dialect gate
            check, caught = None, []
        # the kernel takes no struct or map cell, so a nested column keeps
        # the double approximation and its PrecisionWarning
        nested = isinstance(dtype, (T.StructType, T.MapType))
        precision_lost = False
        for c in caught:
            if issubclass(c.category, PrecisionWarning) and not nested:
                precision_lost = True
            else:  # pass through anything we didn't handle
                warnings.warn_explicit(c.message, c.category, c.filename, c.lineno)
        if check is None or precision_lost:
            # a bound beyond Spark's exact range (long / Decimal(38)) would
            # compile to a double approximation — route the check to the
            # evaluator kernel's exact-Fraction math instead (reference:
            # internal/jsonequal/equal.go:39-79 compares 1e1000 exactly via
            # big.Rat)
            kernel = value_validation_udf(col_spec).asNondeterministic()
            kernel_backed[name] = _root_check(
                name, kernel(F.col(col_name)), _spec_fragment_at(col_spec, "")
            )
            continue
        checks[name] = check

    for col_name in spec.required:
        if col_name not in fields:
            raise SpecError(f"required column {col_name!r} not in table schema")
        name = f"required_{col_name}"
        verdict = F.expr(f"{_sql_ident(col_name)} IS NOT NULL")
        checks[name] = _root_check(name, verdict, None)

    for key, expr in spec.row_checks.items():
        name = f"row_{key}"
        checks[name] = _root_check(name, F.coalesce(F.expr(expr), F.lit(False)), expr)

    for col_name, col_spec in spec.json_columns.items():
        if not isinstance(fields.get(col_name), T.StringType):
            raise SpecError(f"json column {col_name!r} must be a string column")
        name = f"json_{col_name}"
        v = _sql_ident(VERDICT_PREFIX + name)
        kernel_backed[name] = CompiledCheck(
            F.col(VERDICT_PREFIX + name).getField("valid"),
            failure_entries(
                f"{v}.valid",
                f"coalesce({v}.first_path, '')",
                f"concat_ws(': ', {v}.first_keyword, {v}.first_message)",
            ),
            kernel=json_validation_udf(col_spec).asNondeterministic()(F.col(col_name)),
        )

    for col_name in spec.unique:
        if col_name not in fields:
            raise SpecError(f"unique column {col_name!r} not in table schema")
    for col_name, ref in spec.references.items():
        if col_name not in fields:
            raise SpecError(f"reference column {col_name!r} not in table schema")
        if not isinstance(ref, dict) or "dim" not in ref or "key" not in ref:
            raise SpecError(f"reference for {col_name!r} needs {{'dim','key'}}")

    return CompiledPlan(
        spec=spec,
        checks={**checks, **kernel_backed},
        unique=list(spec.unique),
        references=dict(spec.references),
    )


def _native_check(
    name: str, compiled, col_name: str, dtype: T.DataType, col_spec: dict
) -> CompiledCheck:
    """A column check from one lowering walk. With more than the root path
    it has a failure entry per path whose predicate fails (the reference's
    path-wrapped errors) and one per failing runtime-matched map key, both
    built from the Columns the verdict joins; pinned by
    tests/test_violation_paths.py. Otherwise it is a root check."""
    col = F.col(col_name)
    parts = lower_check(compiled, col, dtype)
    if len(parts.paths) == 1 and parts.entry_cases is None:
        return _root_check(name, parts.verdict, _spec_fragment_at(col_spec, ""))
    entries = [
        failure_entries(pred, _sql_string(path), _sql_string(_spec_fragment_at(col_spec, path)))
        for path, pred in parts.paths.items()
    ]
    if parts.entry_cases is not None:
        entries.append(_key_failures(col, parts.entry_cases, col_spec))
    return CompiledCheck(parts.verdict, F.concat(*entries))


def _key_failures(col: Column, cases, col_spec: dict) -> Column:
    """The failure entries of a map's runtime-matched keys: one per entry
    and failed case, at the entry's RFC 6901-escaped path '/<key>', with
    the raw keyword the entry broke as detail."""

    def per_entry(kv: Column) -> Column:
        key = kv.getField("key")
        escaped = F.replace(F.replace(key, F.lit("~"), F.lit("~0")), F.lit("/"), F.lit("~1"))
        path = F.concat(F.lit("/"), escaped).alias("path")
        entries = []
        for bad, keyword in cases(kv):
            detail = F.lit(_keyword_fragment(col_spec, keyword)).cast("string")
            entries.append(F.when(bad, F.struct(path, detail.alias("detail"))))
        return F.filter(F.array(*entries), F.isnotnull)

    empty = F.array().cast(FAILURES_TYPE)
    return F.coalesce(F.flatten(F.transform(F.map_entries(col), per_entry)), empty)


def _compact_json(node) -> Optional[str]:
    try:
        return json.dumps(node, sort_keys=True, separators=(",", ":"))
    except (TypeError, ValueError):
        return None


def _keyword_fragment(col_spec: dict, keyword: tuple) -> Optional[str]:
    """Compact JSON of the raw spec's keyword at key path ``keyword``,
    nested under its keys: ('patternProperties', '^n_') ->
    '{"patternProperties":{"^n_":{...}}}'."""
    node = col_spec
    for key in keyword:
        node = node.get(key) if isinstance(node, dict) else None
    for key in reversed(keyword):
        node = {key: node}
    return _compact_json(node)


def _spec_fragment_at(col_spec: dict, path: str) -> Optional[str]:
    """Compact JSON of the subschema a detail path points at — walks the raw
    spec's nested `properties` chain ('' -> the whole spec). Paths reached
    only via patternProperties/additionalProperties yield None (the path
    alone still locates the failure)."""
    node = col_spec
    for token in split_pointer(path):
        props = node.get("properties") if isinstance(node, dict) else None
        if not isinstance(props, dict) or token not in props:
            return None
        node = props[token]
    return _compact_json(node)
