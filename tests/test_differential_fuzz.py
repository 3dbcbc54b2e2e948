"""Seeded differential fuzzing: random specs x random typed values, the
pure-Python evaluator (ground truth, suite-verified) vs the Spark Column
lowering — verdicts must agree exactly. Complements the official suite with
combinations it doesn't enumerate (bound+enum+combinator interactions,
nested arrays, null placement). Deterministic seed -> reproducible."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_spark.compiler.columns import LoweringError, lower_predicate
from jsonschema_spark.spec.compile import compile_spec
from jsonschema_spark.spec.evaluate import is_valid

rng = random.Random(20260817)


def _num_spec():
    spec = {}
    if rng.random() < 0.6:
        spec["type"] = rng.choice(["integer", "number", ["integer", "number"]])
    if rng.random() < 0.6:
        spec["minimum"] = rng.choice([0, -5, 3, 2.5, 7])
        if rng.random() < 0.4:
            spec["exclusiveMinimum"] = True
    if rng.random() < 0.6:
        spec["maximum"] = rng.choice([10, 4, 100, 6.5])
        if rng.random() < 0.4:
            spec["exclusiveMaximum"] = True
    if rng.random() < 0.3:
        spec["multipleOf"] = rng.choice([1, 2, 3, 0.5])
    if rng.random() < 0.25:
        spec["enum"] = rng.sample([0, 1, 2, 3, 5, 8, 13, 2.5], k=rng.randint(1, 4))
    if rng.random() < 0.2:
        spec["not"] = {"minimum": rng.choice([2, 5])}
    if rng.random() < 0.2:
        spec["anyOf"] = [{"maximum": 2}, {"minimum": rng.choice([6, 8])}]
    return spec


def _str_spec():
    spec = {}
    if rng.random() < 0.5:
        spec["type"] = "string"
    if rng.random() < 0.6:
        spec["minLength"] = rng.randint(0, 4)
    if rng.random() < 0.6:
        spec["maxLength"] = rng.randint(2, 8)
    if rng.random() < 0.4:
        spec["pattern"] = rng.choice(["^a", "b$", "a.c", "^[ab]+$"])
    if rng.random() < 0.25:
        spec["enum"] = rng.sample(["a", "ab", "abc", "b", "ça"], k=rng.randint(1, 3))
    if rng.random() < 0.2:
        spec["oneOf"] = [{"minLength": 2}, {"pattern": "^z"}]
    return spec


def _arr_spec():
    spec = {}
    if rng.random() < 0.5:
        spec["type"] = "array"
    if rng.random() < 0.5:
        spec["minItems"] = rng.randint(0, 2)
    if rng.random() < 0.5:
        spec["maxItems"] = rng.randint(2, 5)
    if rng.random() < 0.5:
        spec["uniqueItems"] = True
    if rng.random() < 0.7:
        spec["items"] = _num_spec() or {"minimum": 0}
    return spec


def _num_values():
    return [rng.choice([None, -7, -5, 0, 1, 2, 3, 4, 5, 6, 7, 8, 10, 13, 2.5, 6.5, 3.0, -0.5, 100])
            for _ in range(40)]


def _str_values():
    return [rng.choice([None, "", "a", "ab", "abc", "abcd", "b", "z", "zz", "ça", "aXc", "bbbb", "abababab"])
            for _ in range(40)]


# array elements: in-range values, NULLs, and the values just outside the
# fuzzed bounds (floor(minimum) - 1 and ceil(maximum) + 1 for the minimum
# and maximum choices of _num_spec), which the bounds-only items guard
# probes for
_ARR_ELEMS = [0, 1, 2, 3, 5, 5, -2, 7, None, None, -1, -6, 6, 8, 11, 101]


def _arr_values():
    out = []
    for _ in range(40):
        if rng.random() < 0.1:
            out.append(None)
        else:
            n = rng.randint(0, 5)
            out.append([rng.choice(_ARR_ELEMS) for _ in range(n)])
    return out


@pytest.mark.parametrize("kind,dtype,mk_spec,mk_vals", [
    ("num-int", T.IntegerType(), _num_spec, lambda: [v for v in _num_values() if v is None or isinstance(v, int)]),
    ("num-double", T.DoubleType(), _num_spec, _num_values),
    ("string", T.StringType(), _str_spec, _str_values),
    ("array", T.ArrayType(T.IntegerType()), _arr_spec, _arr_values),
    ("array-long", T.ArrayType(T.LongType()), _arr_spec, _arr_values),
])
def test_differential(spark, kind, dtype, mk_spec, mk_vals):
    """200 random specs per kind; each evaluated over a 40-value column in
    ONE Spark job per kind (specs become parallel predicate columns)."""
    cases = []
    for _ in range(200):
        spec_dict = mk_spec()
        if not spec_dict:
            continue
        compiled = compile_spec(spec_dict)
        cases.append((spec_dict, compiled))

    values = mk_vals()
    schema = T.StructType([T.StructField("v", dtype)])
    df = spark.createDataFrame(
        [(float(v),) if isinstance(v, (int, float)) and isinstance(dtype, T.DoubleType)
         and v is not None else (v,) for v in values],
        schema,
    )
    preds = []
    kept = []
    for i, (spec_dict, compiled) in enumerate(cases):
        try:
            preds.append(lower_predicate(compiled, F.col("v"), dtype).alias(f"p{i}"))
            kept.append((i, spec_dict, compiled))
        except LoweringError:
            continue
    rows = df.select(F.col("v"), *preds).collect()
    mismatches = []
    for row, value in zip(rows, values):
        pyval = float(value) if isinstance(dtype, T.DoubleType) and value is not None and isinstance(value, (int, float)) else value
        for i, spec_dict, compiled in kept:
            want = is_valid(compiled, pyval)
            got = row[f"p{i}"]
            if want != got:
                mismatches.append((spec_dict, value, want, got))
    assert not mismatches, f"{len(mismatches)} disagreements, first 3: {mismatches[:3]}"


def _obj_spec():
    spec = {}
    if rng.random() < 0.4:
        spec["type"] = "object"
    props = {}
    for name in ("a", "b", "c"):
        if rng.random() < 0.5:
            props[name] = rng.choice([
                {"type": "integer", "minimum": 0},
                {"minimum": 2},
                {"maximum": 5},
                {"enum": [1, 2, 3]},
                {"not": {"minimum": 4}},
            ])
    if props:
        spec["properties"] = props
    if rng.random() < 0.5:
        spec["required"] = rng.sample(["a", "b", "c"], k=rng.randint(1, 2))
    if rng.random() < 0.3:
        spec["dependencies"] = {"a": rng.sample(["b", "c"], k=rng.randint(1, 2))}
    if rng.random() < 0.3:
        spec["minProperties"] = rng.randint(0, 2)
    if rng.random() < 0.3:
        spec["maxProperties"] = rng.randint(1, 3)
    return spec


def _obj_values():
    out = []
    for _ in range(40):
        if rng.random() < 0.08:
            out.append(None)
        else:
            out.append({
                name: rng.choice([None, 0, 1, 2, 3, 4, 5, 6])
                for name in ("a", "b", "c") if rng.random() < 0.75
            })
    return out


def test_differential_struct(spark):
    """Object keywords over a typed struct column: NULL field == absent
    member (documented bridge); evaluator runs on the dict-with-absences
    view, lowering on the struct."""
    dtype = T.StructType([T.StructField(n, T.IntegerType()) for n in "abc"])
    cases = []
    for _ in range(200):
        spec_dict = _obj_spec()
        if spec_dict:
            cases.append((spec_dict, compile_spec(spec_dict)))
    values = _obj_values()
    rows = [
        (None,) if v is None
        else ((v.get("a"), v.get("b"), v.get("c")),)
        for v in values
    ]
    df = spark.createDataFrame(rows, T.StructType([T.StructField("v", dtype)]))
    preds, kept = [], []
    for i, (spec_dict, compiled) in enumerate(cases):
        try:
            preds.append(lower_predicate(compiled, F.col("v"), dtype).alias(f"p{i}"))
            kept.append((i, spec_dict, compiled))
        except LoweringError:
            continue
    out = df.select(*preds).collect()
    mismatches = []
    for row, v in zip(out, values):
        # struct-column semantics: NULL field == absent member
        pyv = None if v is None else {k: x for k, x in v.items() if x is not None}
        for i, spec_dict, compiled in kept:
            want = is_valid(compiled, pyv)
            got = row[f"p{i}"]
            if want != got:
                mismatches.append((spec_dict, v, want, got))
    assert not mismatches, f"{len(mismatches)} disagreements, first 3: {mismatches[:3]}"


def test_differential_map(spark):
    """Object keywords over map<string,int>: absent-vs-null preserved, so
    the evaluator sees the dict verbatim (None values stay)."""
    dtype = T.MapType(T.StringType(), T.IntegerType())
    cases = []
    for _ in range(200):
        spec_dict = _obj_spec()
        if spec_dict:
            cases.append((spec_dict, compile_spec(spec_dict)))
    values = _obj_values()
    df = spark.createDataFrame([(v,) for v in values],
                               T.StructType([T.StructField("v", dtype)]))
    preds, kept = [], []
    for i, (spec_dict, compiled) in enumerate(cases):
        try:
            preds.append(lower_predicate(compiled, F.col("v"), dtype).alias(f"p{i}"))
            kept.append((i, spec_dict, compiled))
        except LoweringError:
            continue
    out = df.select(*preds).collect()
    mismatches = []
    for row, v in zip(out, values):
        for i, spec_dict, compiled in kept:
            want = is_valid(compiled, v)
            got = row[f"p{i}"]
            if want != got:
                mismatches.append((spec_dict, v, want, got))
    assert not mismatches, f"{len(mismatches)} disagreements, first 3: {mismatches[:3]}"


_OBJ_FIELDS = ("a", "b", "n_x", "zb")
_OBJ_LEAVES = (
    {"type": "integer", "minimum": 0},
    {"minimum": 2},
    {"maximum": 5},
    {"enum": [1, 2, 3]},
    {"not": {"minimum": 4}},
)


def _key_matched_obj_spec(r: random.Random) -> dict:
    """Object keywords including the key-matching ones (patternProperties,
    additionalProperties) that ``_obj_spec`` never draws."""
    spec = {}
    if r.random() < 0.3:
        spec["type"] = "object"
    props = {n: r.choice(_OBJ_LEAVES) for n in ("a", "b") if r.random() < 0.5}
    if props:
        spec["properties"] = props
    if r.random() < 0.6:
        regexes = r.sample(["^n_", "b$", "^z"], k=r.randint(1, 2))
        spec["patternProperties"] = {p: r.choice(_OBJ_LEAVES) for p in regexes}
    if r.random() < 0.6:
        spec["additionalProperties"] = r.choice([False, r.choice(_OBJ_LEAVES)])
    if r.random() < 0.4:
        spec["required"] = r.sample(_OBJ_FIELDS, k=r.randint(1, 2))
    if r.random() < 0.3:
        spec["dependencies"] = {
            "a": r.choice([["n_x"], ["b", "zb"], {"properties": {"b": {"maximum": 3}}}])
        }
    if r.random() < 0.3:
        spec["minProperties"] = r.randint(0, 3)
    if r.random() < 0.3:
        spec["maxProperties"] = r.randint(1, 3)
    if r.random() < 0.3:
        spec["allOf"] = [
            {"properties": {r.choice(_OBJ_FIELDS): r.choice(_OBJ_LEAVES)}},
            {"patternProperties": {"^n_": r.choice(_OBJ_LEAVES)}},
        ]
    return spec


@pytest.mark.parametrize("kind", ["struct", "map"])
def test_differential_object_failures(spark, kind):
    """The check compile_table_spec builds from one lowering walk, against
    the evaluator: on every row each ``chk_col_*`` verdict equals
    ``is_valid``, and its failure entries are empty exactly when it holds.
    60 specs over 60 rows run as one TableSpec over 60 copies of the
    column: one annotate, one collect."""
    from jsonschema_spark.plans.job import ValidationJob
    from jsonschema_spark.plans.plan import TableSpec, compile_table_spec

    r = random.Random(f"object-failures-{kind}")
    specs = [_key_matched_obj_spec(r) for _ in range(60)]
    values = []
    for _ in range(60):
        if r.random() < 0.08:
            values.append(None)
        elif kind == "struct":  # NULL field == absent member
            values.append({n: r.randint(0, 6) for n in _OBJ_FIELDS if r.random() < 0.6})
        else:  # a map keeps present-null values and takes any key
            keys = [n for n in _OBJ_FIELDS + ("q",) if r.random() < 0.5]
            values.append({k: r.choice([None, 0, 1, 2, 3, 4, 5, 6]) for k in keys})
    if kind == "struct":
        dtype = T.StructType([T.StructField(n, T.IntegerType()) for n in _OBJ_FIELDS])
        rows = [(i, None if v is None else tuple(v.get(n) for n in _OBJ_FIELDS))
                for i, v in enumerate(values)]
    else:
        dtype = T.MapType(T.StringType(), T.IntegerType())
        rows = list(enumerate(values))
    df = spark.createDataFrame(rows, T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", dtype),
    ]))
    wide = df.select("id", *[F.col("v").alias(f"c{i}") for i in range(len(specs))])
    plan = compile_table_spec(
        TableSpec.from_dict({"columns": {f"c{i}": s for i, s in enumerate(specs)}}),
        wide.schema,
    )
    ann = ValidationJob(plan, id_column="id").annotate(wide)
    out = ann.select(
        "id",
        *[F.col(f"chk_col_c{i}").alias(f"ok{i}") for i in range(len(specs))],
        *[plan.checks[f"col_c{i}"].failures.alias(f"f{i}") for i in range(len(specs))],
    ).collect()
    compiled = [compile_spec(s) for s in specs]
    mismatches = []
    for row in out:
        v = values[row.id]
        for i, spec in enumerate(specs):
            want = is_valid(compiled[i], v)
            got, failures = row[f"ok{i}"], row[f"f{i}"]
            if got != want or (len(failures) == 0) != got:
                mismatches.append((spec, v, want, got, failures))
    assert not mismatches, f"{len(mismatches)} disagreements, first 3: {mismatches[:3]}"


_I32, _I64 = 2**31, 2**63

# (id, element type, items spec, s, lo, hi): s is the value the bounds-only
# items guard probes for (floor(minimum) - 1, else ceil(maximum) + 1), None
# where no such value fits the element type and the guard falls back to
# array_compact; lo and hi are the in-range values nearest the bounds.
_GUARD_CASES = [
    ("inclusive", T.IntegerType(), {"type": "integer", "minimum": 1, "maximum": 9}, 0, 1, 9),
    ("exclusive", T.IntegerType(), {"type": "integer", "minimum": 1, "exclusiveMinimum": True,
                                    "maximum": 9, "exclusiveMaximum": True}, 0, 2, 8),
    ("fractional", T.IntegerType(), {"type": "integer", "minimum": 1.5, "maximum": 8.5}, 0, 2, 8),
    ("number-max-only", T.LongType(), {"type": "number", "maximum": 9}, 10, -5, 9),
    ("int-min-at-edge", T.IntegerType(), {"type": "integer", "minimum": -_I32, "maximum": 9},
     10, -_I32, 9),
    ("int-extremes", T.IntegerType(), {"type": "integer", "minimum": -_I32, "maximum": _I32 - 1},
     None, -_I32, _I32 - 1),
    ("long-extremes", T.LongType(), {"type": "integer", "minimum": -_I64, "maximum": _I64 - 1},
     None, -_I64, _I64 - 1),
    ("byte-extremes", T.ByteType(), {"type": "integer", "minimum": -128, "maximum": 127},
     None, -128, 127),
]


@pytest.mark.parametrize(
    "dtype", [T.ByteType(), T.IntegerType(), T.LongType()], ids=lambda t: t.simpleString()
)
def test_bounds_only_items_null_guard(spark, dtype):
    """The bounds-only ``items`` fast path's NULL-element guard against the
    evaluator, on the arrays that decide it: ``[]``, NULL, ``[null]``,
    ``[1, null]``, ``[s]``, ``[s, null]``, ``[lo, hi]``, ``[lo, null]`` and
    ``[hi, null]`` of every case with this element type, each case's spec
    run over every case's arrays in one job. A guard probing for a value
    that passes the bound (``[lo, null]`` holds one) would accept an array
    with a NULL element. Cases without an ``s`` that fits the type must
    take the ``array_compact`` fallback."""
    cases = [c for c in _GUARD_CASES if c[1] == dtype]
    arrays = [[], None, [None], [1, None]]
    for _, _, _, s, lo, hi in cases:
        if s is not None:
            arrays += [[s], [s, None]]
        arrays += [[lo, hi], [lo, None], [hi, None]]
    adtype = T.ArrayType(dtype)
    df = spark.createDataFrame([(a,) for a in arrays], T.StructType([T.StructField("v", adtype)]))
    compiled = {cid: compile_spec({"items": items}) for cid, _, items, *_ in cases}
    preds = {cid: lower_predicate(c, F.col("v"), adtype) for cid, c in compiled.items()}
    out = df.select(*[p.alias(cid) for cid, p in preds.items()]).collect()
    mismatches = [
        (cid, arr, is_valid(compiled[cid], arr), row[cid])
        for row, arr in zip(out, arrays)
        for cid in compiled
        if row[cid] != is_valid(compiled[cid], arr)
    ]
    assert not mismatches, mismatches
    for cid, _, _, s, _, _ in cases:
        plan = df.select(preds[cid])._jdf.queryExecution().optimizedPlan().toString()
        want = "array_contains" if s is not None else "lambdafunction"
        assert want in plan, (cid, plan)
