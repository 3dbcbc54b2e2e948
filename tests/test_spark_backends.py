"""Suite-parity for the two Spark backends.

The pure-Python evaluator is the semantic ground truth (it passes the full
official draft-4 corpus — tests/test_suite_draft4.py). Here the same corpus
drives the *Spark* execution paths:

1. Native Column lowering: every suite instance that Spark's type system can
   represent becomes a typed literal; all lowered predicates are evaluated in
   ONE Spark job and must reproduce the suite verdicts exactly.
2. Arrow-batched kernel: every case (representable or not) as raw JSON text,
   validated in ONE Spark job via the multi-spec kernel.

Remote-ref groups are resolved with the local file resolver at compile time
(driver-side only — executors never resolve refs).
"""

from __future__ import annotations

import json
import os

import pytest

from jsonschema_spark.spec.compile import compile_spec, file_map_resolver
from jsonschema_spark.spec.model import parse_json
from jsonschema_spark.spec.evaluate import is_valid

SUITE_DIR = "/root/reference/_testdata/suite/draft4"
CUSTOM_DIR = "/root/reference/_testdata/custom/draft4"
REMOTES_DIR = "/root/reference/_testdata/remotes"
SKIP_FILES = {"format.json"}

resolver = file_map_resolver({"http://localhost:1234/": REMOTES_DIR})


def _all_cases():
    """[(case_id, schema_dict, compiled, data_value, expected_valid)]"""
    out = []
    for directory in (SUITE_DIR, CUSTOM_DIR):
        if not os.path.isdir(directory):
            continue
        for fname in sorted(os.listdir(directory)):
            if not fname.endswith(".json") or fname in SKIP_FILES:
                continue
            with open(os.path.join(directory, fname), "rb") as fh:
                raw_groups = parse_json(fh.read())
            # a second parse keeps plain ints/floats for json round-tripping
            with open(os.path.join(directory, fname)) as fh:
                plain_groups = json.load(fh)
            for group, plain in zip(raw_groups, plain_groups):
                compiled = compile_spec(group["schema"], resolver=resolver)
                for case, plain_case in zip(group["tests"], plain["tests"]):
                    case_id = f"{fname[:-5]}::{group['description']}::{case['description']}"
                    out.append(
                        (case_id, plain["schema"], compiled, case["data"],
                         plain_case["data"], case["valid"])
                    )
    return out


CASES = _all_cases()


def test_column_backend_matches_suite(spark):
    from jsonschema_spark.compiler.columns import LoweringError, lower_predicate
    from infer import Unrepresentable, infer_type, to_literal

    preds, expected, ids = [], [], []
    skipped = 0
    for case_id, _, compiled, data, _, valid in CASES:
        try:
            dtype = infer_type(data)
            lit = to_literal(data, dtype)
            pred = lower_predicate(compiled, lit, dtype)
        except (Unrepresentable, LoweringError):
            skipped += 1
            continue
        preds.append(pred.alias(f"c{len(preds)}"))
        expected.append(valid)
        ids.append(case_id)

    assert len(preds) > 300, f"too few cases lowered natively ({len(preds)})"
    # one job, all predicates
    row = spark.range(1).select(*preds).collect()[0]
    mismatches = [
        f"{ids[i]}: got {row[i]}, want {expected[i]}"
        for i in range(len(preds))
        if bool(row[i]) != expected[i]
    ]
    assert not mismatches, "\n".join(mismatches[:20])


def test_kernel_backend_matches_suite(spark):
    from jsonschema_spark.compiler.kernel import multi_spec_validity_kernel
    import pyspark.sql.functions as F

    specs, rows = [], []
    for case_id, schema_plain, _, _, data_plain, valid in CASES:
        spec_text = json.dumps(schema_plain)
        specs.append(spec_text)
        rows.append((len(specs) - 1, json.dumps(data_plain), valid, case_id))

    # remote-ref specs can't compile executor-side without the resolver;
    # pre-compile driver-side is not picklable by design, so keep the kernel
    # to locally-resolvable specs and leave remote groups to the column test.
    local_rows, local_specs, spec_map = [], [], {}
    for idx, doc, valid, case_id in rows:
        spec_text = specs[idx]
        if "localhost:1234" in spec_text or "json-schema.org" in spec_text:
            continue
        if spec_text not in spec_map:
            spec_map[spec_text] = len(local_specs)
            local_specs.append(spec_text)
        local_rows.append((spec_map[spec_text], doc, valid, case_id))

    df = spark.createDataFrame(
        local_rows, schema="spec_idx int, doc string, valid boolean, case_id string"
    )
    got = df.withColumn(
        "got", multi_spec_validity_kernel(local_specs, F.col("spec_idx"), F.col("doc"))
    )
    bad = got.filter(F.col("got") != F.col("valid")).select("case_id", "got").collect()
    assert not bad, [r.case_id for r in bad][:20]
    assert len(local_rows) > 450


def test_bounds_only_items_fast_path_edges(spark):
    """The array_min/array_max fast path for bounds-only `items` must agree
    with forall semantics on the edges: empty arrays (vacuously true), null
    elements (fail when a type is declared, pass when not), bounds."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from jsonschema_spark.compiler.columns import lower_predicate

    rows = [
        (1, [1, 2, 3]),
        (2, []),
        (3, [0, 50256]),
        (4, [-1, 5]),
        (5, [1, None, 3]),
        (6, None),
        (7, [50257]),
    ]
    df = spark.createDataFrame(rows, "id long, xs array<int>")
    typed = {"type": "array",
             "items": {"type": "integer", "minimum": 0, "maximum": 50256}}
    untyped = {"items": {"minimum": 0, "maximum": 50256}}
    out = {
        r.id: (r.t, r.u)
        for r in df.select(
            "id",
            lower_predicate(compile_spec(typed), F.col("xs"),
                            df.schema["xs"].dataType).alias("t"),
            lower_predicate(compile_spec(untyped), F.col("xs"),
                            df.schema["xs"].dataType).alias("u"),
        ).collect()
    }
    #            typed  untyped
    assert out[1] == (True, True)
    assert out[2] == (True, True)       # empty: vacuous
    assert out[3] == (True, True)
    assert out[4] == (False, False)     # -1 below minimum
    assert out[5] == (False, True)      # null elem: fails typed, passes untyped
    assert out[6] == (False, True)      # null value: fails {"type":"array"} only
    assert out[7] == (False, False)     # above maximum

    # sanity: the fast path actually engaged (no higher-order forall in plan)
    plan = df.select(
        lower_predicate(compile_spec(typed), F.col("xs"),
                        df.schema["xs"].dataType).alias("t")
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "forall" not in plan
    assert "array_min" in plan and "array_max" in plan
