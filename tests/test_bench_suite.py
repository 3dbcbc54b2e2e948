"""The reference's OWN benchmark corpus as a correctness suite: the 8
real-world schema families embedded at /root/reference/_bench (draft4
metaschema, geojson, golangci-lint, grafana-dashboard, openapi, scoop,
sourcemapv3, swagger — validate_test.go:12-15,29-57) with their real
payloads (up to the 2.2 MB geojson canada.json).

The reference's TestBenchSuite (validate_test.go:59-75) requires every
payload to validate CLEAN against its family schema; we mirror that on
both execution paths:

1. the pure-Python evaluator (semantic ground truth), and
2. the Arrow-batched Spark kernel in ONE job over all payloads,

plus negative controls (a scalar / an empty array must reject under
every family schema — all 8 declare object/array document structure) so
the suite cannot pass vacuously. This is the first-contact test a real
user runs: point the engine at a gnarly production schema (deep $ref
graphs, 100+-definition maps) and validate real documents.
"""

from __future__ import annotations

import os

import pytest

from jsonschema_spark.spec.compile import compile_spec
from jsonschema_spark.spec.evaluate import validate_value
from jsonschema_spark.spec.model import parse_json

BENCH_ROOT = "/root/reference/_bench"

FAMILIES = sorted(os.listdir(BENCH_ROOT)) if os.path.isdir(BENCH_ROOT) else []
# per-family cases, or one case that reports the corpus missing
FAMILY_CASES = FAMILIES or [
    pytest.param(
        None, marks=pytest.mark.skip(reason=f"reference suite absent: {BENCH_ROOT}")
    )
]


def _schema_bytes(family: str) -> bytes:
    with open(os.path.join(BENCH_ROOT, family, "schema.json"), "rb") as fh:
        return fh.read()


def _payloads(family: str):
    data_dir = os.path.join(BENCH_ROOT, family, "data")
    for name in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, name), "rb") as fh:
            yield name, fh.read()


@pytest.mark.parametrize("family", FAMILY_CASES)
def test_bench_schema_compiles(family):
    """Every real-world schema compiles — deep $ref graphs (openapi /
    swagger definitions maps, the metaschema's recursive '#') included."""
    compiled = compile_spec(parse_json(_schema_bytes(family)))
    assert compiled is not None


@pytest.mark.parametrize("family", FAMILY_CASES)
def test_bench_payloads_validate_clean(family):
    """reference parity: require.NoError(s.Schema.Validate(data)) for
    every payload (validate_test.go:70)."""
    compiled = compile_spec(parse_json(_schema_bytes(family)))
    for name, raw in _payloads(family):
        violations = validate_value(compiled, parse_json(raw))
        assert not violations, (
            f"{family}/{name}: expected clean, got {violations[:3]}"
        )


@pytest.mark.parametrize("family", FAMILY_CASES)
def test_bench_negative_controls_reject(family):
    """Not vacuous: a bare scalar and an empty array violate every
    family schema (all 8 pin object/array document structure)."""
    compiled = compile_spec(parse_json(_schema_bytes(family)))
    assert validate_value(compiled, parse_json(b"123"))
    assert validate_value(compiled, parse_json(b"[]"))


def test_bench_kernel_path_one_job(spark):
    """All 8 families × all payloads through the Arrow-batched Spark
    kernel in ONE job — the table-scale twin of TestBenchSuite — plus
    one injected reject row per family (doc = "123")."""
    import pyspark.sql.functions as F

    from jsonschema_spark.compiler.kernel import multi_spec_validity_kernel

    specs, rows = [], []
    for family in FAMILIES:
        spec_text = _schema_bytes(family).decode("utf-8")
        idx = len(specs)
        specs.append(spec_text)
        for name, raw in _payloads(family):
            rows.append((idx, raw.decode("utf-8"), True, f"{family}/{name}"))
        rows.append((idx, "123", False, f"{family}/<scalar-reject>"))

    assert len(rows) >= 16
    df = spark.createDataFrame(
        rows, schema="spec_idx int, doc string, valid boolean, case_id string"
    )
    got = df.withColumn(
        "got",
        multi_spec_validity_kernel(specs, F.col("spec_idx"), F.col("doc")),
    ).collect()
    mismatches = [
        f"{r['case_id']}: got {r['got']}, want {r['valid']}"
        for r in got
        if bool(r["got"]) != r["valid"]
    ]
    assert not mismatches, "\n".join(mismatches)


def test_refbench_reports_absent_reference(tmp_path, monkeypatch, capsys):
    """scripts/refbench.py exits 2 with the same reason the tests give,
    before starting Spark, when the reference's _bench tree is missing."""
    import importlib.util
    import sys

    path = os.path.join(os.path.dirname(__file__), os.pardir, "scripts", "refbench.py")
    spec = importlib.util.spec_from_file_location("refbench", path)
    refbench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(refbench)
    absent = str(tmp_path / "_bench")
    monkeypatch.setattr(refbench, "BENCH_ROOT", absent)
    monkeypatch.setattr(sys, "argv", ["refbench.py"])
    assert refbench.main() == 2
    assert capsys.readouterr().err.strip() == f"reference suite absent: {absent}"
