"""The benchmark's own tests: closed forms, span bookkeeping, and a smoke run
of every workload in both modes (tiny inputs) that checks the verdicts pass
and every metric BENCHMARK.json names is emitted with its unit.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def test_corpus_closed_form_at_1m_rows():
    assert gen.expected_corpus(1_000_000) == {
        "n_rows": 1_000_000, "n_invalid": 7517, "duplicates": 2004, "orphans": 2881,
    }


def test_shard_closed_forms_add_up():
    whole = gen.expected_shard_fails(0, 40_000)
    parts = [gen.expected_shard_fails(k * 5_000, (k + 1) * 5_000) for k in range(8)]
    for key, total in whole.items():
        assert sum(p[key] for p in parts) == total


def test_json_tally_matches_evaluator():
    from jsonschema_spark.spec.compile import compile_spec
    from jsonschema_spark.spec.evaluate import validate_json

    docs, tally = gen.json_docs(1_000, seed=3)
    schema = compile_spec(gen.JSON_SCHEMA)
    assert sum(1 for d in docs if validate_json(schema, d)) == sum(tally.values())


def test_self_time_excludes_children():
    tracer = Tracer(enabled=True)
    with tracer.span("outer", "op-0"):
        with tracer.span("inner", "op-0"):
            pass
    outer, inner = tracer.spans
    self_outer, self_inner = tracer.self_times()
    assert inner["parent"] == 0
    assert self_inner == pytest.approx(inner["end"] - inner["start"])
    assert self_outer == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    )


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = BENCHMARK["command"] + [
        "--workload", workload, "--seed", "5", "--seconds", "1",
        "--trace", str(trace), "--smoke",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_smoke_run(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    named = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in named}
    for m in named:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if trace:
        spans = os.path.join(
            ROOT, "perfbench", "_work", "results", f"{workload}_seed5_trace1_spans.json"
        )
        assert json.load(open(spans))["spans"]


def test_fails_without_the_engine(tmp_path):
    """Given only BENCHMARK.json and the benchmark, it exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("_work", "__pycache__"),
    )
    proc = _run(str(tmp_path), "shard_gate", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
