"""scripts/perf_pairs.py without Spark: the interleaving order, the result
line parser, the median and ratio arithmetic, and the exit code on a failed
or result-less run (``subprocess.run`` replaced by canned outputs)."""

from __future__ import annotations

import importlib.util
import json
import subprocess
from pathlib import Path

import pytest

_PATH = Path(__file__).resolve().parent.parent / "scripts" / "perf_pairs.py"
_spec = importlib.util.spec_from_file_location("perf_pairs", _PATH)
perf_pairs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(perf_pairs)


def _line(failed=0, **metrics) -> str:
    metrics = {k: {"value": v, "unit": "x"} for k, v in metrics.items()}
    result = {"correct": 3, "attempted": 3, "failed": failed, "metrics": metrics}
    return "warm-up chatter\n" + json.dumps(result) + "\n"


def test_seeds_and_alternating_order():
    assert perf_pairs.parse_seeds("9-14") == [9, 10, 11, 12, 13, 14]
    assert perf_pairs.parse_seeds("3") == [3]
    assert perf_pairs.parse_seeds("1,4-5") == [1, 4, 5]
    assert perf_pairs.schedule([9, 10, 11]) == [
        (9, "a"), (9, "b"), (10, "b"), (10, "a"), (11, "a"), (11, "b"),
    ]


def test_result_line():
    assert perf_pairs.result_line(_line(rows_per_s=10.0))["metrics"] == {
        "rows_per_s": {"value": 10.0, "unit": "x"}
    }
    assert perf_pairs.result_line("") is None
    assert perf_pairs.result_line("Traceback (most recent call last):\n  boom\n") is None
    assert perf_pairs.result_line('{"correct": 1}\n') is None


def test_medians_and_ratios():
    metrics = {
        (1, "a"): {"rows_per_s": 100.0, "op_p50_s": 2.0},
        (1, "b"): {"rows_per_s": 150.0, "op_p50_s": 1.0},
        (2, "b"): {"rows_per_s": 120.0, "op_p50_s": 1.5},
        (2, "a"): {"rows_per_s": 80.0, "op_p50_s": 3.0},
        (3, "a"): {"rows_per_s": 90.0, "op_p50_s": 2.5},
        (3, "b"): {"rows_per_s": 90.0, "op_p50_s": 2.5},
    }
    medians, quartiles, ratios = perf_pairs.summarize(metrics)
    assert medians == {
        "a": {"rows_per_s": 90.0, "op_p50_s": 2.5},
        "b": {"rows_per_s": 120.0, "op_p50_s": 1.5},
    }
    # statistics.quantiles' default (exclusive) method on three runs
    assert quartiles == {
        "a": {"rows_per_s": (80.0, 100.0), "op_p50_s": (2.0, 3.0)},
        "b": {"rows_per_s": (90.0, 150.0), "op_p50_s": (1.0, 2.5)},
    }
    assert ratios == {
        1: {"rows_per_s": 1.5, "op_p50_s": 0.5},
        2: {"rows_per_s": 1.5, "op_p50_s": 0.5},
        3: {"rows_per_s": 1.0, "op_p50_s": 1.0},
    }


def _fake_runs(monkeypatch, outputs: dict):
    """Replace subprocess.run: the run of ``(seed, checkout)`` prints
    ``outputs[seed, checkout]``; returns the list of runs made, in order."""
    made = []

    def run(cmd, cwd, **kwargs):
        seed = int(cmd[cmd.index("--seed") + 1])
        made.append((seed, cwd))
        assert cmd[1:6] == perf_pairs.BENCH and cmd[cmd.index("--trace") + 1] == "0"
        return subprocess.CompletedProcess(cmd, 0, outputs[seed, cwd], "stderr tail\n")

    monkeypatch.setattr(perf_pairs.subprocess, "run", run)
    return made


def test_main_interleaves_and_reports(monkeypatch, capsys):
    outputs = {
        (5, "old"): _line(rows_per_s=100.0), (5, "new"): _line(rows_per_s=130.0),
        (6, "old"): _line(rows_per_s=110.0), (6, "new"): _line(rows_per_s=121.0),
    }
    made = _fake_runs(monkeypatch, outputs)
    argv = ["--a", "old", "--b", "new", "--workload", "corpus_batch", "--seeds", "5-6"]
    assert perf_pairs.main(argv) == 0
    assert made == [(5, "old"), (5, "new"), (6, "new"), (6, "old")]
    out = capsys.readouterr().out
    assert "median A: rows_per_s=105" in out and "median B: rows_per_s=125.5" in out
    assert "quartiles A: rows_per_s=97.5..112.5" in out
    assert "B/A seed 5: rows_per_s=1.3" in out and "B/A seed 6: rows_per_s=1.1" in out
    assert "B/A median: rows_per_s=1.2" in out


@pytest.mark.parametrize("bad", [_line(failed=1, rows_per_s=1.0), "Traceback: boom\n"])
def test_main_fails_on_a_failed_or_resultless_run(monkeypatch, capsys, bad):
    outputs = {(1, "old"): _line(rows_per_s=1.0), (1, "new"): bad}
    made = _fake_runs(monkeypatch, outputs)
    argv = ["--a", "old", "--b", "new", "--workload", "shard_gate", "--seeds", "1-2"]
    assert perf_pairs.main(argv) == 1
    assert made == [(1, "old"), (1, "new")]
    assert "stderr tail" in capsys.readouterr().err
