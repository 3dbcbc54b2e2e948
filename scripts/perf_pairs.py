"""Interleaved before/after pairs of one perfbench workload.

    python scripts/perf_pairs.py --a OLD_CHECKOUT --b NEW_CHECKOUT \\
        --workload corpus_batch --seeds 9-14 [--seconds 8]

For each seed it runs ``perfbench/run.py --cpus all --driver-memory 2g`` once
in each checkout, one run at a time, and alternates which side runs first
(A then B on the first seed, B then A on the next, ...), so host drift falls
on both sides alike; run nothing else meanwhile, since the host is shared.
Start both checkouts with the same data cache state (``perfbench/_work/cache``):
generating a seed's data warms the JVM, so a cached side reads a higher
``setup_s``. It prints each run's end-to-end metrics, then each metric's
median and first and third quartiles per side and its B/A ratio per pair. It
exits 1 as soon as a run reports ``failed`` > 0 or ends without a result
line, printing the end of that run's stderr.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

BENCH = ["perfbench/run.py", "--cpus", "all", "--driver-memory", "2g"]


def parse_seeds(text: str) -> list[int]:
    """``9-14`` -> [9, ..., 14]; ``3`` -> [3]; ``1,4,7`` -> [1, 4, 7]."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def schedule(seeds: list[int]) -> list[tuple[int, str]]:
    """``(seed, side)`` in run order: each seed's pair, the side that runs
    first alternating from one seed to the next, starting with A."""
    order = []
    for i, seed in enumerate(seeds):
        order.extend((seed, side) for side in (("a", "b") if i % 2 == 0 else ("b", "a")))
    return order


def result_line(stdout: str) -> dict | None:
    """The result object on a run's last stdout line, or None when that
    line is not one."""
    lines = stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    return result if isinstance(result, dict) and "metrics" in result else None


def summarize(metrics: dict[tuple[int, str], dict]) -> tuple[dict, dict, dict]:
    """``(medians, quartiles, ratios)`` of ``(seed, side) -> {metric:
    value}``: ``medians[side][metric]`` and ``quartiles[side][metric]``
    (the first and third, with two runs or more) over the seeds, and
    ``ratios[seed][metric]`` = B / A of that seed's pair."""
    sides = sorted({side for _, side in metrics})
    names = sorted({name for values in metrics.values() for name in values})
    runs = {
        side: {name: [v[name] for (_, s), v in metrics.items() if s == side] for name in names}
        for side in sides
    }
    medians = {
        side: {name: statistics.median(values) for name, values in runs[side].items()}
        for side in sides
    }
    quartiles = {
        side: {
            name: tuple(statistics.quantiles(values, n=4)[::2])
            for name, values in runs[side].items()
            if len(values) > 1
        }
        for side in sides
    }
    seeds = sorted({seed for seed, _ in metrics})
    ratios = {
        seed: {name: metrics[seed, "b"][name] / metrics[seed, "a"][name] for name in names}
        for seed in seeds
        if (seed, "a") in metrics and (seed, "b") in metrics
    }
    return medians, quartiles, ratios


def _fmt(values: dict) -> str:
    return " ".join(f"{k}={v:.4g}" for k, v in sorted(values.items()))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", required=True, help="checkout measured as A (before)")
    ap.add_argument("--b", required=True, help="checkout measured as B (after)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds, help="e.g. 9-14")
    ap.add_argument("--seconds", type=float, default=8)
    args = ap.parse_args(argv)

    dirs = {"a": args.a, "b": args.b}
    metrics = {}
    for seed, side in schedule(args.seeds):
        cmd = [sys.executable, *BENCH, "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(args.seconds), "--trace", "0"]
        run = subprocess.run(cmd, cwd=dirs[side], capture_output=True, text=True)
        result = result_line(run.stdout)
        if result is None or result.get("failed", 0) > 0:
            why = "no result line" if result is None else f"failed={result['failed']}"
            print(f"seed {seed} {side.upper()}: {why} (exit {run.returncode})", flush=True)
            print("\n".join(run.stderr.strip().splitlines()[-20:]), file=sys.stderr)
            return 1
        metrics[seed, side] = {k: m["value"] for k, m in result["metrics"].items()}
        print(f"seed {seed} {side.upper()}: {_fmt(metrics[seed, side])}", flush=True)

    medians, quartiles, ratios = summarize(metrics)
    for side, values in medians.items():
        print(f"median {side.upper()}: {_fmt(values)}")
    for side, values in quartiles.items():
        if values:
            spread = " ".join(f"{k}={lo:.4g}..{hi:.4g}" for k, (lo, hi) in sorted(values.items()))
            print(f"quartiles {side.upper()}: {spread}")
    for seed, values in ratios.items():
        print(f"B/A seed {seed}: {_fmt(values)}")
    if ratios:
        names = next(iter(ratios.values()))
        mid = {n: statistics.median(r[n] for r in ratios.values()) for n in names}
        print(f"B/A median: {_fmt(mid)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
