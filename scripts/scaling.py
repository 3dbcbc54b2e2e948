"""Two-cluster-size scaling evidence (BASELINE.json north rule).

Runs the identical validation job via ``spark-submit --py-files`` at two
parallelism levels (N and 4N cores) over the same materialized corpus
parquet, reports throughput at both and efficiency = (tps_4N / tps_N) / 4.

In-sandbox stand-in for N vs 4N *executors*: separate JVMs at local[N] and
local[4N]. The job itself is partition-parallel with no driver-side row
work, so executor count is the only knob that changes between the runs.

Usage:
    python scripts/scaling.py [--rows 1000000] [--pairs 8:32,2:8] [--repeat 2]

Writes BENCH/scaling.json and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_level(cores: int, rows: int, repeat: int, zip_path: str) -> dict:
    cmd = [
        "spark-submit",
        "--master", f"local[{cores}]",
        "--conf", f"spark.sql.shuffle.partitions={max(cores, 8)}",
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.driver.memory=8g",
        # fixed pre-touched heap: see sources/session.py (page-fault storm
        # otherwise dominates at high parallelism)
        "--conf", "spark.driver.extraJavaOptions=-Xms8g -XX:+AlwaysPreTouch",
        "--conf", "spark.sql.parquet.enableNestedColumnVectorizedReader=true",
        "--py-files", zip_path,
        os.path.join(REPO, "scripts", "throughput_job.py"),
        "--cores", str(cores),
        "--rows", str(rows),
        "--repeat", str(repeat),
    ]
    out = subprocess.run(
        cmd, capture_output=True, text=True, cwd=REPO, timeout=1800
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:] + "\n")
        raise RuntimeError(f"no JSON output at local[{cores}]")
    rec = json.loads(lines[-1])
    rec["cores"] = cores
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--pairs", default="8:32")
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "scaling.json"))
    args = ap.parse_args()

    # package for --py-files (the launch contract)
    subprocess.run(
        [sys.executable, "-m", "jsonschema_spark", "package",
         "--out", "dist/jsonschema_spark.zip"],
        cwd=REPO, check=True, capture_output=True, text=True,
    )
    zip_path = os.path.join(REPO, "dist", "jsonschema_spark.zip")

    results = {"rows": args.rows, "pairs": []}
    for pair in args.pairs.split(","):
        lo, hi = (int(x) for x in pair.split(":"))
        rec_lo = run_level(lo, args.rows, args.repeat, zip_path)
        rec_hi = run_level(hi, args.rows, args.repeat, zip_path)
        eff = (rec_hi["tokens_per_sec"] / rec_lo["tokens_per_sec"]) / (hi / lo)
        results["pairs"].append(
            {
                "n_cores": lo,
                "4n_cores": hi,
                "n": rec_lo,
                "4n": rec_hi,
                "speedup": round(rec_hi["tokens_per_sec"] / rec_lo["tokens_per_sec"], 3),
                "scaling_efficiency": round(eff, 3),
            }
        )
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    # merge: only the "validate" section is rewritten; other keys are kept
    merged: dict = {}
    if os.path.isfile(args.out):
        with open(args.out) as fh:
            merged = json.load(fh)
    merged["validate"] = results
    with open(args.out, "w") as fh:
        json.dump(merged, fh, indent=2)
    print(json.dumps({"validate": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
