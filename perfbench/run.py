"""Validation benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload corpus_batch --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Everything else (per-op
records, spans, generation times) goes under ``perfbench/_work/results``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["corpus_batch", "json_router", "shard_gate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    ap.add_argument("--cpus", default="all", help="local[N] cores; 'all' = every CPU this process may use")
    ap.add_argument("--driver-memory", default="2g", help="driver JVM heap (pre-touched at start)")
    return ap.parse_args(argv)


def launch_env(args) -> None:
    """Environment the engine's session factory and its Python workers read.
    Set before pyspark starts the JVM, which the workers inherit it from."""
    cpus = len(os.sched_getaffinity(0)) if args.cpus == "all" else int(args.cpus)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = args.driver_memory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the Arrow kernel's workers import jsonschema_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # pyspark's own temp files and the JVM's java.io.tmpdir
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "jsonschema_spark", "__init__.py")):
        print(f"no jsonschema_spark package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    launch_env(args)
    from perfbench.bench import Bench

    result = Bench(args).run()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
