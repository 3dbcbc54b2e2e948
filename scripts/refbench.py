"""The reference's OWN benchmark definition, run against this engine.

The reference benches **bytes/sec of validated JSON** per real-world
schema family (validate_test.go:88-99: ``b.SetBytes(len(data))`` over
the 8 ``_bench`` families — draft4 metaschema, geojson, golangci-lint,
grafana-dashboard, openapi, scoop, sourcemapv3, swagger). This script
reports the same metric for BOTH of our execution paths:

1. ``evaluator`` — the single-threaded pure-Python evaluator, the
   apples-to-apples analog of the reference's single-threaded Go walk
   (expected slower: interpreted Python vs compiled Go, though it runs
   each schema as closures built once and stops at the first failure,
   like the reference), and
2. ``kernel`` — the Arrow-batched Spark kernel over a corpus of payload
   copies on local[N]: the engine's actual serving shape, where the
   table-scale design earns back the per-document constant.

Writes BENCH/refbench.json and prints one JSON line per family. Exits
with code 2 and ``reference suite absent: <path>`` when the reference's
``_bench`` directory is not on the machine.

Usage: python scripts/refbench.py [--families geojson,swagger]
       [--target-mb 64] [--cores 32] [--evaluator-sec 1.0]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BENCH_ROOT = "/root/reference/_bench"


def _families(only):
    for fam in sorted(os.listdir(BENCH_ROOT)):
        if only and fam not in only:
            continue
        with open(os.path.join(BENCH_ROOT, fam, "schema.json"), "rb") as fh:
            schema = fh.read()
        data_dir = os.path.join(BENCH_ROOT, fam, "data")
        payloads = []
        for name in sorted(os.listdir(data_dir)):
            with open(os.path.join(data_dir, name), "rb") as fh:
                payloads.append((name, fh.read()))
        yield fam, schema, payloads


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--families", default="")
    ap.add_argument("--target-mb", type=float, default=64.0)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--evaluator-sec", type=float, default=1.0)
    ap.add_argument(
        "--out", default=os.path.join(REPO, "BENCH", "refbench.json")
    )
    args = ap.parse_args()
    only = set(args.families.split(",")) if args.families else None
    if not os.path.isdir(BENCH_ROOT):
        print(f"reference suite absent: {BENCH_ROOT}", file=sys.stderr)
        return 2

    from jsonschema_spark.compiler.kernel import multi_spec_validity_kernel
    from jsonschema_spark.sources.session import get_spark
    from jsonschema_spark.spec.compile import compile_spec
    from jsonschema_spark.spec.evaluate import validate_value
    from jsonschema_spark.spec.model import parse_json

    import pyspark.sql.functions as F

    spark = get_spark(app_name="jsonschema_spark-refbench", cores=args.cores)

    results = {}
    for fam, schema_bytes, payloads in _families(only):
        compiled = compile_spec(parse_json(schema_bytes))

        # --- evaluator path: single-threaded loop, reference protocol ---
        parsed = [(n, parse_json(raw), len(raw)) for n, raw in payloads]
        # warm-up
        for _, doc, _ in parsed:
            assert not validate_value(compiled, doc)
        n_docs = n_bytes = 0
        t0 = time.time()
        while time.time() - t0 < args.evaluator_sec:
            for _, doc, nb in parsed:
                validate_value(compiled, doc)
                n_docs += 1
                n_bytes += nb
        eval_wall = time.time() - t0
        eval_bps = n_bytes / eval_wall

        # --- kernel path: Arrow batches over a corpus of copies ---
        spec_text = schema_bytes.decode("utf-8")
        total_payload = sum(len(raw) for _, raw in payloads)
        reps = max(1, int(args.target_mb * 1e6 / max(total_payload, 1)))
        rows = [(raw.decode("utf-8"),) for _, raw in payloads] * reps
        corpus_bytes = sum(len(r[0]) for r in rows)
        df = spark.createDataFrame(rows, schema="doc string").repartition(
            max(args.cores, 8)
        ).persist()
        df.count()  # materialize once; measured pass = validate only

        def one_pass() -> int:
            return (
                df.select(
                    multi_spec_validity_kernel(
                        [spec_text], F.lit(0), F.col("doc")
                    ).alias("ok")
                )
                .agg(F.sum(F.col("ok").cast("long")))
                .collect()[0][0]
            )

        n_ok = one_pass()  # warm-up
        assert n_ok == len(rows), f"{fam}: kernel rejected valid payloads"
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            one_pass()
            best = min(best, time.time() - t0)
        df.unpersist()

        rec = {
            "payload_bytes": total_payload,
            "n_payloads": len(payloads),
            "evaluator_bytes_per_sec": round(eval_bps, 1),
            "evaluator_docs_per_sec": round(n_docs / eval_wall, 1),
            "kernel_rows": len(rows),
            "kernel_corpus_bytes": corpus_bytes,
            "kernel_wall_sec": round(best, 3),
            "kernel_bytes_per_sec": round(corpus_bytes / best, 1),
            "kernel_docs_per_sec": round(len(rows) / best, 1),
            "cores": args.cores,
        }
        results[fam] = rec
        print(json.dumps({fam: rec}))
        sys.stdout.flush()

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(results, fh, indent=2)
        fh.write("\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
