"""Full driver-gate rehearsal: run every ``queries()`` entry on Spark and
its ``oracle_sql()`` twin on DuckDB over the same parquet tables at an
arbitrary scale factor (default sf0.01 — the driver's gate scale), compare
row count / column names / order-insensitive rounded values, and print one
summary line per query plus a final verdict.

Usage:
    python scripts/oracle_sweep.py [--sf-dir /root/testdata/sf0.01] \
        [--only name1,name2] [--cores 16]

CLAUDE.md contract: run this before shipping query changes.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from jsonschema_spark.plans.audit import plan_report  # noqa: E402
from jsonschema_spark.sources.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# VERDICT r3 #6: every query's executed plan is audited in the same sweep —
# a regression to a cartesian join or row-at-a-time Python (BatchEvalPython)
# fails here, not on a 100-TB run.


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            if isinstance(v, int) and not isinstance(v, bool):
                v = int(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    ap.add_argument("--cores", type=int, default=16)
    args = ap.parse_args()

    spark = get_spark("oracle_sweep", cores=args.cores)
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = sorted(queries)
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]

    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf_dir)
            rep = plan_report(sdf)
            plan_flags = []
            if rep["cartesian"]:
                plan_flags.append("CARTESIAN")
            if rep["row_python"]:
                plan_flags.append("ROW_PYTHON")
            spark_cols = [c.lower() for c in sdf.columns]
            spark_rows = [tuple(r) for r in sdf.collect()]
            if plan_flags:
                failures.append(name)
                print(f"{name:28s} rows={len(spark_rows):7d} "
                      f"PLAN_FAIL {'+'.join(plan_flags)}", flush=True)
                continue
            if name not in oracles:
                print(f"{name:28s} rows={len(spark_rows):7d} "
                      f"NO_ORACLE      {time.time()-t0:6.1f}s", flush=True)
                continue
            res = duck.execute(oracles[name])
            duck_cols = [d[0].lower() for d in res.description]
            duck_rows = res.fetchall()
            ok_cols = sorted(spark_cols) == sorted(duck_cols)
            ok_rows = len(spark_rows) == len(duck_rows)
            ok_vals = (
                _normalize(spark_rows, spark_cols)
                == _normalize(duck_rows, duck_cols)
            ) if ok_cols and ok_rows else False
            status = "PASS" if (ok_cols and ok_rows and ok_vals) else "FAIL"
            if status == "FAIL":
                failures.append(name)
                detail = (f" cols={ok_cols} n={len(spark_rows)}/"
                          f"{len(duck_rows)} vals={ok_vals}")
            else:
                detail = ""
            print(f"{name:28s} rows={len(spark_rows):7d} {status}{detail}"
                  f"   xch={rep['exchanges']:2d}"
                  f"{' 1part' if rep['single_partition'] else ''}"
                  f"   {time.time()-t0:6.1f}s", flush=True)
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"{name:28s} ERROR {type(exc).__name__}: "
                  f"{str(exc).splitlines()[0][:160]}", flush=True)

    print(json.dumps({"total": len(names), "failed": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
