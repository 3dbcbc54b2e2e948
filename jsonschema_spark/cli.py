"""Command-line entry point for cluster runs (``spark-submit --py-files``).

Usage (the north rule's launch contract)::

    # package the engine for executors
    python -m jsonschema_spark package --out dist/jsonschema_spark.zip

    # run a validation job
    spark-submit --master local[32] --py-files dist/jsonschema_spark.zip \
        -c spark.sql.shuffle.partitions=32 \
        $(python -c 'import jsonschema_spark.cli as c; print(c.__file__)') \
        validate --input /data/corpus --spec spec.json --results /data/results

On a real cluster, replace ``--master`` with the cluster manager and the
same job runs unchanged at N or 4N executors — the engine has no
driver-side row loops, so parallelism is purely an executor-count knob.

When invoked under spark-submit, the active SparkSession is the one
spark-submit built (we call ``getOrCreate`` and respect its master);
standalone invocation builds a local session from --cores (default:
``SPARK_GRAFT_CPUS``, else every CPU this process may use).
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path


def _build_session(args):
    from jsonschema_spark.sources.session import get_spark

    return get_spark(app_name="jsonschema_spark-cli", cores=args.cores)


def _dim_pair(value: str) -> tuple[str, str]:
    """``--dim name=parquet_path`` → ``(name, path)``, refused at parse
    time (exit 2) before any Spark work when either side is missing."""
    name, sep, path = value.partition("=")
    if not (sep and name and path):
        raise argparse.ArgumentTypeError(
            f"expected name=parquet_path, got {value!r}"
        )
    return name, path


def _sample_size(value: str) -> int:
    """``--preflight-k``: a sample size, refused at parse time when
    negative (``0`` skips the gate)."""
    k = int(value)
    if k < 0:
        raise argparse.ArgumentTypeError(f"expected a sample size >= 0, got {value!r}")
    return k


def _rate(value: str) -> float:
    """``--preflight-budget``: a violation rate in [0, 1], NaN refused."""
    rate = float(value)
    if not 0.0 <= rate <= 1.0:
        raise argparse.ArgumentTypeError(f"expected a rate in [0, 1], got {value!r}")
    return rate


_PARQUET_MAGIC = b"PAR1"


def _is_parquet_file(fs, status) -> bool:
    """The file starts and ends with the parquet magic: Spark's schema
    inference reads the footer, and a file without it fails a task whose
    stack trace the executor logs before the error reaches Python."""
    size = status.getLen()
    if size < 3 * len(_PARQUET_MAGIC):  # head magic, footer length, tail magic
        return False
    stream = fs.open(status.getPath())
    try:
        ends = []
        for offset in (0, size - len(_PARQUET_MAGIC)):
            stream.seek(offset)
            ends.append(bytes(stream.read() for _ in _PARQUET_MAGIC))
    finally:
        stream.close()
    return ends == [_PARQUET_MAGIC, _PARQUET_MAGIC]


def _first_data_file(fs, status):
    """The file of a matched path that parquet schema inference opens: the
    path itself when it is a file, else the first visible file by path
    under the directory (names starting with ``_`` or ``.`` are not data),
    or None when it holds none."""
    while status.isDirectory():
        visible = sorted(
            (s for s in fs.listStatus(status.getPath())
             if not s.getPath().getName().startswith(("_", "."))),
            key=lambda s: s.getPath().toString(),
        )
        if not visible:
            return None
        status = visible[0]
    return status


def _read_parquet(spark, flag: str, path: str):
    """``spark.read.parquet(path)``; a path Spark cannot read (absent, or
    not parquet) is a usage error that names ``flag``. An absent path, and
    a file that is not parquet (the path itself, or the first data file of
    a directory, the one schema inference reads), are found through the
    Hadoop FileSystem (``globStatus``, so globs still work) before Spark's
    reader logs its own stack trace for them."""
    from pyspark.errors import AnalysisException

    from jsonschema_spark.spec.compile import SpecError

    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    matches = fs.globStatus(hpath)
    if not matches:  # null (no such path) or no glob match
        raise SpecError(f"{flag} {path!r} cannot be read: no such path")
    for status in matches:
        data = _first_data_file(fs, status)
        if data is not None and not _is_parquet_file(fs, data):
            raise SpecError(
                f"{flag} {path!r} cannot be read: {data.getPath().getName()!r}"
                " is not a parquet file"
            )
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        reason = str(exc).partition("\n")[0]
        raise SpecError(f"{flag} {path!r} cannot be read: {reason}") from None


def cmd_package(args) -> int:
    """Zip the package for --py-files shipping."""
    import jsonschema_spark

    pkg_dir = Path(jsonschema_spark.__file__).parent
    out = Path(args.out)
    out.parent.mkdir(parents=True, exist_ok=True)
    tmp = shutil.make_archive(str(out.with_suffix("")), "zip",
                              root_dir=pkg_dir.parent, base_dir=pkg_dir.name)
    print(json.dumps({"py_files": tmp}))
    return 0


def cmd_validate(args) -> int:
    """Full validation pass over a parquet input; writes the results tree
    (lineage/violations/duplicates/orphans/profile/summary.json) and prints
    one JSON summary line: the ``summary.json`` fields plus
    ``wall_sec_total`` (and ``quarantine_dir`` when asked for). The spec
    is read and shape-checked before the session starts, and every
    dimension it references needs a ``--dim``; an ``--input`` or
    ``--dim`` path Spark cannot read, the spec's columns and ``--id-col``
    are checked once the session is up, before anything is written."""
    from pyspark.errors import AnalysisException

    from jsonschema_spark.plans.job import ValidationJob
    from jsonschema_spark.plans.plan import TableSpec, compile_table_spec
    from jsonschema_spark.spec.compile import SpecError

    spec = TableSpec.from_json(Path(args.spec).read_text())
    given = {name for name, _ in args.dim or []}
    missing = sorted({r["dim"] for r in spec.references.values()} - given)
    if missing:
        raise SpecError(f"the spec references dimension(s) {missing}: pass --dim name=parquet_path")
    spark = _build_session(args)
    df = _read_parquet(spark, "--input", args.input)
    dims = {name: _read_parquet(spark, "--dim", path) for name, path in args.dim or []}
    try:
        df.select(args.id_col)
    except AnalysisException:
        raise SpecError(f"--id-col {args.id_col!r} is not a column of the input") from None

    plan = compile_table_spec(spec, df.schema)

    job = ValidationJob(plan, dims=dims, id_column=args.id_col)
    t0 = time.time()

    if args.preflight_k:
        # sampled gate BEFORE the full pass: if the Wilson upper bound on
        # the violation rate exceeds the budget, exit nonzero before any
        # output is written. The gate costs one scan of the payload
        # columns, then the checks on k rows (the "don't run the
        # expensive job on a broken snapshot" guard)
        from jsonschema_spark.operators.checks import sampled_validation_gate

        gate = sampled_validation_gate(
            df,
            args.id_col,
            job.annotate,
            sample_k=args.preflight_k,
            budget=args.preflight_budget,
        ).collect()[0]
        print(json.dumps({"preflight": gate.asDict()}))
        if not gate["within_budget"]:
            # no spark.stop(): the CLI convention leaves the session to
            # the process exit (and an in-process caller — tests, a
            # notebook — may own a live session via getOrCreate; stopping
            # it here killed every later in-process Spark user)
            return 3

    summary = job.run(df, args.results, resume=args.resume)
    if args.quarantine:
        # verdict routing next to the results tree: accepted rows with a
        # clean payload schema, quarantined rows with failed-check labels
        ann = job.annotate(df)
        accepted, quarantined = job.quarantine(ann)
        base = Path(args.quarantine)
        accepted.write.mode("overwrite").parquet(str(base / "accepted"))
        quarantined.write.mode("overwrite").parquet(
            str(base / "quarantined")
        )
        summary["quarantine_dir"] = str(base)
    summary["wall_sec_total"] = round(time.time() - t0, 3)
    print(json.dumps(summary, default=str))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="jsonschema_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("package")
    pp.add_argument("--out", default="dist/jsonschema_spark.zip")
    pp.set_defaults(fn=cmd_package)

    pv = sub.add_parser(
        "validate",
        help="validate a table; write the results tree and print the summary",
        description="Run ValidationJob.run over --input: writes lineage/,"
        " violations/, duplicates_<key>/, orphans_<col>/, profile/ and"
        " summary.json under --results, then prints one JSON line (the"
        " summary.json fields plus wall_sec_total).",
    )
    pv.add_argument("--input", required=True, help="parquet dir")
    pv.add_argument("--spec", required=True, help="TableSpec JSON file")
    pv.add_argument("--results", required=True)
    pv.add_argument("--resume", action="store_true")
    pv.add_argument("--cores", type=int, default=None)
    pv.add_argument(
        "--dim", action="append", type=_dim_pair, help="name=parquet_path"
    )
    pv.add_argument("--id-col", default="doc_id")
    pv.add_argument(
        "--preflight-k", type=_sample_size, default=0,
        help="run the constant-size sampled gate first (k docs); exit 3 "
        "when the Wilson bound exceeds --preflight-budget",
    )
    pv.add_argument("--preflight-budget", type=_rate, default=0.05)
    pv.add_argument(
        "--quarantine", default=None,
        help="also write accepted/ + quarantined/ parquet under this dir",
    )
    pv.set_defaults(fn=cmd_validate)

    args = p.parse_args(argv)
    from jsonschema_spark.spec.compile import SpecError

    try:
        return args.fn(args)
    except SpecError as exc:
        # a malformed spec is a usage error: exit 2 with one line, no traceback
        p.exit(2, f"{p.prog} {args.cmd}: error: {exc}\n")


if __name__ == "__main__":
    sys.exit(main())
