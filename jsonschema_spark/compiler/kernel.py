"""Arrow-batched pandas-UDF kernels: validate a column of raw JSON text (or
raw typed values) against a compiled spec.

This is the fallback path for constraints a native ``Column`` cannot express
(recursive specs over free-form JSON, composite enum variants, ...). Data
crosses the JVM↔Python boundary once per Arrow batch — never per row.

The spec travels to executors as its *source JSON text* (tiny, stable), and
each executor process compiles it exactly once (module-level cache keyed by
text), mirroring the reference's compile-once contract
(/root/reference/compiler.go:48-247) in a distributed setting. The
evaluator's closures are built on the first document and cached on the
compiled spec, so they are built once per executor process too.

Kernels that only need the verdict (``value_validation_udf``,
``multi_spec_validity_kernel``) run the evaluator's fail-fast boolean mode.
``json_validation_kernel`` runs ``validate_json``: fail-fast with float
numbers first, so a valid document costs one plain ``json.loads`` and one
short-circuiting walk; only a failing document collects its violations for
``n_violations`` and the ``first_*`` fields.

Every kernel batch first pins the worker's zip importers, once per Python
worker process (``_pin_spark_zips``). PySpark starts each task with
``importlib.invalidate_caches()`` (``setup_spark_files`` in
``pyspark/worker_util.py``), and a plain ``zipimport.zipimporter`` answers
that by re-reading its archive's central directory. The archives on a
worker's path are ``pyspark.zip`` (one importer per package imported from
it), the py4j zip and the Spark jar; re-reading them costs about 0.18 s of
CPU per task on a 4-core host, more than evaluating 1,000 documents.

- What is pinned: each importer in ``sys.path_importer_cache`` whose type is
  exactly ``zipimport.zipimporter`` and whose archive lies outside
  ``SparkFiles.getRootDirectory()``. Its ``invalidate_caches`` then keeps
  the directory it has.
- Why that is safe: those archives are Spark's own install, and they do not
  change while a worker lives.
- What is not pinned: archives under the SparkFiles root (``--py-files``,
  ``addPyFile``) keep re-reading, so a later ``addPyFile`` is seen as
  before; so do importers created after the pin (a path added later).
"""

from __future__ import annotations

import json
import os
import sys
import zipimport
from decimal import Decimal
from fractions import Fraction
from typing import Optional

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SCHEMA_CACHE: dict = {}
_ZIPS_PINNED = False

VERDICT_TYPE = T.StructType(
    [
        T.StructField("valid", T.BooleanType(), False),
        T.StructField("n_violations", T.IntegerType(), False),
        T.StructField("first_path", T.StringType(), True),
        T.StructField("first_keyword", T.StringType(), True),
        T.StructField("first_message", T.StringType(), True),
    ]
)


class _PinnedZipImporter(zipimport.zipimporter):
    """A zip importer that keeps the directory it read."""

    def invalidate_caches(self):
        pass


def _pin_spark_zips() -> int:
    """Pin, once per process, every plain zip importer in
    ``sys.path_importer_cache`` whose archive lies outside the SparkFiles
    root; return how many it pinned (see the module docstring)."""
    global _ZIPS_PINNED
    if _ZIPS_PINNED:
        return 0
    _ZIPS_PINNED = True
    if not hasattr(zipimport.zipimporter, "invalidate_caches"):
        return 0
    from pyspark import SparkFiles

    user_root = os.path.join(os.path.realpath(SparkFiles.getRootDirectory()), "")
    pinned = 0
    for finder in list(sys.path_importer_cache.values()):
        if type(finder) is not zipimport.zipimporter:
            continue
        if os.path.realpath(finder.archive).startswith(user_root):
            continue  # shipped with the job: --py-files, addPyFile
        # in place: the importer keeps its directory and prefix, and the
        # modules it loaded keep it as their loader
        finder.__class__ = _PinnedZipImporter
        pinned += 1
    return pinned


def _compiled(spec_text: str):
    _pin_spark_zips()
    compiled = _SCHEMA_CACHE.get(spec_text)
    if compiled is None:
        # local import keeps executor-side deserialization lean
        from jsonschema_spark.spec.compile import compile_spec

        compiled = compile_spec(spec_text)
        _SCHEMA_CACHE[spec_text] = compiled
    return compiled


def _as_json_value(v):
    """Arrow/pandas cell → the evaluator's JSON value model. Numeric
    columns arrive as numpy scalars (and nullable ints as float64 NaN),
    decimals as decimal.Decimal — convert to int/float/Fraction so the
    pure-Python evaluator's exact-Fraction arithmetic applies (reference
    big.Rat semantics, internal/jsonequal/equal.go:39-79)."""
    import math

    if v is None:
        return None
    if isinstance(v, bool) or type(v) in (int, str, Fraction):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else v  # NaN = Arrow's null promotion
    import numpy as np

    if isinstance(v, np.generic):
        return _as_json_value(v.item())
    if isinstance(v, Decimal):
        return Fraction(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_as_json_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _as_json_value(x) for k, x in v.items()}
    return v


def json_validation_kernel(spec: dict | str, doc_col: Column) -> Column:
    """Return a struct column ``(valid, n_violations, first_path,
    first_keyword, first_message)`` for each JSON document in ``doc_col``.

    NULL documents are treated as JSON ``null`` instances (consistent with
    the typed-column convention in compiler/columns.py).
    """
    return json_validation_udf(spec)(doc_col)


def json_validation_udf(spec: dict | str):
    """The pandas UDF behind ``json_validation_kernel``. Deterministic, so
    it may sit inside an aggregate; ``compile_table_spec`` marks its copy
    ``asNondeterministic()``, so the optimizer pushes no filter below it
    and never runs the kernel a second time (see
    ``ValidationJob.annotate``)."""
    spec_text = spec if isinstance(spec, str) else json.dumps(spec)

    @F.pandas_udf(VERDICT_TYPE)
    def _validate(batch: pd.Series) -> pd.DataFrame:
        from jsonschema_spark.spec.evaluate import validate_json, validate_value

        compiled = _compiled(spec_text)
        valid, nviol, paths, keywords, messages = [], [], [], [], []
        for text in batch:
            if text is None:
                violations = validate_value(compiled, None)
            else:
                violations = validate_json(compiled, text)
            valid.append(not violations)
            nviol.append(len(violations))
            first = violations[0] if violations else None
            paths.append(first.path if first else None)
            keywords.append(first.keyword if first else None)
            messages.append(first.message if first else None)
        return pd.DataFrame(
            {
                "valid": valid,
                "n_violations": nviol,
                "first_path": paths,
                "first_keyword": keywords,
                "first_message": messages,
            }
        )

    return _validate


def value_validation_udf(spec: dict | str):
    """Boolean validity of a *raw typed value* column (NOT JSON text)
    against a compiled spec — the fallback when the native lowering refuses
    a string-column check (e.g. the regex dialect gate): the cell value is
    validated as a JSON string instance with the pure-Python evaluator, so
    kernel semantics match the evaluator exactly. Arrow-batched; used only
    for the rare checks the gate diverts off the codegen fast path. The
    returned pandas UDF is deterministic, as ``json_validation_udf`` is."""
    spec_text = spec if isinstance(spec, str) else json.dumps(spec)

    @F.pandas_udf(T.BooleanType())
    def _validate(batch: pd.Series) -> pd.Series:
        from jsonschema_spark.spec.evaluate import is_valid

        compiled = _compiled(spec_text)
        return pd.Series([is_valid(compiled, _as_json_value(v)) for v in batch])

    return _validate


def multi_spec_validity_kernel(specs: list, idx_col: Column, doc_col: Column) -> Column:
    """Boolean validity of each JSON document against ``specs[idx]``.

    One Arrow-batched kernel serving many specs at once in one Spark job.
    Its callers are the suite parity tests (tests/test_spark_backends.py,
    tests/test_bench_suite.py) and ``scripts/refbench.py``; the validation
    path does not use it.
    """
    specs_text = [s if isinstance(s, str) else json.dumps(s) for s in specs]

    @F.pandas_udf(T.BooleanType())
    def _validate(idx: pd.Series, docs: pd.Series) -> pd.Series:
        from jsonschema_spark.spec.evaluate import is_valid, is_valid_json

        compiled = [_compiled(t) for t in specs_text]
        out = []
        for i, text in zip(idx, docs):
            schema = compiled[int(i)]
            if text is None:
                out.append(is_valid(schema, None))
            else:
                out.append(is_valid_json(schema, text))
        return pd.Series(out)

    return _validate(idx_col, doc_col)
