"""Column helpers shared by the validation operators.

Everything here is a native Column expression (JVM-side, whole-stage
codegen) — no Python on the hot path, and a pure function of its input so
results are identical at any parallelism/partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash60(col: Column) -> Column:
    """Cross-engine deterministic 60-bit hash: the first 15 hex chars of
    md5, as a non-negative bigint. Exists so content-addressed samples (the
    pre-flight gate, violation examples) are reproducible by an external
    SQL engine — the DuckDB twin is
    ``CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
