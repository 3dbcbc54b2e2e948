"""jsonschema_spark — a PySpark-native schema + constraint validation engine.

Built from scratch with the constraint vocabulary of JSON Schema Draft 4
(reference semantics: tdakkota/jsonschema, see SURVEY.md), re-expressed
Spark-first:

- ``spec``      — declarative ConstraintSpec parsing, $ref/id resolution,
                  draft-4 metaschema (driver-side, no Spark dependency).
- ``compiler``  — lowers a spec to (a) native Spark ``Column`` boolean
                  predicates per typed column, (b) vectorized Arrow/pandas
                  UDF kernels for free-form JSON columns.
- ``operators`` — table-level checks: salted uniqueness, broadcast
                  referential integrity, column stats profiles and the
                  sampled pre-flight gate.
- ``plans``     — CompiledPlan + ValidationJob: one partition-parallel pass
                  emitting per-row verdicts, violation rows, the
                  accepted/quarantined split, lineage with per-check fail
                  counts, and checkpoint/resume.
- ``sources``   — Spark session factory + deterministic synthetic corpus
                  generator.
"""

from jsonschema_spark.spec.compile import (
    SpecError,
    compile_spec,
    file_map_resolver,
    http_resolver,
    regex_dialect_risks,
)
from jsonschema_spark.spec.evaluate import Violation, validate_json, validate_value

__all__ = [
    "SpecError",
    "compile_spec",
    "file_map_resolver",
    "http_resolver",
    "regex_dialect_risks",
    "Violation",
    "validate_json",
    "validate_value",
]

__version__ = "0.1.0"
