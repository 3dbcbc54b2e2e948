"""Benchmark building blocks: the flagship corpus contract and the one-pass
validation job behind the CLI ``throughput`` command (spark-submit scaling
runs). Lives inside the package so it ships with --py-files."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from jsonschema_spark.sources.corpus import MAX_TOKENS, VOCAB_SIZE, corpus, dim_source
from jsonschema_spark.plans.plan import TableSpec, compile_table_spec
from jsonschema_spark.plans.job import ValidationJob

CORPUS_SPEC_DICT = {
    "columns": {
        "doc_id": {"type": "string", "pattern": "^doc-[0-9]{12}$"},
        "tokens": {
            "type": "array",
            "minItems": 1,
            "items": {"type": "integer", "minimum": 0, "maximum": VOCAB_SIZE - 1},
        },
        "n_tok": {"type": "integer", "minimum": 1, "maximum": MAX_TOKENS},
    },
    "required": ["doc_id", "tokens", "n_tok", "source"],
    "row_checks": {"len_consistent": "n_tok = size(tokens)"},
    "unique": ["doc_id"],
    "references": {"source": {"dim": "dim_source", "key": "source_id"}},
}


def materialize_corpus(spark, n_rows: int, cache_dir: str, seed: int = 42) -> str:
    """Write the deterministic corpus to parquet once; reuse across runs so
    every parallelism level reads the identical bytes."""
    path = os.path.join(cache_dir, f"corpus_n{n_rows}_s{seed}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        corpus(spark, n_rows, seed=seed, num_partitions=64).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def corpus_validation_pass(spark, corpus_path: str):
    """The headline job: one partition-parallel validation pass (all row
    checks + referential predicate + salted uniqueness). Returns
    (n_rows, n_valid, n_tokens, n_dups)."""
    df = spark.read.parquet(corpus_path)
    plan = compile_table_spec(TableSpec.from_dict(CORPUS_SPEC_DICT), df.schema)
    job = ValidationJob(plan, dims={"dim_source": dim_source(spark)})
    annotated = job.annotate(df)
    checks = job.check_columns(annotated)
    row = annotated.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("_valid").cast("long")).alias("n_valid"),
        F.sum("n_tok").alias("n_tokens"),
        *[F.sum((~F.col(c)).cast("long")).alias(c) for c in checks],
    ).collect()[0]
    n_dups = job.uniqueness(df)["doc_id"].count()
    return row.n_rows, row.n_valid, row.n_tokens or 0, n_dups
