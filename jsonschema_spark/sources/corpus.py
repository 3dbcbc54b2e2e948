"""Deterministic synthetic tokenized-corpus generator (FIXTURES.md F1-F2).

Shape per BASELINE.json input_hint: ``(doc_id string, tokens array<int>,
n_tok int, source string)`` with ~1% injected constraint violations.

Everything is generated *inside Spark* from ``spark.range(n)`` using
hash-derived pseudo-randomness (xxhash64 of the row id + a stream tag), so
the same (n, seed) produces the same table at any parallelism and any scale —
no driver-side data, no numpy on executors, partition-parallel from row one.
The identical job runs at any core or executor count, and would run at
10^12 rows unchanged.

Violation injection is positional (row-id modulus), hence exactly
reproducible and countable in closed form:

- ``i % 499 == 498``  → duplicate doc_id (copies the previous row's id)  ~0.2%
- ``i % 331 == 330``  → n_tok out of declared bounds (0 or 4096)         ~0.3%
- ``i % 613 == 612``  → n_tok != size(tokens) (off by one)               ~0.16%
- ``i % 347 == 346``  → source not in the dimension domain               ~0.29%

Total ≈ 1%.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB_SIZE = 50257
MAX_TOKENS = 2048

SOURCES = [
    "web", "books", "code", "wiki", "news", "forums", "papers", "patents",
    "legal", "medical", "math", "dialogue", "reviews", "recipes", "subtitles",
    "manuals", "blogs", "social", "reference", "transcripts",
]

DUP_MOD, NTOK_MOD, LEN_MOD, SRC_MOD = 499, 331, 613, 347


def _u(id_col, tag: int):
    """Deterministic uniform double in [0,1) derived from (row id, stream tag)."""
    h = F.xxhash64(id_col, F.lit(tag))
    return (F.pmod(h, F.lit(1_000_000_007)).cast("double")) / 1_000_000_007.0


def dim_source(spark: SparkSession) -> DataFrame:
    """F2: broadcast dimension table for referential checks. Built in the
    JVM from literal structs, so scanning it starts no Python worker."""
    rows = [
        F.struct(F.lit(s).alias("source_id"), F.lit(round(1.0 / (i + 1), 6)).alias("weight"))
        for i, s in enumerate(SOURCES)
    ]
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*rows)))


def corpus(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """F1: the corpus with its injected violations."""
    base = spark.range(0, n_rows, 1, num_partitions) if num_partitions else spark.range(n_rows)
    i = F.col("id")
    s = F.lit(seed)

    # n_tok: power-skewed int in [1, MAX_TOKENS] (long tail of short docs)
    u_len = _u(i + s, 1)
    n_tok = (F.lit(1) + F.floor(F.lit(MAX_TOKENS - 1) * F.pow(u_len, F.lit(3.0)))).cast("int")

    # tokens: Zipf-ish draw over [0, VOCAB): token = floor(V * u^4) clusters
    # mass near 0 like a real token-frequency curve; per-position stream
    tokens = F.transform(
        F.sequence(F.lit(1), F.col("n_tok_clean")),
        lambda pos: F.floor(
            F.lit(VOCAB_SIZE)
            * F.pow((F.pmod(F.xxhash64(i + s, pos), 1_000_000_007).cast("double"))
                    / 1_000_000_007.0, F.lit(4.0))
        ).cast("int"),
    )

    source_idx = F.pmod(F.xxhash64(i + s, F.lit(2)), F.lit(len(SOURCES)))
    source = F.element_at(F.array(*[F.lit(x) for x in SOURCES]), source_idx.cast("int") + 1)

    df = (
        base.withColumn("n_tok_clean", n_tok)
        .withColumn("tokens", tokens)
        .withColumn("source_clean", source)
    )

    dup = F.pmod(i, DUP_MOD) == DUP_MOD - 1
    bad_ntok = F.pmod(i, NTOK_MOD) == NTOK_MOD - 1
    bad_len = F.pmod(i, LEN_MOD) == LEN_MOD - 1
    bad_src = F.pmod(i, SRC_MOD) == SRC_MOD - 1

    doc_id = F.when(dup, F.format_string("doc-%012d", i - 1)).otherwise(
        F.format_string("doc-%012d", i)
    )
    n_tok_col = (
        F.when(bad_ntok, F.when(F.pmod(i, 2) == 0, F.lit(0)).otherwise(F.lit(4096)))
        .when(bad_len, F.col("n_tok_clean") + 1)
        .otherwise(F.col("n_tok_clean"))
    ).cast("int")
    source_col = F.when(bad_src, F.lit("src-unregistered")).otherwise(
        F.col("source_clean")
    )

    return df.select(
        doc_id.alias("doc_id"),
        F.col("tokens"),
        n_tok_col.alias("n_tok"),
        source_col.alias("source"),
    )


def expected_violation_counts(n_rows: int) -> dict:
    """Closed-form counts of injected violations (for test oracles)."""
    return {
        "dup_doc_id": n_rows // DUP_MOD,
        "bad_n_tok": n_rows // NTOK_MOD,
        "len_mismatch": n_rows // LEN_MOD,
        "bad_source": n_rows // SRC_MOD,
    }
