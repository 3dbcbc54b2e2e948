"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship: full TableSpec validation of the documents table
at sf0.001 (per-check fail counts, the engine's verdict-summary shape).

`queries()` — the validation product's 26 queries: the draft-4 keyword
operators of SURVEY.md §2.1 lowered through the engine's compiler, the
table-scope uniqueness / referential checks, the ValidationJob
full pass, quarantine router and pre-flight gate. Each returns a
DataFrame over (spark, sf_dir).

`oracle_sql()` — DuckDB twin per query. Aggregates are aliased identically
on both sides; count-based metrics avoid HUGEINT/float-order pitfalls, and
double sums go through exact DECIMAL accumulation then a final double cast.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonschema_spark.compiler.columns import lower_predicate
from jsonschema_spark.compiler.kernel import json_validation_kernel
from jsonschema_spark.plans.plan import failed
from jsonschema_spark.spec.compile import compile_spec


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _pred(df: DataFrame, column: str, spec: dict):
    """Engine-lowered predicate for a draft-4 spec on one typed column."""
    return lower_predicate(
        compile_spec(spec), F.col(column), df.schema[column].dataType
    )


def _struct_pred(df: DataFrame, columns: list, spec: dict):
    """Engine-lowered predicate for an object spec over a struct of columns."""
    from pyspark.sql import types as T

    struct_type = T.StructType([df.schema[c] for c in columns])
    return lower_predicate(
        compile_spec(spec), F.struct(*[F.col(c) for c in columns]), struct_type
    )


def _count_pass(df: DataFrame, pred) -> DataFrame:
    return df.agg(
        F.count(F.when(pred, 1)).alias("n_pass"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

DOCS_SPEC = {
    "columns": {
        "doc_id": {"type": "integer", "minimum": 0},
        "text": {"type": "string", "minLength": 10},
        "lang": {"enum": ["en", "de", "fr", "es", "zh"]},
        "source": {"type": "string", "pattern": "^src[0-9]+$"},
        "n_chars": {"type": "integer", "minimum": 1, "maximum": 10000},
    },
    "required": ["doc_id", "text", "lang", "source", "n_chars"],
    "row_checks": {"chars_consistent": "n_chars = length(text)"},
    "unique": ["doc_id"],
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: validate the documents table end-to-end; one row per check
    with its fail count (stable schema: check string, n_fail long, n_rows
    long) — the engine's verdict-summary shape."""
    from jsonschema_spark.plans.plan import TableSpec, compile_table_spec
    from jsonschema_spark.plans.job import ValidationJob

    df = _t(spark, "/root/testdata/sf0.001", "documents")
    plan = compile_table_spec(TableSpec.from_dict(DOCS_SPEC), df.schema)
    job = ValidationJob(plan, id_column="doc_id")
    annotated = job.annotate(df)
    checks = job.check_columns(annotated)
    aggs = [
        F.sum(failed(F.col(c)).cast("long")).alias(c.removeprefix("chk_")) for c in checks
    ] + [F.count(F.lit(1)).alias("n_rows")]
    wide = annotated.agg(*aggs)
    names = [c.removeprefix("chk_") for c in checks]
    stacked = wide.select(
        F.expr(
            "stack({n}, {pairs}) as (check, n_fail)".format(
                n=len(names),
                pairs=", ".join(f"'{c}', `{c}`" for c in names),
            )
        ),
        "n_rows",
    )
    return stacked


# --------------------------------------------------------------------------
# operator queries (SURVEY.md §2) + oracles
# --------------------------------------------------------------------------


def q_type_integer(spark, sf_dir):
    """SURVEY §2.1 #1: integer-by-value (1.0 passes) on a double column."""
    df = _t(spark, sf_dir, "lineitem")
    return _count_pass(df, _pred(df, "l_quantity", {"type": "integer"}))


def q_enum_scalar(spark, sf_dir):
    """SURVEY §2.1 #2: enum as hash-set membership."""
    df = _t(spark, sf_dir, "orders")
    return _count_pass(df, _pred(df, "o_orderstatus", {"enum": ["O", "F"]}))


def q_all_of(spark, sf_dir):
    """SURVEY §2.1 #3: conjunction of subschemas."""
    df = _t(spark, sf_dir, "part")
    spec = {"allOf": [{"minimum": 10}, {"maximum": 40}, {"multipleOf": 5}]}
    return _count_pass(df, _pred(df, "p_size", spec))


def q_any_of(spark, sf_dir):
    """SURVEY §2.1 #4: disjunction."""
    df = _t(spark, sf_dir, "customer")
    spec = {"anyOf": [{"maximum": 0}, {"minimum": 9000}]}
    return _count_pass(df, _pred(df, "c_acctbal", spec))


def q_one_of(spark, sf_dir):
    """SURVEY §2.1 #5: exactly-one via cast-sum == 1."""
    df = _t(spark, sf_dir, "events")
    spec = {
        "oneOf": [
            {"properties": {"value": {"minimum": 50, "exclusiveMinimum": True}}},
            {"properties": {"event_type": {"enum": ["click"]}}},
        ]
    }
    return _count_pass(df, _struct_pred(df, ["event_type", "value"], spec))


def q_not(spark, sf_dir):
    """SURVEY §2.1 #6: negation."""
    df = _t(spark, sf_dir, "lineitem")
    return _count_pass(df, _pred(df, "l_returnflag", {"not": {"enum": ["A", "R"]}}))


def q_bounds_exclusive(spark, sf_dir):
    """SURVEY §2.1 #7/#8: minimum/maximum with exclusive flags."""
    df = _t(spark, sf_dir, "lineitem")
    spec = {"minimum": 0.02, "maximum": 0.08, "exclusiveMaximum": True}
    return _count_pass(df, _pred(df, "l_discount", spec))


def q_multiple_of(spark, sf_dir):
    """SURVEY §2.1 #9: multipleOf via pmod on integral columns."""
    df = _t(spark, sf_dir, "part")
    return _count_pass(df, _pred(df, "p_size", {"multipleOf": 7}))


def q_string_length(spark, sf_dir):
    """SURVEY §2.1 #10: min/maxLength (code points)."""
    df = _t(spark, sf_dir, "documents")
    return _count_pass(df, _pred(df, "text", {"minLength": 100, "maxLength": 400}))


def q_pattern(spark, sf_dir):
    """SURVEY §2.1 #11: regex search via rlike."""
    df = _t(spark, sf_dir, "customer")
    return _count_pass(df, _pred(df, "c_name", {"pattern": "^Customer#00[0-9]+$"}))


def q_array_bounds(spark, sf_dir):
    """SURVEY §2.1 #13: minItems/maxItems."""
    df = _t(spark, sf_dir, "embeddings")
    return _count_pass(df, _pred(df, "embedding", {"minItems": 64, "maxItems": 64}))


def q_unique_items(spark, sf_dir):
    """SURVEY §2.1 #14: uniqueItems via array_distinct."""
    df = _t(spark, sf_dir, "embeddings")
    return _count_pass(df, _pred(df, "embedding", {"uniqueItems": True}))


def q_forall_items(spark, sf_dir):
    """SURVEY §2.1 #15: items (single-schema) via forall."""
    df = _t(spark, sf_dir, "embeddings")
    spec = {"items": {"minimum": -0.5, "maximum": 0.5}}
    return _count_pass(df, _pred(df, "embedding", spec))


def q_required(spark, sf_dir):
    """SURVEY §2.1 #20: required as isNotNull."""
    df = _t(spark, sf_dir, "documents")
    spec = {"required": ["lang", "source", "text"]}
    return _count_pass(
        df, _struct_pred(df, ["lang", "source", "text"], spec)
    )


def q_dependencies(spark, sf_dir):
    """SURVEY §2.1 #21/#22: dependentSchemas over a struct of columns."""
    df = _t(spark, sf_dir, "events")
    spec = {"dependencies": {"value": {"properties": {"value": {"minimum": 1}}}}}
    return _count_pass(df, _struct_pred(df, ["event_type", "value"], spec))


def q_properties_struct(spark, sf_dir):
    """SURVEY §2.1 #17: properties over struct columns."""
    df = _t(spark, sf_dir, "customer")
    spec = {
        "properties": {
            "c_acctbal": {"minimum": 0},
            "c_mktsegment": {"enum": ["BUILDING", "MACHINERY", "AUTOMOBILE"]},
        }
    }
    return _count_pass(df, _struct_pred(df, ["c_acctbal", "c_mktsegment"], spec))


def q_json_wellformed(spark, sf_dir):
    """SURVEY §2.1 #25: whole-document well-formedness (kernel path)."""
    df = _t(spark, sf_dir, "events")
    verdict = json_validation_kernel({"type": "object"}, F.col("props"))
    return _count_pass(df, verdict.getField("valid"))


def q_json_schema_kernel(spark, sf_dir):
    """Kernel path: full draft-4 spec over a free-form JSON column."""
    df = _t(spark, sf_dir, "events")
    spec = {
        "type": "object",
        "required": ["k"],
        "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 80}},
        "additionalProperties": False,
    }
    verdict = json_validation_kernel(spec, F.col("props"))
    return _count_pass(df, verdict.getField("valid"))


def q_dup_keys(spark, sf_dir):
    """SURVEY §2.3: table-scope uniqueness via salted two-phase agg."""
    from jsonschema_spark.operators.uniqueness import duplicate_keys

    df = _t(spark, sf_dir, "orders")
    return duplicate_keys(df, "o_custkey")


def q_orphans(spark, sf_dir):
    """SURVEY §2.3: referential check via domain membership (dimension =
    customers with even custkey, so orphans provably exist)."""
    from jsonschema_spark.operators.referential import orphan_key_counts

    fact = _t(spark, sf_dir, "orders")
    dim = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 2 == 0)
    return orphan_key_counts(fact, "o_custkey", dim, "c_custkey")


def _corpus_oracle_path() -> str:
    """Stable parquet path for the 50k seed-42 corpus: the Spark query
    materializes it once (content is deterministic at any parallelism), and
    the DuckDB oracle reads the SAME bytes — converting corpus_validate from
    a rows-only check into a full value-hash oracle row."""
    import os

    cache = os.environ.get("BENCH_CACHE_DIR", "/tmp/jsonschema_spark_bench")
    return os.path.join(cache, "corpus_oracle_50k_seed42.parquet")


def _materialized_corpus(spark):
    import os

    from jsonschema_spark.sources.corpus import corpus

    path = _corpus_oracle_path()
    if not os.path.isdir(path):
        corpus(spark, 50_000, seed=42).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _corpus_job(spark, df, unique: bool = True):
    """ValidationJob for the flagship corpus contract
    (``benchlib.CORPUS_SPEC_DICT``), optionally without the table-scope
    uniqueness check."""
    from jsonschema_spark.benchlib import CORPUS_SPEC_DICT
    from jsonschema_spark.plans.job import ValidationJob
    from jsonschema_spark.plans.plan import TableSpec, compile_table_spec
    from jsonschema_spark.sources.corpus import dim_source

    spec = {k: v for k, v in CORPUS_SPEC_DICT.items() if unique or k != "unique"}
    plan = compile_table_spec(TableSpec.from_dict(spec), df.schema)
    return ValidationJob(plan, dims={"dim_source": dim_source(spark)})


def q_corpus_validate(spark, sf_dir):
    """Flagship synthetic-corpus validation (north rule): per-check fail
    counts over 50k generated rows with ~1% injected violations. The corpus
    is materialized to parquet (deterministic content) so the DuckDB oracle
    can recompute every check over the same file; exact closed-form counts
    are additionally asserted in tests/test_corpus_pipeline.py."""
    df = _materialized_corpus(spark)
    job = _corpus_job(spark, df)
    annotated = job.annotate(df)
    checks = job.check_columns(annotated)
    return annotated.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("_valid").cast("long")).alias("n_valid"),
        *[F.sum(failed(F.col(c)).cast("long")).alias(f"fail_{c.removeprefix('chk_')}") for c in checks],
    )


def q_sampled_gate(spark, sf_dir):
    """Constant-size PRE-FLIGHT validation gate: the Wilson upper bound on
    the corpus violation rate measured from the 500 documents with the
    smallest portable_hash60('vgate:'+id) — the cheap "is this snapshot
    roughly sane?" answer you compute BEFORE paying for the full
    10^12-row validation pass. Runs the same compiled plan as
    corpus_validate over the sample; verdict compares the ROUNDED bound
    to a 3%% budget (the corpus injects ~1%% violations, so the gate
    passes with the bound doing real work)."""
    from jsonschema_spark.operators.checks import sampled_validation_gate

    df = _materialized_corpus(spark)
    job = _corpus_job(spark, df, unique=False)
    return sampled_validation_gate(
        df, "doc_id", job.annotate, sample_k=500, budget=0.03
    )


def q_quarantine_rows(spark, sf_dir):
    """Verdict routing: the QUARANTINED side of the accepted/quarantined
    split over the 50k corpus — every failing row with its sorted,
    comma-joined failed-check label (the triage artifact an ingest-repair
    queue consumes; the reference's fail-fast reject lifted to a
    table-scale router). Both halves are filters over one annotated scan
    — no shuffle, no second pass."""
    df = _materialized_corpus(spark)
    job = _corpus_job(spark, df, unique=False)
    _, quarantined = job.quarantine(job.annotate(df))
    return quarantined.select("doc_id", "source", "n_failed", "failed_checks")


def q_tuple_items(spark, sf_dir):
    """SURVEY §2.1 #16: tuple-form items + additionalItems schema — element
    1 checked positionally, the tail checked by the additionalItems
    subschema (forall over the bounded slice)."""
    df = _t(spark, sf_dir, "part")
    arr_df = df.select(
        F.array(
            F.col("p_size").cast("double"), F.col("p_retailprice").cast("double")
        ).alias("xs")
    )
    spec = {"items": [{"minimum": 10}], "additionalItems": {"maximum": 1500}}
    return _count_pass(arr_df, _pred(arr_df, "xs", spec))


def q_map_object(spark, sf_dir):
    """SURVEY §2.1 #17/#20/#23 on a MAP column (dynamic keys, absent-vs-null
    preserved): required + minProperties/maxProperties over parsed JSON."""
    df = _t(spark, sf_dir, "events")
    from pyspark.sql import types as T

    mcol = F.from_json(F.col("props"), "map<string,string>")
    m_df = df.select(mcol.alias("m"))
    spec = {"type": "object", "required": ["k"], "minProperties": 1, "maxProperties": 2}
    pred = lower_predicate(
        compile_spec(spec), F.col("m"), T.MapType(T.StringType(), T.StringType())
    )
    return _count_pass(m_df, pred)


def q_pattern_properties(spark, sf_dir):
    """SURVEY §2.1 #18/#19: patternProperties + additionalProperties:false
    on a map column — every key must match ^[a-z]$ and its value must look
    a single digit (per-entry forall; no per-row Python)."""
    df = _t(spark, sf_dir, "events")
    from pyspark.sql import types as T

    mcol = F.from_json(F.col("props"), "map<string,string>")
    m_df = df.select(mcol.alias("m"))
    spec = {
        "type": "object",
        "patternProperties": {"^[a-z]$": {"pattern": "^[0-9]$"}},
        "additionalProperties": False,
    }
    pred = lower_predicate(
        compile_spec(spec), F.col("m"), T.MapType(T.StringType(), T.StringType())
    )
    return _count_pass(m_df, pred)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every query, in the order tests/test_driver_contract.py pins."""
    return {
        "type_integer": q_type_integer,
        "enum_scalar": q_enum_scalar,
        "all_of": q_all_of,
        "any_of": q_any_of,
        "one_of": q_one_of,
        "not": q_not,
        "bounds_exclusive": q_bounds_exclusive,
        "multiple_of": q_multiple_of,
        "string_length": q_string_length,
        "pattern": q_pattern,
        "array_bounds": q_array_bounds,
        "unique_items": q_unique_items,
        "forall_items": q_forall_items,
        "required": q_required,
        "dependencies": q_dependencies,
        "properties_struct": q_properties_struct,
        "tuple_items": q_tuple_items,
        "map_object": q_map_object,
        "pattern_properties": q_pattern_properties,
        "json_wellformed": q_json_wellformed,
        "json_schema_kernel": q_json_schema_kernel,
        "dup_keys": q_dup_keys,
        "orphans": q_orphans,
        "corpus_validate": q_corpus_validate,
        "quarantine_rows": q_quarantine_rows,
        "sampled_gate": q_sampled_gate,
    }


def _hex60(expr: str) -> str:
    """DuckDB twin of operators.checks.portable_hash60."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def _corpus_check_exprs() -> dict:
    """DuckDB twins of every corpus check (shared by the corpus_validate
    and sampled_gate oracles)."""
    from jsonschema_spark.sources.corpus import MAX_TOKENS, SOURCES, VOCAB_SIZE

    srcs = ", ".join(f"'{s}'" for s in SOURCES)
    return {
        "col_doc_id": "(doc_id IS NULL OR regexp_matches(doc_id, '^doc-[0-9]{12}$'))",
        "col_tokens": (
            "(tokens IS NULL OR (len(tokens) >= 1 AND len(list_filter(tokens,"
            f" t -> t < 0 OR t > {VOCAB_SIZE - 1})) = 0))"
        ),
        "col_n_tok": f"(n_tok IS NULL OR (n_tok >= 1 AND n_tok <= {MAX_TOKENS}))",
        "required_doc_id": "(doc_id IS NOT NULL)",
        "required_tokens": "(tokens IS NOT NULL)",
        "required_n_tok": "(n_tok IS NOT NULL)",
        "required_source": "(source IS NOT NULL)",
        "row_len_consistent": "(n_tok = len(tokens))",
        "ref_source": f"(source IS NULL OR source IN ({srcs}))",
    }


def _corpus_validate_oracle_sql() -> str:
    """DuckDB recomputation of every corpus check over the SAME materialized
    parquet the Spark query validates (see _corpus_oracle_path)."""
    tbl = f"read_parquet('{_corpus_oracle_path()}/*.parquet')"
    ok = _corpus_check_exprs()
    valid = " AND ".join(ok.values())
    fails = ", ".join(
        f"count(*) FILTER (WHERE NOT {expr}) AS fail_{name}"
        for name, expr in ok.items()
    )
    return (
        f"SELECT count(*) AS n_rows, count(*) FILTER (WHERE {valid}) AS n_valid,"
        f" {fails} FROM {tbl}"
    )


def _quarantine_rows_oracle_sql() -> str:
    """DuckDB twin of q_quarantine_rows: per-row failed-check names
    (same sorted comma-joined label), failing rows only."""
    tbl = f"read_parquet('{_corpus_oracle_path()}/*.parquet')"
    cases = ", ".join(
        f"CASE WHEN NOT {expr} THEN '{name}' END"
        for name, expr in _corpus_check_exprs().items()
    )
    return (
        f"WITH f AS (SELECT doc_id, source,"
        f"  list_sort(list_filter([{cases}], x -> x IS NOT NULL)) AS fl"
        f"  FROM {tbl})"
        f" SELECT doc_id, source, CAST(len(fl) AS INT) AS n_failed,"
        f"  array_to_string(fl, ',') AS failed_checks"
        f" FROM f WHERE len(fl) > 0"
    )


def _sampled_gate_oracle_sql() -> str:
    """DuckDB twin of q_sampled_gate: the same k-smallest-hash sample
    (ORDER BY portable hash + id LIMIT k = TakeOrderedAndProject), the
    same per-row checks, the same Wilson upper bound, verdict on the
    rounded bound vs the 3% budget."""
    tbl = f"read_parquet('{_corpus_oracle_path()}/*.parquet')"
    valid = " AND ".join(_corpus_check_exprs().values())
    h = _hex60("concat('vgate:', doc_id)")
    z = "CAST(1.96 AS DOUBLE)"
    z2 = f"({z} * {z})"
    p = "(n_fail / CAST(n_sampled AS DOUBLE))"
    n = "CAST(n_sampled AS DOUBLE)"
    hi = (
        f"(({p} + {z2} / (CAST(2.0 AS DOUBLE) * {n}))"
        f" + {z} * sqrt({p} * (CAST(1.0 AS DOUBLE) - {p}) / {n}"
        f"  + {z2} / (CAST(4.0 AS DOUBLE) * {n} * {n})))"
        f" / (CAST(1.0 AS DOUBLE) + {z2} / {n})"
    )
    return (
        f"WITH s AS (SELECT * FROM {tbl} ORDER BY {h}, doc_id LIMIT 500),"
        f" a AS (SELECT count(*) AS n_sampled,"
        f"  count(*) FILTER (WHERE NOT ({valid})) AS n_fail FROM s)"
        f" SELECT n_sampled, n_fail,"
        f"  round({p}, 6) AS fail_rate,"
        f"  round({hi}, 6) AS wilson_hi,"
        f"  round({hi}, 6) <= CAST(0.03 AS DOUBLE) AS within_budget"
        f" FROM a"
    )


def oracle_sql() -> dict[str, str]:
    return {
        "type_integer": (
            "SELECT count(*) FILTER (WHERE l_quantity = floor(l_quantity)) AS n_pass,"
            " count(*) AS n_rows FROM lineitem"
        ),
        "enum_scalar": (
            "SELECT count(*) FILTER (WHERE o_orderstatus IN ('O','F')) AS n_pass,"
            " count(*) AS n_rows FROM orders"
        ),
        "all_of": (
            "SELECT count(*) FILTER (WHERE p_size >= 10 AND p_size <= 40 AND p_size % 5 = 0)"
            " AS n_pass, count(*) AS n_rows FROM part"
        ),
        "any_of": (
            "SELECT count(*) FILTER (WHERE c_acctbal <= 0 OR c_acctbal >= 9000) AS n_pass,"
            " count(*) AS n_rows FROM customer"
        ),
        "one_of": (
            "SELECT count(*) FILTER (WHERE"
            " (CASE WHEN value IS NULL OR value > 50 THEN 1 ELSE 0 END"
            "  + CASE WHEN event_type IS NULL OR event_type = 'click' THEN 1 ELSE 0 END) = 1)"
            " AS n_pass, count(*) AS n_rows FROM events"
        ),
        "not": (
            "SELECT count(*) FILTER (WHERE l_returnflag NOT IN ('A','R')) AS n_pass,"
            " count(*) AS n_rows FROM lineitem"
        ),
        "bounds_exclusive": (
            "SELECT count(*) FILTER (WHERE l_discount >= 0.02 AND l_discount < 0.08)"
            " AS n_pass, count(*) AS n_rows FROM lineitem"
        ),
        "multiple_of": (
            "SELECT count(*) FILTER (WHERE p_size % 7 = 0) AS n_pass,"
            " count(*) AS n_rows FROM part"
        ),
        "string_length": (
            "SELECT count(*) FILTER (WHERE length(text) BETWEEN 100 AND 400) AS n_pass,"
            " count(*) AS n_rows FROM documents"
        ),
        "pattern": (
            "SELECT count(*) FILTER (WHERE regexp_matches(c_name, '^Customer#00[0-9]+$'))"
            " AS n_pass, count(*) AS n_rows FROM customer"
        ),
        "array_bounds": (
            "SELECT count(*) FILTER (WHERE len(embedding) = 64) AS n_pass,"
            " count(*) AS n_rows FROM embeddings"
        ),
        "unique_items": (
            "SELECT count(*) FILTER (WHERE len(list_distinct(embedding)) = len(embedding))"
            " AS n_pass, count(*) AS n_rows FROM embeddings"
        ),
        "forall_items": (
            "SELECT count(*) FILTER (WHERE len(list_filter(embedding,"
            " e -> e < -0.5 OR e > 0.5)) = 0) AS n_pass, count(*) AS n_rows FROM embeddings"
        ),
        "required": (
            "SELECT count(*) FILTER (WHERE lang IS NOT NULL AND source IS NOT NULL"
            " AND text IS NOT NULL) AS n_pass, count(*) AS n_rows FROM documents"
        ),
        "dependencies": (
            "SELECT count(*) FILTER (WHERE value IS NULL OR value >= 1) AS n_pass,"
            " count(*) AS n_rows FROM events"
        ),
        "properties_struct": (
            "SELECT count(*) FILTER (WHERE (c_acctbal IS NULL OR c_acctbal >= 0)"
            " AND (c_mktsegment IS NULL OR c_mktsegment IN"
            " ('BUILDING','MACHINERY','AUTOMOBILE'))) AS n_pass,"
            " count(*) AS n_rows FROM customer"
        ),
        "json_wellformed": (
            "SELECT count(*) FILTER (WHERE json_valid(props)"
            " AND json_type(json(props)) = 'OBJECT') AS n_pass,"
            " count(*) AS n_rows FROM events"
        ),
        "json_schema_kernel": (
            "SELECT count(*) FILTER (WHERE json_valid(props)"
            " AND json_type(json(props)) = 'OBJECT'"
            " AND json_type(json(props), '$.k') IN ('UBIGINT','BIGINT')"
            " AND CAST(json_extract_string(props, '$.k') AS DOUBLE) BETWEEN 0 AND 80"
            " AND len(json_keys(json(props))) = 1) AS n_pass,"
            " count(*) AS n_rows FROM events"
        ),
        "dup_keys": (
            "SELECT o_custkey, count(*) AS dup_count FROM orders"
            " WHERE o_custkey IS NOT NULL"
            " GROUP BY o_custkey HAVING count(*) > 1"
        ),
        "orphans": (
            "SELECT o_custkey, count(*) AS n_rows FROM orders"
            " WHERE o_custkey IS NOT NULL AND o_custkey NOT IN"
            " (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0)"
            " GROUP BY o_custkey"
        ),
        "corpus_validate": _corpus_validate_oracle_sql(),
        "sampled_gate": _sampled_gate_oracle_sql(),
        "quarantine_rows": _quarantine_rows_oracle_sql(),
        "tuple_items": (
            "SELECT count(*) FILTER (WHERE p_size >= 10 AND p_retailprice <= 1500)"
            " AS n_pass, count(*) AS n_rows FROM part"
        ),
        "map_object": (
            "SELECT count(*) FILTER (WHERE json_valid(props)"
            " AND json_type(json(props)) = 'OBJECT'"
            " AND list_contains(json_keys(json(props)), 'k')"
            " AND len(json_keys(json(props))) BETWEEN 1 AND 2) AS n_pass,"
            " count(*) AS n_rows FROM events"
        ),
        "pattern_properties": (
            "SELECT count(*) FILTER (WHERE json_valid(props)"
            " AND json_type(json(props)) = 'OBJECT'"
            " AND len(list_filter(json_keys(json(props)),"
            "   k -> NOT regexp_matches(k, '^[a-z]$')"
            "    OR NOT regexp_matches(json_extract_string(props, '$.' || k),"
            "         '^[0-9]$'))) = 0) AS n_pass,"
            " count(*) AS n_rows FROM events"
        ),
    }
