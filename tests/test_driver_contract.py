"""Mimics the driver's correctness gate: run every ``queries()`` entry on
Spark and its ``oracle_sql()`` twin on DuckDB over the same parquet tables,
then compare row count, column names, and order-insensitive values."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


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


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql().keys()))
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    spark_df = q(spark, SF_DIR)
    spark_cols = [c.lower() for c in spark_df.columns]
    spark_rows = [tuple(r) for r in spark_df.collect()]

    res = duck.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    got = _normalize(spark_rows, spark_cols)
    want = _normalize(duck_rows, duck_cols)
    assert got == want, f"{name}: value mismatch\nspark={got[:5]}\nduck ={want[:5]}"


def test_queries_without_oracle_run(spark):
    oracles = entry_mod.oracle_sql()
    for name, q in entry_mod.queries().items():
        if name in oracles:
            continue
        df = q(spark, SF_DIR)
        assert df.count() >= 0 and df.schema is not None


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) == {"check", "n_fail", "n_rows"}


def test_r5_gate_window_order_pinned():
    """The correctness gate takes the FIRST 50 queries() entries; all 26
    fit, so the pin covers the full ordered list: the 21 draft-4
    keyword queries, the table-scope uniqueness / referential checks and
    the ValidationJob queries (full pass, quarantine router, pre-flight
    gate). It fails if an edit adds, drops or reorders an entry."""
    assert list(entry_mod.queries()) == [
        # draft-4 keywords lowered to native Columns / kernel
        "type_integer", "enum_scalar", "all_of", "any_of", "one_of", "not",
        "bounds_exclusive", "multiple_of", "string_length", "pattern",
        "array_bounds", "unique_items", "forall_items", "required",
        "dependencies", "properties_struct", "tuple_items", "map_object",
        "pattern_properties", "json_wellformed", "json_schema_kernel",
        # table-scope checks
        "dup_keys", "orphans",
        # ValidationJob: full pass, quarantine router, pre-flight gate
        "corpus_validate", "quarantine_rows", "sampled_gate",
    ]


def test_every_query_has_oracle_twin_or_is_known_rows_only():
    """queries() and oracle_sql() stay in lockstep: every query has a
    DuckDB twin (the repo currently carries zero rows-only queries —
    adding one is a deliberate decision, not a forgotten entry)."""
    q = set(entry_mod.queries())
    o = set(entry_mod.oracle_sql())
    assert o <= q, f"oracle entries without queries: {sorted(o - q)}"
    assert q == o, f"queries missing oracle twins: {sorted(q - o)}"
