"""CLI (spark-submit entry) contract: package zip, validate job with
results tree + resume, pre-flight gate and quarantine."""

from __future__ import annotations

import json
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def corpus_tables(spark, tmp_path_factory):
    """A 5000-row ``sources.corpus`` table and its ``dim_source``,
    written as parquet: the CLI's ``--input`` and ``--dim dim_source=``."""
    from jsonschema_spark.sources.corpus import corpus, dim_source

    base = tmp_path_factory.mktemp("cli_corpus")
    corpus(spark, 5000).write.parquet(str(base / "corpus"))
    dim_source(spark).write.parquet(str(base / "dim_source"))
    return str(base / "corpus"), f"dim_source={base / 'dim_source'}"


def test_package_zip(tmp_path):
    out = tmp_path / "dist" / "engine.zip"
    res = subprocess.run(
        [sys.executable, "-m", "jsonschema_spark", "package", "--out", str(out)],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr[-500:]
    path = json.loads(res.stdout.strip().splitlines()[-1])["py_files"]
    names = zipfile.ZipFile(path).namelist()
    assert "jsonschema_spark/cli.py" in names
    assert "jsonschema_spark/operators/checks.py" in names
    assert not any(n.endswith(".pyc") for n in names if "__pycache__" not in n)


def test_validate_cli_and_resume(tmp_path, corpus_tables):
    spec = {
        "columns": {
            "doc_id": {"type": "string", "pattern": "^doc-[0-9]{12}$"},
            "n_tok": {"type": "integer", "minimum": 1, "maximum": 2048},
        },
        "required": ["doc_id", "tokens", "n_tok", "source"],
        "row_checks": {"len_consistent": "n_tok = size(tokens)"},
        "unique": ["doc_id"],
        "references": {"source": {"dim": "dim_source", "key": "source_id"}},
    }
    spec_file = tmp_path / "spec.json"
    spec_file.write_text(json.dumps(spec))
    results = tmp_path / "results"

    from jsonschema_spark.cli import main

    corpus, dim = corpus_tables
    # use the in-process session (conftest) — get_spark getOrCreate reuses it
    rc = main([
        "validate", "--input", corpus, "--dim", dim,
        "--spec", str(spec_file), "--results", str(results), "--cores", "8",
    ])
    assert rc == 0
    summary = json.loads((results / "summary.json").read_text())
    assert summary["n_rows"] == 5000
    assert summary["duplicates"]["doc_id"] == 5000 // 499
    assert (results / "lineage").is_dir() and (results / "violations").is_dir()

    rc = main([
        "validate", "--input", corpus, "--dim", dim,
        "--spec", str(spec_file), "--results", str(results),
        "--resume", "--cores", "8",
    ])
    assert rc == 0
    summary2 = json.loads((results / "summary.json").read_text())
    assert summary2["resumed_units_skipped"] > 0
    assert summary2["n_rows"] == 5000


def test_validate_cli_id_col(tmp_path, spark):
    """--id-col names the id column of the violation rows; a table without
    ``doc_id`` validates and reports its own key."""
    table = tmp_path / "table"
    spark.createDataFrame(
        [(1, "ok"), (2, "too long"), (3, "abc")], "key long, s string"
    ).write.parquet(str(table))
    spec_file = tmp_path / "spec.json"
    spec_file.write_text(
        json.dumps({"columns": {"s": {"maxLength": 3, "type": "string"}}})
    )
    results = tmp_path / "results"

    from jsonschema_spark.cli import main

    rc = main([
        "validate", "--input", str(table), "--spec", str(spec_file),
        "--results", str(results), "--id-col", "key",
    ])
    assert rc == 0
    rows = spark.read.parquet(str(results / "violations")).collect()
    assert [(r.id, r.check) for r in rows] == [(2, "col_s")]


@pytest.mark.parametrize(
    "spec_text,extra,message",
    [
        ('{"required": ["doc_id"]}', ["--dim", "dim_source"], "name=parquet_path"),
        ("not json", [], "invalid JSON"),
        ('{"unique": "doc_id"}', [], "'unique' must be an array of column names"),
        ('{"required": ["doc_id"]}', ["--id-col", "nope"], "--id-col 'nope'"),
        ('{"required": ["doc_id"]}', ["--preflight-k", "-5"], "sample size >= 0"),
        ('{"required": ["doc_id"]}', ["--preflight-budget", "1.5"], "rate in [0, 1]"),
        ('{"required": ["doc_id"]}', ["--preflight-budget", "nan"], "rate in [0, 1]"),
        ('{"required": ["doc_id"]}', ["--input", "{tmp}/absent"], "--input '{tmp}/absent'"),
        ('{"required": ["doc_id"]}', ["--dim", "other={tmp}/absent"], "--dim '{tmp}/absent'"),
        (
            '{"required": ["doc_id"]}', ["--input", "{tmp}/spec.json"],
            "--input '{tmp}/spec.json' cannot be read: 'spec.json' is not a parquet file",
        ),
        (
            '{"required": ["doc_id"]}', ["--dim", "other={tmp}/spec.json"],
            "--dim '{tmp}/spec.json' cannot be read: 'spec.json' is not a parquet file",
        ),
    ],
    ids=[
        "dim", "spec-not-json", "spec-bad-shape", "id-col-absent",
        "preflight-k-negative", "preflight-budget-above-1", "preflight-budget-nan",
        "input-missing", "dim-missing", "input-not-parquet", "dim-not-parquet",
    ],
)
def test_validate_cli_rejects_malformed_dim(
    tmp_path, capsys, monkeypatch, corpus_tables, spec_text, extra, message
):
    """A ``--dim`` without ``=``, a spec file that is not JSON, a spec of
    the wrong shape, a negative ``--preflight-k`` and a
    ``--preflight-budget`` outside [0, 1] are usage errors refused before a
    session starts; an ``--input`` or ``--dim`` path that does not exist
    and an ``--id-col`` the input lacks are refused once the session is
    up, and so is a file that is not parquet (the spec file itself). Each
    exits 2 with one error line and writes no results. Neither an absent
    path nor a non-parquet file reaches Spark's parquet reader, which
    would log a Java stack trace for it."""
    from pyspark.sql.readwriter import DataFrameReader

    from jsonschema_spark.cli import main

    unreadable = {str(tmp_path / "absent"), str(tmp_path / "spec.json")}
    read_parquet = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        assert not unreadable & set(paths), "the parquet reader was asked for an unreadable path"
        return read_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    corpus, dim = corpus_tables
    spec_file = tmp_path / "spec.json"
    spec_file.write_text(spec_text)
    results = tmp_path / "results"
    extra = [arg.replace("{tmp}", str(tmp_path)) for arg in extra]
    message = message.replace("{tmp}", str(tmp_path))
    with pytest.raises(SystemExit) as exc:
        main([
            "validate", "--input", corpus, "--dim", dim,
            "--spec", str(spec_file), "--results", str(results), *extra,
        ])
    assert exc.value.code == 2
    errors = [line for line in capsys.readouterr().err.splitlines() if "error:" in line]
    assert len(errors) == 1 and message in errors[0], errors
    assert not results.exists()


def test_validate_cli_real_input_needs_its_dims(tmp_path, capsys, spark):
    """A table whose spec references a dimension without a ``--dim`` is a
    usage error (exit 2, one error line, nothing written), not a run whose
    keys are checked against some other domain."""
    from jsonschema_spark.cli import main

    table = tmp_path / "table"
    spark.createDataFrame(
        [("d1", "my-real-source"), ("d2", "another")], "doc_id string, source string"
    ).write.parquet(str(table))
    spec_file = tmp_path / "spec.json"
    spec_file.write_text(
        json.dumps({"references": {"source": {"dim": "dim_source", "key": "source_id"}}})
    )
    results = tmp_path / "results"
    with pytest.raises(SystemExit) as exc:
        main(["validate", "--input", str(table), "--spec", str(spec_file), "--results", str(results)])
    assert exc.value.code == 2
    errors = [line for line in capsys.readouterr().err.splitlines() if "error:" in line]
    assert len(errors) == 1 and "dim_source" in errors[0] and "--dim" in errors[0], errors
    assert not results.exists()


def test_validate_cli_preflight_and_quarantine(tmp_path, spark, corpus_tables):
    """--preflight-k gates before the full pass; --quarantine writes the
    accepted/quarantined split whose row counts partition the corpus.
    A hopeless budget makes the gate exit 3 without writing results."""
    import json as _json

    spec = {
        "columns": {
            "n_tok": {"type": "integer", "minimum": 1, "maximum": 2048},
        },
        "required": ["doc_id", "tokens", "n_tok", "source"],
        "row_checks": {"len_consistent": "n_tok = size(tokens)"},
        "references": {"source": {"dim": "dim_source", "key": "source_id"}},
    }
    spec_file = tmp_path / "spec.json"
    spec_file.write_text(_json.dumps(spec))
    results = tmp_path / "results"
    quar = tmp_path / "routed"

    from jsonschema_spark.cli import main

    corpus, dim = corpus_tables
    rc = main([
        "validate", "--input", corpus, "--dim", dim,
        "--spec", str(spec_file), "--results", str(results),
        "--cores", "8", "--preflight-k", "400",
        "--preflight-budget", "0.25", "--quarantine", str(quar),
    ])
    assert rc == 0
    acc = spark.read.parquet(str(quar / "accepted"))
    q = spark.read.parquet(str(quar / "quarantined"))
    assert acc.count() + q.count() == 5000
    assert "failed_checks" in q.columns and "_valid" not in acc.columns

    # impossible budget -> gate refuses before the full pass
    results2 = tmp_path / "results2"
    rc = main([
        "validate", "--input", corpus, "--dim", dim,
        "--spec", str(spec_file), "--results", str(results2),
        "--cores", "8", "--preflight-k", "400",
        "--preflight-budget", "0.000001",
    ])
    assert rc == 3
    assert not (results2 / "summary.json").exists()
