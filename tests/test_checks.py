"""Unit tests for the pre-flight validation gate
(operators/checks.py::sampled_validation_gate), pinned against the
closed-form Wilson bound computed inline."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.operators.checks import sampled_validation_gate


class TestSampledValidationGate:
    def _annotate(self, df):
        return df.withColumn("_valid", F.col("x") >= 0)

    def test_closed_form_wilson_upper(self, spark):
        """k=20 sample of a 20-row corpus (whole corpus), 4 planted
        failures -> p=0.2; the Wilson upper bound matches the closed
        form and the verdict compares the ROUNDED bound to the budget."""
        rows = [(i, -1 if i % 5 == 0 else 1) for i in range(20)]
        df = spark.createDataFrame(rows, ["doc_id", "x"])
        out = sampled_validation_gate(
            df, "doc_id", self._annotate, sample_k=20, budget=0.5
        ).collect()[0]
        assert out["n_sampled"] == 20 and out["n_fail"] == 4
        n, p, z = 20.0, 0.2, 1.96
        hi = ((p + z * z / (2 * n)) + z * math.sqrt(
            p * (1 - p) / n + z * z / (4 * n * n)
        )) / (1 + z * z / n)
        assert out["fail_rate"] == pytest.approx(0.2, abs=1e-6)
        assert out["wilson_hi"] == pytest.approx(hi, abs=1e-6)
        assert out["within_budget"] == (round(hi, 6) <= 0.5)

    def test_sample_is_constant_size_and_deterministic(self, spark):
        """Doubling the corpus keeps n_sampled == sample_k, and the gate
        row is a pure function of the corpus content (two runs agree)."""
        def corpus(n):
            return spark.createDataFrame(
                [(i, -1 if i % 7 == 0 else 1) for i in range(n)],
                ["doc_id", "x"],
            )

        a = sampled_validation_gate(
            corpus(100), "doc_id", self._annotate, sample_k=16
        ).collect()[0]
        b = sampled_validation_gate(
            corpus(200), "doc_id", self._annotate, sample_k=16
        ).collect()[0]
        again = sampled_validation_gate(
            corpus(100), "doc_id", self._annotate, sample_k=16
        ).collect()[0]
        assert a["n_sampled"] == 16 and b["n_sampled"] == 16
        assert a == again

    def test_empty_corpus_fails_closed(self, spark):
        df = spark.createDataFrame([], "doc_id long, x int")
        out = sampled_validation_gate(
            df, "doc_id", self._annotate, sample_k=8, budget=0.9
        ).collect()[0]
        assert out["n_sampled"] == 0
        assert out["within_budget"] is False

    def test_null_verdict_counts_as_failure(self, spark):
        """A NULL ``_valid`` (x is NULL, so ``x >= 0`` is NULL) is a
        failure: the gate fails closed instead of dropping the row from
        the failure sum."""
        rows = [(i, None if i < 3 else 1) for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, x int")
        out = sampled_validation_gate(
            df, "doc_id", self._annotate, sample_k=10, budget=0.1
        ).collect()[0]
        assert out["n_sampled"] == 10 and out["n_fail"] == 3
        assert out["fail_rate"] == pytest.approx(0.3, abs=1e-6)
        assert out["within_budget"] is False
