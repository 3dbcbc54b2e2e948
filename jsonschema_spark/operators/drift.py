"""Distribution-drift checks: chi-square and PSI between a current run's
histograms and a baseline snapshot (new semantics per the north rule —
the reference has no analog, SURVEY.md §2.3).

Scale shape: both inputs are already *aggregated* histograms (≤ a few
thousand rows each — bins or vocab-sized), so the comparison is a tiny
outer join + driver-side arithmetic. The expensive part (building the
histogram from 10^12 rows) lives in operators/stats.py as one-pass
map-side-combined aggregations; drift itself is O(bins).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _aligned_counts(
    current: DataFrame, baseline: DataFrame, key: str, cnt: str = "cnt"
) -> list[tuple]:
    cur = current.select(F.col(key).alias("k"), F.col(cnt).alias("cur"))
    base = baseline.select(F.col(key).alias("k"), F.col(cnt).alias("base"))
    rows = (
        cur.join(base, on="k", how="full_outer")
        .select("k", F.coalesce("cur", F.lit(0)).alias("cur"),
                F.coalesce("base", F.lit(0)).alias("base"))
        .collect()
    )
    return [(r.k, r.cur, r.base) for r in rows]


def drift_report(current: DataFrame, baseline: DataFrame, key: str = "bucket",
                 cnt: str = "cnt", psi_threshold: float = 0.25,
                 epsilon: float = 1e-6) -> dict:
    """PSI + chi-square from ONE aligned-histogram pass (the histograms are
    the expensive inputs at scale — never aggregate them twice)."""
    rows = _aligned_counts(current, baseline, key, cnt)
    n_cur = sum(r[1] for r in rows) or 1
    n_base = sum(r[2] for r in rows) or 1
    psi_total, chi_stat, chi_buckets = 0.0, 0.0, 0
    for _, cur, base in rows:
        p = max(cur / n_cur, epsilon)
        q = max(base / n_base, epsilon)
        psi_total += (p - q) * math.log(p / q)
        if base > 0:
            expected = n_cur * (base / n_base)
            if expected > 0:
                chi_stat += (cur - expected) ** 2 / expected
                chi_buckets += 1
    return {
        "psi": psi_total,
        "chi_square": chi_stat,
        "dof": max(chi_buckets - 1, 1),
        "drifted": psi_total > psi_threshold,
    }
