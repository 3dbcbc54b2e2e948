"""Physical-plan facts for a DataFrame — the hazards that decide behaviour
at scale, read from the executed plan so a caller (the oracle sweep, the
plan-shape tests) can check them before a full run:

    from jsonschema_spark.plans.audit import plan_report

    rep = plan_report(df)
    assert not rep["cartesian"] and not rep["row_python"]
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _children(node):
    """Physical children, descending through the leaf-node wrappers AQE
    and caching introduce (AdaptiveSparkPlan / QueryStage / ReusedExchange
    / InMemoryTableScan all hide their subtree behind a LeafExecNode)."""
    name = node.nodeName()
    try:
        if name.startswith("AdaptiveSparkPlan"):
            return [node.executedPlan()]
        if "QueryStage" in name:
            return [node.plan()]
        if name.startswith("ReusedExchange"):
            return [node.child()]
        if name.startswith("InMemoryTableScan"):
            return [node.relation().cachedPlan()]
    except Exception:  # noqa: BLE001 — unknown wrapper: fall through
        pass
    seq = node.children()
    return [seq.apply(i) for i in range(seq.length())]


_PYTHON_EVALS = ("ArrowEvalPython", "BatchEvalPython")


def _python_evals(node, depth: int = 0) -> int:
    """Python eval nodes in the subtree. A reused exchange ran where it was
    first planned, so its subtree is not counted twice."""
    name = node.nodeName()
    if depth > 256 or name.startswith("ReusedExchange"):
        return 0
    own = int(name.startswith(_PYTHON_EVALS))
    return own + sum(_python_evals(c, depth + 1) for c in _children(node))


def plan_report(df: DataFrame) -> dict:
    """Inspect the executed plan and report the scale-relevant facts:

    - ``cartesian``: a CartesianProduct or BroadcastNestedLoopJoin is in
      the plan (an all-pairs join)
    - ``row_python``: row-at-a-time Python (BatchEvalPython) on the path
      (10-100x slower than Arrow; ArrowEvalPython / mapInPandas are fine
      and reported separately as ``arrow_python``)
    - ``python_evals``: the number of Python eval nodes (ArrowEvalPython,
      BatchEvalPython); each one is a pass of its UDFs over its input rows
    - ``single_partition``: an Exchange SinglePartition (a global
      sort/window funneling the data through one task)
    - ``exchanges``: shuffle count
    """
    executed = df._jdf.queryExecution().executedPlan()
    plan = executed.toString()
    return {
        "cartesian": "CartesianProduct" in plan
        or "BroadcastNestedLoopJoin" in plan,
        "row_python": "BatchEvalPython" in plan,
        "arrow_python": "ArrowEvalPython" in plan
        or "FlatMapGroupsInPandas" in plan
        or "MapInPandas" in plan,
        "python_evals": _python_evals(executed),
        "single_partition": "SinglePartition" in plan,
        "exchanges": plan.count("Exchange"),
    }
