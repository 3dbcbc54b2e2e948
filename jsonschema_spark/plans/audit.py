"""Physical-plan guardrails as a public API — the invariants
tests/test_plan_shapes.py pins for this repo's own queries, packaged so a
pipeline can assert them on ITS composed plans before a 100-TB run:

    from jsonschema_spark.plans.audit import assert_plan, plan_report

    assert_plan(df, no_cartesian=True, no_row_python=True,
                no_single_partition=True)

A failed assertion names the offending operator and embeds the plan, so
the error is actionable at submit time instead of as a 3 a.m. straggler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _plan_text(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# Unary physical nodes that cannot INCREASE row count: walking through
# them from a join's build side preserves any <=1-row / bounded guarantee
# established below them.
_PASSTHROUGH = {
    "Project", "Filter", "Sort", "ColumnarToRow", "InputAdapter",
    "BroadcastExchange", "Exchange", "AQEShuffleRead", "Coalesce",
}
_AGG_PREFIXES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
_BOUNDED_PREFIXES = ("LocalTableScan", "GlobalLimit", "CollectLimit",
                     "TakeOrderedAndProject")


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


def _build_bounded(node, depth: int = 0) -> bool:
    """True iff this subtree PROVABLY produces a driver-bounded number of
    rows regardless of input size: a grouping-keyless aggregate (exactly
    one row), a literal LocalTableScan, or an explicit limit — seen
    through row-count-preserving wrappers. A small-but-data-dependent
    input (a filtered corpus, a Range) is NOT bounded."""
    if depth > 64:
        return False
    name = node.nodeName()
    if any(name.startswith(p) for p in _AGG_PREFIXES):
        try:
            return bool(node.groupingExpressions().isEmpty())
        except Exception:  # noqa: BLE001
            return "keys=[]" in node.toString().splitlines()[0]
    if any(name.startswith(p) for p in _BOUNDED_PREFIXES):
        return True
    if name in _PASSTHROUGH or name.startswith("WholeStageCodegen") \
            or name.startswith("AdaptiveSparkPlan") \
            or "QueryStage" in name or name.startswith("ReusedExchange") \
            or name.startswith("InMemoryTableScan"):
        kids = _children(node)
        if len(kids) == 1:
            return _build_bounded(kids[0], depth + 1)
    return False


def _scan_joins(node, state, depth: int = 0) -> None:
    if depth > 256:
        return
    name = node.nodeName()
    if name.startswith("CartesianProduct"):
        state["cartesian"] = True
    elif name.startswith("BroadcastNestedLoopJoin"):
        kids = _children(node)
        try:
            build_right = "Right" in node.buildSide().toString()
        except Exception:  # noqa: BLE001
            build_right = True
        build = kids[1] if build_right else kids[0]
        if len(kids) == 2 and _build_bounded(build):
            state["scalar_nested_loop"] += 1
        else:
            state["cartesian"] = True
    for child in _children(node):
        _scan_joins(child, state, depth + 1)


def _cartesian_facts(df: DataFrame) -> dict:
    """Tree-walk the executed plan to separate GENUINE all-pairs joins
    (CartesianProduct, or BroadcastNestedLoopJoin against an unbounded
    build side) from the sanctioned scalar-broadcast shape (crossJoin of a
    grouping-keyless aggregate — the one-row normalization constant every
    share/softmax computation needs). Falls back to the blunt text
    heuristic if the JVM walk hits an unknown node."""
    state = {"cartesian": False, "scalar_nested_loop": 0}
    try:
        _scan_joins(df._jdf.queryExecution().executedPlan(), state)
    except Exception:  # noqa: BLE001
        plan = _plan_text(df)
        state["cartesian"] = ("CartesianProduct" in plan
                              or "BroadcastNestedLoopJoin" in plan)
        state["scalar_nested_loop"] = 0
    return state


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

    - ``cartesian``: a CartesianProduct, or a BroadcastNestedLoopJoin
      whose build side is NOT provably bounded, exists (all-pairs blowup
      at scale). A nested-loop join against a PROVABLY <=1-row build (a
      grouping-keyless aggregate — the scalar-normalization crossJoin
      pattern) is sanctioned and counted in ``scalar_nested_loop``
      instead.
    - ``row_python``: row-at-a-time Python (BatchEvalPython) on the path
      (10-100x slower than Arrow; ArrowEvalPython / mapInPandas are fine
      and reported separately as ``arrow_python``)
    - ``python_evals``: the number of Python eval nodes (ArrowEvalPython,
      BatchEvalPython); each one is a pass of its UDFs over its input rows
    - ``single_partition``: an Exchange SinglePartition (a global
      sort/window funneling the data through one task)
    - ``exchanges``: shuffle count; ``sort_merge_joins`` /
      ``broadcast_joins``: join strategies chosen
    - ``collects_set``: an unbounded collect_set/collect_list aggregate
      appears (per-group state grows with the data unless the caller
      bounded it)
    """
    plan = _plan_text(df)
    facts = _cartesian_facts(df)
    return {
        "cartesian": facts["cartesian"],
        "scalar_nested_loop": facts["scalar_nested_loop"],
        "row_python": "BatchEvalPython" in plan,
        "arrow_python": "ArrowEvalPython" in plan
        or "FlatMapGroupsInPandas" in plan
        or "MapInPandas" in plan,
        "python_evals": _python_evals(df._jdf.queryExecution().executedPlan()),
        "single_partition": "SinglePartition" in plan,
        "exchanges": plan.count("Exchange"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "collects_set": "collect_set" in plan or "collect_list" in plan,
    }


def assert_plan(
    df: DataFrame,
    no_cartesian: bool = True,
    no_row_python: bool = True,
    no_single_partition: bool = False,
    max_exchanges: int | None = None,
) -> dict:
    """Assert scale invariants on ``df``'s executed plan; returns the
    :func:`plan_report` on success, raises ``AssertionError`` naming the
    violated invariant (with the plan attached) otherwise.

    ``no_single_partition`` defaults False because bounded-input global
    windows (a CDF over a few bins, a registry-sized rank) are
    legitimate — enable it for corpus-sized plans."""
    rep = plan_report(df)
    plan = _plan_text(df)
    if no_cartesian and rep["cartesian"]:
        raise AssertionError(f"plan contains a cartesian join:\n{plan}")
    if no_row_python and rep["row_python"]:
        raise AssertionError(
            f"plan contains row-at-a-time Python (BatchEvalPython):\n{plan}"
        )
    if no_single_partition and rep["single_partition"]:
        raise AssertionError(
            f"plan funnels through Exchange SinglePartition:\n{plan}"
        )
    if max_exchanges is not None and rep["exchanges"] > max_exchanges:
        raise AssertionError(
            f"plan has {rep['exchanges']} exchanges"
            f" (max {max_exchanges}):\n{plan}"
        )
    return rep
