"""Analyzer-style plan lint (SURVEY.md §4.3): flags the scale
anti-patterns the reference commits — row-at-a-time Python UDFs where
native expressions suffice (reference code/eda/project_eda.py:331-333),
zip-joins, cartesian products — plus the ones 100 TB adds: global
single-partition windows and global sorts that aren't top-k.

Decides by physical node class and fields over the same JVM plan-tree
walk the scan audit uses (plans/audit.py ``plan_nodes``, cached build
plans and subqueries included): no Catalyst extension needed, usable in
CI (tests/test_plan_lint.py sweeps every registered query) and
interactively (`lint_plan(df)`).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from reddit_big_data_spark.plans.audit import plan_nodes


@dataclass(frozen=True)
class Finding:
    code: str
    detail: str

    def __str__(self) -> str:  # pragma: no cover - repr convenience
        return f"[{self.code}] {self.detail}"


# Wrapper nodes that sit above the logical root of the user's plan.
_ROOT_WRAPPERS = (
    "AdaptiveSparkPlanExec",
    "ResultQueryStageExec",
    "WholeStageCodegenExec",
    "InputAdapter",
)
# Nodes that bound a root sort's input: aggregates collapse the corpus to
# its group count, limits/top-k to a constant. A root sort with one of
# these anywhere beneath it is the trailing oracle-stability orderBy on
# an already-reduced result set (the accepted registry pattern); a root
# sort with NONE of them is a corpus-sized range shuffle and gets its own
# informational code (ADVICE r9: the r9 structural exemption waived ANY
# root sort, silently passing an interactive full-corpus orderBy).
_BOUNDING_NODES = (
    "HashAggregateExec",
    "SortAggregateExec",
    "ObjectHashAggregateExec",
    "TakeOrderedAndProjectExec",
    "CollectLimitExec",
    "GlobalLimitExec",
)

# Every physical node that ships Arrow batches to a Python worker: scalar
# pandas/Arrow UDFs and UDTFs, (co)grouped and plain map-in-pandas/arrow,
# grouped-aggregate and window pandas UDFs, and the two stateful
# streaming operators.
_PY_ARROW_EXECS = frozenset(
    {
        "ArrowEvalPythonExec",
        "ArrowEvalPythonUDTFExec",
        "MapInPandasExec",
        "MapInArrowExec",
        "FlatMapGroupsInPandasExec",
        "FlatMapGroupsInArrowExec",
        "FlatMapCoGroupsInPandasExec",
        "FlatMapCoGroupsInArrowExec",
        "ArrowAggregatePythonExec",
        "ArrowWindowPythonExec",
        "FlatMapGroupsInPandasWithStateExec",
        "TransformWithStateInPySparkExec",
    }
)

_DETAILS = {
    "CARTESIAN": "CartesianProduct join — O(n*m) pair explosion",
    "NESTED_LOOP": "BroadcastNestedLoopJoin — non-equi join fallback",
    "PY_UDF": "row-at-a-time Python UDF — blocks codegen, forks workers",
    # Arrow-batched Python is the sanctioned escape hatch but still worth
    # surfacing: it should be deliberate, not accidental.
    "PY_ARROW": "Arrow-batched Python stage (deliberate use only)",
    "GLOBAL_WINDOW": "window with empty partitionBy — single-task sort",
    "GLOBAL_SORT": "interior global sort without limit — full-shuffle total order",
    "ROOT_SORT": "bare global sort at plan root over an unaggregated, "
    "unlimited input — corpus-sized range shuffle",
}


def _code(name: str, node, is_root: bool) -> str | None:
    if name == "CartesianProductExec":
        return "CARTESIAN"
    if name == "BroadcastNestedLoopJoinExec":
        return "NESTED_LOOP"
    if name.startswith("BatchEvalPython"):
        return "PY_UDF"
    if name in _PY_ARROW_EXECS:
        return "PY_ARROW"
    # A Window whose spec has no partitioning funnels ALL rows into one
    # task (an unordered, unpartitioned window is a plain aggregate).
    if (
        name == "WindowExec"
        and node.partitionSpec().isEmpty()
        and not node.orderSpec().isEmpty()
    ):
        return "GLOBAL_WINDOW"
    # Global Sort (range-shuffle total order; SortExec field 1 is the
    # `global` flag). A global sort at the plan ROOT with an
    # aggregate/limit beneath it is the trailing oracle-stability orderBy
    # every registry query ends with (VERDICT r1 accepted the pattern; r9
    # made this structural so new queries can't forget a hand-list
    # entry): it sorts exactly the already-reduced result set the caller
    # is about to collect, so its cost is bounded by the result size, not
    # the corpus. A BARE root sort — nothing beneath it that reduces
    # cardinality — is a corpus-sized range shuffle; it gets the
    # informational ROOT_SORT code (ADVICE r9 tightening), distinct from
    # GLOBAL_SORT so the registry sweep can enforce the hazard class
    # strictly while interactive lint users still see the warning. An
    # INTERIOR global sort — feeding further computation — is a genuine
    # full-shuffle hazard. Boundedness walks children only: a subquery's
    # aggregate is not the sort's data input (ADVICE r10).
    if name == "SortExec" and node.productElement(1):
        if not is_root:
            return "GLOBAL_SORT"
        if not any(
            n in _BOUNDING_NODES
            for n, _ in plan_nodes(node, cached=True, subqueries=False)
        ):
            return "ROOT_SORT"
    return None


def lint_plan(df: DataFrame) -> list[Finding]:
    """Return scale-hazard findings for the DataFrame's executed plan,
    one per code. Which codes a query may carry, and why, is the
    caller's decision (tests/test_plan_lint.py keeps the per-query
    allowances)."""
    codes: list[str] = []
    past_wrappers = False
    walk = plan_nodes(df._jdf.queryExecution().executedPlan(), cached=True)
    for name, node in walk:
        is_root = not past_wrappers and name not in _ROOT_WRAPPERS
        past_wrappers = past_wrappers or is_root
        code = _code(name, node, is_root)
        if code and code not in codes:
            codes.append(code)
    return [Finding(c, _DETAILS[c]) for c in codes]
