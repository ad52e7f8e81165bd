"""Physical-plan walker shared by the plan lint (plans/lint.py) and the
multi-consumer recompute audit below: count LIVE parquet scans per table
in a DataFrame's physical plan — scans that will actually re-read (and
re-derive everything above) at execution time, excluding subtrees served
by a cached InMemoryRelation.

Why the audit exists: Spark re-executes a shared subtree once PER
CONSUMER unless it is persisted/checkpointed — the single most common
silent perf bug in this package's history (round 6 fixed
q70/q96/q101/q115/q116; round 9's sweep caught q111's double trigram
explosion, q38/q49's triple regex-normalize, and q66's double winnowing
pass). The lint-style sweep in tests/test_scan_audit.py pins every
registered query's live-scan counts so a new consumer of an unpersisted
expensive subtree fails CI instead of shipping a 2x query.

HISTORY — why this walks the JVM TREE and not the plan STRING: earlier
versions of both the audit and the lint parsed
``executedPlan().toString()`` by tree-art depth. That text is not
reliably parseable: (a) ``:-`` branch-head nodes carried no ``+-``
marker and were invisible (ADVICE r9); (b) the first-marker truncation
of AQE's '== Initial Plan ==' section discarded final-plan text in
subquery-bearing plans (ADVICE r9); and (c) InMemoryRelation re-renders
its cached build plan with an INDEPENDENT indentation context, so nested
cached AQE sections print at depths SHALLOWER than their owning node —
the audit misclassified cached scans as live, and the lint's
depth-based section skipping dropped real nodes (q161's cached BPE
ArrowEvalPython). The JVM physical-plan tree has none of these
problems: InMemoryTableScanExec holds its cached plan in a field, NOT as
a child, so walking ``children()`` yields exactly the nodes that will
run, and the cached build plan is entered only when asked for.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from pyspark.sql import DataFrame

_TABLE_RE = re.compile(r"/(\w+)\.parquet")


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def plan_nodes(
    plan, *, cached: bool = False, subqueries: bool = True
) -> Iterator[tuple[str, object]]:
    """Preorder (class simple name, JVM node) pairs of a physical plan.

    Follows what will actually run: an AdaptiveSparkPlanExec's current
    physical plan (final plan after execution) and each query stage's
    plan. A ReusedExchange / ReusedSubquery re-serves another stage's
    output, so its subtree is not walked again.

    cached: also walk each cached build plan under an
    InMemoryTableScanExec, once per cache (work done once when the cache
    fills — the lint wants it, the live-scan audit does not).
    subqueries: also walk subquery plans, which hang off EXPRESSIONS,
    not children. The same logical subquery (one execution, by
    ReuseSubquery) is referenced from every node its predicate was
    pushed into — e.g. both the Filter and the FileScan's data-filter
    list — as DISTINCT SubqueryExec instances sharing one name
    ("subquery#N"), so each name is walked once; genuinely different
    subqueries get different exprIds."""
    seen: set[str] = set()
    seen_cached: set[int] = set()
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        yield name, node
        if name == "AdaptiveSparkPlanExec":
            nxt = [node.executedPlan()]
        elif name.endswith("QueryStageExec"):
            nxt = [node.plan()]
        elif name == "InMemoryTableScanExec":
            nxt = []
            if cached:
                build = node.relation().cachedPlan()
                if build.id() not in seen_cached:
                    seen_cached.add(build.id())
                    nxt.append(build)
        elif name.startswith("Reused"):
            nxt = []
        else:
            nxt = _seq(node.children())
        if subqueries:
            for s in _seq(node.subqueries()):
                key = s.name()
                if key not in seen:
                    seen.add(key)
                    nxt.append(s)
        stack.extend(reversed(nxt))


def live_file_scans(df: DataFrame) -> dict[str, int]:
    """table name -> number of LIVE FileScans in the physical plan
    (scans inside a cached InMemoryRelation's build plan excluded;
    subquery plans included, deduplicated per logical subquery)."""
    counts: dict[str, int] = {}
    for name, node in plan_nodes(df._jdf.queryExecution().executedPlan()):
        if name == "FileSourceScanExec":
            paths = node.relation().location().rootPaths()
            p = paths.apply(0).toString() if paths.size() else ""
            m = _TABLE_RE.search(p)
            t = m.group(1) if m else "other"
            counts[t] = counts.get(t, 0) + 1
    return counts
