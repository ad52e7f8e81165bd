"""Ratchet: every top-level def/class in the package is reached by a
registered query or a harness, or is listed in KEPT with its reason.

Reachability is an AST walk over ``ast.Name`` / ``ast.Attribute``
references only: strings, docstrings and import statements do not count,
so code that only a test (or a comment) mentions stays unreached. Names
are matched by bare identifier across the whole package, which can only
over-count reach, never under-count it.

Roots: every ``@register``-decorated query, every statement of the
harness scripts (HARNESS), module-level statements that run on import
(anything but a def, class or plain assignment), and KEPT.

A KEPT entry that becomes reached or disappears is stale and fails the
test: delete it, the same rule the plan-lint ``_ALLOW`` table follows.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "reddit_big_data_spark"
HARNESS = (
    "bench.py",
    "oracle_sweep.py",
    "scaling.py",
    "rotation.py",
    "__spark_entry__.py",
    "perfbench/*.py",
)

# Top-level package names that no query or harness reaches, kept on purpose.
_REFERENCE = "reference surface SURVEY names that no query covers"
_PLAN_TOOLING = "plan-verification tooling the test sweeps run"
_NOT_AUDITED = "not yet audited"
KEPT: dict[str, str] = {
    "read_csv": f"{_REFERENCE} (S3)",
    "write_csv": f"{_REFERENCE} (S4)",
    "write_parquet": f"{_REFERENCE} (S5)",
    "from_pandas": f"{_REFERENCE} (S6)",
    "list_files": f"{_REFERENCE} (S10)",
    "remove_path": f"{_REFERENCE} (S10)",
    "save_pipeline": f"{_REFERENCE} (S11)",
    "load_pipeline": f"{_REFERENCE} (S11)",
    "regression_evaluator": f"{_REFERENCE} (M11 rmse)",
    "map_labels": f"{_REFERENCE} (U3)",
    "rename_with_suffix": f"{_REFERENCE} (P2)",
    "lint_plan": _PLAN_TOOLING,
    "live_file_scans": _PLAN_TOOLING,
    "train_bpe": _NOT_AUDITED,
    "train_unigram": _NOT_AUDITED,
    "simhash_hamming_pairs_scaled": _NOT_AUDITED,
    "cosine": _NOT_AUDITED,
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_ASSIGNS = (ast.Assign, ast.AnnAssign, ast.AugAssign)


def _references(node: ast.AST) -> set[str]:
    """Identifiers a node mentions as a Name or an Attribute."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _is_query(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and "register" in _references(d.func)
        for d in node.decorator_list
    )


def _assigned_names(node: ast.AST) -> set[str]:
    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
    return {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}


def _package_graph():
    """(defs, edges, roots): each top-level def/class name with the first
    module defining it, each top-level name's outgoing references, and the
    root names of queries and import-time statements."""
    defs: dict[str, str] = {}
    edges: dict[str, set[str]] = {}
    roots: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(ROOT).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, _DEFS):
                defs.setdefault(node.name, module)
                edges.setdefault(node.name, set()).update(_references(node))
                if _is_query(node):
                    roots.add(node.name)
            elif isinstance(node, _ASSIGNS):
                refs = _references(node.value) if node.value is not None else set()
                for name in _assigned_names(node):
                    edges.setdefault(name, set()).update(refs)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= _references(node)
    return defs, edges, roots


def _harness_references() -> set[str]:
    out: set[str] = set()
    for pattern in HARNESS:
        for path in sorted(ROOT.glob(pattern)):
            out |= _references(ast.parse(path.read_text()))
    return out


def _reached(edges: dict[str, set[str]], start: set[str]) -> set[str]:
    seen: set[str] = set()
    todo = [n for n in start if n in edges]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(n for n in edges[name] if n in edges and n not in seen)
    return seen


def test_every_package_def_is_reached_or_kept():
    defs, edges, roots = _package_graph()
    assert roots, "no @register query found — the walk is broken"
    reached = _reached(edges, roots | _harness_references())
    kept_reach = _reached(edges, set(KEPT)) - set(KEPT)
    unreached = {
        f"{defs[n]}:{n}" for n in defs if n not in reached | kept_reach | set(KEPT)
    }
    assert not unreached, (
        f"top-level defs no query or harness runs: {sorted(unreached)} — "
        "delete them, or add a reasoned KEPT entry"
    )
    stale = sorted(n for n in KEPT if n not in defs or n in reached)
    assert not stale, f"stale KEPT entries (gone, or now reached): {stale} — delete them"
