"""One plan reader: ``plans/inspect.py`` is the only file of the engine,
its jobs, scripts and tests that reads a plan. Every other file asks
it for typed facts instead of calling ``queryExecution``,
``executedPlan``, ``logicalPlan`` or ``explain`` and grepping the
printed plan.

Calls are found on the source (AST), so a docstring that names them
does not count."""

import ast
import os
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIRS = ("tests", "feature_engineering_tk_spark", "jobs", "scripts")
READER = os.path.join("feature_engineering_tk_spark", "plans", "inspect.py")
PLAN_CALLS = {"queryExecution", "executedPlan", "explain", "logicalPlan"}


def _sources():
    for d in DIRS:
        for dirpath, _, files in os.walk(os.path.join(ROOT, d)):
            for f in files:
                if f.endswith(".py"):
                    yield os.path.relpath(os.path.join(dirpath, f), ROOT)


def _plan_calls(rel: str) -> list[str]:
    with open(os.path.join(ROOT, rel), encoding="utf-8") as f, warnings.catch_warnings():
        # some sources hold regex escapes like '\s' in plain strings
        warnings.simplefilter("ignore")
        tree = ast.parse(f.read())
    return [
        f"{rel}:{n.lineno} {n.func.attr}()"
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr in PLAN_CALLS
    ]


def test_only_the_inspector_reads_plans():
    assert _plan_calls(READER)  # the guard sees the calls it forbids elsewhere
    found = [call for rel in _sources() if rel != READER for call in _plan_calls(rel)]
    assert found == []
