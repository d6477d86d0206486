"""The query registry of ``__spark_entry__.py`` is one-to-one: every query name
is registered once, defined once, and has exactly one DuckDB oracle.

A Python dict literal silently keeps the last of two equal keys and a
module silently keeps the last of two equal ``def``s, so duplicates
are caught on the source (AST), not on the built dicts."""

import ast
import collections
import os
import warnings

import __spark_entry__ as entry

SRC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")


def _module():
    with open(SRC, encoding="utf-8") as f, warnings.catch_warnings():
        # the SQL strings hold regex escapes like '\s'
        warnings.simplefilter("ignore")
        return ast.parse(f.read())


def _function(tree, name):
    return next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == name)


def _keys(node: ast.Dict) -> list[str]:
    return [k.value for k in node.keys]


def _registry_keys(tree) -> list[str]:
    ret = next(n for n in ast.walk(_function(tree, "queries")) if isinstance(n, ast.Return))
    return _keys(ret.value)


def _oracle_keys(tree) -> list[str]:
    """Every key oracle_sql() writes: the dict literals of the two
    oracle functions it merges and its own ``d_static``, then each
    ``d["name"] = ...``."""
    # function -> the statement holding its literal: "return" or the variable
    literals = {"_generated_oracles": "return", "_trio_oracles": "out", "oracle_sql": "d_static"}
    keys = []
    for name, holder in literals.items():
        for stmt in _function(tree, name).body:
            if isinstance(stmt, ast.Return) and holder == "return" or (
                isinstance(stmt, ast.Assign) and ast.unparse(stmt.targets[0]) == holder
            ):
                keys += _keys(stmt.value)
    for node in ast.walk(_function(tree, "oracle_sql")):
        if isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Store):
            if ast.unparse(node.value) == "d":
                keys.append(node.slice.value)
    return keys


def _dupes(names) -> list[str]:
    return sorted(k for k, n in collections.Counter(names).items() if n > 1)


def test_no_duplicate_top_level_defs():
    defs = [n.name for n in _module().body if isinstance(n, ast.FunctionDef)]
    assert _dupes(defs) == []


def test_registry_literal_has_no_duplicate_keys():
    keys = _registry_keys(_module())
    assert _dupes(keys) == []
    assert len(keys) == len(entry.queries())


def test_oracles_written_once_each():
    keys = _oracle_keys(_module())
    assert _dupes(keys) == []
    assert len(keys) == len(entry.oracle_sql())


def test_every_query_has_one_oracle():
    assert set(entry.queries()) == set(entry.oracle_sql())
    assert len(entry.queries()) == len(entry.oracle_sql())
