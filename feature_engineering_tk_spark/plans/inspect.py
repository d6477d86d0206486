"""Typed facts about a DataFrame's physical plan.

``inspect(df)`` walks ``queryExecution().executedPlan()`` through py4j,
into ``AdaptiveSparkPlanExec.executedPlan()`` and each query stage's
``plan()``, and never parses the plan's text. It plans the query but
runs no Spark job. A cached relation is one leaf: its own exchanges
were paid when it was cached, so they are not counted here.
``window_frames`` reads only the analyzed plan's window frames: cheap
enough for ``Pipeline.run``'s leak audit."""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class Shuffle:
    partitioning: str  # e.g. "HashPartitioning", "RangePartitioning", "SinglePartition"
    keys: tuple[str, ...]  # hash keys; () for other partitionings


@dataclass(frozen=True)
class Scan:
    # as FileSourceScanExec.metadata() states them
    pushed_filters: str
    partition_filters: str
    read_schema: str


@dataclass(frozen=True)
class Frame:
    """One window expression. Bounds count from the current row:
    -inf is UNBOUNDED PRECEDING, 0 is CURRENT ROW, +inf is UNBOUNDED
    FOLLOWING."""

    function: str  # e.g. "lag", "sum", "max"
    frame: str  # "RowFrame" or "RangeFrame"
    lower: float
    upper: float
    ascending: tuple[bool, ...]  # one per order key


@dataclass(frozen=True)
class Plan:
    nodes: tuple[str, ...]  # every node's name, e.g. "TakeOrderedAndProject"
    shuffles: tuple[Shuffle, ...]  # reused exchanges are not counted
    broadcasts: int
    scans: tuple[Scan, ...]
    joins: tuple[str, ...]  # node classes, e.g. "BroadcastHashJoinExec"
    python: tuple[str, ...]  # Python-eval nodes, e.g. "ArrowEvalPython"
    functions: frozenset[str]  # every expression's name, e.g. "levenshtein"


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _cls(o) -> str:
    return o.getClass().getSimpleName().rstrip("$")


_BOUNDS = {"UnboundedPreceding": -math.inf, "CurrentRow": 0.0, "UnboundedFollowing": math.inf}


def _bound(e) -> float:
    kind = _cls(e)
    if kind == "Cast":  # the analyzed plan casts a RANGE bound to a non-long order key's type
        return _bound(e.child())
    return _BOUNDS[kind] if kind in _BOUNDS else float(e.value())


def _frame(named, ascending) -> Frame:
    we = named.child()  # Alias(WindowExpression)
    fn = we.windowFunction()
    if _cls(fn) == "AggregateExpression":
        fn = fn.aggregateFunction()
    fr = we.windowSpec().frameSpecification()
    return Frame(fn.prettyName(), _cls(fr.frameType()), _bound(fr.lower()), _bound(fr.upper()), ascending)


def _add_functions(e, out: set) -> None:
    out.add(e.prettyName())
    for c in _seq(e.children()):
        _add_functions(c, out)


def window_frames(df) -> tuple[Frame, ...]:
    """One ``Frame`` per window expression of ``df``'s analyzed plan,
    over its whole lineage. Runs no Spark job."""
    frames, stack = [], [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window":
            ascending = tuple(o.isAscending() for o in _seq(node.orderSpec()))
            frames += [_frame(w, ascending) for w in _seq(node.windowExpressions())]
        stack += _seq(node.children())
    return tuple(frames)


def inspect(df) -> Plan:
    nodes, shuffles, scans, joins, python, functions = [], [], [], [], [], set()
    broadcasts = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = _cls(node)
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        nodes.append(node.nodeName())
        for e in _seq(node.expressions()):
            _add_functions(e, functions)
        if kind == "ShuffleExchangeExec":
            part = node.outputPartitioning()
            hashed = _cls(part) == "HashPartitioning"
            keys = tuple(e.sql() for e in _seq(part.expressions())) if hashed else ()
            shuffles.append(Shuffle(_cls(part), keys))
        elif kind == "BroadcastExchangeExec":
            broadcasts += 1
        elif kind == "FileSourceScanExec":
            meta = node.metadata()
            scans.append(Scan(*(meta.apply(k) for k in ("PushedFilters", "PartitionFilters", "ReadSchema"))))
        elif kind.endswith("JoinExec") or kind == "CartesianProductExec":
            joins.append(kind)
        elif node.getClass().getName().startswith("org.apache.spark.sql.execution.python."):
            python.append(node.nodeName())
        if kind != "ReusedExchangeExec":  # the exchange it reuses is walked once
            stack += _seq(node.children())
    return Plan(
        tuple(nodes), tuple(shuffles), broadcasts, tuple(scans), tuple(joins), tuple(python), frozenset(functions)
    )
