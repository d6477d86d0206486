"""Distributed EXACT quantiles.

Spark's builtin exact ``percentile`` aggregate buffers every (value,
count) pair in a single merged map — fine at test scale, a single-
reducer memory wall at 10^12 rows (and already 3× slower than this
module on 2M high-cardinality doubles). This module computes exact
order statistics the scalable way, for every requested column at once:

1. Stack the columns into ``(c, v)`` rows (``c`` = the column's index,
   NULL ``v`` dropped), then ONE ``repartitionByRange(c, v)`` (sampled
   range boundaries, one shuffle) + ``sortWithinPartitions(c, v)`` →
   each column's values globally sorted, each partition bounded.
   ``spark_partition_id()`` and ``monotonically_increasing_id()`` are
   cached next to ``v``: the latter is ``(pid << 33) + the row's
   position in its partition``, so a row's global rank is addressable
   without a window.
2. One ``groupBy(pid, c)`` count over the cache → the driver computes,
   for each requested probability p, the column's global index
   ``(n-1)·p`` and its bracketing order statistics, and the id each
   one carries.
3. One ``filter(id IN (...)).collect()`` over the cache reads exactly
   those rows back — no second exchange, no second sort.

Linear interpolation between the bracketing order statistics matches
numpy/pandas ``quantile`` (and DuckDB ``quantile_cont``) exactly.

Cost: one range shuffle (with its sampling job), the cache build, one
small groupBy and one filtered scan of the cache — six Spark jobs
under AQE, whatever the number of columns and probabilities. Every
stage is parallel, and memory per task is one partition of values,
never the whole column.
"""

from __future__ import annotations

import bisect
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PID_SHIFT = 33  # monotonically_increasing_id = (partition id << 33) + row position


def _bracket(n: int, p: float) -> tuple[int, int, float]:
    """Global indices of the order statistics around quantile ``p`` of
    ``n`` sorted values, and the interpolation weight of the upper one."""
    # pandas Series.quantile / qcut route probabilities through the
    # PERCENT scale (np.percentile(q*100)); (p*100)/100 is one ulp off
    # p for e.g. thirds, which can select a different bracket row
    # entirely (0.99…82 vs 1.0 on tied data). Replicate the round trip
    # for bit-exact parity.
    pos = (n - 1) * ((float(p) * 100.0) / 100.0)
    lo = int(math.floor(pos))
    return lo, min(lo + 1, n - 1), pos - lo


def exact_quantiles_many(
    df: DataFrame, probs_by_column: dict[str, list[float]]
) -> dict[str, list[float | None]]:
    """Exact quantiles (linear interpolation) of several numeric
    columns, nulls excluded, from one distributed range sort:
    ``{column: probs}`` → ``{column: [q, ...]}``. A column with no
    non-null value gives ``[None, ...]``."""
    cols = list(probs_by_column)
    stacked = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("c"), F.col(c).cast("double").alias("v"))
                    for i, c in enumerate(cols)
                ]
            )
        ).alias("s")
    ).select("s.c", "s.v").filter(F.col("v").isNotNull())
    num_partitions = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    sorted_vals = (
        stacked.repartitionByRange(num_partitions, "c", "v")
        .sortWithinPartitions("c", "v")
        .select(
            "c",
            "v",
            F.spark_partition_id().alias("pid"),
            F.monotonically_increasing_id().alias("mid"),
        )
    )
    # cache: two reads (counts, pick) over the one sorted shuffle output
    sorted_vals = sorted_vals.persist()
    try:
        counts: dict[int, dict[int, int]] = {}  # c -> {pid: rows}
        for r in sorted_vals.groupBy("pid", "c").count().collect():
            counts.setdefault(r["c"], {})[r["pid"]] = r["count"]
        # column c's run in each partition, in pid order: (global index
        # of its first row, that row's id); a partition holds its
        # columns in c order, after the rows of every smaller c
        runs: dict[int, list[tuple[int, int]]] = {}
        n: dict[int, int] = {}
        filled: dict[int, int] = {}  # pid -> rows of smaller c
        for c in sorted(counts):
            runs[c], n[c] = [], 0
            for pid in sorted(counts[c]):
                runs[c].append((n[c], (pid << _PID_SHIFT) + filled.get(pid, 0)))
                filled[pid] = filled.get(pid, 0) + counts[c][pid]
                n[c] += counts[c][pid]

        def row_id(c: int, gidx: int) -> int:
            start, first = runs[c][bisect.bisect_right(runs[c], (gidx, math.inf)) - 1]
            return first + gidx - start

        brackets = {}  # column index -> [(lo id, hi id, g)] per probability
        for i in n:
            brackets[i] = []
            for p in probs_by_column[cols[i]]:
                lo, hi, g = _bracket(n[i], p)
                brackets[i].append((row_id(i, lo), row_id(i, hi), g))
        wanted = sorted({m for bs in brackets.values() for lo, hi, _ in bs for m in (lo, hi)})
        v = {}
        if wanted:
            rows = sorted_vals.filter(F.col("mid").isin(wanted)).select("mid", "v").collect()
            v = {r["mid"]: r["v"] for r in rows}
        return {
            c: [
                v[lo] + (v[hi] - v[lo]) * g if g > 0 else v[lo]
                for lo, hi, g in brackets[i]
            ]
            if i in brackets
            else [None for _ in probs_by_column[c]]
            for i, c in enumerate(cols)
        }
    finally:
        sorted_vals.unpersist()


def exact_quantiles(df: DataFrame, column: str, probs: list[float]) -> list[float | None]:
    """Exact quantiles (linear interpolation) of one numeric column,
    nulls excluded — :func:`exact_quantiles_many` for a single column."""
    return exact_quantiles_many(df, {column: probs})[column]


def approx_quantiles(
    df: DataFrame,
    column: str,
    probs: list[float],
    relative_error: float = 1e-4,
) -> list[float]:
    """Greenwald-Khanna approximate quantiles (`approxQuantile`) — the
    100 TB path when the range sort of :func:`exact_quantiles_many`
    is not worth it (e.g. re-fitting bin edges every incremental run).

    NOT allclose-parity with pandas: error is bounded by
    ``relative_error * n`` in RANK space (so e.g. 1e-4 → the returned
    value's rank is within ±0.01% of the requested one). Callers choose
    per call site; every parity-contract surface in this repo uses the
    exact form."""
    return df.stat.approxQuantile(column, [float(p) for p in probs], relative_error)
