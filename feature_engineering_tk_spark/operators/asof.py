"""Point-in-time (as-of) join — the engine's core join operator.

Spark has no native as-of join. Two algorithms share ONE semantics
(pandas ``merge_asof``, whole-row):

- :func:`asof_join` — union-tag: ONE shuffle of (left ∪ right) on the
  entity key, one window sort per direction, no row explosion. Each
  right row travels as one struct ``(key, values…)``; a running
  ``max`` over right rows only carries the whole matching row onto
  every left anchor. Directions ``'backward'`` (default),
  ``'forward'`` and ``'nearest'``. For dense right sides.
- :func:`asof_join_packed` — a bounded right side packs to one array
  of ``struct(ts, values…)`` per entity, joins the left side on the
  entity key and each anchor picks its row from the array. Backward
  only. Spark picks the join by size: a small packed side is
  broadcast (``spark.sql.autoBroadcastJoinThreshold``, and AQE at run
  time), so the left side is not shuffled; a large one is a
  sort-merge join on the entity, which reuses the partitioning of a
  window-feature left side.

The contract both keep:

- ``right.ts == left.ts`` IS matched (``<=`` backward, ``>=``
  forward).
- A match is a whole right row: a null value in the matched row stays
  null, it is never filled from an older row.
- Among right rows sharing ``(entity, ts)`` the row greatest in
  ``(ts, values…)`` order wins (Spark struct ordering, nulls first).
- NULL entities match NULL entities; entities absent from the right
  side get nulls.
- ``tolerance_seconds`` is compared in integer µs (two ~1.7e9
  epoch-second doubles lose ~2.4e-7 s to cancellation, enough to flip
  a match exactly at the boundary).

``'forward'`` and ``'nearest'`` read rows after the anchor, so they sit
behind ``allow_future=True``. They read the future through a
DESCENDING-ordered window whose frame still ends at the current row,
so ``Pipeline.run``'s leak audit rejects a descending order key too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feature_engineering_tk_spark.functions.timeutil import epoch_micros
from feature_engineering_tk_spark.operators.window_features import FutureLeakError

# the struct carries each direction needs: "_b" (backward), "_f" (forward)
_DIRECTIONS = {"backward": ("_b",), "forward": ("_f",), "nearest": ("_b", "_f")}


def _default_values(right: DataFrame, entity: str, right_ts: str) -> list[str]:
    return [c for c in right.columns if c not in (entity, right_ts)]


def _row(key: Column, value_cols: list[str]) -> Column:
    """A right row as one struct ``(_k, values…)``. Struct ordering
    (field by field, nulls first) is the tie rule: the greatest row
    wins."""
    return F.struct(key.alias("_k"), *[F.col(c) for c in value_cols])


def _within(dist: Column, tolerance_seconds: float | None) -> Column:
    """``dist`` exists (a row matched, both timestamps non-null) and is
    within the tolerance, compared in integer µs."""
    ok = dist.isNotNull()
    if tolerance_seconds is None:
        return ok
    return ok & (dist <= F.lit(int(round(float(tolerance_seconds) * 1_000_000))))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    entity: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    tolerance_seconds: float | None = None,
    suffix: str = "_asof",
    direction: str = "backward",
    allow_future: bool = False,
) -> DataFrame:
    """Attach to every left row the right row of the same entity that
    pandas ``merge_asof(direction=...)`` would pick, as
    ``<value><suffix>`` columns.

    - ``'backward'``: latest right row with ``right.ts <= left.ts``.
    - ``'forward'``: earliest right row with ``right.ts >= left.ts``.
    - ``'nearest'``: closest in absolute µs; the backward row wins
      equidistant ties.

    Union-tag algorithm: stack both sides, left rows carrying a NULL
    struct and right rows ``struct(key, values…)``. Backward is
    ``max(struct(rt, values…))`` over ``partitionBy(entity).orderBy(ts,
    tag)`` up to the current row; forward is the same carry with key
    ``-rt`` over ``orderBy(desc(ts), tag)``; nearest runs both over the
    one exchange and picks per row.

    ``'forward'`` and ``'nearest'`` are label construction (next tool
    result, time-to-next-event), not features, so they require
    ``allow_future=True`` — the same contract as
    ``with_lead``/``backward_fill``.
    """
    if direction not in _DIRECTIONS:
        raise ValueError(f"direction must be backward/forward/nearest, got {direction!r}")
    if direction != "backward" and not allow_future:
        raise FutureLeakError(
            f"asof_join(direction={direction!r}) reads rows after the anchor "
            "timestamp; pass allow_future=True"
        )
    value_cols = value_cols or _default_values(right, entity, right_ts)
    left_cols = left.columns
    carries = _DIRECTIONS[direction]

    rt = epoch_micros(F.col(right_ts))
    key = {"_b": rt, "_f": -rt}
    # right rows (tag 0) sort before anchors (tag 1) at equal ts, so a
    # running max up to the current row includes exact matches
    order = {"_b": F.col("_t"), "_f": F.col("_t").desc()}
    r_tag = right.select(
        F.col(entity).alias("_e"),
        rt.alias("_t"),
        F.lit(0).alias("_tag"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
        *[_row(key[k], value_cols).alias(k) for k in carries],
    )
    l_tag = left.select(
        F.col(entity).alias("_e"),
        epoch_micros(F.col(left_ts)).alias("_t"),
        F.lit(1).alias("_tag"),
        *[F.col(c) for c in left_cols],
        *[F.lit(None).cast(r_tag.schema[k].dataType).alias(k) for k in carries],
    )
    part = Window.partitionBy("_e")
    out = (
        l_tag.unionByName(r_tag)
        .withColumns(
            {
                k: F.max(k).over(
                    part.orderBy(order[k], "_tag").rowsBetween(Window.unboundedPreceding, 0)
                )
                for k in carries
            }
        )
        .filter(F.col("_tag") == 1)
    )

    d_b = F.col("_t") - F.col("_b._k")
    d_f = -F.col("_f._k") - F.col("_t")
    if direction == "backward":
        pick = F.when(_within(d_b, tolerance_seconds), F.col("_b"))
    elif direction == "forward":
        pick = F.when(_within(d_f, tolerance_seconds), F.col("_f"))
    else:
        b_ok, f_ok = _within(d_b, tolerance_seconds), _within(d_f, tolerance_seconds)
        pick = F.when(b_ok & (~f_ok | (d_b <= d_f)), F.col("_b")).when(f_ok, F.col("_f"))
    return out.select(
        *[F.col(c) for c in left_cols],
        *[pick[c].alias(f"{c}{suffix}") for c in value_cols],
    )


def asof_join_packed(
    left: DataFrame,
    right: DataFrame,
    entity: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    tolerance_seconds: float | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Backward as-of join for a bounded right side, with the
    :func:`asof_join` backward semantics.

    The right side packs to ONE row per entity: ``groupBy(entity)``
    collects its rows as ``struct(ts, values…)`` (map-side partial
    aggregation). The left side equi-joins that on the entity key, and
    each anchor takes the ``array_max`` of its entity's elements with
    ``ts <= left.ts``: the greatest ``(ts, values…)`` row, the tie
    rule. The pick is row-local, so the left side is never exploded.

    The join carries no hint; Spark picks it by size. A packed side
    under ``spark.sql.autoBroadcastJoinThreshold`` (or one AQE sees is
    small at run time) is broadcast, so the left side is not shuffled.
    A larger one gets a sort-merge join on the entity alone, which
    reuses a window stack's existing partitioning: the left side moves
    no additional bytes.

    NULL entities match each other, as in :func:`asof_join`, whose
    window partitions NULL keys together. A plain ``==`` join drops
    them, and ``eqNullSafe`` would key the join on
    ``(coalesce(key), key IS NULL)`` and re-shuffle the left side. So
    the NULL group of the same packed aggregate is read as one scalar
    subquery and stands in for the joined array of NULL-keyed anchors.

    Contract: right rows per entity must be bounded (tool calls, state
    changes, dimension updates, not another event stream); one
    entity's array lives in one aggregation buffer. For a dense right
    side, or a forward or nearest match, use :func:`asof_join`.
    """
    value_cols = value_cols or _default_values(right, entity, right_ts)
    packed = right.groupBy(F.col(entity).alias("_e")).agg(
        F.collect_list(_row(epoch_micros(F.col(right_ts)), value_cols)).alias("_pk")
    )
    null_pk = packed.filter(F.col("_e").isNull()).select("_pk").scalar()
    # a column of its own: Spark refuses a subquery inside a higher-order function
    joined = left.join(packed, left[entity] == packed["_e"], "left").withColumn(
        "_pk", F.coalesce(F.col("_pk"), F.when(F.col(entity).isNull(), null_pk))
    )
    lt = epoch_micros(F.col(left_ts))
    # NULL when the entity has no right row at or before the anchor
    pick = F.array_max(F.filter("_pk", lambda s: s["_k"] <= lt))
    if tolerance_seconds is not None:
        pick = F.when(_within(lt - pick["_k"], tolerance_seconds), pick)
    return joined.select(
        *[F.col(c) for c in left.columns],
        *[pick[c].alias(f"{c}{suffix}") for c in value_cols],
    )


def range_join_agg(
    left: DataFrame,
    right: DataFrame,
    entity: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    window_seconds: float = 3600.0,
    value_col: str = "value",
    funcs: tuple[str, ...] = ("count", "sum"),
    prefix: str | None = None,
) -> DataFrame:
    """Time-range join: for every left anchor, aggregate right rows with
    ``left.ts - window <= right.ts <= left.ts`` for the same entity
    (both bounds inclusive). Past-only ⇒ leakage-free.

    Scale path — NO unbounded inequality join: both sides are bucketed
    by ``floor(ts / window)``; each right row is replicated to its own
    bucket and the next (the only two buckets whose anchors can match),
    the join is a plain equi-join on (entity, bucket), and the exact
    range predicate filters the at-most-2x candidates. Cost: one 2x
    duplication of the (projected) right side + one shuffle join +
    one partial-aggregatable groupBy, instead of a per-entity cross
    product.
    """
    _aggs = {
        "count": lambda c: F.count(c),
        "sum": lambda c: F.sum(c),
        "mean": lambda c: F.avg(c),
        "min": lambda c: F.min(c),
        "max": lambda c: F.max(c),
    }
    unknown = set(funcs) - set(_aggs)
    if unknown:
        raise ValueError(f"unsupported range aggs: {sorted(unknown)}")
    prefix = prefix if prefix is not None else f"{value_col}_range"
    # Integer-µs arithmetic end to end: the boundary predicate
    # ``rt >= lt - win`` on ~1.7e9 epoch-second doubles can flip at
    # exactly the window edge (half-ulp ≈ 2.4e-7 s); bigint µs cannot.
    win_us = int(round(float(window_seconds) * 1_000_000))
    left_cols = left.columns

    lid = left.withColumn("_aid", F.monotonically_increasing_id()).withColumn(
        "_lt", epoch_micros(F.col(left_ts))
    )
    lk = lid.withColumn("_bkt", F.floor(F.col("_lt") / F.lit(win_us)))

    r = right.select(
        F.col(entity).alias("_re"),
        epoch_micros(F.col(right_ts)).alias("_rt"),
        F.col(value_col).alias("_rv"),
    )
    rk = r.withColumn(
        "_bkt", F.explode(F.array(F.floor(F.col("_rt") / F.lit(win_us)), F.floor(F.col("_rt") / F.lit(win_us)) + 1))
    )

    j = lk.join(
        rk,
        (lk[entity] == rk["_re"]) & (lk["_bkt"] == rk["_bkt"]),
        "left",
    )
    in_range = (F.col("_rt") >= F.col("_lt") - F.lit(win_us)) & (F.col("_rt") <= F.col("_lt"))
    matched = F.when(in_range, F.col("_rv"))

    out = j.groupBy("_aid").agg(
        *[F.first(c).alias(c) for c in left_cols],
        *[_aggs[f](matched).alias(f"{prefix}_{f}") for f in funcs],
    )
    # count over an all-null group yields 0 (SQL), matching "no rows in range"
    return out.select(
        *left_cols, *[F.col(f"{prefix}_{f}") for f in funcs]
    )
