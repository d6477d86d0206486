"""Per-entity ordered window features: lag/lead, rolling aggregates,
cumulative stats, forward/backward fill, linear interpolation,
gap-based sessionization.

This is the engine core mandated by the north rule. Reference
semantics grafted here:

- ``forward_fill``/``backward_fill`` reproduce pandas ``ffill``/``bfill``
  (reference ``preprocessing.py:194-200``) per conversation.
- ``interpolate_linear`` reproduces pandas
  ``Series.interpolate(method='linear')`` (``preprocessing.py:202-207``):
  positional linear between bracketing non-nulls, leading NaNs stay
  null, trailing NaNs carry the last valid value forward.
- ``group_transform`` reproduces ``groupby().transform(func)``
  (``feature_engineering.py:576-627``): the group statistic broadcast
  back onto every row (pandas ``std`` is ddof=1 → ``stddev_samp``).

``session_index`` and ``turn_gap`` are the ``Column`` forms of
``sessionize`` and ``with_turn_gap``, for features declared as columns;
both read one ``gap_us`` expression, which a caller builds once.

Leakage contract: every helper here builds ascending frames that END
AT THE CURRENT ROW (``rowsBetween(lo, 0)`` / ``rangeBetween(lo, 0)``)
except ``with_lead``, ``backward_fill`` (both behind
``allow_future=True``), ``interpolate_linear`` and ``group_transform``.
``Pipeline.run``'s leak audit (``plans/pipeline.py``) rejects those
frames whatever flag was passed; it cannot see into ``rolling_median``
(a pandas UDF) or ``group_transform_join`` (aggregate-then-join).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_engineering_tk_spark.functions.timeutil import epoch_micros


class FutureLeakError(ValueError):
    """Raised when a future-reading operator is used without opting in,
    and by ``Pipeline.run``'s plan audit on a frame that reads the future."""


def entity_window(entity: str = "conv_id", order: str | list[str] = "turn_idx") -> WindowSpec:
    orders = [order] if isinstance(order, str) else list(order)
    return Window.partitionBy(entity).orderBy(*orders)


_AGGS = {
    "mean": F.avg,
    "avg": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "std": F.stddev_samp,  # pandas default ddof=1
    "stddev": F.stddev_samp,
    "var": F.var_samp,
    "first": lambda c: F.first(c, ignorenulls=True),
    "last": lambda c: F.last(c, ignorenulls=True),
}


def with_lag(
    df: DataFrame,
    col: str,
    k: int = 1,
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
    out: str | None = None,
) -> DataFrame:
    """``F.lag`` — strictly past-only (leakage-free by construction)."""
    return df.withColumn(out or f"{col}_lag{k}", F.lag(col, k).over(entity_window(entity, order)))


def with_lead(
    df: DataFrame,
    col: str,
    k: int = 1,
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
    out: str | None = None,
    allow_future: bool = False,
) -> DataFrame:
    """``F.lead`` — reads FUTURE rows; requires explicit opt-in."""
    if not allow_future:
        raise FutureLeakError("with_lead reads future turns; pass allow_future=True")
    return df.withColumn(out or f"{col}_lead{k}", F.lead(col, k).over(entity_window(entity, order)))


def gap_us(ts: str, w: WindowSpec) -> Column:
    """Integer µs since the previous row of the unframed window ``w``
    (NULL on the first): subtracting two ~1.7e9 epoch doubles would
    lose ~1e-7 s."""
    cur = epoch_micros(ts)
    return cur - F.lag(cur, 1).over(w)


def turn_gap(gap: Column) -> Column:
    """A :func:`gap_us` gap in seconds, exact as pandas timedelta
    subtraction is."""
    return gap.cast("double") / F.lit(1_000_000.0)


def session_index(gap: Column, gap_seconds: float, w: WindowSpec) -> Column:
    """0-based session index over the unframed window ``w``: the running
    count of rows whose :func:`gap_us` ``gap`` over ``w`` is NULL or
    exceeds ``gap_seconds``. Two stacked windows over one sort."""
    thresh_us = F.lit(int(round(float(gap_seconds) * 1_000_000)))
    is_new = F.when(gap.isNull() | (gap > thresh_us), 1).otherwise(0)
    return (F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1).cast("long")


def with_turn_gap(
    df: DataFrame,
    ts: str = "ts",
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
    out: str = "turn_gap_s",
) -> DataFrame:
    """:func:`turn_gap` per ``entity`` in ``order`` (NULL on its first row)."""
    return df.withColumn(out, turn_gap(gap_us(ts, entity_window(entity, order))))


def rolling_agg(
    df: DataFrame,
    col: str,
    func: str = "mean",
    window_rows: int = 5,
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
    out: str | None = None,
    include_current: bool = True,
) -> DataFrame:
    """Rolling aggregate over the last ``window_rows`` turns ending at
    the current row — bounded-preceding frame ⇒ leakage-free."""
    hi = 0 if include_current else -1
    lo = -(window_rows - 1) if include_current else -window_rows
    w = entity_window(entity, order).rowsBetween(lo, hi)
    agg = _AGGS[func]
    return df.withColumn(out or f"{col}_roll_{func}{window_rows}", agg(F.col(col)).over(w))


def rolling_time_agg(
    df: DataFrame,
    col: str,
    func: str = "mean",
    window_seconds: float = 3600.0,
    entity: str = "conv_id",
    ts: str = "ts",
    out: str | None = None,
) -> DataFrame:
    """Time-based rolling aggregate: all rows with
    ``anchor.ts - window_seconds <= row.ts <= anchor.ts`` — expressed as
    a ``rangeBetween`` over the epoch-microseconds ordering so Spark uses
    a single sort-based window (one shuffle on entity); integer bounds
    keep full timestamp precision."""
    w = (
        Window.partitionBy(entity)
        .orderBy(epoch_micros(ts))
        .rangeBetween(-int(round(window_seconds * 1_000_000)), 0)
    )
    agg = _AGGS[func]
    return df.withColumn(out or f"{col}_troll_{func}", agg(F.col(col)).over(w))


def rolling_corr(
    df: DataFrame,
    x: str,
    y: str,
    window_rows: int = 10,
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
    out: str | None = None,
    min_periods: int | None = None,
) -> DataFrame:
    """Trailing Pearson correlation between two series per entity —
    pandas ``rolling(window).corr()`` semantics: pairs where either
    side is null are excluded from every sufficient statistic, and
    windows with fewer than ``min_periods`` (default: ``window_rows``)
    complete pairs yield null.

    Closed form over SIX windowed sums (n, Σx, Σy, Σxy, Σx², Σy²) in
    one bounded-preceding ROWS frame — the same single entity-key
    exchange as every other rolling feature, no second pass, no UDF.
    The fold order of each sum is pinned by the frame, so results are
    engine-reproducible the same way the ranking family's are.  A
    zero-variance side (constant x or y in the window) yields null
    rather than ±inf, matching pandas.
    """
    if min_periods is None:
        min_periods = window_rows
    w = entity_window(entity, order).rowsBetween(-(window_rows - 1), 0)
    both = F.col(x).isNotNull() & F.col(y).isNotNull()
    xv = F.when(both, F.col(x).cast("double"))
    yv = F.when(both, F.col(y).cast("double"))
    n = F.sum(both.cast("int")).over(w).cast("double")
    sx = F.sum(xv).over(w)
    sy = F.sum(yv).over(w)
    sxy = F.sum(xv * yv).over(w)
    sxx = F.sum(xv * xv).over(w)
    syy = F.sum(yv * yv).over(w)
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    corr = F.when(
        (n >= min_periods) & (var_x > 0) & (var_y > 0),
        cov_n / F.sqrt(var_x * var_y),
    )
    return df.withColumn(out or f"{x}_{y}_rollcorr{window_rows}", corr)


def rolling_zscore(
    df: DataFrame,
    col: str,
    window_rows: int = 20,
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
    out: str | None = None,
    min_periods: int = 2,
    include_current: bool = False,
) -> DataFrame:
    """Point-in-time standardization: (x − trailing mean) / trailing
    std over the last ``window_rows`` rows per entity.  With the
    default ``include_current=False`` the window ends at the PREVIOUS
    row, so the current value never standardizes itself — the
    leakage-free form a feature pipeline wants (the lead/bfill
    ``allow_future`` discipline applied to normalization).

    Same shape as rolling_corr: three windowed statistics (n, Σx, Σx²)
    in one bounded ROWS frame — single entity exchange, one Window
    node, closed-form sample std (ddof=1).  Windows with fewer than
    ``min_periods`` non-null values, or zero variance, yield null
    rather than ±inf.
    """
    hi = 0 if include_current else -1
    lo = hi - (window_rows - 1)
    w = entity_window(entity, order).rowsBetween(lo, hi)
    x = F.col(col).cast("double")
    n = F.sum(x.isNotNull().cast("int")).over(w).cast("double")
    sx = F.sum(x).over(w)
    sxx = F.sum(x * x).over(w)
    # sample variance via the one-pass identity, n/(n-1) corrected
    var = (sxx - sx * sx / n) / (n - F.lit(1.0))
    z = F.when(
        (n >= F.lit(float(max(min_periods, 2)))) & (var > 0),
        (x - sx / n) / F.sqrt(var),
    )
    return df.withColumn(out or f"{col}_rollz{window_rows}", z)


def cumulative_agg(
    df: DataFrame,
    col: str,
    func: str = "sum",
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
    out: str | None = None,
) -> DataFrame:
    """Expanding (unbounded-preceding → current) aggregate — the
    point-in-time variant of a global fit statistic."""
    w = entity_window(entity, order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out or f"{col}_cum_{func}", _AGGS[func](F.col(col)).over(w))


def forward_fill(
    df: DataFrame,
    cols: list[str],
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
) -> DataFrame:
    """LOCF backfill primitive (pandas ``ffill`` parity,
    reference ``preprocessing.py:194-196``). Past-only ⇒ leakage-free."""
    w = entity_window(entity, order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumns({c: F.last(c, ignorenulls=True).over(w) for c in cols})


def backward_fill(
    df: DataFrame,
    cols: list[str],
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
    allow_future: bool = False,
) -> DataFrame:
    """pandas ``bfill`` parity (``preprocessing.py:198-200``). Reads
    FUTURE turns — requires explicit opt-in."""
    if not allow_future:
        raise FutureLeakError("backward_fill reads future turns; pass allow_future=True")
    w = entity_window(entity, order).rowsBetween(0, Window.unboundedFollowing)
    return df.withColumns({c: F.first(c, ignorenulls=True).over(w) for c in cols})


def interpolate_linear(
    df: DataFrame,
    cols: list[str],
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
) -> DataFrame:
    """pandas ``interpolate(method='linear')`` parity
    (``preprocessing.py:202-207``), fully in column expressions — two
    bracketing windows + a linear blend, no Python UDF.

    Positional semantics: value at row p between bracketing non-nulls
    (p0,v0) and (p1,v1) is ``v0 + (v1-v0)*(p-p0)/(p1-p0)``. Leading
    nulls stay null; trailing nulls carry v0 forward (pandas default
    ``limit_direction='forward'``). Reads the NEXT non-null ⇒ future-
    reading; interpolation is inherently so, and ``Pipeline.run``'s leak
    audit rejects it.
    """
    w = entity_window(entity, order)
    wp = w.rowsBetween(Window.unboundedPreceding, 0)
    wf = w.rowsBetween(0, Window.unboundedFollowing)
    pos = F.row_number().over(w)
    updates = {}
    for c in cols:
        notnull_pos = F.when(F.col(c).isNotNull(), pos)
        v0 = F.last(c, ignorenulls=True).over(wp)
        p0 = F.last(notnull_pos, ignorenulls=True).over(wp)
        v1 = F.first(c, ignorenulls=True).over(wf)
        p1 = F.first(notnull_pos, ignorenulls=True).over(wf)
        blend = v0 + (v1 - v0) * (pos - p0) / (p1 - p0)
        updates[c] = (
            F.when(F.col(c).isNotNull(), F.col(c).cast("double"))
            .when(p0.isNull(), F.lit(None).cast("double"))  # leading nulls
            .when(p1.isNull(), v0.cast("double"))  # trailing → carry forward
            .otherwise(blend)
        )
    return df.withColumns(updates)


def sessionize(
    df: DataFrame,
    gap_seconds: float = 1800.0,
    entity: str = "conv_id",
    ts: str = "ts",
    order: str | list[str] | None = None,
    out: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization ordered by ``order`` (default ``ts``):
    ``session_id`` is 0-based per entity; see :func:`session_index`."""
    w = entity_window(entity, ts if order is None else order)
    return df.withColumn(out, session_index(gap_us(ts, w), gap_seconds, w))


def session_bounds(
    df: DataFrame,
    entity: str = "conv_id",
    ts: str = "ts",
    session_col: str = "session_id",
) -> DataFrame:
    """Per-session summary (start/end/duration/turn count) — plain
    groupBy over (entity, session); partial aggregation map-side."""
    return df.groupBy(entity, session_col).agg(
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        ((F.max(epoch_micros(ts)) - F.min(epoch_micros(ts))).cast("double") / 1e6).alias(
            "session_duration_s"
        ),
        F.count(F.lit(1)).alias("n_turns"),
    )


def group_transform(
    df: DataFrame,
    group_by: list[str],
    agg_col: str,
    funcs: list[str] = ("mean", "sum", "std", "min", "max"),
) -> DataFrame:
    """Reference ``create_aggregations`` (``feature_engineering.py:576-627``):
    whole-group statistic broadcast onto every row, column name
    ``{agg_col}_{'_'.join(group_by)}_{func}``. Implemented as a single
    whole-partition window so all funcs share one shuffle."""
    w = Window.partitionBy(*group_by)
    name = "_".join(group_by)
    return df.withColumns(
        {f"{agg_col}_{name}_{f}": _AGGS[f](F.col(agg_col)).over(w) for f in funcs}
    )


def tumbling_agg(
    df: DataFrame,
    window_seconds: int,
    ts: str = "ts",
    keys: list[str] | None = None,
    aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Tumbling time-bucket aggregation (batch analog of a streaming
    tumbling window): ``F.window(ts, ...)`` groupBy, epoch-aligned
    buckets. Output carries ``window_start`` (timestamp) — partial
    aggregation is map-side, one shuffle on (keys, bucket)."""
    keys = keys or []
    aggs = aggs or {"n": F.count(F.lit(1))}
    win = F.window(F.col(ts), f"{int(window_seconds)} seconds")
    out = df.groupBy(*keys, win.alias("_w")).agg(
        *[a.alias(name) for name, a in aggs.items()]
    )
    return out.select(
        *keys, F.col("_w.start").alias("window_start"), *aggs.keys()
    )


def group_transform_join(
    df: DataFrame,
    group_by: list[str],
    agg_col: str,
    funcs: list[str] = ("mean", "sum", "std", "min", "max"),
) -> DataFrame:
    """Skew-safe twin of :func:`group_transform`: whole-group statistics
    via ``groupBy`` (map-side PARTIAL aggregation pre-merges a hot
    entity inside every scan task — no single reducer ever holds the
    whole group) then joined back onto the rows. Identical output
    columns.

    Use this over the window form whenever the entity distribution is
    heavy-tailed: a whole-partition window must co-locate each entity
    in one task, which is exactly what a 10^7-turn conversation breaks.
    The statistics are broadcast back: one row per group is dim-sized."""
    name = "_".join(group_by)
    stats = df.groupBy(*group_by).agg(
        *[
            _AGGS[f](F.col(agg_col)).alias(f"{agg_col}_{name}_{f}")
            for f in funcs
        ]
    )
    return df.join(F.broadcast(stats), group_by, "left")


def _largest_group(df: DataFrame, entity: str) -> int:
    """Rows in the largest ``entity`` group (0 if none): one eager job."""
    return df.groupBy(entity).count().agg(F.max("count")).first()[0] or 0


def _pandas_per_entity(df, col, entity, order, out, series_fn) -> DataFrame:
    """``df`` plus double ``out``: pandas ``series_fn(col)`` per entity in ``order``."""
    order_cols = [order] if isinstance(order, str) else list(order)
    schema = T.StructType(df.schema.fields + [T.StructField(out, T.DoubleType(), True)])

    def fn(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        pdf[out] = series_fn(pdf[col])
        return pdf

    return df.groupBy(entity).applyInPandas(fn, schema)


def rolling_median(
    df: DataFrame,
    col: str,
    window_rows: int = 5,
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
    out: str | None = None,
    max_group_rows: int = 5_000_000,
) -> DataFrame:
    """Rolling MEDIAN — non-decomposable (no moment algebra, cannot be
    salted; SURVEY §7 hard-part 3), so it runs as ``applyInPandas`` per
    entity with exact ``pandas.rolling(min_periods=1).median()``
    semantics (linear interpolation on even windows).

    Guard: the largest entity is counted first (one cheap partial-agg
    job); groups beyond ``max_group_rows`` are refused with guidance
    instead of OOMing an executor — at that size pre-split by session
    or switch to an approximate sketch."""
    out = out or f"{col}_roll_median{window_rows}"
    biggest = _largest_group(df, entity)
    if biggest > max_group_rows:
        raise ValueError(
            f"largest {entity} group has {biggest} rows > max_group_rows="
            f"{max_group_rows}; pre-split by session_id or use an "
            "approximate rolling quantile before applyInPandas"
        )
    return _pandas_per_entity(
        df, col, entity, order, out, lambda s: s.rolling(window_rows, min_periods=1).median()
    )


def expanding_impute(
    df: DataFrame,
    cols: list[str],
    func: str = "mean",
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
) -> DataFrame:
    """Point-in-time imputation (SURVEY §2.3): fill nulls with the
    expanding PAST-ONLY statistic of the column within the entity —
    the leakage-free variant of global mean/median fill (a global
    statistic read at train time leaks future rows into past anchors).
    Frame ends at the PREVIOUS row, so the fill at an anchor never sees
    the anchor itself or anything after it."""
    if func not in ("mean", "min", "max", "last"):
        raise ValueError("expanding_impute supports mean/min/max/last")
    w = entity_window(entity, order).rowsBetween(Window.unboundedPreceding, -1)
    return df.withColumns(
        {c: F.coalesce(F.col(c), _AGGS[func](F.col(c)).over(w)) for c in cols}
    )


def context_window(
    df: DataFrame,
    text_col: str,
    n_prev: int = 3,
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
    sep: str = " | ",
    out: str = "context",
) -> DataFrame:
    """SFT-style context assembly: for every turn, the concatenation of
    the previous ``n_prev`` turns' ``text_col`` (oldest → newest) plus
    its size — the "conversation history" column a supervised-
    fine-tuning exporter attaches to each target turn.

    Leakage-free by construction: the frame is ``rows between -n_prev
    and -1`` — the anchor row and everything after it are outside the
    frame, satisfying the zero-temporal-leakage contract without a
    runtime guard. One shuffle on the entity key, shared with every
    other window feature in the job (same ``entity_window``).

    NULL texts participate as empty strings so the context width stays
    positional (turn 5 always sees turns 2-4), matching how a trainer
    pads missing turns rather than silently shifting history.
    """
    w = entity_window(entity, order).rowsBetween(-n_prev, -1)
    filled = F.coalesce(F.col(text_col), F.lit(""))
    return df.withColumns(
        {
            out: F.array_join(F.collect_list(filled).over(w), sep),
            f"{out}_n": F.count(F.lit(1)).over(w).cast("bigint"),
        }
    )


def resample(
    df: DataFrame,
    ts: str = "ts",
    every: str = "day",
    entity: str | None = None,
    aggs: dict[str, str] | None = None,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Downsample an event/turn stream into fixed calendar buckets
    (``date_trunc`` units: 'hour', 'day', 'week', ...), optionally per
    entity — the standard pandas ``resample('1D').agg(...)`` analog.

    ``aggs`` maps column → one of count/sum/avg/min/max; output
    columns are named ``{col}_{fn}``.  One ``groupBy`` with map-side
    partial aggregation; the bucket key is derived row-locally so the
    shuffle carries only (entity, bucket) partials.
    """
    aggs = aggs or {"*": "count"}
    _FNS = {"count": F.count, "sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max}
    keys = [F.date_trunc(every, F.col(ts)).alias(bucket_col)]
    if entity:
        keys.insert(0, F.col(entity))
    exprs = []
    for col, fn in aggs.items():
        if fn not in _FNS:
            raise ValueError(f"unsupported agg {fn!r}; use {sorted(_FNS)}")
        target = F.lit(1) if col == "*" else F.col(col)
        name = "n_rows" if col == "*" else f"{col}_{fn}"
        exprs.append(_FNS[fn](target).alias(name))
    return df.groupBy(*keys).agg(*exprs)


def rows_since_event(
    df: DataFrame,
    condition: Column,
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
    out: str = "rows_since_event",
) -> DataFrame:
    """Point-in-time "recency" feature: for each row, how many rows
    back the most recent PRIOR row satisfying ``condition`` sits
    (1 = the immediately preceding row; NULL when no prior row
    qualifies).  The workhorse behind features like "turns since the
    last tool error" or "turns since the user last changed topic".

    Leakage-free by construction: the frame ends at the PREVIOUS row,
    so a row never reads its own flag — the same frame contract as
    ``response_latency``.  Rides the shared ``partitionBy(entity)``
    sort; counting uses ``row_number`` (not the order column's
    values), so gaps or non-contiguous order values don't distort the
    distance.
    """
    w = entity_window(entity, order)
    rn = F.row_number().over(w)
    prior = F.max(F.when(condition, rn)).over(w.rowsBetween(Window.unboundedPreceding, -1))
    return df.withColumn(out, (rn - prior).cast("bigint"))


def with_pct_change(
    df: DataFrame,
    col: str,
    k: int = 1,
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
    out: str | None = None,
) -> DataFrame:
    """Per-entity relative change vs the value ``k`` rows back —
    pandas ``groupby().pct_change(k)`` semantics ((x - x_prev) /
    x_prev), except a zero previous value yields NULL rather than
    ±inf (documented deviation: infinities poison downstream scalers;
    the reference's own detect_infinite_values flags them as defects).
    Strictly past-only (``F.lag``) — leakage-free by construction.
    Pure window expression, one ``partitionBy(entity)`` exchange shared
    with any other feature on the same key."""
    out = out or f"{col}_pct_change{k}"
    prev = F.lag(col, k).over(entity_window(entity, order))
    return df.withColumn(
        out,
        F.when(
            prev.isNotNull() & (prev != 0), (F.col(col) - prev) / prev
        ).cast("double"),
    )


def with_ewma(
    df: DataFrame,
    col: str,
    alpha: float,
    entity: str = "conv_id",
    order: str | list[str] = "turn_idx",
    out: str | None = None,
    method: str = "prefix",
) -> DataFrame:
    """Per-entity exponentially weighted moving average — pandas
    ``groupby().ewm(alpha=alpha, adjust=True).mean()`` parity (the
    expanding/ewm-style smoothing the reference's pandas users reach
    for next to rolling means). Strictly past-inclusive (frame ends at
    the current row) — zero temporal leakage.

    ``method='prefix'`` (default for bounded entities): the adjusted
    EWMA telescopes —

        ewma_t = Σ_{i≤t} x_i (1-α)^(t-i) / Σ (1-α)^(t-i)
               = Σ x_i (1-α)^(-i) / Σ (1-α)^(-i)        (the (1-α)^t
                                                          cancels)

    so two cumulative window sums over ``pow(1-α, -row_number)`` give
    the exact value with ZERO Python — whole-stage codegen, one
    ``partitionBy(entity)`` exchange. Nulls are skipped from numerator
    and denominator while weights keep advancing on absolute position
    (pandas ``ignore_na=False``). Numerics: ``(1-α)^(-k)`` overflows
    double at k ≈ 709/ln(1/(1-α)) rows per entity (~2000 rows at
    α=0.3); beyond that the early terms are < 1 ulp of the true EWMA
    anyway, so ``method='pandas'`` switches to Arrow-batched
    ``applyInPandas`` running pandas' numerically-recursive ``ewm``
    per entity (the rolling_median pattern). ``method='auto'`` counts
    the largest entity and picks — note that probe is an EAGER extra
    aggregation job over the input at call time, a real cost at corpus
    scale, which is why it is opt-in rather than the default. In
    ``'prefix'`` mode rows deeper than the overflow horizon get a NULL
    ewma (deterministic and detectable — never an inf/inf NaN wobble);
    entities longer than ~700/ln(1/(1-α)) rows need ``'pandas'`` or
    ``'auto'``."""
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    if method not in ("auto", "prefix", "pandas"):
        raise ValueError("method must be auto|prefix|pandas")
    out = out or f"{col}_ewma"
    w = 1.0 - alpha
    k_max = int(700.0 / -math.log(w))
    if method == "auto":
        method = "prefix" if _largest_group(df, entity) <= k_max else "pandas"

    if method == "prefix":
        win = entity_window(entity, order)
        cum = win.rowsBetween(Window.unboundedPreceding, 0)
        k = F.row_number().over(win) - 1
        inv_w = F.pow(F.lit(1.0 / w), k)  # (1-α)^(-k)
        x = F.col(col).cast("double")
        num = F.sum(F.when(x.isNotNull(), x * inv_w)).over(cum)
        den = F.sum(F.when(x.isNotNull(), inv_w)).over(cum)
        # beyond the double-overflow horizon the weights are inf and
        # num/den would be an inf/inf NaN — emit NULL instead (row k
        # still has every earlier row's contribution only up to k_max)
        return df.withColumn(
            out, F.when(k <= F.lit(k_max), (num / den).cast("double"))
        )

    return _pandas_per_entity(
        df, col, entity, order, out, lambda s: s.ewm(alpha=alpha, adjust=True).mean()
    )
