"""Row/column structural operators (reference SURVEY §2.2).

Each maps a ``DataPreprocessor`` method to its declarative Spark form
so Catalyst can push/prune/fold; citations point at the reference
implementation whose semantics are reproduced.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# reference preprocessing.py:50
DESTRUCTIVE_OPERATION_THRESHOLD = 0.3

STABLE_ORDER = ("conv_id", "turn_idx")


def unused_name(columns: list[str], base: str) -> str:
    """``base``, prefixed with underscores until it names none of
    ``columns`` (compared case-insensitively, as Spark resolves them):
    a temp column that never overwrites a caller's."""
    taken = {c.lower() for c in columns}
    while base.lower() in taken:
        base = "_" + base
    return base


def filter_rows(df: DataFrame, predicate: Column | str) -> DataFrame:
    """reference preprocessing.py:610-654 — boolean-mask filter; the
    callable form maps to a Column expression (never per-row Python)."""
    return df.filter(predicate)


def drop_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """reference preprocessing.py:656-694 — missing columns skipped
    with a warning."""
    missing = [c for c in columns if c not in df.columns]
    if missing:
        warnings.warn(f"columns not found, skipping: {missing}")
    return df.drop(*[c for c in columns if c in df.columns])


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """reference preprocessing.py:696-729."""
    return df.withColumnsRenamed(mapping)


def reorder_columns(df: DataFrame, first: list[str]) -> DataFrame:
    """reference preprocessing.py:731-770 — listed first, rest keep
    their relative order."""
    rest = [c for c in df.columns if c not in first]
    return df.select(*first, *rest)


def remove_duplicates(
    df: DataFrame,
    subset: list[str] | None = None,
    keep: str = "first",
    order: tuple[str, ...] = STABLE_ORDER,
) -> DataFrame:
    """reference preprocessing.py:223-272 — pandas ``drop_duplicates``
    semantics. pandas 'first' means first in row order; Spark needs an
    explicit order, supplied by the stable (conv_id, turn_idx) key.

    keep='any' uses ``dropDuplicates`` (no sort, cheapest — use when
    which-row doesn't matter); 'first'/'last' use a row_number window;
    keep=False drops every duplicated row (count window).
    """
    subset = subset or df.columns
    if keep == "any":
        return df.dropDuplicates(subset)
    w = Window.partitionBy(*subset)
    if keep == "first":
        rank = F.row_number().over(w.orderBy(*[F.col(c).asc() for c in order]))
    elif keep == "last":
        rank = F.row_number().over(w.orderBy(*[F.col(c).desc() for c in order]))
    elif keep is False or keep == "none":
        rank = F.count(F.lit(1)).over(w)
    else:
        raise ValueError(f"keep must be 'first'|'last'|'any'|False, got {keep!r}")
    tmp = unused_name(df.columns, "_rn")
    return df.withColumn(tmp, rank).filter(F.col(tmp) == 1).drop(tmp)


def remove_constant_columns(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """reference preprocessing.py:520-559 — drop cols with
    ``nunique() <= 1``; pandas nunique drops NaN, so an all-null or
    single-valued-plus-nulls column counts as constant. One aggregate
    pass over all candidate columns (single job)."""
    cols = columns or df.columns
    counts = df.agg(
        *[F.countDistinct(F.col(c)).alias(c) for c in cols]
    ).first()
    drop = [c for c in cols if counts[c] <= 1]
    return df.drop(*drop)


def remove_high_cardinality_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    threshold: float = 0.95,
    exact: bool = True,
) -> DataFrame:
    """reference preprocessing.py:561-608 — drop cols whose
    unique/total ratio ≥ threshold. ``exact=False`` switches to
    ``approx_count_distinct`` for the 100 TB path (HLL, no shuffle of
    distinct values); exact matches the reference at test scale."""
    cols = columns or df.columns
    cd = F.countDistinct if exact else F.approx_count_distinct
    row = df.agg(
        F.count(F.lit(1)).alias("_n"), *[cd(F.col(c)).alias(c) for c in cols]
    ).first()
    n = row["_n"] or 1
    drop = [c for c in cols if row[c] / n >= threshold]
    return df.drop(*drop)


def clip_values(
    df: DataFrame, column: str, lower: float | None = None, upper: float | None = None
) -> DataFrame:
    """reference preprocessing.py:473-518 — clamp to [lower, upper]."""
    c = F.col(column)
    if lower is not None:
        c = F.greatest(c, F.lit(lower))
    if upper is not None:
        c = F.least(c, F.lit(upper))
    return df.withColumn(column, F.when(F.col(column).isNull(), F.col(column)).otherwise(c))


def sample_data(
    df: DataFrame,
    n: int | None = None,
    frac: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """reference preprocessing.py:857-908. Spark sampling is
    per-partition Bernoulli — fraction-based is the scalable path;
    exact-n is implemented as rand-sort + limit (full shuffle of the
    sampled candidates only)."""
    if frac is not None:
        return df.sample(fraction=frac, seed=seed)
    if n is not None:
        return df.orderBy(F.rand(seed)).limit(n)
    raise ValueError("provide n or frac")


def detect_infinite_values(df: DataFrame, columns: list[str]) -> dict[str, int]:
    """reference preprocessing.py:1196-1229 — count ±inf per numeric
    column in one aggregate pass."""
    inf = float("inf")
    row = df.agg(
        *[
            F.sum(
                ((F.col(c) == F.lit(inf)) | (F.col(c) == F.lit(-inf))).cast("long")
            ).alias(c)
            for c in columns
        ]
    ).first()
    return {c: int(row[c] or 0) for c in columns}


def replace_infinite_values(
    df: DataFrame, columns: list[str], value: float | None = None
) -> DataFrame:
    """reference preprocessing.py:1179-1188 — ±inf → value (default
    null, so downstream imputation treats them as missing)."""
    inf = float("inf")
    return df.withColumns(
        {
            c: F.when(
                (F.col(c) == F.lit(inf)) | (F.col(c) == F.lit(-inf)), F.lit(value)
            ).otherwise(F.col(c))
            for c in columns
        }
    )


def create_missing_indicators(
    df: DataFrame, columns: list[str], suffix: str = "_was_missing"
) -> DataFrame:
    """reference preprocessing.py:1231-1286 — 0/1 int indicator."""
    return df.withColumns(
        {f"{c}{suffix}": F.col(c).isNull().cast("int") for c in columns}
    )


def stable_sort(df: DataFrame, order: tuple[str, ...] = STABLE_ORDER) -> DataFrame:
    """The per-row text-equality contract is defined 'under stable
    (conv_id, turn_idx) ordering' — a total sort for verification paths;
    production writes use sortWithinPartitions (no extra exchange)."""
    return df.orderBy(*order)


def apply_custom_function(df: DataFrame, column: str, func, out: str | None = None, returnType: str = "double") -> DataFrame:
    """reference ``apply_custom_function`` (preprocessing.py:772-824):
    user function over one column. ALWAYS a vectorized Series→Series
    pandas UDF (Arrow batches) — never per-row Python ``udf`` (north-
    rule prohibition; ~10-100x slower)."""
    from pyspark.sql.functions import pandas_udf

    wrapped = pandas_udf(func, returnType=returnType)
    return df.withColumn(out or column, wrapped(F.col(column)))
