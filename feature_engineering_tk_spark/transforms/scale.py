"""Scaling fit/transform — reference ``scale_features``
(``feature_engineering.py:226-292``).

Parity traps handled:
- 'standard' uses POPULATION std (sklearn StandardScaler ddof=0; the
  reference's tests assert ``std(ddof=0)==1``) → ``stddev_pop``.
- 'robust' uses EXACT quantiles with linear interpolation (sklearn
  RobustScaler) → one distributed range sort for the quartiles of
  every column (``operators.quantiles.exact_quantiles_many``), never
  ``percentile_approx`` unless ``exact=False``.

Scale path: a standard/minmax fit is ONE aggregate action over all
columns (map-side partial aggregation, tiny result to driver; the
row count rides in it for the empty-input check); transform is pure
column arithmetic with the fitted scalars folded in as literals —
fully codegen'd, no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_engineering_tk_spark.operators.quantiles import exact_quantiles_many
from feature_engineering_tk_spark.transforms.state import FittedStateMixin


class Scaler(FittedStateMixin):
    def __init__(self, method: str = "standard", exact: bool = True):
        if method not in ("standard", "minmax", "robust"):
            from feature_engineering_tk_spark.exceptions import InvalidMethodError

            raise InvalidMethodError(method, ["standard", "minmax", "robust"])
        self.method = method
        # exact=False: robust quantiles via percentile_approx — the
        # 100 TB refit path; parity-contract surfaces keep exact=True
        self.exact = exact
        self.state_ = None

    def get_params(self):
        return {"method": self.method, "exact": self.exact}

    def fit(self, df: DataFrame, columns: list[str]) -> "Scaler":
        if self.method == "robust" and self.exact:
            qs = exact_quantiles_many(df, {c: [0.25, 0.5, 0.75] for c in columns})
            # only an input with no non-null value can be empty
            empty = all(qs[c][1] is None for c in columns) and df.isEmpty()
            center = {c: qs[c][1] for c in columns}
            scale = {c: None if qs[c][1] is None else qs[c][2] - qs[c][0] for c in columns}
        else:
            aggs = [F.count(F.lit(1)).alias("__rows")]
            for c in columns:
                if self.method == "standard":
                    aggs += [F.avg(c).alias(f"{c}__m"), F.stddev_pop(c).alias(f"{c}__s")]
                elif self.method == "minmax":
                    aggs += [F.min(c).alias(f"{c}__m"), F.max(c).alias(f"{c}__s")]
                else:  # robust, approximate: median + IQR
                    m, q1, q3 = (F.percentile_approx(c, p, 10000) for p in (0.5, 0.25, 0.75))
                    aggs += [m.alias(f"{c}__m"), (q3 - q1).alias(f"{c}__s")]
            row = df.agg(*aggs).first()
            empty = row["__rows"] == 0
            center = {c: row[f"{c}__m"] for c in columns}
            scale = {c: row[f"{c}__s"] for c in columns}
        if empty:
            from feature_engineering_tk_spark.exceptions import EmptyDataFrameError

            raise EmptyDataFrameError("cannot fit scaler on empty DataFrame")
        self.state_ = {"columns": list(columns), "center": center, "scale": scale}
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        self._require_fitted()
        upd = {}
        for c in self.state_["columns"]:
            m, s = self.state_["center"][c], self.state_["scale"][c]
            if self.method == "minmax":
                denom = (s - m) or 1.0  # max-min; guard constant col
                upd[c] = (F.col(c) - F.lit(m)) / F.lit(denom)
            else:
                denom = s or 1.0
                upd[c] = (F.col(c) - F.lit(m)) / F.lit(denom)
        return df.withColumns(upd)

    def fit_transform(self, df: DataFrame, columns: list[str]) -> DataFrame:
        return self.fit(df, columns).transform(df)


def rank_uniform(df: DataFrame, column: str, out: str | None = None) -> DataFrame:
    """Rank-based transform to uniform [0, 1] — the distributed analog
    of sklearn's ``QuantileTransformer(output_distribution='uniform')``
    / the reference suggestion engine's "rank transform" advice for
    heavy-tailed features: ``u = (midrank - 1) / (n - 1)``, ties →
    midrank (equal inputs map to equal outputs, monotone by
    construction).

    Scale path: NO global sort-window over row data — midranks come
    from ``analysis.stats._average_ranks`` (groupBy on the distinct
    values + range-partitioned prefix sum), joined back on the value
    key. The join shuffles on the value — the same shape the
    Kruskal-Wallis rank machinery already ships at 10^12 rows."""
    from feature_engineering_tk_spark.analysis.stats import _average_ranks

    out = out or f"{column}_rank_uniform"
    d = df.withColumn("__rv", F.col(column).cast("double"))
    nonnull = d.filter(F.col("__rv").isNotNull())
    n = nonnull.count()
    if n < 2:
        from feature_engineering_tk_spark.exceptions import InsufficientDataError

        raise InsufficientDataError("rank_uniform", 2, n)
    ranks = _average_ranks(nonnull, "__rv").withColumnRenamed("_v", "__rv")
    return (
        d.join(ranks.select("__rv", "_avg_rank"), "__rv", "left")
        .withColumn(out, ((F.col("_avg_rank") - 1.0) / F.lit(float(n - 1))).cast("double"))
        .drop("__rv", "_avg_rank")
    )


def _yeo_johnson_expr(x, lam: float):
    """ψ_λ(x) column expression (Yeo & Johnson 2000, eq. 2.1): the
    λ=0 / λ=2 singular branches are resolved Python-side from the
    literal λ, so the generated plan carries no degenerate pow()."""
    if abs(lam) > 1e-12:
        pos = (F.pow(x + 1.0, F.lit(lam)) - 1.0) / F.lit(lam)
    else:
        pos = F.log1p(x)
    if abs(2.0 - lam) > 1e-12:
        neg = -(F.pow(1.0 - x, F.lit(2.0 - lam)) - 1.0) / F.lit(2.0 - lam)
    else:
        neg = -F.log1p(-x)
    return F.when(x >= 0, pos).otherwise(neg)


class YeoJohnsonTransformer(FittedStateMixin):
    """Yeo-Johnson power transform (sklearn
    ``PowerTransformer(method='yeo-johnson', standardize=False)``
    semantics) — the sign-safe Box-Cox the reference's
    suggest_transformations points users toward for skewed features
    with negatives (``target_analyzer/suggestions.py``), implemented
    distributed.

    λ is fitted by profile maximum likelihood over an explicit grid:

        LL(λ) = -n/2 · ln σ²(ψ_λ(x)) + (λ-1) Σ sign(x)·ln(1+|x|)

    Scale design: ONE aggregation pass computes Σψ and Σψ² for EVERY
    grid λ simultaneously (2·|grid| map-side-combined agg columns per
    fitted column, aggregate-sized result to the driver) plus the
    λ-free penalty term — the corpus is scanned once no matter how
    fine the grid; argmax happens on the driver. transform is pure
    column arithmetic with the fitted λ folded in as a literal."""

    def __init__(self, grid: list[float] | None = None):
        self.grid = list(grid) if grid is not None else [
            round(-2.0 + 0.1 * i, 10) for i in range(41)
        ]
        self.state_ = None

    def get_params(self):
        return {"grid": self.grid}

    def fit(self, df: DataFrame, columns: list[str]) -> "YeoJohnsonTransformer":
        import math

        aggs = []
        for c in columns:
            x = F.col(c).cast("double")
            aggs += [
                F.count(x).alias(f"{c}__n"),
                F.sum(F.signum(x) * F.log1p(F.abs(x))).alias(f"{c}__pen"),
            ]
            for j, lam in enumerate(self.grid):
                psi = _yeo_johnson_expr(x, lam)
                aggs += [
                    F.sum(psi).alias(f"{c}__s{j}"),
                    F.sum(psi * psi).alias(f"{c}__q{j}"),
                ]
        row = df.agg(*aggs).first()
        lambdas = {}
        for c in columns:
            n = row[f"{c}__n"]
            if not n or n < 2:
                from feature_engineering_tk_spark.exceptions import InsufficientDataError

                raise InsufficientDataError(f"yeo-johnson fit ({c})", 2, int(n or 0))
            pen = row[f"{c}__pen"]
            best_lam, best_ll = None, -math.inf
            for j, lam in enumerate(self.grid):
                s, q = row[f"{c}__s{j}"], row[f"{c}__q{j}"]
                var = q / n - (s / n) ** 2
                if var <= 0:
                    continue
                ll = -0.5 * n * math.log(var) + (lam - 1.0) * pen
                if ll > best_ll:
                    best_lam, best_ll = lam, ll
            if best_lam is None:
                raise ValueError(f"degenerate column {c}: zero variance under every grid λ")
            lambdas[c] = best_lam
        self.state_ = {"columns": list(columns), "lambdas": lambdas}
        return self

    def transform(self, df: DataFrame, suffix: str = "_yj") -> DataFrame:
        self._require_fitted()
        cols = {
            f"{c}{suffix}": _yeo_johnson_expr(F.col(c).cast("double"), lam).cast("double")
            for c, lam in self.state_["lambdas"].items()
        }
        return df.withColumns(cols)

    def fit_transform(self, df: DataFrame, columns: list[str], suffix: str = "_yj") -> DataFrame:
        return self.fit(df, columns).transform(df, suffix=suffix)


def yeo_johnson_transform(
    df: DataFrame, column: str, lam: float, out: str | None = None
) -> DataFrame:
    """Yeo-Johnson with an explicit λ (no fit) — the transform half of
    :class:`YeoJohnsonTransformer` for callers that carry a λ fitted
    elsewhere (e.g. on a training cutoff snapshot)."""
    out = out or f"{column}_yj"
    return df.withColumn(
        out, _yeo_johnson_expr(F.col(column).cast("double"), lam).cast("double")
    )
