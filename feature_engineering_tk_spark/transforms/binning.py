"""Binning — reference ``create_binning``
(``feature_engineering.py:370-442``) with pandas edge semantics:

- quantile (``pd.qcut(q, duplicates='drop')``): EXACT quantile edges
  (linear interpolation, one range sort in
  ``operators.quantiles``), duplicate edges dropped, intervals
  ``(lo, hi]`` with the minimum included in bin 0, integer codes.
- uniform (``pd.cut(bins=k)``): ``linspace(min, max, k+1)`` edges with
  the left edge widened by 0.1% of the range, right-closed intervals.
- explicit edges (``pd.cut(bins=[...])``): values outside → null.

Codes are computed as ``Σ (v > edge_i)`` over interior edges — a pure
column expression (codegen, no UDF, no shuffle after the fit job).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feature_engineering_tk_spark.transforms.state import FittedStateMixin


def _code_expr(col: Column, edges: list[float]) -> Column:
    """Bin index for (lo,hi] intervals over sorted edges; null outside."""
    lo, hi = edges[0], edges[-1]
    interior = edges[1:-1]
    code = sum([(col > F.lit(e)).cast("int") for e in interior], F.lit(0))
    return F.when((col > F.lit(lo)) & (col <= F.lit(hi)), code)


class QuantileBinner(FittedStateMixin):
    """pd.qcut parity. ``bins`` = number of quantile bins.
    ``exact=False`` switches edge fitting to Greenwald-Khanna
    approximate quantiles (one pass, no sort shuffle) — the 100 TB
    refit path; bin EDGES then deviate by a bounded rank error and
    qcut parity no longer holds bit-for-bit."""

    def __init__(self, bins: int = 4, exact: bool = True):
        self.bins = bins
        self.exact = exact
        self.state_ = None

    def get_params(self):
        return {"bins": self.bins, "exact": self.exact}

    def fit(self, df: DataFrame, column: str) -> "QuantileBinner":
        from feature_engineering_tk_spark.operators.quantiles import (
            approx_quantiles,
            exact_quantiles,
        )

        # pd.qcut builds probabilities with np.linspace(0, 1, q+1),
        # whose interior points differ from i/q by one ulp (0.2*3 =
        # 0.6000000000000001 ≠ 3/5) — on tied data that ulp moves the
        # interpolated edge and relabels whole bins. Replicate it.
        import numpy as np

        probs = np.linspace(0.0, 1.0, self.bins + 1).tolist()
        if self.exact:
            # distributed range sort: exact, no single-reducer buffer
            qs = exact_quantiles(df, column, probs)
        else:
            qs = approx_quantiles(df, column, probs)
        edges = list(dict.fromkeys(qs))  # duplicates='drop', order-preserving
        if len(edges) < 2:
            from feature_engineering_tk_spark.exceptions import ConstantColumnError

            raise ConstantColumnError(column, "quantile binning")
        self.state_ = {"column": column, "edges": edges}
        return self

    def transform(self, df: DataFrame, out: str | None = None) -> DataFrame:
        self._require_fitted()
        column = self.state_["column"]
        edges = self.state_["edges"]
        out = out or f"{column}_binned"
        # qcut includes the minimum: pandas widens the lowest edge by 0.1%
        lo_adj = edges[0] - abs(edges[0]) * 0.001 if edges[0] != 0 else -0.001
        return df.withColumn(out, _code_expr(F.col(column), [lo_adj] + edges[1:]))


class UniformBinner(FittedStateMixin):
    """pd.cut(bins=k) parity."""

    def __init__(self, bins: int = 4):
        self.bins = bins
        self.state_ = None

    def get_params(self):
        return {"bins": self.bins}

    def fit(self, df: DataFrame, column: str) -> "UniformBinner":
        row = df.agg(F.min(column).alias("lo"), F.max(column).alias("hi")).first()
        lo, hi = float(row["lo"]), float(row["hi"])
        if lo == hi:
            from feature_engineering_tk_spark.exceptions import ConstantColumnError

            raise ConstantColumnError(column, "uniform binning")
        step = (hi - lo) / self.bins
        edges = [lo + i * step for i in range(self.bins)] + [hi]
        self.state_ = {"column": column, "edges": edges, "range": hi - lo}
        return self

    def transform(self, df: DataFrame, out: str | None = None) -> DataFrame:
        self._require_fitted()
        column = self.state_["column"]
        edges = list(self.state_["edges"])
        out = out or f"{column}_binned"
        # pandas cut widens the left edge by 0.1% of the range
        edges[0] = edges[0] - self.state_["range"] * 0.001
        return df.withColumn(out, _code_expr(F.col(column), edges))


class EdgeBinner(FittedStateMixin):
    """pd.cut(bins=[e0,...,ek]) parity: explicit edges, outside → null."""

    def __init__(self, edges: list[float] | None = None):
        self.edges = edges
        self.state_ = None

    def get_params(self):
        return {"edges": self.edges}

    def fit(self, df: DataFrame, column: str) -> "EdgeBinner":
        if not self.edges or len(self.edges) < 2:
            raise ValueError("EdgeBinner requires >= 2 edges")
        self.state_ = {"column": column, "edges": [float(e) for e in self.edges]}
        return self

    def transform(self, df: DataFrame, out: str | None = None) -> DataFrame:
        self._require_fitted()
        column = self.state_["column"]
        out = out or f"{column}_binned"
        return df.withColumn(out, _code_expr(F.col(column), self.state_["edges"]))
