"""Missing-value imputation — reference ``handle_missing_values``
(``preprocessing.py:95-221``), 8 strategies.

Global strategies (mean/median/mode/fill_value) are fit/transform:
fit = one aggregate job for mean; median = one range sort over all
the columns (``operators.quantiles.exact_quantiles_many``: exact order
statistics, pandas linear interpolation, no task ever holds a whole
column's distinct values); mode = smallest value among max-count ties,
pandas ``mode()[0]`` parity. Transform = ``na.fill``
with the fitted scalars. Sequence strategies (forward/backward fill,
interpolate) delegate to the window operators (per-entity, ordered).

Point-in-time variant: ``fit`` on a training snapshot (e.g. rows with
``ts <= cutoff``), persist, ``transform`` everywhere — never fit on
data the anchor row couldn't have seen.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_engineering_tk_spark.operators import window_features as W
from feature_engineering_tk_spark.transforms.state import FittedStateMixin

# reference preprocessing.py:50
DESTRUCTIVE_OPERATION_THRESHOLD = 0.3

_GLOBAL = ("mean", "median", "mode", "fill_value")
_SEQUENCE = ("forward_fill", "backward_fill", "interpolate")


class Imputer(FittedStateMixin):
    def __init__(
        self,
        strategy: str = "mean",
        fill_value=None,
        entity: str = "conv_id",
        order: str | list[str] = "turn_idx",
    ):
        if strategy not in _GLOBAL + _SEQUENCE + ("drop",):
            from feature_engineering_tk_spark.exceptions import InvalidStrategyError

            raise InvalidStrategyError(strategy, list(_GLOBAL + _SEQUENCE + ("drop",)))
        self.strategy = strategy
        self.fill_value = fill_value
        self.entity = entity
        self.order = order
        self.state_ = None

    def get_params(self):
        return {
            "strategy": self.strategy,
            "fill_value": self.fill_value,
            "entity": self.entity,
            "order": self.order,
        }

    def fit(self, df: DataFrame, columns: list[str]) -> "Imputer":
        if self.strategy == "mean":
            row = df.agg(*[F.avg(c).alias(c) for c in columns]).first()
            fills = {c: row[c] for c in columns}
        elif self.strategy == "median":
            from feature_engineering_tk_spark.operators.quantiles import exact_quantiles_many

            # exact order statistics, linear interpolation == pandas median
            qs = exact_quantiles_many(df, {c: [0.5] for c in columns})
            fills = {c: qs[c][0] for c in columns}
        elif self.strategy == "mode":
            # pandas mode()[0]: smallest value among max-count ties —
            # one shuffle per column on the (value,count) pairs only
            fills = {}
            for c in columns:
                top = (
                    df.filter(F.col(c).isNotNull())
                    .groupBy(c)
                    .count()
                    .orderBy(F.col("count").desc(), F.col(c).asc())
                    .first()
                )
                fills[c] = None if top is None else top[c]
        elif self.strategy == "fill_value":
            if self.fill_value is None:
                raise ValueError("fill_value strategy requires fill_value")
            fills = {c: self.fill_value for c in columns}
        else:
            fills = {}
        self.state_ = {"columns": list(columns), "fills": fills}
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        self._require_fitted()
        cols = self.state_["columns"]
        if self.strategy in _GLOBAL:
            fills = {c: v for c, v in self.state_["fills"].items() if v is not None}
            return df.na.fill(fills)
        if self.strategy == "drop":
            before = df.count()
            out = df.na.drop(subset=cols)
            removed = before - out.count()
            if before and removed / before > DESTRUCTIVE_OPERATION_THRESHOLD:
                warnings.warn(
                    f"drop removed {removed / before:.0%} of rows "
                    f"(> {DESTRUCTIVE_OPERATION_THRESHOLD:.0%} threshold)"
                )
            return out
        if self.strategy == "forward_fill":
            return W.forward_fill(df, cols, self.entity, self.order)
        if self.strategy == "backward_fill":
            return W.backward_fill(df, cols, self.entity, self.order, allow_future=True)
        if self.strategy == "interpolate":
            return W.interpolate_linear(df, cols, self.entity, self.order)
        raise AssertionError(self.strategy)

    def fit_transform(self, df: DataFrame, columns: list[str]) -> DataFrame:
        return self.fit(df, columns).transform(df)
