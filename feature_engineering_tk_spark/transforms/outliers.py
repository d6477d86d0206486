"""Outlier detection & handling — reference §2.4
(``data_analysis.py:96-141``, ``preprocessing.py:274-421``).

- IQR: Q1/Q3 via EXACT quantiles (pandas linear interpolation, one
  range sort over all columns, ``operators.quantiles``),
  fence = [Q1 - k·IQR, Q3 + k·IQR], default k=1.5.
- zscore: |x-mean|/std > t, std ddof=1 (``stddev_samp``), zero-std
  columns skipped (never flagged).
- mad: robust z via the median absolute deviation — fence =
  median ± t·1.4826·MAD (1.4826 = 1/Φ⁻¹(0.75), the consistency
  constant that makes MAD estimate σ under normality).  Survives up
  to 50% contamination where mean/std (zscore) break down at ~0% and
  quartiles (IQR) at 25% — the right detector for corpus-quality
  columns with heavy junk tails.  Zero-MAD columns skipped like
  zero-std.  Extends the reference's iqr/zscore pair
  (data_analysis.py:96-141); fit is TWO range sorts (median pass,
  then |x−median| median pass), both exact quantiles.
- actions: remove (masks OR-combined across columns, applied once —
  the reference's single-pass optimization), cap (clamp at the fence),
  replace with median/mean/null.

zscore fit is one aggregate job; flag/handle are pure column
expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_engineering_tk_spark.operators.quantiles import exact_quantiles_many
from feature_engineering_tk_spark.transforms.state import FittedStateMixin


class OutlierDetector(FittedStateMixin):
    def __init__(self, method: str = "iqr", factor: float = 1.5, threshold: float = 3.0):
        if method not in ("iqr", "zscore", "mad"):
            from feature_engineering_tk_spark.exceptions import InvalidMethodError

            raise InvalidMethodError(method, ["iqr", "zscore", "mad"])
        self.method = method
        self.factor = factor  # IQR multiplier
        self.threshold = threshold  # zscore cutoff
        self.state_ = None

    def get_params(self):
        return {"method": self.method, "factor": self.factor, "threshold": self.threshold}

    def fit(self, df: DataFrame, columns: list[str]) -> "OutlierDetector":
        row, mads = {}, {}
        if self.method == "iqr":
            qs = exact_quantiles_many(df, {c: [0.25, 0.75] for c in columns})
            row = {f"{c}__{k}": q for c in columns for k, q in zip(("q1", "q3"), qs[c])}
        elif self.method == "mad":
            meds = exact_quantiles_many(df, {c: [0.5] for c in columns})
            row = {f"{c}__med": meds[c][0] for c in columns}
            # second range sort: median of |x − median| per column
            dev = {c: m[0] for c, m in meds.items() if m[0] is not None}
            if dev:
                absdev = df.select(*[F.abs(F.col(c) - F.lit(m)).alias(c) for c, m in dev.items()])
                got = exact_quantiles_many(absdev, {c: [0.5] for c in dev})
                mads = {f"{c}__mad": got[c][0] for c in dev}
        else:
            aggs = [F.avg(c).alias(f"{c}__m") for c in columns]
            aggs += [F.stddev_samp(c).alias(f"{c}__s") for c in columns]
            row = df.agg(*aggs).first().asDict()
        bounds = {}
        for c in columns:
            if self.method == "iqr":
                q1, q3 = row[f"{c}__q1"], row[f"{c}__q3"]
                if q1 is None or q3 is None:  # all-null skip
                    bounds[c] = None
                else:
                    iqr = q3 - q1
                    bounds[c] = {"lo": q1 - self.factor * iqr, "hi": q3 + self.factor * iqr}
            elif self.method == "mad":
                med = row[f"{c}__med"]
                mad = mads.get(f"{c}__mad")
                if med is None or not mad:  # all-null or zero-MAD skip
                    bounds[c] = None
                else:
                    half = self.threshold * 1.4826 * mad
                    bounds[c] = {"lo": med - half, "hi": med + half}
            else:
                m, s = row[f"{c}__m"], row[f"{c}__s"]
                if s is None or s == 0:
                    bounds[c] = None  # zero-std skip (reference data_analysis.py:132)
                else:
                    bounds[c] = {"lo": m - self.threshold * s, "hi": m + self.threshold * s}
        self.state_ = {"columns": list(columns), "bounds": bounds}
        return self

    def _mask(self, c: str):
        b = self.state_["bounds"][c]
        if b is None:
            return F.lit(False)
        return (F.col(c) < F.lit(b["lo"])) | (F.col(c) > F.lit(b["hi"]))

    def flag(self, df: DataFrame, columns: list[str] | None = None, suffix: str = "_is_outlier") -> DataFrame:
        self._require_fitted()
        cols = columns or self.state_["columns"]
        return df.withColumns({f"{c}{suffix}": self._mask(c).cast("int") for c in cols})

    def remove(self, df: DataFrame) -> DataFrame:
        """OR of per-column masks, one filter pass (preprocessing.py:326-327)."""
        self._require_fitted()
        mask = F.lit(False)
        for c in self.state_["columns"]:
            mask = mask | F.coalesce(self._mask(c), F.lit(False))
        return df.filter(~mask)

    def cap(self, df: DataFrame) -> DataFrame:
        """Clamp at the fence (preprocessing.py:375-386); int cols upcast
        to double first (pandas parity)."""
        self._require_fitted()
        upd = {}
        for c in self.state_["columns"]:
            b = self.state_["bounds"][c]
            if b is None:
                continue
            upd[c] = F.least(F.greatest(F.col(c).cast("double"), F.lit(b["lo"])), F.lit(b["hi"]))
        return df.withColumns(upd)

    def replace(self, df: DataFrame, replacement: dict[str, float] | None = None) -> DataFrame:
        """Outliers → replacement value per column (median/mean computed
        by the caller, or null) — preprocessing.py:388-401."""
        self._require_fitted()
        replacement = replacement or {}
        upd = {}
        for c in self.state_["columns"]:
            val = replacement.get(c)
            upd[c] = F.when(self._mask(c), F.lit(val)).otherwise(F.col(c).cast("double"))
        return df.withColumns(upd)
