"""Reference-shaped facade: the classes and method names a
``feature_engineering_tk`` user already knows, mapped onto the
distributed engine — switch the import, keep the call sites.

- :class:`DataPreprocessor`  — preprocessing.py surface
- :class:`FeatureEngineer`   — feature_engineering.py surface
- :class:`DataAnalyzer`      — data_analysis.py surface
(:class:`~feature_engineering_tk_spark.analysis.target.TargetAnalyzer`
and :class:`~feature_engineering_tk_spark.analysis.selection.FeatureSelector`
already carry their reference names.)

Differences from the reference, by design:
- the wrapped object is a Spark DataFrame; methods stay LAZY where the
  reference was eager (an op history entry records parameters, not row
  counts, unless the op itself had to run a job);
- ``inplace`` is gone — every method updates ``self.df`` and returns
  ``self`` for chaining; grab ``.df`` for the DataFrame;
- row order is partition order; the reference's positional-index
  semantics map to the stable ``(conv_id, turn_idx)`` ordering
  contract (``order=`` arguments on order-sensitive ops).
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_engineering_tk_spark.exceptions import (
    ColumnNotFoundError,
    InvalidStrategyError,
    TransformerNotFittedError,
)

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _numeric_cols(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, _NUMERIC_TYPES)]


def _string_cols(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]


def _require_columns(df: DataFrame, columns) -> None:
    for c in columns or []:
        if c not in df.columns:
            raise ColumnNotFoundError(c, df.columns)


class _Tracked:
    """Shared df + operation-history plumbing (reference base.py:28-39,
    preprocessing.py:1290-1425)."""

    def __init__(self, df: DataFrame):
        if not isinstance(df, DataFrame):
            raise TypeError("expected a pyspark DataFrame")
        self.df = df
        self.operation_history: list[dict] = []

    def _record(self, op: str, **params) -> None:
        self.operation_history.append({"operation": op, "params": params, "ts": time.time()})

    # -- reference export_summary (preprocessing.py:1427-1497) ----------
    def get_preprocessing_summary(self) -> str:
        lines = [f"{type(self).__name__} — {len(self.operation_history)} operations"]
        for i, h in enumerate(self.operation_history, 1):
            p = ", ".join(f"{k}={v!r}" for k, v in h["params"].items())
            lines.append(f"{i:3d}. {h['operation']}({p})")
        return "\n".join(lines)

    def export_summary(self, path: str, fmt: str = "text") -> str:
        if fmt == "json":
            content = json.dumps(self.operation_history, indent=2, default=str)
        else:
            content = self.get_preprocessing_summary()
        with open(path, "w") as f:
            f.write(content)
        return path


class DataPreprocessor(_Tracked):
    """preprocessing.py surface on Spark."""

    DESTRUCTIVE_OPERATION_THRESHOLD = 0.3  # preprocessing.py:50

    # -- missing values (preprocessing.py:95-221) -----------------------
    def handle_missing_values(
        self,
        strategy: str = "mean",
        columns: list[str] | None = None,
        fill_value=None,
        entity: str = "conv_id",
        order: str | list[str] = "turn_idx",
    ) -> "DataPreprocessor":
        from feature_engineering_tk_spark.transforms.impute import Imputer

        columns = columns or _numeric_cols(self.df)
        _require_columns(self.df, columns)
        imp = Imputer(strategy, fill_value, entity, order).fit(self.df, columns)
        self.df = imp.transform(self.df)
        self._record("handle_missing_values", strategy=strategy, columns=columns)
        return self

    # -- duplicates / outliers / clipping -------------------------------
    def remove_duplicates(self, subset=None, keep="first") -> "DataPreprocessor":
        from feature_engineering_tk_spark.operators.rows import remove_duplicates

        self.df = remove_duplicates(self.df, subset=subset, keep=keep)
        self._record("remove_duplicates", subset=subset, keep=keep)
        return self

    def handle_outliers(
        self,
        columns: list[str] | None = None,
        method: str = "iqr",
        action: str = "cap",
        factor: float = 1.5,
        threshold: float = 3.0,
        replacement: str = "median",
    ) -> "DataPreprocessor":
        from feature_engineering_tk_spark.operators.quantiles import exact_quantiles_many
        from feature_engineering_tk_spark.transforms.outliers import OutlierDetector

        columns = columns or _numeric_cols(self.df)
        det = OutlierDetector(method=method, factor=factor, threshold=threshold).fit(
            self.df, columns
        )
        if action == "remove":
            self.df = det.remove(self.df)
        elif action == "cap":
            self.df = det.cap(self.df)
        elif action == "replace":
            if replacement == "nan":
                repl = {}
            elif replacement == "mean":
                row = self.df.agg(*[F.avg(c).alias(c) for c in columns]).first()
                repl = {c: float(row[c]) for c in columns if row[c] is not None}
            else:
                qs = exact_quantiles_many(self.df, {c: [0.5] for c in columns})
                repl = {c: qs[c][0] for c in columns if qs[c][0] is not None}
            self.df = det.replace(self.df, repl)
        else:
            raise InvalidStrategyError(action, ["remove", "cap", "replace"])
        self._record("handle_outliers", columns=columns, method=method, action=action)
        return self

    def clip_values(self, column: str, lower=None, upper=None) -> "DataPreprocessor":
        from feature_engineering_tk_spark.operators.rows import clip_values

        self.df = clip_values(self.df, column, lower, upper)
        self._record("clip_values", column=column, lower=lower, upper=upper)
        return self

    # -- column hygiene --------------------------------------------------
    def remove_constant_columns(self, columns=None) -> "DataPreprocessor":
        from feature_engineering_tk_spark.operators.rows import remove_constant_columns

        before = set(self.df.columns)
        self.df = remove_constant_columns(self.df, columns)
        self._record("remove_constant_columns", removed=sorted(before - set(self.df.columns)))
        return self

    def remove_high_cardinality_columns(self, threshold: float = 0.95, columns=None) -> "DataPreprocessor":
        from feature_engineering_tk_spark.operators.rows import (
            remove_high_cardinality_columns,
        )

        before = set(self.df.columns)
        self.df = remove_high_cardinality_columns(self.df, columns, threshold)
        self._record(
            "remove_high_cardinality_columns",
            threshold=threshold,
            removed=sorted(before - set(self.df.columns)),
        )
        return self

    # -- row/column ops --------------------------------------------------
    def filter_rows(self, condition) -> "DataPreprocessor":
        from feature_engineering_tk_spark.operators.rows import filter_rows

        self.df = filter_rows(self.df, condition)
        self._record("filter_rows", condition=str(condition))
        return self

    def drop_columns(self, columns: list[str]) -> "DataPreprocessor":
        from feature_engineering_tk_spark.operators.rows import drop_columns

        self.df = drop_columns(self.df, columns)
        self._record("drop_columns", columns=columns)
        return self

    def rename_columns(self, mapping: dict[str, str]) -> "DataPreprocessor":
        from feature_engineering_tk_spark.operators.rows import rename_columns

        self.df = rename_columns(self.df, mapping)
        self._record("rename_columns", mapping=mapping)
        return self

    def reorder_columns(self, first: list[str]) -> "DataPreprocessor":
        from feature_engineering_tk_spark.operators.rows import reorder_columns

        self.df = reorder_columns(self.df, first)
        self._record("reorder_columns", first=first)
        return self

    def apply_custom_function(self, column: str, func, out=None, returnType="double") -> "DataPreprocessor":
        from feature_engineering_tk_spark.operators.rows import apply_custom_function

        self.df = apply_custom_function(self.df, column, func, out, returnType)
        self._record("apply_custom_function", column=column, out=out)
        return self

    def temporal_split(
        self,
        ts: str,
        val_start,
        test_start,
        embargo_seconds: float = 0.0,
        out: str = "split",
    ) -> "DataPreprocessor":
        from feature_engineering_tk_spark.operators.sampling import temporal_split

        self.df = temporal_split(
            self.df, ts, val_start, test_start, embargo_seconds=embargo_seconds, out=out
        )
        self._record(
            "temporal_split",
            ts=ts,
            val_start=val_start,
            test_start=test_start,
            embargo_seconds=embargo_seconds,
            out=out,
        )
        return self

    def sample_data(self, n=None, frac=None, seed: int = 42) -> "DataPreprocessor":
        from feature_engineering_tk_spark.operators.rows import sample_data

        self.df = sample_data(self.df, n=n, frac=frac, seed=seed)
        self._record("sample_data", n=n, frac=frac, seed=seed)
        return self

    # -- strings ---------------------------------------------------------
    def clean_string_columns(self, columns=None, operations=("strip", "lower")) -> "DataPreprocessor":
        from feature_engineering_tk_spark.functions.strings import clean_strings

        columns = columns or _string_cols(self.df)
        self.df = clean_strings(self.df, columns, list(operations))
        self._record("clean_string_columns", columns=columns, operations=list(operations))
        return self

    def handle_whitespace_variants(self, columns=None) -> "DataPreprocessor":
        from feature_engineering_tk_spark.functions.strings import (
            handle_whitespace_variants,
        )

        columns = columns or _string_cols(self.df)
        self.df = handle_whitespace_variants(self.df, columns)
        self._record("handle_whitespace_variants", columns=columns)
        return self

    def extract_string_length(self, columns=None, suffix: str = "_length") -> "DataPreprocessor":
        from feature_engineering_tk_spark.functions.strings import extract_string_length

        columns = columns or _string_cols(self.df)
        self.df = extract_string_length(self.df, columns, suffix)
        self._record("extract_string_length", columns=columns)
        return self

    # -- quality ---------------------------------------------------------
    def validate_data_quality(self, high_card_threshold: float = 0.95) -> dict:
        from feature_engineering_tk_spark.analysis.eda import validate_data_quality

        return validate_data_quality(self.df, high_card_threshold)

    def detect_infinite_values(self, columns=None) -> dict:
        from feature_engineering_tk_spark.operators.rows import detect_infinite_values

        return detect_infinite_values(self.df, columns or _numeric_cols(self.df))


class FeatureEngineer(_Tracked):
    """feature_engineering.py surface on Spark. Fitted transformers are
    kept in ``self.transformers`` / ``self.scalers`` / ``self.encoders``
    and persist/reload through ``save_transformers``/``load_transformers``."""

    def __init__(self, df: DataFrame):
        super().__init__(df)
        self.transformers: dict[str, object] = {}

    # aliases matching the reference attribute names
    @property
    def encoders(self):
        return {k: v for k, v in self.transformers.items() if "encode" in k}

    @property
    def scalers(self):
        return {k: v for k, v in self.transformers.items() if "scaler" in k}

    # -- encodings -------------------------------------------------------
    def encode_categorical_label(self, columns: list[str]) -> "FeatureEngineer":
        from feature_engineering_tk_spark.transforms.encode import LabelEncoder

        for c in columns:
            enc = LabelEncoder().fit(self.df, c)
            self.df = enc.transform(self.df)
            self.transformers[f"label_encode_{c}"] = enc
        self._record("encode_categorical_label", columns=columns)
        return self

    def encode_categorical_onehot(
        self, columns: list[str], drop_first: bool = False, dummy_na: bool = False
    ) -> "FeatureEngineer":
        from feature_engineering_tk_spark.transforms.encode import OneHotEncoder

        for c in columns:
            enc = OneHotEncoder(drop_first=drop_first, dummy_na=dummy_na).fit(self.df, c)
            self.df = enc.transform(self.df)
            self.transformers[f"onehot_encode_{c}"] = enc
        self._record("encode_categorical_onehot", columns=columns, drop_first=drop_first)
        return self

    def encode_categorical_ordinal(self, column: str, categories: list) -> "FeatureEngineer":
        from feature_engineering_tk_spark.transforms.encode import OrdinalEncoder

        enc = OrdinalEncoder(categories=categories).fit(self.df, column)
        self.df = enc.transform(self.df)
        self.transformers[f"ordinal_encode_{column}"] = enc
        self._record("encode_categorical_ordinal", column=column)
        return self

    def encode_categorical_count(
        self, columns: list[str], normalize: bool = False
    ) -> "FeatureEngineer":
        """Count/frequency encoding — the reference SUGGESTS this
        (target_analyzer/suggestions.py:173) but never implements it."""
        from feature_engineering_tk_spark.transforms.encode import CountEncoder

        for c in columns:
            enc = CountEncoder(normalize=normalize).fit(self.df, c)
            self.df = enc.transform(self.df)
            self.transformers[f"count_encode_{c}"] = enc
        self._record("encode_categorical_count", columns=columns, normalize=normalize)
        return self

    def encode_categorical_target(
        self, columns: list[str], target: str, smoothing: float = 10.0
    ) -> "FeatureEngineer":
        """Smoothed mean-target encoding (suggestions.py:173 'Target
        encode ...'). Fit-time leakage caveat applies — for
        point-in-time features use expanding_target_encode directly."""
        from feature_engineering_tk_spark.transforms.encode import TargetEncoder

        for c in columns:
            enc = TargetEncoder(smoothing=smoothing).fit(self.df, c, target)
            self.df = enc.transform(self.df)
            self.transformers[f"target_encode_{c}"] = enc
        self._record("encode_categorical_target", columns=columns, target=target)
        return self

    def encode_categorical_woe(
        self, columns: list[str], target: str, alpha: float = 0.5
    ) -> "FeatureEngineer":
        """Weight-of-evidence encoding vs a binary target; each fitted
        encoder's information value is kept on the transformer
        (``.iv_``) for selection decisions."""
        from feature_engineering_tk_spark.transforms.encode import WoEEncoder

        for c in columns:
            enc = WoEEncoder(alpha=alpha).fit(self.df, c, target)
            self.df = enc.transform(self.df)
            self.transformers[f"woe_encode_{c}"] = enc
        self._record("encode_categorical_woe", columns=columns, target=target)
        return self

    def encode_categorical_hashing(
        self,
        columns: list[str],
        n_buckets: int = 1 << 18,
        salt: str = "v1",
        hash_mode: str = "xxhash64",
    ) -> "FeatureEngineer":
        """Stateless feature hashing — the unbounded-cardinality
        encoder (no vocabulary fit, nothing to persist)."""
        from feature_engineering_tk_spark.transforms.encode import hashing_encode

        self.df = hashing_encode(
            self.df, columns, n_buckets=n_buckets, salt=salt, hash_mode=hash_mode
        )
        self._record("encode_categorical_hashing", columns=columns, n_buckets=n_buckets)
        return self

    def group_rare_categories(
        self,
        columns: list[str],
        min_count: int | None = None,
        min_freq: float | None = 0.01,
        other_token: str = "__other__",
    ) -> "FeatureEngineer":
        """Lump rare categories (suggestions.py:173 'group rare
        categories')."""
        from feature_engineering_tk_spark.transforms.encode import RareCategoryGrouper

        if min_count is not None:
            min_freq = None
        for c in columns:
            g = RareCategoryGrouper(
                min_count=min_count, min_freq=min_freq, other_token=other_token
            ).fit(self.df, c)
            self.df = g.transform(self.df)
            self.transformers[f"rare_group_{c}"] = g
        self._record("group_rare_categories", columns=columns, min_count=min_count,
                     min_freq=min_freq)
        return self

    def create_feature_cross(
        self, columns: list[str], out: str | None = None, hash_buckets: int | None = None
    ) -> "FeatureEngineer":
        """Crossed categorical interaction (suggestions.py:58)."""
        from feature_engineering_tk_spark.transforms.encode import feature_cross

        self.df = feature_cross(self.df, columns, out=out, hash_buckets=hash_buckets)
        self._record("create_feature_cross", columns=columns, hash_buckets=hash_buckets)
        return self

    def create_cyclical_features(
        self, column: str, features: list[str] | None = None
    ) -> "FeatureEngineer":
        """sin/cos encoding of cyclic datetime parts."""
        from feature_engineering_tk_spark.functions.datetime_features import cyclical_encode

        self.df = cyclical_encode(self.df, column, features=features)
        self._record("create_cyclical_features", column=column, features=features)
        return self

    # -- scaling ---------------------------------------------------------
    def scale_features(self, columns: list[str] | None = None, method: str = "standard") -> "FeatureEngineer":
        from feature_engineering_tk_spark.transforms.scale import Scaler

        columns = columns or _numeric_cols(self.df)
        _require_columns(self.df, columns)
        sc = Scaler(method=method).fit(self.df, columns)
        self.df = sc.transform(self.df)
        self.transformers[f"{method}_scaler"] = sc  # feature_engineering.py:285
        self._record("scale_features", columns=columns, method=method)
        return self

    def apply_power_transform(self, columns: list[str] | None = None) -> "FeatureEngineer":
        """Yeo-Johnson with grid-MLE λ (one aggregation pass scores the
        whole grid) — the skew fix suggest_transformations recommends."""
        from feature_engineering_tk_spark.transforms.scale import YeoJohnsonTransformer

        columns = columns or _numeric_cols(self.df)
        _require_columns(self.df, columns)
        tr = YeoJohnsonTransformer().fit(self.df, columns)
        self.df = tr.transform(self.df)
        self.transformers["yeojohnson_scaler"] = tr
        self._record("apply_power_transform", columns=columns,
                     lambdas=tr.state_["lambdas"])
        return self

    def apply_rank_transform(self, columns: list[str] | None = None) -> "FeatureEngineer":
        """Rank-to-uniform (midrank quantile transform, no global
        sort window)."""
        from feature_engineering_tk_spark.transforms.scale import rank_uniform

        columns = columns or _numeric_cols(self.df)
        _require_columns(self.df, columns)
        for c in columns:
            self.df = rank_uniform(self.df, c)
        self._record("apply_rank_transform", columns=columns)
        return self

    # -- constructors ----------------------------------------------------
    def create_polynomial_features(self, columns, degree: int = 2, interaction_only: bool = False) -> "FeatureEngineer":
        from feature_engineering_tk_spark.functions.numeric import polynomial_features

        self.df = polynomial_features(self.df, columns, degree, interaction_only)
        self._record("create_polynomial_features", columns=columns, degree=degree)
        return self

    def create_binning(self, column: str, bins=5, strategy: str = "quantile", out=None) -> "FeatureEngineer":
        from feature_engineering_tk_spark.transforms.binning import (
            EdgeBinner,
            QuantileBinner,
            UniformBinner,
        )

        if isinstance(bins, (list, tuple)):
            binner = EdgeBinner(edges=list(bins)).fit(self.df, column)
        elif strategy == "quantile":
            binner = QuantileBinner(bins=bins).fit(self.df, column)
        else:
            binner = UniformBinner(bins=bins).fit(self.df, column)
        self.df = binner.transform(self.df, out=out)
        self.transformers[f"binning_{column}"] = binner
        self._record("create_binning", column=column, bins=bins, strategy=strategy)
        return self

    def create_log_transform(self, columns: list[str]) -> "FeatureEngineer":
        from feature_engineering_tk_spark.functions.numeric import log_transform

        self.df = log_transform(self.df, columns)
        self._record("create_log_transform", columns=columns)
        return self

    def create_sqrt_transform(self, columns: list[str]) -> "FeatureEngineer":
        from feature_engineering_tk_spark.functions.numeric import sqrt_transform

        self.df = sqrt_transform(self.df, columns)
        self._record("create_sqrt_transform", columns=columns)
        return self

    def create_ratio_features(self, pairs, eps: float = 1e-8, names=None) -> "FeatureEngineer":
        from feature_engineering_tk_spark.functions.numeric import ratio_features

        self.df = ratio_features(self.df, pairs, eps, names)
        self._record("create_ratio_features", pairs=pairs)
        return self

    def create_flag_features(self, flags: dict) -> "FeatureEngineer":
        from feature_engineering_tk_spark.functions.numeric import flag_features

        self.df = flag_features(self.df, flags)
        self._record("create_flag_features", flags=list(flags))
        return self

    def create_datetime_features(self, column: str, features=None) -> "FeatureEngineer":
        from feature_engineering_tk_spark.functions.datetime_features import (
            datetime_features,
        )

        self.df = datetime_features(self.df, column, features)
        self._record("create_datetime_features", column=column, features=features)
        return self

    def create_aggregations(
        self,
        group_by: list[str],
        agg_col: str,
        funcs=("mean", "sum", "std", "min", "max"),
    ) -> "FeatureEngineer":
        from feature_engineering_tk_spark.operators.window_features import group_transform_join

        self.df = group_transform_join(self.df, group_by, agg_col, list(funcs))
        self._record("create_aggregations", group_by=group_by, agg_col=agg_col, funcs=list(funcs))
        return self

    def create_rolling_corr(
        self, x: str, y: str, window_rows: int = 10, **kw
    ) -> "FeatureEngineer":
        from feature_engineering_tk_spark.operators.window_features import rolling_corr

        self.df = rolling_corr(self.df, x, y, window_rows=window_rows, **kw)
        self._record("create_rolling_corr", x=x, y=y, window_rows=window_rows)
        return self

    def melt(self, id_vars: list[str], value_vars=None, **kw) -> "FeatureEngineer":
        from feature_engineering_tk_spark.operators.reshape import melt

        self.df = melt(self.df, id_vars, value_vars, **kw)
        self._record("melt", id_vars=id_vars, value_vars=value_vars)
        return self

    def pivot_agg(
        self, index: list[str], column: str, value: str, **kw
    ) -> "FeatureEngineer":
        from feature_engineering_tk_spark.operators.reshape import pivot_agg

        self.df = pivot_agg(self.df, index, column, value, **kw)
        self._record("pivot_agg", index=index, column=column, value=value)
        return self

    # -- persistence (feature_engineering.py:705-747) -------------------
    def save_transformers(self, path: str) -> str:
        from feature_engineering_tk_spark.transforms.state import save_transformers

        if not self.transformers:
            raise TransformerNotFittedError("encoder or scaler")
        save_transformers(self.transformers, path)
        self._record("save_transformers", path=path)
        return path

    def load_transformers(self, path: str) -> "FeatureEngineer":
        from feature_engineering_tk_spark.transforms.state import load_transformers

        self.transformers = load_transformers(path)
        self._record("load_transformers", path=path)
        return self


class DataAnalyzer:
    """data_analysis.py surface on Spark (read-only — no op history)."""

    def __init__(self, df: DataFrame):
        self.df = df

    def get_basic_info(self) -> dict:
        from feature_engineering_tk_spark.analysis.eda import get_basic_info

        return get_basic_info(self.df)

    def get_numeric_summary(self, columns=None):
        from feature_engineering_tk_spark.analysis.eda import get_numeric_summary

        return get_numeric_summary(self.df, columns)

    def get_categorical_summary(self, columns=None):
        from feature_engineering_tk_spark.analysis.eda import get_categorical_summary

        return get_categorical_summary(self.df, columns)

    def get_missing_summary(self):
        from feature_engineering_tk_spark.analysis.eda import get_missing_summary

        return get_missing_summary(self.df)

    def get_cardinality_info(self, columns=None, exact: bool = True):
        from feature_engineering_tk_spark.analysis.eda import get_cardinality_info

        return get_cardinality_info(self.df, columns, exact)

    def heavy_hitters(self, column: str, k: int = 20):
        from feature_engineering_tk_spark.operators.frequency import heavy_hitters

        return heavy_hitters(self.df, column, k)

    def frequency_spectrum(self, column: str):
        from feature_engineering_tk_spark.operators.frequency import frequency_spectrum

        return frequency_spectrum(self.df, column)

    def get_correlation_matrix(self, columns=None, method: str = "pearson"):
        from feature_engineering_tk_spark.analysis.eda import correlation_matrix

        return correlation_matrix(self.df, columns, method)

    def get_high_correlations(self, threshold: float = 0.7, columns=None):
        from feature_engineering_tk_spark.analysis.eda import get_high_correlations

        return get_high_correlations(self.df, threshold, columns)

    def calculate_vif(self, columns=None):
        from feature_engineering_tk_spark.analysis.eda import calculate_vif

        return calculate_vif(self.df, columns)

    def check_normality(self, column: str, method: str = "shapiro", alpha: float = 0.05) -> dict:
        """Reference check_normality surface (statistical_utils.py:39-181):
        shapiro | normaltest | anderson."""
        from feature_engineering_tk_spark.analysis.normality import check_normality

        return check_normality(self.df, column, method=method, alpha=alpha)

    def detect_outliers_iqr(self, column: str, factor: float = 1.5) -> DataFrame:
        from feature_engineering_tk_spark.transforms.outliers import OutlierDetector

        return OutlierDetector(method="iqr", factor=factor).fit(self.df, [column]).flag(
            self.df, [column]
        )

    def detect_outliers_zscore(self, column: str, threshold: float = 3.0) -> DataFrame:
        from feature_engineering_tk_spark.transforms.outliers import OutlierDetector

        return OutlierDetector(method="zscore", threshold=threshold).fit(
            self.df, [column]
        ).flag(self.df, [column])

    def detect_outliers_mad(self, column: str, threshold: float = 3.0) -> DataFrame:
        from feature_engineering_tk_spark.transforms.outliers import OutlierDetector

        return OutlierDetector(method="mad", threshold=threshold).fit(
            self.df, [column]
        ).flag(self.df, [column])

    def approx_distinct(self, column: str, by=None, **kw):
        from feature_engineering_tk_spark.operators.frequency import approx_distinct

        return approx_distinct(self.df, column, by=by, **kw)

    def detect_misclassified_categorical(
        self, max_unique: int = 20, max_ratio: float = 0.05
    ) -> list[dict]:
        """Numeric columns that look categorical (data_analysis.py:276-349):
        few distinct values AND tiny unique/total ratio AND integral
        values — one aggregate pass."""
        cols = _numeric_cols(self.df)
        if not cols:
            return []
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in cols:
            aggs += [
                F.countDistinct(c).alias(f"{c}__u"),
                F.sum((F.col(c) != F.floor(c)).cast("long")).alias(f"{c}__frac"),
            ]
        row = self.df.agg(*aggs).first()
        out = []
        for c in cols:
            u, n = row[f"{c}__u"], row["_n"] or 1
            if (
                u is not None
                and u <= max_unique
                and u / n < max_ratio
                and not (row[f"{c}__frac"] or 0)
            ):
                out.append({"column": c, "unique": u, "ratio": u / n})
        return out

    def suggest_binning(self, columns=None):
        from feature_engineering_tk_spark.analysis.suggest import suggest_binning

        return suggest_binning(self.df, columns or _numeric_cols(self.df))

    def quick_analysis(self):
        from feature_engineering_tk_spark.analysis.reports import quick_analysis

        return quick_analysis(self.df)

    # -- plots (data_analysis.py:445-550) — distributed aggregation →
    # PlotSpec; pass render=True for a matplotlib Figure (import-guarded)
    def plot_missing_values(self, render: bool = False, figsize=None, show: bool = False):
        from feature_engineering_tk_spark.analysis import viz as V

        spec = V.plot_missing_values(self.df)
        return V.render(spec, figsize, show) if render and spec else spec

    def plot_correlation_heatmap(
        self, method: str = "pearson", columns=None,
        render: bool = False, figsize=None, show: bool = False,
    ):
        from feature_engineering_tk_spark.analysis import viz as V

        spec = V.plot_correlation_heatmap(self.df, method, columns)
        return V.render(spec, figsize, show) if render and spec else spec

    def plot_distributions(
        self, columns=None, bins: int = 30,
        render: bool = False, figsize=None, show: bool = False,
    ):
        from feature_engineering_tk_spark.analysis import viz as V

        spec = V.plot_distributions(self.df, columns, bins)
        return V.render(spec, figsize, show) if render and spec else spec


class TranscriptAnalyzer:
    """Transcript-family surface (operators/transcripts.py) in the
    same class style as DataAnalyzer — one object over the canonical
    conversation table ``(conv_id, turn_idx, role, text, tool, ts)``.

    Beyond-reference scope: the reference toolkit has no transcript
    payload; this facade groups the engine's conversation QA /
    profiling / SFT-prep operators for discoverability.
    """

    def __init__(self, df: DataFrame):
        self.df = df

    def validate(self, **kw):
        from feature_engineering_tk_spark.operators.transcripts import (
            validate_transcripts,
        )

        return validate_transcripts(self.df, **kw)

    def stats(self, **kw):
        from feature_engineering_tk_spark.operators.transcripts import (
            conversation_stats,
        )

        return conversation_stats(self.df, **kw)

    def response_latency(self, **kw):
        from feature_engineering_tk_spark.operators.transcripts import (
            response_latency,
        )

        return response_latency(self.df, **kw)

    def tool_stats(self, **kw):
        from feature_engineering_tk_spark.operators.transcripts import tool_stats

        return tool_stats(self.df, **kw)

    def echo_rate(self, **kw):
        from feature_engineering_tk_spark.operators.transcripts import echo_rate

        return echo_rate(self.df, **kw)

    def dedup(self, **kw):
        from feature_engineering_tk_spark.operators.transcripts import (
            dedup_conversations,
        )

        return dedup_conversations(self.df, **kw)

    def loss_mask(self, **kw):
        from feature_engineering_tk_spark.operators.transcripts import loss_mask

        return loss_mask(self.df, **kw)

    def detect_loops(self, **kw):
        from feature_engineering_tk_spark.operators.transcripts import detect_loops

        return detect_loops(self.df, **kw)

    def near_loops(self, **kw):
        """Fuzzy (edit-distance) loop detection — catches paraphrase
        loops detect_loops' verbatim hashing misses."""
        from feature_engineering_tk_spark.operators.transcripts import near_loops

        return near_loops(self.df, **kw)

    def tool_roundtrip(self, **kw):
        from feature_engineering_tk_spark.operators.transcripts import (
            tool_roundtrip,
        )

        return tool_roundtrip(self.df, **kw)

    def sft_export(self, **kw):
        from feature_engineering_tk_spark.operators.transcripts import sft_export

        return sft_export(self.df, **kw)

    def merge_adjacent_turns(self, **kw) -> "TranscriptAnalyzer":
        """Repair role-alternation defects in place (returns a new
        analyzer over the merged table)."""
        from feature_engineering_tk_spark.operators.transcripts import (
            merge_adjacent_turns,
        )

        return TranscriptAnalyzer(merge_adjacent_turns(self.df, **kw))

    def pseudonymize(self, columns: list[str] | None = None, **kw) -> "TranscriptAnalyzer":
        """Tokenize identifier columns (default conv_id) for release."""
        from feature_engineering_tk_spark.operators.privacy import pseudonymize

        return TranscriptAnalyzer(pseudonymize(self.df, columns or ["conv_id"], **kw))

    def discounted_return(self, reward: str = "reward", **kw):
        from feature_engineering_tk_spark.operators.transcripts import (
            discounted_return,
        )

        return discounted_return(self.df, reward=reward, **kw)

    def prefix_sharing(self, k: int = 1, **kw):
        from feature_engineering_tk_spark.operators.transcripts import (
            prefix_sharing,
        )

        return prefix_sharing(self.df, k=k, **kw)

    def branch_points(self, **kw):
        from feature_engineering_tk_spark.operators.transcripts import branch_points

        return branch_points(self.df, **kw)

    def tool_transitions(self, **kw):
        from feature_engineering_tk_spark.operators.transcripts import (
            tool_transitions,
        )

        return tool_transitions(self.df, **kw)

    def fingerprint(self, cols: list[str] | None = None, **kw):
        """Order/partition-invariant snapshot checksum of the held
        transcript table (sources/tables.py dataset_fingerprint)."""
        from feature_engineering_tk_spark.sources.tables import dataset_fingerprint

        return dataset_fingerprint(self.df, cols, **kw)


class EvalSuite:
    """Eval-analytics surface (operators/evals.py + friends) in the
    facade style of DataAnalyzer/TranscriptAnalyzer: one object over a
    battle/sample table, grouping the arena, sampling-eval, and bias
    audits for discoverability."""

    def __init__(self, df: DataFrame):
        self.df = df

    def winrates(self, with_ci: bool = False, **kw):
        """Per-model battle records; ``with_ci=True`` appends Wilson
        score interval bounds on the winrate."""
        from feature_engineering_tk_spark.operators.evals import (
            model_winrates,
            proportion_ci,
        )

        wr = model_winrates(self.df, **kw)
        return proportion_ci(wr, "n_wins", "n_games") if with_ci else wr

    def mcnemar(self, **kw):
        """Paired two-model significance test on per-item outcomes."""
        from feature_engineering_tk_spark.operators.evals import mcnemar_test

        return mcnemar_test(self.df, **kw)

    def head_to_head(self, **kw):
        from feature_engineering_tk_spark.operators.evals import head_to_head

        return head_to_head(self.df, **kw)

    def bradley_terry(self, **kw):
        from feature_engineering_tk_spark.operators.evals import bradley_terry

        return bradley_terry(self.df, **kw)

    def position_bias(self, **kw):
        from feature_engineering_tk_spark.operators.evals import position_bias

        return position_bias(self.df, **kw)

    def length_bias(self, **kw):
        from feature_engineering_tk_spark.operators.evals import length_bias

        return length_bias(self.df, **kw)

    def pass_at_k(self, k: int = 1, **kw):
        from feature_engineering_tk_spark.operators.evals import pass_at_k

        return pass_at_k(self.df, k=k, **kw)

    def majority_vote(self, **kw):
        from feature_engineering_tk_spark.operators.evals import majority_vote

        return majority_vote(self.df, **kw)

    def best_of_n(self, **kw):
        from feature_engineering_tk_spark.operators.evals import best_of_n

        return best_of_n(self.df, **kw)

    def refusal_rate(self, **kw):
        from feature_engineering_tk_spark.operators.evals import refusal_rate

        return refusal_rate(self.df, **kw)

    def calibration(self, **kw):
        from feature_engineering_tk_spark.operators.evals import calibration_bins

        return calibration_bins(self.df, **kw)

    def qa_metrics(self, **kw):
        from feature_engineering_tk_spark.functions.text import qa_metrics

        return qa_metrics(self.df, **kw)

    def bleu(self, **kw):
        from feature_engineering_tk_spark.functions.text import bleu_score

        return bleu_score(self.df, **kw)

    def rouge(self, **kw):
        from feature_engineering_tk_spark.functions.text import rouge_n

        return rouge_n(self.df, **kw)

    def rouge_l(self, **kw):
        from feature_engineering_tk_spark.functions.text import rouge_l

        return rouge_l(self.df, **kw)

    def ngram_novelty(self, corpus: DataFrame, **kw):
        """Novelty of the held generations vs a reference ``corpus``."""
        from feature_engineering_tk_spark.functions.text import ngram_novelty

        return ngram_novelty(self.df, corpus, **kw)

    def roc_auc(self, score: str, label: str):
        from feature_engineering_tk_spark.analysis.classification import roc_auc

        return roc_auc(self.df, score, label)

    def roc_curve(self, score: str, label: str):
        from feature_engineering_tk_spark.analysis.classification import roc_curve

        return roc_curve(self.df, score, label)

    def average_precision(self, score: str, label: str):
        from feature_engineering_tk_spark.analysis.classification import (
            average_precision,
        )

        return average_precision(self.df, score, label)

    def confusion(self, score: str, label: str, threshold: float = 0.5):
        from feature_engineering_tk_spark.analysis.classification import (
            confusion_at_threshold,
        )

        return confusion_at_threshold(self.df, score, label, threshold)

    def log_loss(self, score: str, label: str, **kw):
        from feature_engineering_tk_spark.analysis.classification import log_loss_brier

        return log_loss_brier(self.df, score, label, **kw)

    def gains(self, score: str, label: str, n_buckets: int = 10):
        from feature_engineering_tk_spark.analysis.classification import gains_table

        return gains_table(self.df, score, label, n_buckets)

    def score_ks(self, score: str, label: str):
        from feature_engineering_tk_spark.analysis.classification import (
            score_separation_ks,
        )

        return score_separation_ks(self.df, score, label)

    def cohen_kappa(self, **kw):
        from feature_engineering_tk_spark.analysis.agreement import cohen_kappa

        return cohen_kappa(self.df, **kw)

    def fleiss_kappa(self, **kw):
        from feature_engineering_tk_spark.analysis.agreement import fleiss_kappa

        return fleiss_kappa(self.df, **kw)

    def krippendorff_alpha(self, **kw):
        from feature_engineering_tk_spark.analysis.agreement import krippendorff_alpha

        return krippendorff_alpha(self.df, **kw)

    def regression_metrics(self, pred: str, target: str):
        from feature_engineering_tk_spark.analysis.regression import regression_metrics

        return regression_metrics(self.df, pred, target)

    def residual_quantiles(self, pred: str, target: str, **kw):
        from feature_engineering_tk_spark.analysis.regression import residual_quantiles

        return residual_quantiles(self.df, pred, target, **kw)

    def multiclass_confusion(self, pred: str, label: str):
        from feature_engineering_tk_spark.analysis.classification import (
            multiclass_confusion,
        )

        return multiclass_confusion(self.df, pred, label)

    def multiclass_metrics(self, pred: str, label: str):
        from feature_engineering_tk_spark.analysis.classification import (
            multiclass_metrics,
        )

        return multiclass_metrics(self.df, pred, label)

    def ranking_metrics(self, **kw):
        from feature_engineering_tk_spark.analysis.ranking import ranking_metrics

        return ranking_metrics(self.df, **kw)

    def ranking_summary(self, **kw):
        from feature_engineering_tk_spark.analysis.ranking import ranking_summary

        return ranking_summary(self.df, **kw)
