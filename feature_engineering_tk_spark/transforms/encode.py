"""Categorical encoders — reference §2.5.

- :class:`LabelEncoder` — ``encode_categorical_label``
  (``feature_engineering.py:55-112``): codes are the rank of the value
  in the LEXICOGRAPHICALLY SORTED unique non-null values (sklearn
  LabelEncoder convention, NOT frequency order); nulls stay null and
  upcast the column to double (pandas float64-on-NaN parity).
- :class:`OneHotEncoder` — ``encode_categorical_onehot``
  (``feature_engineering.py:114-184``): one int 0/1 column
  ``{prefix}_{value}`` per category in sorted order, original column
  dropped, ``drop_first`` skips the first, ``dummy_na`` adds a null
  indicator; warns above 100 categories (reference threshold).
- :class:`OrdinalEncoder` — ``encode_categorical_ordinal``
  (``feature_engineering.py:186-224``): explicit ordered category list,
  unknown → -1, double output (sklearn OrdinalEncoder parity).

The reference's suggestion engine tells users to "Target encode or
group rare categories" for high-cardinality columns
(``target_analyzer/suggestions.py:58,173``) but never implements
either — this module closes that gap as first-class fitted encoders:

- :class:`CountEncoder` — count / frequency encoding.
- :class:`TargetEncoder` — smoothed (m-estimate) mean-target encoding,
  plus :func:`expanding_target_encode`, the leakage-free point-in-time
  variant (each row sees only STRICTLY EARLIER rows of its category).
- :class:`RareCategoryGrouper` — lump categories under a count /
  frequency floor into a single ``__other__`` token.
- :func:`feature_cross` — crossed categorical interactions
  (optionally hashed to a bounded bucket count).

Scale: vocabularies are fitted with one ``distinct()`` action (bounded
by the high-cardinality warning; sorted on the driver) and applied as
literal map expressions — no join, no shuffle on the big table. For vocabularies too large for a
literal map, ``transform`` falls back to a broadcast join.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feature_engineering_tk_spark.transforms.state import FittedStateMixin

# reference feature_engineering.py:42
HIGH_CARDINALITY_WARNING_THRESHOLD = 100
_MAP_EXPR_MAX = 1000  # above this, use broadcast join instead of literal map


def _fit_vocab(df: DataFrame, column: str) -> tuple[list[str], bool]:
    """Sorted distinct non-null values of ``column`` (as strings) and
    whether it holds a NULL — one ``distinct().collect()``. Python's
    code-point order equals Spark's UTF-8 byte order for strings, so
    the driver-side sort is ``orderBy``'s order without a range sort."""
    rows = df.select(F.col(column).cast("string").alias("v")).distinct().collect()
    vals = [r["v"] for r in rows]
    return sorted(v for v in vals if v is not None), None in vals


class LabelEncoder(FittedStateMixin):
    def __init__(self):
        self.state_ = None

    def fit(self, df: DataFrame, column: str) -> "LabelEncoder":
        vocab, has_null = _fit_vocab(df, column)
        self.state_ = {"column": column, "vocab": vocab, "has_null": has_null}
        return self

    def transform(self, df: DataFrame, out: str | None = None) -> DataFrame:
        self._require_fitted()
        column = self.state_["column"]
        vocab = self.state_["vocab"]
        out = out or column
        dtype = "double" if self.state_["has_null"] else "long"
        if len(vocab) <= _MAP_EXPR_MAX:
            mapping = F.create_map(
                *[x for v, i in zip(vocab, range(len(vocab))) for x in (F.lit(v), F.lit(i))]
            )
            code = mapping[F.col(column).cast("string")]
            return df.withColumn(out, F.when(F.col(column).isNotNull(), code).cast(dtype))
        # large-vocab path: broadcast join on the code table
        spark = df.sparkSession
        codes = spark.createDataFrame(
            [(v, i) for i, v in enumerate(vocab)], schema=f"__v string, {out} {dtype}"
        )
        return (
            df.withColumn("__v", F.col(column).cast("string"))
            .join(F.broadcast(codes), "__v", "left")
            .drop("__v")
        )


class OneHotEncoder(FittedStateMixin):
    def __init__(self, prefix: str | None = None, drop_first: bool = False, dummy_na: bool = False):
        self.prefix = prefix
        self.drop_first = drop_first
        self.dummy_na = dummy_na
        self.state_ = None

    def get_params(self):
        return {"prefix": self.prefix, "drop_first": self.drop_first, "dummy_na": self.dummy_na}

    def fit(self, df: DataFrame, column: str) -> "OneHotEncoder":
        vocab, _ = _fit_vocab(df, column)
        if len(vocab) > HIGH_CARDINALITY_WARNING_THRESHOLD:
            warnings.warn(
                f"{column} has {len(vocab)} categories "
                f"(> {HIGH_CARDINALITY_WARNING_THRESHOLD}); one-hot may explode width"
            )
        self.state_ = {"column": column, "vocab": vocab}
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        self._require_fitted()
        column = self.state_["column"]
        vocab = self.state_["vocab"]
        prefix = self.prefix or column
        cats = vocab[1:] if self.drop_first else vocab
        cols = {
            f"{prefix}_{v}": (F.col(column).cast("string") == F.lit(v)).cast("int")
            for v in cats
        }
        # NaN row → all zeros (pandas get_dummies): null comparison yields
        # null → coalesce to 0
        cols = {k: F.coalesce(c, F.lit(0)) for k, c in cols.items()}
        if self.dummy_na:
            cols[f"{prefix}_nan"] = F.col(column).isNull().cast("int")
        return df.withColumns(cols).drop(column)


class OrdinalEncoder(FittedStateMixin):
    def __init__(self, categories: list | None = None):
        self.categories = categories
        self.state_ = None

    def get_params(self):
        return {"categories": self.categories}

    def fit(self, df: DataFrame, column: str) -> "OrdinalEncoder":
        if self.categories is None:
            raise ValueError("ordinal encoding requires an explicit ordered category list")
        self.state_ = {"column": column, "categories": [str(c) for c in self.categories]}
        return self

    def transform(self, df: DataFrame, out: str | None = None) -> DataFrame:
        self._require_fitted()
        column = self.state_["column"]
        cats = self.state_["categories"]
        out = out or column
        mapping = F.create_map(
            *[x for v, i in zip(cats, range(len(cats))) for x in (F.lit(v), F.lit(float(i)))]
        )
        code = F.coalesce(mapping[F.col(column).cast("string")], F.lit(-1.0))
        return df.withColumn(
            out, F.when(F.col(column).isNull(), F.lit(-1.0)).otherwise(code).cast("double")
        )


class CountEncoder(FittedStateMixin):
    """Count / frequency encoding (suggestions.py:173 made real).

    fit = one ``groupBy(column).count()`` — map-side partial
    aggregation, vocab-sized result to the driver; transform = literal
    map (or broadcast join past ``_MAP_EXPR_MAX``), zero shuffle on the
    big table. ``normalize=True`` emits the category's relative
    frequency instead of its raw count. Unseen categories → 0 (they
    were seen zero times at fit); nulls stay null."""

    def __init__(self, normalize: bool = False):
        self.normalize = normalize
        self.state_ = None

    def get_params(self):
        return {"normalize": self.normalize}

    def fit(self, df: DataFrame, column: str) -> "CountEncoder":
        rows = (
            df.filter(F.col(column).isNotNull())
            .groupBy(F.col(column).cast("string").alias("v"))
            .count()
            .collect()
        )
        counts = {r["v"]: r["count"] for r in rows}
        self.state_ = {"column": column, "counts": counts, "n": sum(counts.values())}
        return self

    def transform(self, df: DataFrame, out: str | None = None) -> DataFrame:
        self._require_fitted()
        column = self.state_["column"]
        counts = self.state_["counts"]
        n = self.state_["n"]
        out = out or f"{column}_count"
        if self.normalize:
            items = {v: (c / n if n else 0.0) for v, c in counts.items()}
            dtype, missing = "double", 0.0
        else:
            items = dict(counts)
            dtype, missing = "long", 0
        if len(items) <= _MAP_EXPR_MAX:
            mapping = F.create_map(
                *[x for v, c in sorted(items.items()) for x in (F.lit(v), F.lit(c))]
            )
            code = F.coalesce(mapping[F.col(column).cast("string")], F.lit(missing))
            return df.withColumn(
                out, F.when(F.col(column).isNotNull(), code).cast(dtype)
            )
        spark = df.sparkSession
        codes = spark.createDataFrame(
            sorted(items.items()), schema=f"__v string, {out} {dtype}"
        )
        joined = (
            df.withColumn("__v", F.col(column).cast("string"))
            .join(F.broadcast(codes), "__v", "left")
            .drop("__v")
        )
        return joined.withColumn(
            out, F.when(F.col(column).isNotNull(), F.coalesce(F.col(out), F.lit(missing))).cast(dtype)
        )


class TargetEncoder(FittedStateMixin):
    """Smoothed mean-target encoding (m-estimate): for category c with
    ``n_c`` rows and in-category target mean ``m_c``,

        enc(c) = (n_c * m_c + smoothing * prior) / (n_c + smoothing)

    where ``prior`` is the global target mean. The reference suggests
    exactly this for high-cardinality categoricals
    (``target_analyzer/suggestions.py:173``) without providing it.

    fit = ONE ``groupBy(column)`` aggregation (count + sum of target;
    the prior is recovered from the category sums, so no second scan);
    transform = literal map / broadcast join — no shuffle on the data
    table. Unseen categories and nulls → prior (the m-estimate limit
    as n_c → 0).

    WARNING: the fitted encoding reads the target over ALL rows — for
    point-in-time feature generation use
    :func:`expanding_target_encode`, which is leakage-free."""

    def __init__(self, smoothing: float = 10.0):
        if smoothing < 0:
            raise ValueError("smoothing must be >= 0")
        self.smoothing = float(smoothing)
        self.state_ = None

    def get_params(self):
        return {"smoothing": self.smoothing}

    def fit(self, df: DataFrame, column: str, target: str) -> "TargetEncoder":
        rows = (
            df.filter(F.col(column).isNotNull() & F.col(target).isNotNull())
            .groupBy(F.col(column).cast("string").alias("v"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col(target).cast("double")).alias("s"))
            .collect()
        )
        tot_n = sum(r["n"] for r in rows)
        tot_s = sum(r["s"] for r in rows)
        if tot_n == 0:
            from feature_engineering_tk_spark.exceptions import InsufficientDataError

            raise InsufficientDataError("target encoding fit", 1, 0)
        prior = tot_s / tot_n
        m = self.smoothing
        enc = {r["v"]: (r["s"] + m * prior) / (r["n"] + m) for r in rows}
        self.state_ = {"column": column, "target": target, "prior": prior, "enc": enc}
        return self

    def transform(self, df: DataFrame, out: str | None = None) -> DataFrame:
        self._require_fitted()
        column = self.state_["column"]
        enc = self.state_["enc"]
        prior = self.state_["prior"]
        out = out or f"{column}_target_enc"
        if len(enc) <= _MAP_EXPR_MAX:
            mapping = F.create_map(
                *[x for v, e in sorted(enc.items()) for x in (F.lit(v), F.lit(e))]
            )
            code = F.coalesce(mapping[F.col(column).cast("string")], F.lit(prior))
            return df.withColumn(out, code.cast("double"))
        spark = df.sparkSession
        codes = spark.createDataFrame(
            sorted(enc.items()), schema=f"__v string, {out} double"
        )
        return (
            df.withColumn("__v", F.col(column).cast("string"))
            .join(F.broadcast(codes), "__v", "left")
            .drop("__v")
            .withColumn(out, F.coalesce(F.col(out), F.lit(prior)))
        )


def expanding_target_encode(
    df: DataFrame,
    column: str,
    target: str,
    order: str | list[str],
    out: str | None = None,
    bucket: str | None = None,
    decimal_scale: int | None = None,
) -> DataFrame:
    """Leakage-free point-in-time target encoding: each row's code is
    the mean of ``target`` over rows of the same category whose
    ``order`` value is STRICTLY SMALLER (null where the category has no
    history yet) — the expanding-window analog of :class:`TargetEncoder`
    that satisfies the zero-temporal-leakage contract (north rule; no
    feature reads rows at or after its own anchor). Ties are peer-aware:
    rows sharing the exact ``order`` tuple see the same history and
    NEVER each other's target, under any partitioning or tie order.

    Scale design — a plain ``Window.partitionBy(column)`` would hand
    each category's ENTIRE history to one task (categories are often
    few and huge: 5 event types over 10^12 rows). Instead the expanding
    sum telescopes across a time bucket (default: calendar day of the
    first ``order`` column):

    1. ``groupBy(column, bucket)`` partial sums — aggregate-sized,
       map-side combined;
    2. exclusive prefix over buckets WITHIN category — a window over
       the tiny aggregate table only;
    3. broadcast the aggregate back and add the within-bucket exclusive
       prefix (``Window.partitionBy(column, bucket)`` — day-bounded
       partitions, never a whole category on one task).

    Floating-point determinism: a telescoped double sum associates
    differently from a sequential one, so results can wobble in the
    last ulp depending on partial-aggregation order. For fixed-point
    targets pass ``decimal_scale`` (e.g. 3 for a 3-decimal target):
    sums then accumulate as exact ``DECIMAL`` — bit-identical under ANY
    summation order, the same exact-arithmetic contract the pagerank
    iteration uses — and only the final mean division runs in double.
    """
    order_cols = [order] if isinstance(order, str) else list(order)
    out = out or f"{column}_pit_enc"
    bucket_expr = F.to_date(F.col(bucket or order_cols[0]))
    d = df.withColumn("__b", bucket_expr)
    if decimal_scale is not None:
        sum_t = f"decimal(28,{decimal_scale})"
        zero_s = F.lit(0).cast(f"decimal(38,{decimal_scale})")
    else:
        sum_t = "double"
        zero_s = F.lit(0.0)
    tgt = F.col(target).cast(sum_t)

    agg = d.groupBy(F.col(column).alias("__v"), F.col("__b").alias("__ab")).agg(
        F.sum(tgt).alias("__s"), F.count(tgt).alias("__c")
    )
    w_prev = (
        Window.partitionBy("__v").orderBy("__ab").rowsBetween(Window.unboundedPreceding, -1)
    )
    agg = agg.select(
        "__v",
        "__ab",
        F.coalesce(F.sum("__s").over(w_prev), zero_s).alias("__prev_s"),
        F.coalesce(F.sum("__c").over(w_prev), F.lit(0)).alias("__prev_c"),
    )
    # "strictly earlier" must mean strictly smaller ORDER VALUE, not
    # "previous row in some tie order": a ROWS (unbounded, -1) frame
    # over a non-unique ``order`` lets equal-order rows read each
    # other's target nondeterministically — leakage at the anchor
    # timestamp. RANGE frames are peer-aware: cum-through-peers minus
    # the peer group itself = the strictly-earlier prefix, stable under
    # any tie order and any partitioning. Both windows share one
    # exchange + sort on (column, __b, *order).
    w_le = Window.partitionBy(column, "__b").orderBy(*order_cols).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_eq = Window.partitionBy(column, "__b").orderBy(*order_cols).rangeBetween(
        Window.currentRow, Window.currentRow
    )
    joined = d.join(
        F.broadcast(agg),
        (F.col(column) == F.col("__v")) & (F.col("__b") == F.col("__ab")),
        "left",
    ).drop("__v", "__ab")
    in_s = F.coalesce(F.sum(tgt).over(w_le), zero_s) - F.coalesce(
        F.sum(tgt).over(w_eq), zero_s
    )
    in_c = F.count(tgt).over(w_le) - F.count(tgt).over(w_eq)
    cum_s = F.col("__prev_s") + in_s
    cum_c = F.col("__prev_c") + in_c
    return (
        joined.withColumn(
            out, F.when(cum_c > 0, cum_s.cast("double") / cum_c).cast("double")
        )
        .drop("__b", "__prev_s", "__prev_c")
    )


class RareCategoryGrouper(FittedStateMixin):
    """Group rare categories (suggestions.py:173 made real): categories
    whose fit-time count is below ``min_count`` (or whose frequency is
    below ``min_freq``) are replaced with ``other_token``; unseen
    categories at transform time are rare by definition and lumped too.
    fit = one groupBy; transform = literal KEEP-set map (the kept set
    is the small one by construction), zero shuffle."""

    def __init__(
        self,
        min_count: int | None = None,
        min_freq: float | None = None,
        other_token: str = "__other__",
    ):
        if (min_count is None) == (min_freq is None):
            raise ValueError("pass exactly one of min_count / min_freq")
        self.min_count = min_count
        self.min_freq = min_freq
        self.other_token = other_token
        self.state_ = None

    def get_params(self):
        return {
            "min_count": self.min_count,
            "min_freq": self.min_freq,
            "other_token": self.other_token,
        }

    def fit(self, df: DataFrame, column: str) -> "RareCategoryGrouper":
        rows = (
            df.filter(F.col(column).isNotNull())
            .groupBy(F.col(column).cast("string").alias("v"))
            .count()
            .collect()
        )
        n = sum(r["count"] for r in rows)
        floor = self.min_count if self.min_count is not None else self.min_freq * n
        keep = sorted(r["v"] for r in rows if r["count"] >= floor)
        self.state_ = {"column": column, "keep": keep}
        return self

    def transform(self, df: DataFrame, out: str | None = None) -> DataFrame:
        self._require_fitted()
        column = self.state_["column"]
        keep = self.state_["keep"]
        out = out or column
        s = F.col(column).cast("string")
        if len(keep) <= _MAP_EXPR_MAX:
            kept = F.create_map(*[x for v in keep for x in (F.lit(v), F.lit(v))])
            repl = F.coalesce(kept[s], F.lit(self.other_token))
        else:
            spark = df.sparkSession
            codes = spark.createDataFrame([(v,) for v in keep], schema="__keep string")
            joined = df.withColumn("__v", s).join(
                F.broadcast(codes), F.col("__v") == F.col("__keep"), "left"
            )
            return (
                joined.withColumn(
                    out,
                    F.when(s.isNull(), F.lit(None).cast("string")).otherwise(
                        F.coalesce(F.col("__keep"), F.lit(self.other_token))
                    ),
                )
                .drop("__v", "__keep")
            )
        return df.withColumn(
            out, F.when(s.isNull(), F.lit(None).cast("string")).otherwise(repl)
        )


class WoEEncoder(FittedStateMixin):
    """Weight-of-evidence encoding for a BINARY target (the credit-
    scoring / risk-modelling standard the reference's suggestion text
    gestures at for categorical↔binary-target relationships,
    ``target_analyzer/suggestions.py:173``, without implementing):

        woe(c)  = ln( dist_pos(c) / dist_neg(c) )
        dist_pos(c) = (pos_c + alpha) / (pos_tot + alpha * K)
        dist_neg(c) = (neg_c + alpha) / (neg_tot + alpha * K)

    with ``K`` = number of fitted categories and ``alpha`` a Laplace
    pseudo-count that keeps pure categories (all-positive or
    all-negative) finite. Also computes the feature's **information
    value** ``IV = Σ_c (dist_pos(c) - dist_neg(c)) * woe(c)`` — the
    classic selection gauge (``iv_`` attribute; <0.02 useless,
    >0.5 suspicious/leaky).

    Scale: fit = ONE ``groupBy(column)`` action with map-side partial
    aggregation (two longs and the binary-target check per category
    cross the shuffle, never rows);
    transform = literal map below ``_MAP_EXPR_MAX`` else broadcast
    join — zero shuffle on the data table at any cardinality. Unseen
    categories and nulls → 0.0 (the "no evidence" point)."""

    def __init__(self, alpha: float = 0.5):
        if alpha <= 0:
            raise ValueError("alpha must be > 0 (pure categories need a pseudo-count)")
        self.alpha = float(alpha)
        self.state_ = None

    def get_params(self):
        return {"alpha": self.alpha}

    def fit(self, df: DataFrame, column: str, target: str) -> "WoEEncoder":
        import math

        t = F.col(target).cast("double")
        # one action: the NULL-category group carries the binary check
        # for rows whose category is NULL, then drops out
        rows = (
            df.filter(t.isNotNull())
            .groupBy(F.col(column).cast("string").alias("v"))
            .agg(
                F.sum(t).alias("pos"),
                F.count(F.lit(1)).alias("n"),
                F.max(~t.isin(0.0, 1.0)).alias("bad"),
            )
            .collect()
        )
        if any(r["bad"] for r in rows):
            from feature_engineering_tk_spark.exceptions import DataTypeError

            raise DataTypeError(target, "binary 0/1", "non-binary values present")
        rows = [r for r in rows if r["v"] is not None]
        if not rows:
            from feature_engineering_tk_spark.exceptions import InsufficientDataError

            raise InsufficientDataError("WoE encoding fit", 1, 0)
        k = len(rows)
        pos_tot = sum(r["pos"] for r in rows)
        neg_tot = sum(r["n"] - r["pos"] for r in rows)
        a = self.alpha
        woe, iv = {}, 0.0
        for r in rows:
            dp = (r["pos"] + a) / (pos_tot + a * k)
            dn = ((r["n"] - r["pos"]) + a) / (neg_tot + a * k)
            w = math.log(dp / dn)
            woe[r["v"]] = w
            iv += (dp - dn) * w
        self.state_ = {"column": column, "target": target, "woe": woe, "iv": iv}
        return self

    @property
    def iv_(self) -> float:
        self._require_fitted()
        return self.state_["iv"]

    def transform(self, df: DataFrame, out: str | None = None) -> DataFrame:
        self._require_fitted()
        column = self.state_["column"]
        woe = self.state_["woe"]
        out = out or f"{column}_woe"
        if len(woe) <= _MAP_EXPR_MAX:
            mapping = F.create_map(
                *[x for v, w in sorted(woe.items()) for x in (F.lit(v), F.lit(w))]
            )
            code = F.coalesce(mapping[F.col(column).cast("string")], F.lit(0.0))
            return df.withColumn(out, code.cast("double"))
        spark = df.sparkSession
        codes = spark.createDataFrame(
            sorted(woe.items()), schema=f"__v string, {out} double"
        )
        return (
            df.withColumn("__v", F.col(column).cast("string"))
            .join(F.broadcast(codes), "__v", "left")
            .drop("__v")
            .withColumn(out, F.coalesce(F.col(out), F.lit(0.0)))
        )


def hashing_encode(
    df: DataFrame,
    columns: list[str],
    n_buckets: int = 1 << 18,
    salt: str = "v1",
    hash_mode: str = "xxhash64",
    suffix: str = "_hash",
) -> DataFrame:
    """Feature hashing (the hashing trick): map each categorical value
    straight to ``hash(salt, column_name, value) % n_buckets`` — NO
    fitted vocabulary, NO driver state, NO second scan. This is the
    only encoder whose cost is independent of cardinality, which makes
    it the 10^12-row default for web-scale id/URL/token columns where
    even a ``distinct()`` is a full shuffle of the key set. Collisions
    are the accepted trade (P ≈ n_values²/2·buckets); the column name
    in the hash input keeps identical values in different columns from
    aliasing. Nulls stay null. Pure row-local whole-stage-codegen
    expressions — zero shuffle, zero UDF.

    ``hash_mode='md5'`` uses the cross-engine 60-bit md5 prefix
    (``dedup._hash60``) so the exact bucket ids are replayable in the
    DuckDB oracle; ``xxhash64`` is the fast JVM path."""
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    from feature_engineering_tk_spark.operators.dedup import _token_hash

    out = df
    for c in columns:
        key = F.concat_ws("\x1f", F.lit(salt), F.lit(c), F.col(c).cast("string"))
        bucket = F.pmod(_token_hash(key, hash_mode), F.lit(n_buckets))
        out = out.withColumn(
            c + suffix,
            F.when(F.col(c).isNull(), F.lit(None).cast("long")).otherwise(bucket),
        )
    return out


def feature_cross(
    df: DataFrame,
    columns: list[str],
    out: str | None = None,
    sep: str = "\x1f",
    hash_buckets: int | None = None,
) -> DataFrame:
    """Crossed categorical interaction feature ('interaction' in the
    reference's suggestion text, suggestions.py:58): concatenate the
    category values of ``columns`` (null anywhere → null cross), and
    optionally hash the cross into ``hash_buckets`` buckets (the
    feature-hashing trick that bounds downstream vocabulary size at
    10^12-row scale). Pure row-local column expressions — whole-stage
    codegen, no shuffle, no UDF."""
    if len(columns) < 2:
        raise ValueError("feature_cross needs at least two columns")
    out = out or "_x_".join(columns)
    any_null = None
    for c in columns:
        cond = F.col(c).isNull()
        any_null = cond if any_null is None else (any_null | cond)
    crossed = F.concat_ws(sep, *[F.col(c).cast("string") for c in columns])
    expr = F.when(any_null, F.lit(None).cast("string")).otherwise(crossed)
    if hash_buckets is not None:
        if hash_buckets <= 0:
            raise ValueError("hash_buckets must be positive")
        expr = F.when(
            any_null, F.lit(None).cast("long")
        ).otherwise(F.pmod(F.xxhash64(crossed), F.lit(hash_buckets)))
    return df.withColumn(out, expr)
