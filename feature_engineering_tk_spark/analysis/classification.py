"""Distributed binary-classifier evaluation at corpus scale.

The reference stops at recommending models (`target_analyzer/
suggestions.py` "recommend_models") — it never scores one.  A 100 TB
training-data pipeline does: every quality classifier, dedup gate, and
reward model that filters the corpus needs its ranking power measured
on the corpus itself, where the score/label table is billions of rows
and sklearn's ``roc_auc_score`` (sort the whole array on one machine)
cannot run.

Everything here is built on the engine's range-partitioned prefix-sum
machinery (``analysis/drift._two_sided_cumulative`` — distinct-value
counts + pid-offset cumulative sums, no unpartitioned window, no
global sort):

- **roc_auc** — the Mann-Whitney identity with exact tie handling:
  AUC = (#{pos>neg pairs} + ties/2) / (P·N).  Both pair counts are
  integer sums over the distinct-score table, so the result is ONE
  float division of exact integers — bit-identical on any engine and
  any summation order.
- **roc_curve** — one row per distinct score threshold: (tp, fp, tpr,
  fpr, precision).  Each rate is a single integer division — exact.
- **average_precision** — step-interpolated AP (the PR-AUC variant
  sklearn computes): AP = Σ_t Δrecall(t)·precision(t) over distinct
  thresholds descending, which collapses to
  Σ_{t: pos ties>0} ca(t)·tp(t)/pp(t) / P.
- **confusion_at_threshold** — one aggregation pass: tp/fp/fn/tn plus
  accuracy, precision, recall, F1, MCC as closed forms over the four
  integers.
- **gains_table** — decile lift/gains: exact score-quantile edges
  (operators/quantiles.py sort-select, bit-identical to DuckDB
  ``quantile_cont``), row-local open-left bucket coding, one groupBy
  to ≤ n_buckets rows, then a suffix-sum over the aggregate-sized
  bucket table (the funnel_summary pattern — never replicate rows).

100 TB shape: one shuffle each (the distinct-score groupBy or the
bucket groupBy); scores never leave the executors un-aggregated; all
driver work is over ≤ #distinct-partition or ≤ n_buckets rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from feature_engineering_tk_spark.analysis.drift import _two_sided_cumulative
from feature_engineering_tk_spark.exceptions import InsufficientDataError
from feature_engineering_tk_spark.operators.quantiles import exact_quantiles


def _flagged(df: DataFrame, score: str, label: str) -> DataFrame:
    """(score, slice) rows: positives flagged 'a', negatives 'b'.
    Null scores/labels are excluded (they carry no ranking signal);
    any nonzero label counts as positive."""
    s, y = F.col(score), F.col(label)
    return df.where(s.isNotNull() & y.isNotNull()).select(
        s.alias("_x"),
        F.when(y.cast("int") != 0, F.lit("a")).otherwise(F.lit("b")).alias("_s"),
    )


def _cumulative(df: DataFrame, score: str, label: str) -> DataFrame:
    """Distinct-score table with prefix sums: (_v, _ca, _cb, _cum_a,
    _cum_b) where a=positives, b=negatives, cumulative = count ≤ _v."""
    return _two_sided_cumulative(_flagged(df, score, label), "_x", "_s")


def _require_both_classes(agg_row, op: str) -> tuple[int, int]:
    n_pos = int(agg_row["n_pos"] or 0) if agg_row else 0
    n_neg = int(agg_row["n_neg"] or 0) if agg_row else 0
    if n_pos == 0 or n_neg == 0:
        raise InsufficientDataError(op, required=1, actual=min(n_pos, n_neg))
    return n_pos, n_neg


def roc_auc(df: DataFrame, score: str, label: str) -> DataFrame:
    """One-row (n_pos, n_neg, auc): exact tie-corrected ROC-AUC via
    the Mann-Whitney pair-count identity.

    Per distinct score v with ca positive and cb negative ties and
    cumulative counts cum_a/cum_b (≤ v): concordant pairs contributed
    at v are ca·(cum_b − cb) (negatives strictly below), tied pairs
    ca·cb.  AUC = (2·Σconcordant + Σtied) / (2·P·N) — the numerator
    and denominator are exact BIGINT sums (order-free), the quotient a
    single double division, so the value is bit-identical to any
    midrank formulation (DuckDB: rank()+tie-count windows).

    Scale: one groupBy(score) shuffle over (8-byte, flag) pairs plus
    the aggregate-sized pid-offset pass — no global sort, no window
    over an unpartitioned frame.
    """
    cum = _cumulative(df, score, label)
    # pair counts reach P·N ≈ n² — beyond bigint at 10^12 rows, so the
    # concordant/tied sums run in decimal(38,0) (exact to 10^38); the
    # single double division at the end is the only rounding step
    ca = F.col("_ca").cast("decimal(19,0)")
    below = (F.col("_cum_b") - F.col("_cb")).cast("decimal(19,0)")
    cb = F.col("_cb").cast("decimal(19,0)")
    agg = cum.agg(
        F.sum((ca * below).cast("decimal(38,0)")).alias("_conc"),
        F.sum((ca * cb).cast("decimal(38,0)")).alias("_tied"),
        F.max("_cum_a").alias("n_pos"),
        F.max("_cum_b").alias("n_neg"),
    )
    row = agg.first()
    _require_both_classes(row, f"roc_auc({score!r}, {label!r})")
    num = (F.lit(2).cast("decimal(38,0)") * F.col("_conc") + F.col("_tied")).cast("double")
    den = F.lit(2.0) * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")
    return agg.select("n_pos", "n_neg", (num / den).alias("auc"))


def roc_curve(df: DataFrame, score: str, label: str) -> DataFrame:
    """Per-distinct-threshold operating points, one row per distinct
    score value t with the classifier "predict positive iff score ≥ t":
    (threshold, tp, fp, tpr, fpr, precision) — every rate one integer
    division, exact on any engine.

    The row count is bounded by #distinct scores; downstream plotting
    should quantile-thin (the PlotSpec layer's job), the metric table
    itself stays distributed.
    """
    cum = _cumulative(df, score, label)
    tot = cum.agg(F.max("_cum_a").alias("n_pos"), F.max("_cum_b").alias("n_neg"))
    row = tot.first()
    _require_both_classes(row, f"roc_curve({score!r}, {label!r})")
    tp = F.col("n_pos") - (F.col("_cum_a") - F.col("_ca"))
    fp = F.col("n_neg") - (F.col("_cum_b") - F.col("_cb"))
    return cum.crossJoin(F.broadcast(tot)).select(
        F.col("_v").alias("threshold"),
        tp.alias("tp"),
        fp.alias("fp"),
        (tp.cast("double") / F.col("n_pos")).alias("tpr"),
        (fp.cast("double") / F.col("n_neg")).alias("fpr"),
        (tp.cast("double") / (tp + fp)).alias("precision"),
    )


def average_precision(df: DataFrame, score: str, label: str) -> DataFrame:
    """One-row (n_pos, n_neg, average_precision): step-interpolated AP
    (sklearn's ``average_precision_score`` semantics — precision at
    each distinct threshold weighted by that threshold's recall gain).

    AP = Σ_{t desc} (recall_t − recall_prev)·precision_t
       = Σ_{t: ca(t)>0} ca(t) · tp(t)/pp(t) / P
    with tp(t) = positives scoring ≥ t and pp(t) = all rows scoring
    ≥ t.  Each term is one integer division; the final sum is a double
    reduction (round at the query boundary, as for Pearson).
    """
    cum = _cumulative(df, score, label)
    tot = cum.agg(F.max("_cum_a").alias("n_pos"), F.max("_cum_b").alias("n_neg"))
    row = tot.first()
    _require_both_classes(row, f"average_precision({score!r}, {label!r})")
    tp = F.col("n_pos") - (F.col("_cum_a") - F.col("_ca"))
    pp = (F.col("n_pos") + F.col("n_neg")) - (
        (F.col("_cum_a") - F.col("_ca")) + (F.col("_cum_b") - F.col("_cb"))
    )
    term = F.col("_ca").cast("double") * tp.cast("double") / pp.cast("double")
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            (F.sum(term) / F.max("n_pos")).alias("average_precision"),
            F.max("n_pos").alias("n_pos"),
            F.max("n_neg").alias("n_neg"),
        )
        .select("n_pos", "n_neg", "average_precision")
    )


def confusion_at_threshold(
    df: DataFrame, score: str, label: str, threshold: float
) -> DataFrame:
    """One-row confusion matrix + derived metrics for "predict
    positive iff score ≥ threshold": (tp, fp, fn, tn, accuracy,
    precision, recall, f1, mcc).

    One aggregation pass, map-side combined; F1 as 2tp/(2tp+fp+fn) and
    MCC as (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn)) — single
    divisions over exact integer counts.  Degenerate denominators
    yield NULL (no positives predicted → precision undefined), the
    SQL convention.
    """
    s, y = F.col(score), F.col(label)
    pred = (s >= F.lit(threshold)).cast("int")
    actual = (y.cast("int") != 0).cast("int")
    counted = df.where(s.isNotNull() & y.isNotNull()).agg(
        F.sum(((pred == 1) & (actual == 1)).cast("bigint")).alias("tp"),
        F.sum(((pred == 1) & (actual == 0)).cast("bigint")).alias("fp"),
        F.sum(((pred == 0) & (actual == 1)).cast("bigint")).alias("fn"),
        F.sum(((pred == 0) & (actual == 0)).cast("bigint")).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    n = tp + fp + fn + tn
    # each factor cast to double BEFORE multiplying: at 10^12 rows a
    # bigint product of two ~n counts overflows; the double product
    # is exact until ~2^53 and IEEE-deterministic in this fixed order
    mcc_den = F.sqrt(
        (tp + fp).cast("double")
        * (tp + fn).cast("double")
        * (tn + fp).cast("double")
        * (tn + fn).cast("double")
    )
    return counted.select(
        "tp",
        "fp",
        "fn",
        "tn",
        ((tp + tn).cast("double") / n).alias("accuracy"),
        F.when(tp + fp > 0, tp.cast("double") / (tp + fp)).alias("precision"),
        F.when(tp + fn > 0, tp.cast("double") / (tp + fn)).alias("recall"),
        F.when(
            F.lit(2) * tp + fp + fn > 0,
            (F.lit(2) * tp).cast("double") / (F.lit(2) * tp + fp + fn),
        ).alias("f1"),
        F.when(
            mcc_den > 0,
            (tp.cast("double") * tn.cast("double") - fp.cast("double") * fn.cast("double"))
            / mcc_den,
        ).alias("mcc"),
    )


def log_loss_brier(df: DataFrame, score: str, label: str, eps: float = 1e-15) -> DataFrame:
    """One-row (n, log_loss, brier): proper-scoring-rule summary of a
    probabilistic score in [0, 1].  Scores are clamped to [eps, 1−eps]
    before the log (sklearn's convention) so a confidently-wrong 0/1
    score stays finite.  One map-side-combined aggregation pass."""
    s = F.col(score)
    y = (F.col(label).cast("int") != 0).cast("double")
    p = F.least(F.greatest(s.cast("double"), F.lit(float(eps))), F.lit(1.0 - eps))
    ll = -(y * F.log(p) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - p))
    br = (s.cast("double") - y) * (s.cast("double") - y)
    return df.where(s.isNotNull() & F.col(label).isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(ll) / F.count(F.lit(1))).alias("log_loss"),
        (F.sum(br) / F.count(F.lit(1))).alias("brier"),
    )


def gains_table(df: DataFrame, score: str, label: str, n_buckets: int = 10) -> DataFrame:
    """Decile gains/lift table — the campaign-targeting standard: rank
    the corpus by score, cut into ``n_buckets`` exact-quantile buckets
    (bucket 1 = highest scores), report per-bucket and cumulative
    capture.

    Columns: (bucket, n, n_pos, pos_rate, cum_n, cum_pos, cum_capture,
    lift) where cum_capture = cum_pos / total_pos and lift =
    (cum_pos/cum_n) / overall pos rate.

    Scale shape: edges from the engine's exact distributed quantiles
    (bit-identical to DuckDB ``quantile_cont``); bucket assignment is
    the row-local open-left ``sum(score > edge)`` coding shared with
    transforms/binning.py and drift.psi_table; ONE groupBy to
    ≤ n_buckets rows; the cumulative columns come from a self-join on
    the aggregate-sized bucket table (the funnel_summary suffix-sum
    pattern) — the row table is never replicated.
    """
    s, y = F.col(score), F.col(label)
    rows = df.where(s.isNotNull() & y.isNotNull())
    edges = exact_quantiles(rows, score, [i / n_buckets for i in range(1, n_buckets)])
    edges = sorted({float(e) for e in edges if e is not None})
    # ascending code 0..len(edges); bucket 1 = top scores
    code = sum((s > F.lit(e)).cast("int") for e in edges)
    bucket = (F.lit(len(edges) + 1) - code).alias("bucket")
    per = rows.select(bucket, (y.cast("int") != 0).cast("bigint").alias("_pos")).groupBy(
        "bucket"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("_pos").alias("n_pos"))
    # per is ≤ n_buckets rows but its lineage holds the full row-table
    # scan; checkpoint it so the suffix-sum self-join and the totals
    # below reuse the aggregate instead of re-scanning the corpus.
    # eager=False: the tot.first() guard below materializes it, so
    # construction stays lazy until the function's own (documented)
    # fit action rather than at call time
    per = per.localCheckpoint(eager=False)
    tot = per.agg(
        F.sum("n").alias("_tn"), F.sum("n_pos").alias("_tp")
    )
    row = tot.first()
    if not row or not row["_tn"]:
        raise InsufficientDataError(f"gains_table({score!r})", required=1, actual=0)
    if not row["_tp"]:
        raise InsufficientDataError(f"gains_table({label!r})", required=1, actual=0)
    # suffix sums over the aggregate-sized bucket table: cum over buckets ≤ b
    other = per.select(
        F.col("bucket").alias("_b2"), F.col("n").alias("_n2"), F.col("n_pos").alias("_p2")
    )
    cum = (
        per.join(other, F.col("_b2") <= F.col("bucket"))
        .groupBy("bucket", "n", "n_pos")
        .agg(F.sum("_n2").alias("cum_n"), F.sum("_p2").alias("cum_pos"))
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n",
        "n_pos",
        (F.col("n_pos").cast("double") / F.col("n")).alias("pos_rate"),
        "cum_n",
        "cum_pos",
        (F.col("cum_pos").cast("double") / F.col("_tp")).alias("cum_capture"),
        (
            (F.col("cum_pos").cast("double") / F.col("cum_n"))
            / (F.col("_tp").cast("double") / F.col("_tn"))
        ).alias("lift"),
    )


def score_separation_ks(df: DataFrame, score: str, label: str) -> DataFrame:
    """KS separation statistic of a scorer — max |TPR−FPR| over all
    thresholds (the credit-scoring "KS"), via the exact two-sample KS
    between the positive-class and negative-class score distributions
    (analysis/drift.ks_statistic_df)."""
    from feature_engineering_tk_spark.analysis.drift import ks_statistic_df

    y = F.col(label)
    pos = df.where(y.isNotNull() & (y.cast("int") != 0))
    neg = df.where(y.isNotNull() & (y.cast("int") == 0))
    return ks_statistic_df(pos, neg, score)


def multiclass_confusion(df: DataFrame, pred: str, label: str) -> DataFrame:
    """Multi-class confusion matrix: one row per observed
    (label, predicted) pair — (label, predicted, n).  ONE
    map-side-combined groupBy; the result is vocabulary² rows at most,
    aggregate-sized regardless of corpus size.  Null on either side is
    excluded (no ground truth / no prediction = no cell)."""
    p, y = F.col(pred), F.col(label)
    return (
        df.where(p.isNotNull() & y.isNotNull())
        .groupBy(y.cast("string").alias("label"), p.cast("string").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def multiclass_metrics(df: DataFrame, pred: str, label: str) -> DataFrame:
    """One-row (n, n_classes, accuracy, macro_precision, macro_recall,
    macro_f1) over a multi-class prediction table.

    Macro averaging over the UNION of observed label and predicted
    vocabularies (sklearn's convention): a class that is predicted but
    never true contributes precision (and an F1 of 0 unless its
    precision is 0/0), so hallucinated classes drag the macro score
    down instead of being silently ignored.  Per-class precision or
    recall with a 0/0 denominator counts as 0 (sklearn zero_division=0).

    Everything derives from the confusion matrix's exact integer
    cells; the matrix is collected (vocabulary²-bounded, the
    cohen_kappa convention) and the final divisions run driver-side in
    a fixed class order — bit-reproducible on any engine.
    """
    cells = multiclass_confusion(df, pred, label).collect()
    if not cells:
        raise InsufficientDataError(f"multiclass_metrics({pred!r}, {label!r})", 1, 0)
    n = sum(r["n"] for r in cells)
    tp: dict = {}
    row_tot: dict = {}
    col_tot: dict = {}
    for r in cells:
        row_tot[r["label"]] = row_tot.get(r["label"], 0) + r["n"]
        col_tot[r["predicted"]] = col_tot.get(r["predicted"], 0) + r["n"]
        if r["label"] == r["predicted"]:
            tp[r["label"]] = r["n"]
    classes = sorted(set(row_tot) | set(col_tot))
    precs, recs, f1s = [], [], []
    for c in classes:
        t = tp.get(c, 0)
        pr = t / col_tot[c] if col_tot.get(c) else 0.0
        rc = t / row_tot[c] if row_tot.get(c) else 0.0
        precs.append(pr)
        recs.append(rc)
        f1s.append(2 * pr * rc / (pr + rc) if pr + rc > 0 else 0.0)
    k = len(classes)
    acc = sum(tp.values()) / n
    out = (n, k, acc, sum(precs) / k, sum(recs) / k, sum(f1s) / k)
    return df.sparkSession.createDataFrame(
        [out],
        "n bigint, n_classes int, accuracy double, macro_precision double, "
        "macro_recall double, macro_f1 double",
    )
