"""Distribution-drift monitoring between two corpus slices.

The production counterpart of the reference's one-shot EDA
(`data_analysis.py` distribution summaries): a 100 TB feature pipeline
re-runs daily, and what it needs is not a histogram but a DRIFT signal
between the reference window and the current one.  Two classic
monitors, both computed without ever sorting row data globally:

- **PSI** (population stability index, the credit-scoring standard):
  reference-decile bins from the engine's exact distributed quantiles
  (operators/quantiles.py sort-select — bit-identical to DuckDB
  ``quantile_cont``), one map-side-combined groupBy per slice,
  smoothed proportions so empty bins stay finite.
- **Exact two-sample Kolmogorov-Smirnov**: ECDFs change only at
  sample points, so sup|F1-F2| over the pooled DISTINCT values is
  exact — distinct-value counts + a range-partitioned prefix sum (the
  kruskal-wallis midrank machinery generalized to two cumulative
  columns), never a single-partition window.  The asymptotic p-value
  is the Kolmogorov series (Numerical Recipes ``probks``), evaluated
  as a fixed-length sequential fold so any engine reproduces it
  bit-for-bit.
- **hist_sketch_table / merge_hist_sketches / psi_from_sketches** —
  the PERSISTABLE monitoring path: fixed-edge per-slice histogram
  sketch tables merge losslessly (integer sums), so daily PSI runs
  read slice-sized sketch rows instead of rescanning the corpus;
  identical output to the raw-slice ``psi_table`` by construction.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feature_engineering_tk_spark.exceptions import ColumnNotFoundError
from feature_engineering_tk_spark.operators.quantiles import exact_quantiles

PSI_EPS = 1e-6


def reference_edges(ref: DataFrame, column: str, bins: int = 10) -> list[float]:
    """Fitted drift-bin edges: the reference slice's exact i/bins
    quantiles (deduplicated). Persist these next to other fitted
    transform state — the streaming monitor applies them as a
    stateless expression."""
    edges = exact_quantiles(ref, column, [i / bins for i in range(1, bins)])
    return sorted({float(e) for e in edges if e is not None})


def bin_code(v, edges: list[float]):
    """Open-left bin coding ``sum(v > edge)`` — the transforms/
    binning.py convention; a pure row-local expression, safe in
    Structured Streaming."""
    return sum((v > F.lit(e)).cast("int") for e in edges)


def psi_table(
    ref: DataFrame,
    cur: DataFrame,
    column: str,
    bins: int = 10,
    eps: float = PSI_EPS,
) -> DataFrame:
    """Per-bin PSI decomposition between ``ref`` and ``cur``.

    Bin edges are the reference slice's exact ``i/bins`` quantiles;
    assignment is the open-left ``sum(v > edge)`` coding shared with
    transforms/binning.py, so the reference slice lands ~uniformly by
    construction and drift shows up as current-slice mass imbalance.
    Proportions are floored at ``eps`` (standard PSI smoothing) so a
    bin that empties out contributes a large-but-finite term.

    Returns one row per bin — (bin, n_ref, n_cur, p_ref, p_cur,
    psi_term, psi_total) — with ``psi_total`` repeated per row
    (aggregate-sized result; > 0.25 is the conventional alarm).
    """
    edges = reference_edges(ref, column, bins)

    def code(df: DataFrame, flag: str) -> DataFrame:
        v = F.col(column)
        return (
            df.where(v.isNotNull())
            .select(bin_code(v, edges).alias("bin"))
            .withColumn("_f", F.lit(flag))
        )

    both = code(ref, "r").unionByName(code(cur, "c"))
    counts = both.groupBy("bin").agg(
        F.sum((F.col("_f") == "r").cast("bigint")).alias("n_ref"),
        F.sum((F.col("_f") == "c").cast("bigint")).alias("n_cur"),
    )
    return _psi_from_counts(counts, len(edges) + 1, eps)


def _psi_from_counts(counts: DataFrame, n_bins: int, eps: float) -> DataFrame:
    """PSI scoring over a (bin, n_ref, n_cur) count table — shared by
    the raw-slice path (:func:`psi_table`) and the sketch-table path
    (:func:`psi_from_sketches`); bins absent from ``counts`` enter as
    zeros via the dense grid."""
    spark = counts.sparkSession
    grid = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    counts = grid.join(counts, "bin", "left").select(
        "bin",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    totals = counts.agg(
        F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc")
    )
    p_ref = F.greatest(F.col("n_ref") / F.col("_tr"), F.lit(float(eps)))
    p_cur = F.greatest(F.col("n_cur") / F.col("_tc"), F.lit(float(eps)))
    term = (p_ref - p_cur) * F.log(p_ref / p_cur)
    scored = counts.crossJoin(F.broadcast(totals)).select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(p_ref, 9).alias("p_ref"),
        F.round(p_cur, 9).alias("p_cur"),
        F.round(term, 9).alias("psi_term"),
        term.alias("_t"),
    )
    total = scored.agg(F.round(F.sum("_t"), 9).alias("psi_total"))
    return scored.crossJoin(F.broadcast(total)).drop("_t")


def hist_sketch_table(
    df: DataFrame, column: str, by: str, edges: list[float]
) -> DataFrame:
    """Per-slice FIXED-EDGE histogram sketch table: (``by``, bin, n) —
    the distributional member of the persistable-sketch trio
    (``distinct_sketch_table`` for cardinality, ``mg_sketch_table``
    for heavy hitters, this for shape).

    Because the bin edges are fixed (persist them next to the sketch —
    :func:`reference_edges` fits them once on the reference window),
    sketches merge LOSSLESSLY by integer addition: any union of slices
    has exactly the histogram a direct scan would give, so cross-slice
    PSI / mass-balance questions are answered from the sketch table
    with zero approximation and zero corpus rescan.

    Scale shape: bin coding is a row-local codegen expression; ONE
    map-side-combined groupBy on (slice, bin) — at most
    slices × (len(edges)+2) rows ever shuffle.  Null values are
    counted in a dedicated ``bin = -1`` row so sketch totals equal
    slice row counts (drop it for PSI, which is over non-null mass).
    """
    for c in (column, by):
        if c not in df.columns:
            raise ColumnNotFoundError(c, df.columns)
    if not edges:
        raise ValueError("edges must be non-empty")
    v = F.col(column)
    code = F.when(v.isNull(), F.lit(-1)).otherwise(bin_code(v, edges))
    return (
        df.groupBy(F.col(by), code.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_hist_sketches(sketches: DataFrame, by: str | None = None) -> DataFrame:
    """Fold a histogram sketch table into (``by``?, bin, n), optionally
    regrouped by a coarser key — exact integer sums (lossless, order-
    free), aggregate-sized input."""
    for c in ("bin", "n"):
        if c not in sketches.columns:
            raise ColumnNotFoundError(c, sketches.columns)
    keys = ([by] if by else []) + ["bin"]
    if by and by not in sketches.columns:
        raise ColumnNotFoundError(by, sketches.columns)
    return sketches.groupBy(*keys).agg(F.sum("n").alias("n"))


def quantiles_from_hist(
    sketch: DataFrame, edges: list[float], probs: list[float]
) -> DataFrame:
    """Bounded-error quantiles FROM a histogram sketch table (merged
    :func:`hist_sketch_table` rows) — the quantile member of the
    sketch-query surface: (prob, lo, hi) where [lo, hi] is the bin
    interval containing the exact quantile.  The error bound is
    structural — the true quantile provably lies inside the returned
    bin (counts are exact integers), so the answer is as tight as the
    edge grid; fit more edges for tighter answers.  Open tails return
    null for the unbounded side (value below edges[0] / above
    edges[-1]).

    Driver-side fold over the ≤ len(edges)+1 merged bin counts (the
    sketch is aggregate-sized by construction); null bin (-1)
    excluded — quantiles are over non-null mass.  Use
    ``operators.quantiles.exact_quantiles`` when you can afford the
    corpus scan; this answers from the persisted sketch alone.
    """
    for p in probs:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"prob {p} outside [0, 1]")
    rows = (
        merge_hist_sketches(sketch)
        .where(F.col("bin") >= 0)
        .collect()
    )
    counts = {int(r["bin"]): int(r["n"]) for r in rows}
    total = sum(counts.values())
    spark = sketch.sparkSession
    if total == 0:
        return spark.createDataFrame(
            [(float(p), None, None) for p in probs],
            "prob double, lo double, hi double",
        )
    out = []
    n_bins = len(edges) + 1
    for p in sorted(probs):
        target = p * total
        cum = 0
        chosen = n_bins - 1
        for b in range(n_bins):
            cum += counts.get(b, 0)
            if cum >= target and cum > 0:
                chosen = b
                break
        lo = edges[chosen - 1] if chosen >= 1 else None
        hi = edges[chosen] if chosen < len(edges) else None
        out.append((float(p), lo, hi))
    return spark.createDataFrame(out, "prob double, lo double, hi double")


def psi_from_sketches(
    ref_sketch: DataFrame,
    cur_sketch: DataFrame,
    n_bins: int,
    eps: float = PSI_EPS,
) -> DataFrame:
    """PSI between two corpus windows computed FROM SKETCH TABLES
    alone (same-edge :func:`hist_sketch_table` outputs, merged or
    per-slice): identical output to :func:`psi_table` over the raw
    slices — the fixed-edge merge is lossless — proven by the
    ``psi_sketch`` oracle, which replays the raw-slice SQL.

    ``n_bins`` = len(edges) + 1 (the fitted edge list's bin count).
    The null bin (-1) is excluded: PSI is over non-null mass, matching
    the raw path's ``isNotNull`` filter.
    """
    r = (
        merge_hist_sketches(ref_sketch)
        .where(F.col("bin") >= 0)
        .select("bin", F.col("n").alias("n_ref"))
    )
    c = (
        merge_hist_sketches(cur_sketch)
        .where(F.col("bin") >= 0)
        .select("bin", F.col("n").alias("n_cur"))
    )
    counts = r.join(c, "bin", "full_outer").select(
        "bin",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    return _psi_from_counts(counts, n_bins, eps)


def _two_sided_cumulative(df: DataFrame, value: str, flag: str) -> DataFrame:
    """Distinct-value table with range-partitioned prefix sums of both
    slices' counts: (v, ca, cb, cum_a, cum_b). Same pid-offset pattern
    as stats._average_ranks — no unpartitioned window anywhere.

    The shuffled count table is persisted only for the duration of this
    call (try/finally, as in ``stats._average_ranks``): the result is
    eagerly localCheckpoint-ed, then the cache is dropped — repeated
    calls in a long session leave no cached blocks behind."""
    sess = df.sparkSession
    vc = df.groupBy(F.col(value).alias("_v")).agg(
        F.sum((F.col(flag) == "a").cast("bigint")).alias("_ca"),
        F.sum((F.col(flag) == "b").cast("bigint")).alias("_cb"),
    )
    nparts = max(sess.sparkContext.defaultParallelism, 2)
    vc = vc.repartitionByRange(nparts, "_v").sortWithinPartitions("_v")
    vc = vc.withColumn("_pid", F.spark_partition_id()).persist()
    try:
        part_tot = {
            r["_pid"]: (r["ta"], r["tb"])
            for r in vc.groupBy("_pid")
            .agg(F.sum("_ca").alias("ta"), F.sum("_cb").alias("tb"))
            .collect()
        }
        offs, acc_a, acc_b = {}, 0, 0
        for pid in sorted(part_tot):
            offs[pid] = (acc_a, acc_b)
            acc_a += part_tot[pid][0]
            acc_b += part_tot[pid][1]
        off_a = F.create_map(*[x for k, v in offs.items() for x in (F.lit(k), F.lit(v[0]))])
        off_b = F.create_map(*[x for k, v in offs.items() for x in (F.lit(k), F.lit(v[1]))])
        w = Window.partitionBy("_pid").orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
        cum = vc.select(
            "_v",
            "_ca",
            "_cb",
            (F.sum("_ca").over(w) + off_a[F.col("_pid")]).alias("_cum_a"),
            (F.sum("_cb").over(w) + off_b[F.col("_pid")]).alias("_cum_b"),
        )
        return cum.localCheckpoint(eager=True)  # cut lineage off the persisted shuffle
    finally:
        vc.unpersist()


def ks_statistic_df(a: DataFrame, b: DataFrame, column: str) -> DataFrame:
    """One-row DataFrame (d_stat, n1, n2, p_value): exact two-sample
    KS over pooled distinct values; p from the Kolmogorov series as a
    100-term sequential fold (cross-engine bit-identical)."""
    av = a.select(F.col(column).alias("_x")).where(F.col("_x").isNotNull())
    bv = b.select(F.col(column).alias("_x")).where(F.col("_x").isNotNull())
    both = av.withColumn("_s", F.lit("a")).unionByName(bv.withColumn("_s", F.lit("b")))
    cum = _two_sided_cumulative(both, "_x", "_s")
    agg = cum.agg(
        F.max("_cum_a").alias("n1"),
        F.max("_cum_b").alias("n2"),
    )
    sizes = agg.first()
    if not sizes or not sizes["n1"] or not sizes["n2"]:
        from feature_engineering_tk_spark.exceptions import InsufficientDataError

        n1 = 0 if not sizes else int(sizes["n1"] or 0)
        n2 = 0 if not sizes else int(sizes["n2"] or 0)
        raise InsufficientDataError(
            f"ks_statistic_df({column!r})", required=1, actual=min(n1, n2)
        )
    d = cum.crossJoin(F.broadcast(agg)).agg(
        F.max(
            F.abs(
                F.col("_cum_a") / F.col("n1") - F.col("_cum_b") / F.col("n2")
            )
        ).alias("d_stat"),
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
    )
    en = F.sqrt(F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2")))
    lam = (en + F.lit(0.12) + F.lit(0.11) / en) * F.col("d_stat")
    # probks: p = 2 Σ_{j≥1} (-1)^{j-1} exp(-2 j² λ²), fixed 100 terms,
    # sequential fold so the oracle replays the same rounding order
    series = F.aggregate(
        F.sequence(F.lit(1), F.lit(100)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.when(j % 2 == 1, F.lit(2.0)).otherwise(F.lit(-2.0))
        * F.exp(F.lit(-2.0) * (j * j).cast("double") * lam * lam),
    )
    # p first, rounding after: a `d_stat` alias in the same select
    # would lateral-resolve inside `lam` and shift p by ~1e-9
    scored = d.select(
        "d_stat",
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(
            F.when(F.col("d_stat") == 0.0, F.lit(1.0))  # λ=0: series oscillates
            .otherwise(F.least(F.greatest(series, F.lit(0.0)), F.lit(1.0))),
            9,
        ).alias("p_value"),
    )
    return scored.select(
        F.round("d_stat", 9).alias("d_stat"), "n1", "n2", "p_value"
    )


def ks_two_sample(a: DataFrame, b: DataFrame, column: str) -> dict:
    """Dict API over :func:`ks_statistic_df`."""
    r = ks_statistic_df(a, b, column).first()
    return {
        "statistic": r["d_stat"],
        "pvalue": r["p_value"],
        "n1": r["n1"],
        "n2": r["n2"],
    }


def psi(ref: DataFrame, cur: DataFrame, column: str, bins: int = 10) -> float:
    """Scalar PSI (sum of per-bin terms)."""
    return psi_table(ref, cur, column, bins).select("psi_total").first()[0]


def js_divergence_table(
    ref: DataFrame,
    cur: DataFrame,
    column: str,
    tokens: bool = False,
) -> DataFrame:
    """Per-category Jensen-Shannon divergence decomposition between two
    corpus slices over a CATEGORICAL unit — the drift monitor PSI/KS
    can't provide: PSI needs numeric quantile bins and KS an ordering,
    while vocabulary / source / language / tool-name distributions are
    unordered.  JSD (Lin 1991) is symmetric, finite without smoothing
    (a category absent from one side contributes its other-side half-
    term only), and bounded by ln 2 — the standard "did the token
    distribution move between crawl snapshots" gauge.

    ``tokens=False``: the unit is ``column``'s value (cast to string).
    ``tokens=True``: ``column`` is a text column and the unit is the
    engine's lowercase whitespace token.

    Returns one row per category seen on either side — ``(value,
    n_ref, n_cur, p_ref, p_cur, js_term, js_total)`` with ``js_total``
    repeated per row (psi_table's shape).  ``js_term`` is
    ``(p_ref·ln(p_ref/m) + p_cur·ln(p_cur/m))/2`` with ``m`` the
    mixture mean — rounded to 12 decimals and accumulated in exact
    DECIMAL so ``js_total`` is bit-identical under ANY summation order
    / partitioning (the pagerank integer-arithmetic trick, adapted to
    a float-valued series).  Nats, not bits: divide by ln 2 for the
    [0,1] normalized form.

    Scale shape: one union + one map-side-combined ``groupBy(value)``
    — token text shuffles once into vocabulary-sized partials; totals
    and the DECIMAL sum ride a broadcast crossJoin of two aggregate
    rows.  Never a window, never a sort.
    """

    def units(df: DataFrame, flag: str) -> DataFrame:
        if tokens:
            t = F.trim(F.lower(F.coalesce(F.col(column), F.lit(""))))
            arr = F.when(t == "", F.array().cast("array<string>")).otherwise(
                F.split(t, r"\s+")
            )
            out = df.select(F.explode(arr).alias("value"))
        else:
            out = df.where(F.col(column).isNotNull()).select(
                F.col(column).cast("string").alias("value")
            )
        return out.withColumn("_f", F.lit(flag))

    from feature_engineering_tk_spark.plans.caching import pin

    both = units(ref, "r").unionByName(units(cur, "c"))
    counts = both.groupBy("value").agg(
        F.sum((F.col("_f") == "r").cast("bigint")).alias("n_ref"),
        F.sum((F.col("_f") == "c").cast("bigint")).alias("n_cur"),
    )
    # three consumers (totals action, the per-row table, the DECIMAL
    # total) — pin the vocabulary-sized aggregate so the corpus scans
    # once; the session registry releases it (plans/caching.py)
    counts = pin(counts)
    totals = counts.agg(
        F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc")
    )
    # an ungrouped agg always yields exactly one row; empty input sums to NULL
    trow = totals.first()
    tr, tc = int(trow["_tr"] or 0), int(trow["_tc"] or 0)
    if tr == 0 or tc == 0:
        from feature_engineering_tk_spark.exceptions import InsufficientDataError

        raise InsufficientDataError(
            f"js_divergence_table({column!r})", required=1, actual=min(tr, tc)
        )
    p_ref = F.col("n_ref") / F.col("_tr")
    p_cur = F.col("n_cur") / F.col("_tc")
    m = (p_ref + p_cur) / F.lit(2.0)
    # 0·ln(0/m) := 0; m > 0 on every emitted row (value seen somewhere)
    half = (
        F.when(F.col("n_ref") > 0, p_ref * F.log(p_ref / m)).otherwise(F.lit(0.0))
        + F.when(F.col("n_cur") > 0, p_cur * F.log(p_cur / m)).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    per = (
        counts.crossJoin(F.broadcast(totals))
        .withColumn("_term", F.round(half, 12).cast("decimal(24,12)"))
        .withColumn("p_ref", F.round(p_ref, 9))
        .withColumn("p_cur", F.round(p_cur, 9))
    )
    tot = per.agg(F.sum("_term").alias("_jt"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "value",
            "n_ref",
            "n_cur",
            "p_ref",
            "p_cur",
            F.round(F.col("_term").cast("double"), 9).alias("js_term"),
            F.round(F.col("_jt").cast("double"), 9).alias("js_total"),
        )
    )


def js_divergence(
    ref: DataFrame, cur: DataFrame, column: str, tokens: bool = False
) -> float:
    """Scalar JSD in nats (sum of per-category terms)."""
    return (
        js_divergence_table(ref, cur, column, tokens=tokens)
        .select("js_total")
        .first()[0]
    )
