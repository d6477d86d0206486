"""Frequency analysis over categorical / token columns at corpus scale.

The reference's cardinality checks (`data_analysis.py` value_counts
summaries) assume pandas can hold the value spectrum.  At 100 TB the
useful primitives are:

- **heavy_hitters** — exact top-k by frequency: one map-side-combined
  groupBy, then TakeOrdered on (count desc, value asc) — only k rows
  ever reach the driver, deterministic under ties.
- **frequency_spectrum** — the count-of-counts table (how many values
  occur exactly f times — the Good-Turing spectrum, the first thing a
  tokenizer or dedup audit looks at): two stacked map-side-combined
  groupBys, result bounded by #distinct frequencies (≪ n).
- **misra_gries** — the mergeable deterministic heavy-hitter SKETCH
  for the stream/singlepass path: each partition summarises itself
  with a width-w Misra-Gries table inside one Arrow-batched
  ``mapInPandas`` (no shuffle of raw values), partial tables merge by
  value with the standard offset-decrement; the classic guarantee
  (true_count − n/width ≤ estimate ≤ true_count) survives merging.
  Use when the value column is too hot to groupBy at full width
  (adversarial token floods); ``heavy_hitters`` is the exact path.
- **cms_sketch_table / merge_cms_sketches / cms_estimate** — the
  Count-Min sketch (Cormode & Muthukrishnan 2005) as a persistable
  per-slice cell table: point-frequency estimates for ANY queried
  value (not just the heavy head MG keeps), mergeable LOSSLESSLY by
  cell-wise integer sums.  The shuffle carries (row, col) cell
  coordinates bounded by depth × width — raw values never shuffle,
  by construction, with no UDF at all.  Estimates are exact sums of
  hash-cell collisions, so with ``hash_mode='md5'`` the whole
  pipeline is bit-replayable in the DuckDB oracle.
- **mg_sketch_table / merge_mg_sketches** — the PERSISTABLE form of
  the MG sketch, mirroring ``distinct_sketch_table`` /
  ``merge_distinct_sketches``: sketch each ingest slice once into a
  (slice, value, weight) table of ≤ width rows per slice, persist it,
  and answer any later cross-slice heavy-hitter question from the
  sketch table alone — no corpus rescan.  MG summaries are mergeable
  (Agarwal et al., PODS 2012), so the merged estimate keeps the
  deterministic band ``true − n/width ≤ estimate ≤ true`` for the
  union of the summarized slices; with width ≥ the slice's distinct
  count the sketch is EXACT (no decrement ever fires) — the regime
  the SQL oracle pins, while pytest pins the lossy-width band.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from feature_engineering_tk_spark.exceptions import ColumnNotFoundError


def _require(df: DataFrame, column: str) -> None:
    if column not in df.columns:
        raise ColumnNotFoundError(column, df.columns)


def heavy_hitters(df: DataFrame, column: str, k: int = 20) -> DataFrame:
    """Exact top-k most frequent values of ``column`` (nulls excluded):
    (value, n_rows, share).  Deterministic tie-break: count descending,
    value ascending.  share = n_rows / non-null total.

    Scale: groupBy with map-side partial counts (the shuffle carries
    one row per distinct value per mapper at most), then a global
    TakeOrdered of k rows — the full spectrum never sits on one node.
    """
    _require(df, column)
    v = F.col(column)
    counts = (
        df.where(v.isNotNull())
        .groupBy(v.alias("value"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    tot = counts.agg(F.sum("n_rows").alias("_t"))
    return (
        counts.orderBy(F.desc("n_rows"), F.asc("value"))
        .limit(k)
        .crossJoin(F.broadcast(tot))
        .select(
            "value",
            "n_rows",
            (F.col("n_rows").cast("double") / F.col("_t")).alias("share"),
        )
    )


def frequency_spectrum(df: DataFrame, column: str) -> DataFrame:
    """Count-of-counts (Good-Turing spectrum): one row per distinct
    occurrence frequency f — (frequency, n_values) = how many distinct
    values of ``column`` occur exactly f times.  Singleton mass
    (f = 1) is the headline number for dedup and tokenizer-vocabulary
    decisions.

    Two stacked groupBys, both map-side combined; the result is
    bounded by the number of DISTINCT frequencies (≤ √(2n), usually
    tens), so it is aggregate-sized regardless of corpus size.
    """
    _require(df, column)
    v = F.col(column)
    counts = (
        df.where(v.isNotNull())
        .groupBy(v.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_f"))
    )
    return (
        counts.groupBy(F.col("_f").alias("frequency"))
        .agg(F.count(F.lit(1)).alias("n_values"))
    )


def _mg_update(table: dict, key: str, inc: int, width: int) -> None:
    """Textbook Misra-Gries update with weighted increments."""
    if key in table:
        table[key] += inc
        return
    if len(table) < width:
        table[key] = inc
        return
    # decrement all by the largest amount the smallest counter allows
    dec = min(inc, min(table.values()))
    for t in list(table):
        table[t] -= dec
        if table[t] <= 0:
            del table[t]
    if inc - dec > 0:
        table[key] = inc - dec


def misra_gries(df: DataFrame, column: str, width: int = 64) -> list[tuple[str, int]]:
    """Mergeable Misra-Gries heavy-hitter sketch of ``column``.

    Each partition builds a width-``width`` summary vectorized
    (pandas ``value_counts`` per Arrow batch, folded into the MG
    table), emitting ≤ width (value, weight) rows — raw values never
    shuffle.  Partials merge into one width-limited table with the
    same weighted update, preserving the deterministic guarantee
    ``true − n/width ≤ estimate ≤ true`` (Agarwal et al., "Mergeable
    Summaries", PODS 2012).

    Returns the merged sketch as (value, estimate) sorted by estimate
    descending then value — driver-sized by construction (≤ width
    entries).  For exact answers use :func:`heavy_hitters`; this is
    the one-pass / streaming-shaped path.
    """
    _require(df, column)
    w = int(width)
    if w < 1:
        raise ValueError("width must be >= 1")

    out_schema = StructType(
        [StructField("value", StringType()), StructField("weight", LongType())]
    )

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        table: dict = {}
        for pdf in batches:
            vc = pdf[column].dropna().astype(str).value_counts()
            for key, cnt in vc.items():
                _mg_update(table, key, int(cnt), w)
        yield pd.DataFrame(
            {"value": list(table.keys()), "weight": list(table.values())}
        )

    partials = (
        df.select(F.col(column).cast("string").alias(column))
        .mapInPandas(summarize, schema=out_schema)
        .collect()
    )
    merged: dict = {}
    # deterministic merge order regardless of task completion order
    for r in sorted(partials, key=lambda r: (-r["weight"], r["value"])):
        _mg_update(merged, r["value"], int(r["weight"]), w)
    return sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))


def _mg_fold(rows: pd.DataFrame, width: int) -> dict:
    """Fold (value, weight) rows into one width-limited MG table in
    the DETERMINISTIC order (weight desc, value asc) — the same
    convention as the driver merge in :func:`misra_gries`, so a given
    multiset of partial rows always folds to the same table."""
    table: dict = {}
    rows = rows.sort_values(
        ["weight", "value"], ascending=[False, True], kind="mergesort"
    )
    for value, weight in zip(rows["value"], rows["weight"]):
        _mg_update(table, value, int(weight), width)
    return table


def mg_sketch_table(
    df: DataFrame, column: str, by: str, width: int = 64
) -> DataFrame:
    """Per-slice mergeable Misra-Gries sketch TABLE:
    (``by``, value, weight) with ≤ ``width`` rows per slice — the
    persistable heavy-hitter primitive for incremental pipelines.

    Sketch each ingest slice (day, source, shard) once, persist this
    table, and answer later cross-slice heavy-hitter questions with
    :func:`merge_mg_sketches` over the sketch-sized table instead of
    rescanning the corpus.

    Two-level build so RAW VALUES NEVER SHUFFLE: each task summarises
    its own rows per slice vectorized (value_counts per Arrow batch
    folded into per-slice MG tables), emitting ≤ width (slice, value,
    weight) partials; the per-slice shuffle then carries only those
    sketch-sized partials, folded in the deterministic (weight desc,
    value asc) order.  With width ≥ the slice's distinct count no
    decrement ever fires and the table is exactly the slice's value
    counts (the oracle-pinned regime); below that, each slice keeps
    the classic band ``true − n_slice/width ≤ weight ≤ true``.
    """
    _require(df, column)
    _require(df, by)
    w = int(width)
    if w < 1:
        raise ValueError("width must be >= 1")

    by_type = df.schema[by].dataType
    out_schema = StructType(
        [
            StructField(by, by_type),
            StructField("value", StringType()),
            StructField("weight", LongType()),
        ]
    )

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tables: dict = {}
        for pdf in batches:
            # dropna on the VALUE only; null slice keys stay a real
            # group (dropna=False) — Spark's groupBy keeps them too,
            # so the two levels agree on slice identity
            sub = pdf[[by, column]][pdf[column].notna()]
            vc = sub.groupby(by, sort=False, dropna=False)[column].value_counts()
            for (slice_key, value), cnt in vc.items():
                _mg_update(
                    tables.setdefault(slice_key, {}), str(value), int(cnt), w
                )
        out = [
            (slice_key, value, weight)
            for slice_key, table in tables.items()
            for value, weight in table.items()
        ]
        yield pd.DataFrame(out, columns=[by, "value", "weight"])

    partials = df.select(
        F.col(by), F.col(column).cast("string").alias(column)
    ).mapInPandas(summarize, schema=out_schema)

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        table = _mg_fold(pdf, w)
        return pd.DataFrame(
            [(pdf[by].iloc[0], v, c) for v, c in table.items()],
            columns=[by, "value", "weight"],
        )

    return partials.groupBy(by).applyInPandas(merge_group, schema=out_schema)


def merge_mg_sketches(
    sketches: DataFrame, width: int = 64, by: str | None = None
) -> DataFrame:
    """Fold a sketch table (from :func:`mg_sketch_table`) into
    heavy-hitter estimates, optionally regrouped by a coarser key:
    (``by``?, value, weight).

    Input is sketch-sized (slices × width rows), so this runs at
    aggregate scale regardless of the corpus the sketches summarize;
    the fold per output group uses the deterministic (weight desc,
    value asc) order, so the same sketch table always merges to the
    same answer.  The merged band is ``true − n/width ≤ weight ≤
    true`` with n the total weight of the merged slices; in the
    exact regime (every slice sketched with width ≥ its distinct
    count, no value lost) the merged weights are exact sums.
    """
    w = int(width)
    if w < 1:
        raise ValueError("width must be >= 1")
    for c in ("value", "weight"):
        _require(sketches, c)
    if by is None:
        src = sketches.withColumn("_g", F.lit(1))
        key, drop_key = "_g", True
    else:
        _require(sketches, by)
        src, key, drop_key = sketches, by, False

    key_type = src.schema[key].dataType
    out_schema = StructType(
        [
            StructField(key, key_type),
            StructField("value", StringType()),
            StructField("weight", LongType()),
        ]
    )

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        table = _mg_fold(pdf, w)
        return pd.DataFrame(
            [(pdf[key].iloc[0], v, c) for v, c in table.items()],
            columns=[key, "value", "weight"],
        )

    out = src.groupBy(key).applyInPandas(merge_group, schema=out_schema)
    return out.drop(key) if drop_key else out


def approx_distinct(
    df: DataFrame,
    column: str,
    by: str | None = None,
    lg_k: int = 12,
    check_rel_error: float | None = None,
) -> DataFrame:
    """Cardinality per group via the Apache DataSketches HLL sketch
    (Spark's ``hll_sketch_agg``): (group?, n_distinct_approx) — the
    ONLY way to count distincts at 100 TB without shuffling every
    distinct value (exact ``count_distinct`` shuffles the full key
    spectrum; a 10^12-row id column makes that the job's bottleneck).
    lg_k=12 gives ~1.6% relative standard error in 4 KB per group.

    ``check_rel_error`` flips the output into an accuracy GAUGE (the
    ann_recall pattern): keeps the estimate and adds the EXACT
    distinct count plus a boolean ``within_tol`` = |approx − exact|
    /exact ≤ tolerance — a False flag is debuggable in place because
    both numbers are in the row.  The gauge re-checks the sketch
    against ground truth at test scale — run it at sf0.01 in CI,
    trust the sketch alone at corpus scale.
    """
    _require(df, column)
    keys = [by] if by else []
    if by:
        _require(df, by)
    est = F.hll_sketch_estimate(
        F.hll_sketch_agg(F.col(column).cast("string"), F.lit(int(lg_k)))
    ).alias("n_distinct_approx")
    if check_rel_error is None:
        return df.groupBy(*keys).agg(est)
    tol = float(check_rel_error)
    agg = df.groupBy(*keys).agg(
        est, F.count_distinct(F.col(column)).alias("n_distinct_exact")
    )
    ok = (
        F.abs(F.col("n_distinct_approx") - F.col("n_distinct_exact"))
        <= F.lit(tol) * F.col("n_distinct_exact")
    ).alias("within_tol")
    return agg.select(*keys, "n_distinct_approx", "n_distinct_exact", ok)


def distinct_sketch_table(
    df: DataFrame, column: str, by: str, lg_k: int = 12
) -> DataFrame:
    """Mergeable per-group HLL sketch TABLE: (by, sketch binary) — the
    incremental-pipeline primitive.  Sketch each ingest partition /
    day once, persist the binary column, and answer any later
    cross-slice distinct question by ``merge_distinct_sketches`` over
    the aggregate-sized sketch table instead of rescanning the corpus
    (union of HLL sketches is lossless: the merged estimate equals
    the estimate over the concatenated raw data).
    """
    _require(df, column)
    _require(df, by)
    return df.groupBy(by).agg(
        F.hll_sketch_agg(F.col(column).cast("string"), F.lit(int(lg_k))).alias("sketch")
    )


def merge_distinct_sketches(sketches: DataFrame, by: str | None = None) -> DataFrame:
    """Fold a sketch table (from :func:`distinct_sketch_table`) into
    distinct-count estimates, optionally regrouped by a coarser key:
    (by?, n_distinct_approx).  Input is aggregate-sized, so this runs
    in milliseconds regardless of the corpus the sketches summarize.
    ``allowDifferentLgConfigK`` stays False — merging sketches built
    with different precisions silently degrades to the coarser one,
    so the engine refuses instead."""
    keys = [by] if by else []
    return sketches.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"), F.lit(False))).alias(
            "n_distinct_approx"
        )
    )


def _cms_probes(value, depth: int, width: int, salt: str, hash_mode: str):
    """Array of ``depth`` (row, col) probe structs for one value.

    Row j's hash is ``hash(salt \\x1f j \\x1f value) mod width`` — a
    fresh pairwise-independent-enough function per row because the
    row index is folded into the hash input (the hashing_encode
    convention of salting the key with its namespace)."""
    from feature_engineering_tk_spark.operators.dedup import _token_hash

    return F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                F.pmod(
                    _token_hash(
                        F.concat_ws("\x1f", F.lit(salt), F.lit(str(j)), value),
                        hash_mode,
                    ),
                    F.lit(int(width)),
                ).cast("int").alias("col"),
            )
            for j in range(depth)
        ]
    )


def _cms_params(depth: int, width: int) -> tuple[int, int]:
    d, w = int(depth), int(width)
    if d < 1 or w < 1:
        raise ValueError("depth and width must be >= 1")
    return d, w


def cms_sketch_table(
    df: DataFrame,
    column: str,
    by: str | None = None,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
    salt: str = "v1",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Per-slice Count-Min sketch as a persistable CELL table:
    (``by``?, row, col, weight) with ≤ depth × width non-zero cells
    per slice — the point-frequency twin of :func:`mg_sketch_table`.

    Each input value increments ``depth`` cells (row j, h_j(value) mod
    width); a cell's weight is the exact integer sum of everything
    that hashed into it.  Estimates (``cms_estimate``) answer "how
    often did THIS value occur?" for ANY value — including ones
    outside the heavy head that Misra-Gries keeps — with the classic
    one-sided guarantee ``true ≤ estimate ≤ true + 2eN/width`` at
    probability ``1 − e^−depth`` (Cormode & Muthukrishnan 2005).

    Scale shape: the probe explode emits (row, col) coordinates only —
    raw values NEVER shuffle, not even in the build — and the
    map-side-combined groupBy is bounded at depth × width rows per
    slice per mapper regardless of the value spectrum.  Zero UDF,
    whole-stage codegen end to end.  ``weight_col`` turns the sketch
    into a weighted-frequency summary (e.g. token counts).  With
    ``hash_mode='md5'`` every cell is bit-replayable in DuckDB.
    """
    d, w = _cms_params(depth, width)
    _require(df, column)
    if by:
        _require(df, by)
    if weight_col:
        _require(df, weight_col)
    v = F.col(column).cast("string")
    weight = (F.col(weight_col).cast("long") if weight_col else F.lit(1)).alias("_w")
    probes = (
        df.where(F.col(column).isNotNull())
        .select(
            *([by] if by else []),
            weight,
            F.explode(_cms_probes(v, d, w, salt, hash_mode)).alias("_p"),
        )
        .select(
            *([by] if by else []),
            F.col("_p.row").alias("row"),
            F.col("_p.col").alias("col"),
            F.col("_w"),
        )
    )
    keys = ([by] if by else []) + ["row", "col"]
    return probes.groupBy(*keys).agg(F.sum("_w").alias("weight"))


def merge_cms_sketches(sketches: DataFrame, by: str | None = None) -> DataFrame:
    """Fold a cell table (from :func:`cms_sketch_table`) across slices,
    optionally regrouped by a coarser key: (``by``?, row, col, weight).

    CMS merge is a LOSSLESS cell-wise integer sum — the merged sketch
    is bit-identical to sketching the concatenated raw slices (same
    salt/depth/width required; cells are position-addressed so no
    value information is needed).  Input is sketch-sized, so this runs
    at aggregate scale regardless of the corpus the slices summarize.
    """
    for c in ("row", "col", "weight"):
        _require(sketches, c)
    keys = ([by] if by else []) + ["row", "col"]
    if by:
        _require(sketches, by)
    return sketches.groupBy(*keys).agg(F.sum("weight").alias("weight"))


def cms_estimate(
    sketches: DataFrame,
    values: list[str],
    depth: int = 4,
    width: int = 1024,
    salt: str = "v1",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Point-frequency estimates for ``values`` from a CMS cell table
    (merged, or per slice — slices are summed cell-wise first):
    (value, estimate) with ``estimate = min over rows of the
    probed cells`` (missing cell = 0).  Deterministic: the same sketch
    table and query set always produce the same estimates, and with
    ``hash_mode='md5'`` the DuckDB oracle replays them bit-for-bit.

    The query set is driver-supplied (suspect tokens, blocklist
    entries, audit probes) and becomes a broadcast literal table of
    len(values) × depth probe rows; the join against the sketch is
    sketch-sized.  Overestimation only: collisions ADD, so
    ``estimate ≥ true`` always — a 0 estimate PROVES absence, the
    property decontamination gates rely on.
    """
    d, w = _cms_params(depth, width)
    for c in ("row", "col", "weight"):
        _require(sketches, c)
    if not values:
        raise ValueError("values must be non-empty")
    spark = sketches.sparkSession
    qdf = spark.createDataFrame([(str(x),) for x in values], ["value"])
    probes = qdf.select(
        "value",
        F.explode(
            _cms_probes(F.col("value"), d, w, salt, hash_mode)
        ).alias("_p"),
    ).select("value", F.col("_p.row").alias("row"), F.col("_p.col").alias("col"))
    # a per-slice table holds one row per (slice, cell): sum each cell
    # first, or the min mixes slices and undercounts. The merged table
    # is ≤ depth × width cells — broadcast it so the probe lookup is a
    # map-side hash join (the probe side can't be the build side of a
    # LEFT join)
    cells = sketches.groupBy("row", "col").agg(F.sum("weight").alias("weight"))
    joined = probes.join(F.broadcast(cells), ["row", "col"], "left")
    return (
        joined.groupBy("value")
        .agg(F.min(F.coalesce(F.col("weight"), F.lit(0))).alias("estimate"))
    )


def decayed_counts(
    df: DataFrame,
    key: str,
    ts: str,
    half_life_s: float,
    ref_ts: str | None = None,
    weight_col: str | None = None,
    round_dp: int = 12,
) -> DataFrame:
    """Exponentially time-decayed counts per key — the trending gauge:
    (key, n_rows, decayed_count) with each row contributing
    ``w · 2^(−Δt / half_life)`` where Δt is seconds from the row's
    ``ts`` to the reference instant (anchor).  A key whose raw count
    is flat but whose decayed count rises is trending; half_life picks
    the horizon (1 day ≈ "what is hot now", 30 days ≈ "what grew this
    month").

    ``ref_ts``: ISO timestamp string anchoring the decay (pin it for
    reproducible snapshots); None anchors at the corpus max(ts) —
    computed in one scalar agg and broadcast, so reruns on the same
    snapshot are deterministic.  ``weight_col`` decays arbitrary
    per-row mass (token counts) instead of 1.

    Scale shape: one map-side-combined groupBy — but a plain double
    sum would drift with partition layout, so each per-row term is
    rounded to ``round_dp`` decimals and accumulated in
    ``DECIMAL(38, round_dp)`` (the js_divergence discipline): the
    result is bit-identical under any layout and exactly replayable
    by the oracle.  Rows with null key/ts are excluded.
    """
    for c in (key, ts):
        _require(df, c)
    if weight_col:
        _require(df, weight_col)
    hl = float(half_life_s)
    if hl <= 0:
        raise ValueError("half_life_s must be positive")
    src = df.where(F.col(key).isNotNull() & F.col(ts).isNotNull())
    if ref_ts is None:
        anchor = src.agg(F.max(F.col(ts)).alias("_anchor"))
        src = src.crossJoin(F.broadcast(anchor))
        anchor_col = F.col("_anchor")
    else:
        anchor_col = F.lit(ref_ts).cast("timestamp_ntz")
    from feature_engineering_tk_spark.functions.timeutil import epoch_micros

    # integer-µs delta (the conversation_stats convention, timezone-
    # independent via epoch_micros), then one pow per row; the
    # round-then-DECIMAL sum pins layout independence
    dt_s = (
        epoch_micros(anchor_col) - epoch_micros(F.col(ts))
    ).cast("double") / F.lit(1000000.0)
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    term = F.round(
        w * F.pow(F.lit(2.0), -dt_s / F.lit(hl)), round_dp
    ).cast(f"decimal(38,{round_dp})")
    return src.groupBy(F.col(key)).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(term).cast("double").alias("decayed_count"),
    )


def burst_scores(
    df: DataFrame,
    key: str,
    ts: str,
    fast_half_life_s: float,
    slow_half_life_s: float,
    ref_ts: str | None = None,
    weight_col: str | None = None,
    round_dp: int = 12,
) -> DataFrame:
    """Burst detection per key: two :func:`decayed_counts` horizons in
    ONE pass — (key, n_rows, fast_count, slow_count, burst_ratio).

    ``burst_ratio = (fast/slow)·(slow_hl/fast_hl)``: for a key firing
    at a steady rate the decayed mass scales with the half-life, so
    the normalized ratio sits ≈ 1; ratios ≫ 1 mark keys whose recent
    rate outruns their long-run rate (the trending/incident signal —
    a token flood, an attack pattern, a breaking topic), ratios ≪ 1
    mark decaying ones.  NULL when the slow horizon saw nothing.

    Same determinism discipline as :func:`decayed_counts` (round-
    ``round_dp`` terms, DECIMAL sums — layout-independent, oracle-
    exact), and both horizons share the single map-side-combined
    groupBy: no second scan.
    """
    from feature_engineering_tk_spark.functions.timeutil import epoch_micros

    for c in (key, ts):
        _require(df, c)
    if weight_col:
        _require(df, weight_col)
    fhl, shl = float(fast_half_life_s), float(slow_half_life_s)
    if fhl <= 0 or shl <= 0:
        raise ValueError("half-lives must be positive")
    if fhl >= shl:
        raise ValueError("fast_half_life_s must be shorter than slow_half_life_s")
    src = df.where(F.col(key).isNotNull() & F.col(ts).isNotNull())
    if ref_ts is None:
        anchor = src.agg(F.max(F.col(ts)).alias("_anchor"))
        src = src.crossJoin(F.broadcast(anchor))
        anchor_col = F.col("_anchor")
    else:
        anchor_col = F.lit(ref_ts).cast("timestamp_ntz")
    dt_s = (
        epoch_micros(anchor_col) - epoch_micros(F.col(ts))
    ).cast("double") / F.lit(1000000.0)
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    dec = f"decimal(38,{round_dp})"

    def term(hl: float):
        return F.round(w * F.pow(F.lit(2.0), -dt_s / F.lit(hl)), round_dp).cast(dec)

    agg = src.groupBy(F.col(key)).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(term(fhl)).cast("double").alias("fast_count"),
        F.sum(term(shl)).cast("double").alias("slow_count"),
    )
    ratio = (F.col("fast_count") / F.col("slow_count")) * F.lit(shl / fhl)
    return agg.select(
        key,
        "n_rows",
        "fast_count",
        "slow_count",
        F.when(F.col("slow_count") > 0, F.round(ratio, round_dp)).alias(
            "burst_ratio"
        ),
    )
