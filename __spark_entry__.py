"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-time feature pipeline on
sf0.001. ``queries()`` exposes one entry per implemented operator
family (SURVEY.md §2), each mirrored by an ANSI-SQL DuckDB oracle in
``oracle_sql()`` on the shared parquet views.

Determinism notes (the driver hash-compares values):
- timestamps are returned as epoch seconds (``CAST(ts AS DOUBLE)`` /
  DuckDB ``epoch(ts)``) so session-timezone differences can't bite;
- sums over doubles go through DECIMAL so partial-aggregation order
  can't change the result; remaining float outputs are rounded to a
  tolerance far above accumulated float noise.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feature_engineering_tk_spark.operators import window_features as W
from feature_engineering_tk_spark.operators.asof import asof_join

# ---------------------------------------------------------------------------
# helpers

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _epoch(c):
    from feature_engineering_tk_spark.functions.timeutil import epoch_seconds

    return epoch_seconds(F.col(c))


EVENT_ORDER = ["ts", "event_id"]  # stable per-user ordering key


# ---------------------------------------------------------------------------
# flagship

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point-in-time feature vectors over the event stream
    (entity=user_id, event time=ts) — lag, rolling window, gap-based
    session, cumulative stats, and an as-of join attaching the latest
    prior 'purchase' value. Every frame ends at the current row ⇒
    zero temporal leakage by construction."""
    sf_dir = "/root/testdata/sf0.001"
    ev = _t(spark, sf_dir, "events")

    feat = W.sessionize(ev, gap_seconds=1800.0, entity="user_id", ts="ts", order=EVENT_ORDER)
    feat = W.with_lag(feat, "value", 1, entity="user_id", order=EVENT_ORDER)
    feat = W.with_turn_gap(feat, ts="ts", entity="user_id", order=EVENT_ORDER, out="gap_s")
    feat = W.rolling_agg(feat, "value", "mean", 5, entity="user_id", order=EVENT_ORDER)
    feat = W.cumulative_agg(feat, "value", "sum", entity="user_id", order=EVENT_ORDER)

    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    feat = asof_join(
        feat,
        purchases,
        entity="user_id",
        value_cols=["purchase_value"],
        suffix="",
    )
    return feat.select(
        "user_id",
        "event_id",
        _epoch("ts").alias("ts_s"),
        "session_id",
        "gap_s",
        "value_lag1",
        "value_roll_mean5",
        "value_cum_sum",
        "purchase_value",
    )


# ---------------------------------------------------------------------------
# queries — window / point-in-time family (events)

def q_lag_lead(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = W.with_lag(ev, "value", 1, entity="user_id", order=EVENT_ORDER, out="value_lag1")
    out = W.with_lead(
        out, "value", 1, entity="user_id", order=EVENT_ORDER, out="value_lead1", allow_future=True
    )
    return out.select("event_id", "user_id", "value", "value_lag1", "value_lead1")


def q_rolling_avg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = W.rolling_agg(
        ev, "value", "mean", 5, entity="user_id", order=EVENT_ORDER, out="roll_avg5"
    )
    return out.select("event_id", "user_id", F.round("roll_avg5", 6).alias("roll_avg5"))


def q_rolling_time_sum(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = W.rolling_time_agg(
        ev, "value", "sum", window_seconds=3600.0, entity="user_id", ts="ts", out="sum_1h"
    )
    return out.select("event_id", "user_id", F.round("sum_1h", 6).alias("sum_1h"))


def q_cumulative_sum(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = W.cumulative_agg(ev, "value", "sum", entity="user_id", order=EVENT_ORDER, out="cum_value")
    return out.select("event_id", "user_id", F.round("cum_value", 6).alias("cum_value"))


def q_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = W.sessionize(
        ev, gap_seconds=1800.0, entity="user_id", ts="ts", order=EVENT_ORDER, out="session_id"
    )
    return out.select("event_id", "user_id", "session_id")


def q_session_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = W.sessionize(
        ev, gap_seconds=1800.0, entity="user_id", ts="ts", order=EVENT_ORDER, out="session_id"
    )
    return (
        W.session_bounds(s, entity="user_id", ts="ts", session_col="session_id")
        .select(
            "user_id",
            "session_id",
            F.round("session_duration_s", 6).alias("duration_s"),
            F.col("n_turns").alias("n_events"),
        )
    )


def q_forward_fill(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    # deterministic nulls: error events lose their value, then LOCF
    ev = ev.withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    )
    out = W.forward_fill(ev, ["v"], entity="user_id", order=EVENT_ORDER)
    return out.select("event_id", "user_id", F.col("v").alias("value_ffill"))


def _asof_frames(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    anchors = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    features = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    return anchors, features


def q_asof_join(spark, sf_dir):
    anchors, features = _asof_frames(spark, sf_dir)
    out = asof_join(anchors, features, entity="user_id", value_cols=["view_value"], suffix="")
    return out.select("event_id", "user_id", _epoch("ts").alias("ts_s"), "view_value")


def q_asof_forward(spark, sf_dir):
    """Forward as-of (operators/asof.py asof_join): earliest
    view at-or-after each click — label construction (time-to-next-
    event style), behind the allow_future=True leak gate. Same single
    union-tag exchange as the backward path; equal timestamps match
    (pandas merge_asof forward parity, tested vs pandas in
    tests/test_asof.py). Oracle: DuckDB native ASOF with <=."""
    anchors, features = _asof_frames(spark, sf_dir)
    out = asof_join(
        anchors, features, entity="user_id", value_cols=["view_value"],
        suffix="", direction="forward", allow_future=True,
    )
    return out.select("event_id", "user_id", _epoch("ts").alias("ts_s"), "view_value")


def q_asof_nearest(spark, sf_dir):
    """Nearest as-of (operators/asof.py asof_join): closest
    view in absolute integer-µs distance, BACKWARD winning equidistant
    ties (pandas rule). One exchange, two window sorts, row-local
    pick. Oracle: backward + forward DuckDB ASOF CTEs combined by the
    identical distance rule."""
    anchors, features = _asof_frames(spark, sf_dir)
    out = asof_join(
        anchors, features, entity="user_id", value_cols=["view_value"],
        suffix="", direction="nearest", allow_future=True,
    )
    return out.select("event_id", "user_id", _epoch("ts").alias("ts_s"), "view_value")


def q_asof_packed(spark, sf_dir):
    """As-of join for a bounded right side (operators/asof.py
    asof_join_packed): the right side packs to one array of
    (ts, values) per entity (map-side partial agg), then an entity
    equi-join Spark picks by size + row-local array pick — a
    pre-partitioned left side is NEVER re-shuffled (the union-tag
    path always is). Same <= tie semantics; merge_asof ROW semantics
    on the value columns. Oracle: DuckDB native ASOF JOIN."""
    from feature_engineering_tk_spark.operators.asof import asof_join_packed

    anchors, features = _asof_frames(spark, sf_dir)
    out = asof_join_packed(
        anchors, features, entity="user_id", value_cols=["view_value"], suffix=""
    )
    return out.select("event_id", "user_id", _epoch("ts").alias("ts_s"), "view_value")


def q_dedup_first(spark, sf_dir):
    """remove_duplicates keep='first' (preprocessing.py:223-272):
    earliest event per (user_id, event_type)."""
    from feature_engineering_tk_spark.operators.rows import remove_duplicates

    ev = _t(spark, sf_dir, "events")
    out = remove_duplicates(ev, subset=["user_id", "event_type"], keep="first", order=("ts", "event_id"))
    return out.select("event_id", "user_id", "event_type")


# ---------------------------------------------------------------------------
# aggregation / stats family (lineitem, orders)

def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_group_broadcast_agg(spark, sf_dir):
    """create_aggregations (feature_engineering.py:576-627): group stat
    broadcast back onto every row via whole-partition window."""
    li = _t(spark, sf_dir, "lineitem")
    out = W.group_transform(li, ["l_partkey"], "l_quantity", funcs=["mean", "max"])
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.round("l_quantity_l_partkey_mean", 6).alias("qty_part_mean"),
        F.col("l_quantity_l_partkey_max").alias("qty_part_max"),
    )


def q_top_revenue_orders(spark, sf_dir):
    """3-table join with NO compile-time broadcast hints: customer is
    corpus-scale (~15M rows at SF100), so committing a BroadcastExchange
    in the plan would pin an OOM risk a 100× scale-up can't undo. AQE
    runtime-broadcasts it at toy SF (post-filter size under the
    threshold) and demotes to shuffle join at scale — same treatment as
    regional_revenue's customer/orders joins."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    big = li.join(
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    return (
        big.groupBy("o_orderkey")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.min(_epoch("o_orderdate")).alias("orderdate_s"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q_datetime_extract(spark, sf_dir):
    """create_datetime_features (feature_engineering.py:513-574) incl.
    the pandas Monday=0 dayofweek convention."""
    from feature_engineering_tk_spark.functions.datetime_features import datetime_features

    o = _t(spark, sf_dir, "orders")
    out = datetime_features(
        o,
        "o_orderdate",
        ["year", "month", "day", "dayofweek", "quarter", "dayofyear", "weekofyear", "is_weekend", "is_month_start", "is_month_end"],
    )
    return out.select(
        "o_orderkey",
        *[f"o_orderdate_{f}" for f in ["year", "month", "day", "dayofweek", "quarter", "dayofyear", "weekofyear", "is_weekend", "is_month_start", "is_month_end"]],
    )


def q_standard_scale(spark, sf_dir):
    """scale_features standard (feature_engineering.py:226-292),
    sklearn ddof=0 convention."""
    from feature_engineering_tk_spark.transforms.scale import Scaler

    li = _t(spark, sf_dir, "lineitem")
    scaler = Scaler(method="standard").fit(li, ["l_quantity"])
    out = scaler.transform(li)
    return out.select(
        "l_orderkey", "l_linenumber", F.round("l_quantity", 6).alias("qty_scaled")
    )


def q_minmax_scale(spark, sf_dir):
    from feature_engineering_tk_spark.transforms.scale import Scaler

    li = _t(spark, sf_dir, "lineitem")
    out = Scaler(method="minmax").fit(li, ["l_extendedprice"]).transform(li)
    return out.select(
        "l_orderkey", "l_linenumber", F.round("l_extendedprice", 6).alias("price_scaled")
    )


def q_iqr_outliers(spark, sf_dir):
    """detect_outliers_iqr (data_analysis.py:96-117): exact quantiles,
    k=1.5 fence, 0/1 flag."""
    from feature_engineering_tk_spark.transforms.outliers import OutlierDetector

    ev = _t(spark, sf_dir, "events")
    det = OutlierDetector(method="iqr", factor=1.5).fit(ev, ["value"])
    out = det.flag(ev, ["value"])
    return out.select("event_id", F.col("value_is_outlier").alias("is_outlier"))


def q_mean_impute(spark, sf_dir):
    """handle_missing_values strategy='mean' (preprocessing.py:170-176):
    deterministic nulls injected, global mean fill."""
    from feature_engineering_tk_spark.transforms.impute import Imputer

    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    )
    imp = Imputer(strategy="mean").fit(ev, ["v"])
    out = imp.transform(ev)
    return out.select("event_id", F.round("v", 6).alias("value_imputed"))


def q_median_impute(spark, sf_dir):
    from feature_engineering_tk_spark.transforms.impute import Imputer

    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    )
    out = Imputer(strategy="median").fit(ev, ["v"]).transform(ev)
    return out.select("event_id", F.round("v", 6).alias("value_imputed"))


def q_label_encode(spark, sf_dir):
    """encode_categorical_label (feature_engineering.py:55-112):
    codes = rank in lexicographically sorted uniques."""
    from feature_engineering_tk_spark.transforms.encode import LabelEncoder

    ev = _t(spark, sf_dir, "events")
    out = LabelEncoder().fit(ev, "event_type").transform(ev, out="event_type_code")
    return out.select("event_id", "event_type_code")


def q_onehot_encode(spark, sf_dir):
    """encode_categorical_onehot (feature_engineering.py:114-184):
    sorted category order, int 0/1 columns, original dropped."""
    from feature_engineering_tk_spark.transforms.encode import OneHotEncoder

    ev = _t(spark, sf_dir, "events")
    out = OneHotEncoder(prefix="et").fit(ev, "event_type").transform(ev)
    keep = ["event_id"] + [c for c in out.columns if c.startswith("et_")]
    return out.select(*keep)


def q_quantile_bin(spark, sf_dir):
    """create_binning quantile (feature_engineering.py:370-442):
    pd.qcut semantics — exact quantile edges, (lo,hi] intervals,
    integer codes."""
    from feature_engineering_tk_spark.transforms.binning import QuantileBinner

    li = _t(spark, sf_dir, "lineitem")
    out = QuantileBinner(bins=4).fit(li, "l_extendedprice").transform(li, out="price_bin")
    return out.select("l_orderkey", "l_linenumber", "price_bin")


def q_clip_flags_ratio(spark, sf_dir):
    """clip_values + create_flag_features + create_ratio_features in one
    projection (preprocessing.py:473-518, feature_engineering.py:629-703)."""
    from feature_engineering_tk_spark.operators.rows import clip_values

    li = _t(spark, sf_dir, "lineitem")
    out = clip_values(li, "l_quantity", lower=5.0, upper=45.0)
    out = out.withColumn("is_returned", (F.col("l_returnflag") == "R").cast("int"))
    out = out.withColumn(
        "disc_ratio",
        F.round(F.col("l_discount") / (F.col("l_tax") + F.lit(1e-8)), 6),
    )
    return out.select(
        "l_orderkey", "l_linenumber", F.col("l_quantity").alias("qty_clipped"), "is_returned", "disc_ratio"
    )


# ---------------------------------------------------------------------------
# text / documents family

def q_string_clean(spark, sf_dir):
    """clean_string_columns (preprocessing.py:912-998): strip → lower →
    remove ASCII punctuation → collapse spaces; plus string length."""
    from feature_engineering_tk_spark.functions.strings import clean_strings

    d = _t(spark, sf_dir, "documents")
    out = clean_strings(
        d, ["text"], ["strip", "lower", "remove_punctuation_ascii", "remove_extra_spaces"]
    )
    return out.select(
        "doc_id", F.col("text").alias("clean_text"), F.length("text").alias("clean_len")
    )


def q_token_count(spark, sf_dir):
    from feature_engineering_tk_spark.functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


def q_text_quality(spark, sf_dir):
    from feature_engineering_tk_spark.functions.text import quality_features

    d = _t(spark, sf_dir, "documents")
    out = quality_features(d, "text")
    return out.select(
        "doc_id",
        "n_chars_clean",
        "n_tokens",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    )


def q_lang_id(spark, sf_dir):
    from feature_engineering_tk_spark.functions.text import lang_id

    d = _t(spark, sf_dir, "documents")
    out = lang_id(d, "text")
    return out.select("doc_id", "lang_pred", F.round("en_score", 6).alias("en_score"))


def q_exact_dedup(spark, sf_dir):
    """Exact dedup: hash-groupBy on normalized text, keep min doc_id."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.lower(F.trim(F.col("text"))).alias("norm_text"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_doc_id", "n_copies")
    )


# ---------------------------------------------------------------------------
# similarity / embeddings family

def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k vs the vec_id=0 query vector — JVM-side
    array arithmetic (zip_with + aggregate), no Python."""
    from feature_engineering_tk_spark.functions.similarity import cosine_sim_to_query

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    out = cosine_sim_to_query(e.crossJoin(F.broadcast(q)), "embedding", "qvec")
    return (
        out.select("vec_id", F.round("cosine_sim", 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(20)
    )


def q_quantized_topk(spark, sf_dir):
    """int8-quantized cosine top-k (functions/similarity.py
    quantize_embeddings): symmetric per-vector int8 — 4x corpus
    memory/IO cut — with EXACT integer dot products and norms (scales
    cancel in cosine), one double division at the end; bit-stable
    ranking under any partitioning. Query = vec_id 0's quantized row,
    paired in-plan (broadcast), so DuckDB replays byte-for-byte."""
    from feature_engineering_tk_spark.functions.similarity import (
        quantize_embeddings,
    )

    e = quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    qrow = e.filter(F.col("vec_id") == 0).select(F.col("q8").alias("qv"))
    paired = e.crossJoin(F.broadcast(qrow))
    idot = F.aggregate(
        F.zip_with("q8", "qv", lambda a, b: a.cast("bigint") * b.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    nsq = F.aggregate(
        F.transform("q8", lambda x: x.cast("bigint") * x.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    qsq = F.aggregate(
        F.transform("qv", lambda x: x.cast("bigint") * x.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    denom = F.sqrt(nsq.cast("double")) * F.sqrt(qsq.cast("double"))
    scored = paired.withColumn(
        "cos_q8", F.when(denom > 0, idot.cast("double") / denom)
    )
    return (
        scored.select("vec_id", F.round("cos_q8", 6).alias("cos_q8"))
        .orderBy(F.col("cos_q8").desc(), F.col("vec_id").asc())
        .limit(20)
    )


def q_minhash_dedup(spark, sf_dir):
    """MinHash+LSH near-dup removal (shingle→minhash→band→bucket-join→
    exact-Jaccard verify), dedup.py:67-186. hash_mode='md5' so the
    DuckDB oracle replays the identical seeded signature pipeline
    value-for-value (xxhash64 default stays the production fast path)."""
    from feature_engineering_tk_spark.operators.dedup import minhash_lsh_dedup

    d = _t(spark, sf_dir, "documents")
    return (
        minhash_lsh_dedup(d, threshold=0.7, hash_mode="md5")
        .select("doc_id")
        .orderBy("doc_id")
    )


def q_simhash(spark, sf_dir):
    """SimHash fingerprints (dedup.py:196) in the oracle-replayable md5
    hash mode: 60 usable bits, per-bit majority vote replayed in SQL."""
    from feature_engineering_tk_spark.operators.dedup import simhash

    d = _t(spark, sf_dir, "documents")
    return simhash(d, hash_mode="md5").select("doc_id", "simhash")


def q_embedding_neardup(spark, sf_dir):
    """LSH-bucketed cosine near-dup pairs. Buckets are pure JVM
    sequential-fold dot-product signs, so the oracle replays them
    bit-for-bit with list_reduce over the same inlined hyperplanes."""
    from feature_engineering_tk_spark.operators.dedup import embedding_neardup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(e, threshold=0.2, dim=64, n_bits=6).select(
        "id_a", "id_b", F.round("cosine_sim", 6).alias("cos_sim")
    )


def q_dedup_components(spark, sf_dir):
    """Duplicate-cluster assignment: verified minhash near-dup pairs →
    connected components via min-label propagation (dedup.py
    connected_components). Oracle = DuckDB recursive CTE computing the
    min reachable id per node over the same verified edge set."""
    from feature_engineering_tk_spark.operators.dedup import (
        connected_components,
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, hash_mode="md5")
    cands = minhash_lsh_candidates(sigs, "doc_id", "minhash", 8, 4, hash_mode="md5")
    dups = (
        ngram_jaccard(cands, d, "doc_id", "text", 3)
        .filter(F.col("jaccard") >= 0.7)
        .select("id_a", "id_b")
    )
    return connected_components(dups).orderBy("id")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (dedup.py ngram_contamination):
    every-50th doc plays the eval set; remaining docs are flagged on
    any shared 3-gram. Hash-join on 60-bit md5 n-gram hashes — the
    oracle replays the identical shingle→hash→distinct→membership
    pipeline in SQL."""
    from feature_engineering_tk_spark.operators.dedup import ngram_contamination

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    out = ngram_contamination(train, bench, shingle_n=3, hash_mode="md5")
    return out.select(
        "doc_id", "n_contaminated_ngrams", "n_ngrams", "contaminated"
    ).orderBy("doc_id")


def q_pack_sequences(spark, sf_dir):
    """Greedy sequence packing (text.py pack_sequences): docs → ≤30-token
    training bins, 8 deterministic shards (doc_id % 8 so the oracle can
    replay the shard too); the oracle walks the identical greedy state
    machine with a recursive CTE."""
    from feature_engineering_tk_spark.functions.text import pack_sequences

    d = _t(spark, sf_dir, "documents").withColumn(
        "shard_k", (F.col("doc_id") % 8).cast("long")
    )
    out = pack_sequences(d, max_tokens=30, shard_col="shard_k")
    return out.select(
        "doc_id", "shard", "n_tokens", "bin_id", "bin_fill", "oversize"
    ).orderBy("doc_id")


def q_scrub_pii(spark, sf_dir):
    """PII redaction (functions/cleaning.py scrub_pii): emails/IPs/
    phones injected deterministically, then scrubbed; the oracle
    replays the same regexes (alternation-free, so Java regex and RE2
    agree)."""
    from feature_engineering_tk_spark.functions.cleaning import scrub_pii

    d = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0.0."),
            (F.col("doc_id") % 255).cast("string"),
            F.lit(" or +1(555)867-53"),
            (F.col("doc_id") % 90 + 10).cast("string"),
        ),
    )
    return scrub_pii(d, "text").select("doc_id", "text").orderBy("doc_id")


def q_repetition(spark, sf_dir):
    """Gopher-style repetition signals (functions/cleaning.py):
    top-n-gram occupancy fraction + duplicate-line fraction."""
    from feature_engineering_tk_spark.functions.cleaning import repetition_features

    d = _t(spark, sf_dir, "documents")
    out = repetition_features(d, ns=(2, 3))
    return out.select(
        "doc_id",
        F.round("top2gram_frac", 6).alias("top2gram_frac"),
        F.round("top3gram_frac", 6).alias("top3gram_frac"),
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
    ).orderBy("doc_id")


def q_hash_sample(spark, sf_dir):
    """Deterministic hash sampling (operators/sampling.py): membership
    is a pure function of (salt, key) — the oracle recomputes the exact
    selected set, which no RNG-based sample() could offer."""
    from feature_engineering_tk_spark.operators.sampling import hash_sample

    d = _t(spark, sf_dir, "documents")
    return hash_sample(d, ["doc_id"], 0.3, hash_mode="md5").select("doc_id").orderBy("doc_id")


def q_sample_per_group(spark, sf_dir):
    """Deterministic k-per-group sampling (operators/sampling.py
    sample_per_group): the 3 lowest-hash events of every user — the
    re-run-stable reservoir replacement for capping per-conversation /
    per-domain contributions. One group-key window, no global sort."""
    from feature_engineering_tk_spark.operators.sampling import sample_per_group

    ev = _t(spark, sf_dir, "events")
    out = sample_per_group(
        ev, "user_id", ["event_id"], k=3, hash_mode="md5", out="rk"
    )
    return out.select("event_id", "user_id", "rk").orderBy("event_id")


def q_group_split(spark, sf_dir):
    """Leak-free train/test split BY GROUP (operators/sampling.py
    group_split): all of a user's events land on one side."""
    from feature_engineering_tk_spark.operators.sampling import group_split

    ev = _t(spark, sf_dir, "events")
    out = group_split(ev, "user_id", test_fraction=0.25, hash_mode="md5")
    return out.select("event_id", "user_id", "is_test").orderBy("event_id")


def q_weighted_mix(spark, sf_dir):
    """Dataset mixing (operators/sampling.py weighted_mix): two
    hash-sampled sources unioned with source tags."""
    from feature_engineering_tk_spark.operators.sampling import weighted_mix

    d = _t(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    out = weighted_mix([(a, 0.5), (b, 0.8)], ["doc_id"], hash_mode="md5")
    return out.select("doc_id", "mix_source").orderBy("doc_id")


def q_doc_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint (text.py fingerprint): the
    polynomial byte-hash mod 2^61-1 is replayed in the oracle with a
    HUGEINT list_reduce (documents are ASCII, so ord == utf-8 byte)."""
    from feature_engineering_tk_spark.functions.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    return fingerprint(d, "text").select("doc_id", "fingerprint")


def q_lsh_topk(spark, sf_dir):
    """ANN top-k via random-hyperplane bucket pruning; bucket bits and
    cosine scores both sequential-fold doubles → exact SQL replay."""
    from feature_engineering_tk_spark.functions.similarity import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    out = lsh_topk(e, [float(x) for x in qvec], k=10, dim=64, n_bits=6)
    return out.select("vec_id", F.round("cosine_sim", 6).alias("cos_sim"))


def q_resample_daily(spark, sf_dir):
    """Calendar resample (operators/window_features.py resample):
    per-event_type daily buckets with count/sum/avg/min/max — one
    partial-agg groupBy on a row-local date_trunc key."""
    from feature_engineering_tk_spark.operators.window_features import resample

    ev = _t(spark, sf_dir, "events")
    out = resample(
        ev,
        ts="ts",
        every="day",
        entity="event_type",
        aggs={"*": "count", "value": "sum"},
    )
    # date (not timestamp) output: the driver comparator's pandas
    # timestamp dtypes differ between engines for bare timestamps
    return out.withColumn("bucket", F.to_date("bucket"))


def q_ann_recall(spark, sf_dir):
    """ANN index quality (functions/similarity.py ann_recall):
    recall@10 of the hyperplane-LSH top-k against the brute-force
    cosine top-10 for the same query vector — k-sized join, no corpus
    rescan."""
    from feature_engineering_tk_spark.functions.similarity import ann_recall

    approx = q_lsh_topk(spark, sf_dir)
    exact = (
        q_cosine_topk(spark, sf_dir)
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )
    return ann_recall(approx, exact)


def q_kendall_corr(spark, sf_dir):
    """Kendall tau-b matrix (reference data_analysis.py:143-156,
    corr(method='kendall')) on a deterministic lineitem subset; the
    oracle counts concordant/discordant/tied pairs explicitly in SQL —
    Knight's O(n log n) inversion count must equal the O(n²) truth."""
    from feature_engineering_tk_spark.analysis.eda import kendall_matrix

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 37 == 0)
    cols, mat = kendall_matrix(li, ["l_quantity", "l_extendedprice", "l_discount"])
    rows = [
        (f"{cols[i]}|{cols[j]}", round(float(mat[i, j]), 6))
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    return spark.createDataFrame(rows, "pair string, tau double")


def q_check_normality(spark, sf_dir):
    """Shapiro-Wilk (Royston AS R94, normality.py) on a deterministic
    5000-row subset (even event_ids at sf0.01 — exactly the reference's
    max sample size, statistical_utils.py:39-120). Emits the W statistic
    and its normalizing z; the oracle replays AS R94 in SQL with the
    n=5000 weight vector inlined (the p-value needs erfc, which DuckDB
    lacks — it is covered by the pytest calibration suite instead)."""
    from feature_engineering_tk_spark.analysis.normality import (
        sampled_column,
        shapiro_wilk,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 2 == 0)
    vals, _total = sampled_column(ev, "value")
    res = shapiro_wilk(vals)
    rows = [(round(res["statistic"], 6), round(res["z"], 6), res["n"])]
    return spark.createDataFrame(rows, "stat_w double, z double, n long")


def q_tfidf(spark, sf_dir):
    """Per-(doc, term) TF-IDF with sklearn default semantics (smooth
    idf, L2 normalize) — functions/text.py tf_idf; every stage is a
    partial-aggregatable groupBy replayed exactly in the oracle."""
    from feature_engineering_tk_spark.functions.text import tf_idf

    d = _t(spark, sf_dir, "documents")
    out = tf_idf(d, min_df=2)
    return out.select(
        "doc_id", "term", "tf", "df", F.round("tfidf", 6).alias("tfidf")
    )


def q_knn_join(spark, sf_dir):
    """Batch k-NN join (similarity.py knn_join): top-5 cosine
    neighbors for each of 5 query vectors in one corpus pass."""
    from feature_engineering_tk_spark.functions.similarity import knn_join

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = knn_join(q, e, k=5)
    return out.select(
        "q_id", "vec_id", F.round("cosine_sim", 6).alias("cos_sim"), "rank"
    )


def q_embedding_norms(spark, sf_dir):
    from feature_engineering_tk_spark.functions.similarity import l2_norm

    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", "label", F.round(l2_norm(F.col("embedding")), 6).alias("l2_norm")
    )


# ---------------------------------------------------------------------------
# analysis family (distributed sufficient statistics)

def q_numeric_summary(spark, sf_dir):
    """get_numeric_summary / describe() parity (data_analysis.py:58-67),
    one multi-aggregate job, exact percentiles; melted to one row per
    column for the oracle compare."""
    from feature_engineering_tk_spark.analysis.eda import get_numeric_summary

    li = _t(spark, sf_dir, "lineitem")
    summ = get_numeric_summary(li, ["l_quantity", "l_extendedprice", "l_discount"])
    rows = [
        (
            c,
            float(s["count"]),
            round(s["mean"], 6),
            round(s["std"], 6),
            float(s["min"]),
            round(s["q50"], 6),
            float(s["max"]),
        )
        for c, s in summ.items()
    ]
    return spark.createDataFrame(
        rows, "col_name string, n_count double, mean double, std double, min_v double, median double, max_v double"
    )


def q_missing_summary(spark, sf_dir):
    """get_missing_summary (data_analysis.py:46-56) with deterministic
    injected nulls."""
    from feature_engineering_tk_spark.analysis.eda import get_missing_summary

    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    ).select("event_id", "v", "event_type")
    total = ev.count()
    # Bit-stable pct: integer parts-per-million of percent, then /1e6 —
    # the oracle replays the identical integer arithmetic, so the driver's
    # exact-value hash matches (r01 failed on last-ulp rounding drift).
    rows = [
        (d["column"], d["missing"], ((d["missing"] * 100_000_000) // total) / 1_000_000.0)
        for d in get_missing_summary(ev, total=total)
    ]
    return spark.createDataFrame(rows, "col_name string, n_missing long, missing_pct double")


def q_cardinality(spark, sf_dir):
    """get_cardinality_info (data_analysis.py:182-212), exact
    countDistinct in one pass."""
    from feature_engineering_tk_spark.analysis.eda import get_cardinality_info

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    info = get_cardinality_info(ev)
    rows = [(c, v["unique"], round(v["ratio"], 6)) for c, v in info.items()]
    return spark.createDataFrame(rows, "col_name string, n_unique long, uniq_ratio double")


def q_class_distribution(spark, sf_dir):
    """analyze_class_distribution (target_analyzer/core.py:119-147)."""
    from feature_engineering_tk_spark.analysis.target import TargetAnalyzer

    ev = _t(spark, sf_dir, "events")
    dist = TargetAnalyzer(ev, "event_type", task="classification").analyze_class_distribution()
    rows = [
        (d["class"], d["count"], round(d["pct"], 6), round(d["imbalance_ratio"], 6))
        for d in dist
    ]
    return spark.createDataFrame(rows, "class string, n long, pct double, imbalance_ratio double")


def q_classwise_stats(spark, sf_dir):
    """analyze_class_wise_statistics (statistical.py:252-342): one
    groupBy job, no per-class loops."""
    from feature_engineering_tk_spark.analysis.target import TargetAnalyzer

    ev = _t(spark, sf_dir, "events")
    rows = TargetAnalyzer(ev, "event_type", task="classification").analyze_class_wise_statistics(
        ["value"]
    )
    data = [
        (
            r["class"],
            r["count"],
            round(r["mean"], 6),
            round(r["median"], 6),
            round(r["std"], 6),
            float(r["min"]),
            float(r["max"]),
        )
        for r in rows
    ]
    return spark.createDataFrame(
        data, "class string, n long, mean double, median double, std double, min_v double, max_v double"
    )


def q_anova_f(spark, sf_dir):
    """One-way ANOVA F of value across event types from distributed
    group moments (statistical.py:31-250 closed form)."""
    from feature_engineering_tk_spark.analysis import stats as ST

    ev = _t(spark, sf_dir, "events")
    groups = ST.group_moments(ev, "value", "event_type")
    res = ST.anova_f_from_groups(groups)
    return spark.createDataFrame([(round(res["F"], 6),)], "f_stat double")


def q_pearson_corr(spark, sf_dir):
    """Pairwise-complete Pearson correlations (data_analysis.py:143-156)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("r_qty_price"),
        F.round(F.corr("l_discount", "l_tax"), 6).alias("r_disc_tax"),
    )


# ---------------------------------------------------------------------------
# second-wave coverage: remaining SURVEY.md §2 operator families

def q_backward_fill(spark, sf_dir):
    """bfill (preprocessing.py:198-200) — future-reading, explicit
    opt-in via allow_future=True."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    )
    out = W.backward_fill(ev, ["v"], entity="user_id", order=EVENT_ORDER, allow_future=True)
    return out.select("event_id", "user_id", F.col("v").alias("value_bfill"))


def q_interpolate(spark, sf_dir):
    """pandas interpolate(method='linear') parity (preprocessing.py:202-207)
    — two bracketing windows + linear blend, no UDF."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    )
    out = W.interpolate_linear(ev, ["v"], entity="user_id", order=EVENT_ORDER)
    return out.select("event_id", "user_id", F.round("v", 6).alias("value_interp"))


def q_ordinal_encode(spark, sf_dir):
    """encode_categorical_ordinal (feature_engineering.py:186-224):
    explicit order → index, unknown → -1, float output."""
    from feature_engineering_tk_spark.transforms.encode import OrdinalEncoder

    ev = _t(spark, sf_dir, "events")
    enc = OrdinalEncoder(categories=["view", "click", "purchase"]).fit(ev, "event_type")
    out = enc.transform(ev, out="et_ord")
    return out.select("event_id", "et_ord")


def q_polynomial(spark, sf_dir):
    """create_polynomial_features degree-2 (feature_engineering.py:294-368):
    squared + pairwise interaction, plain column arithmetic."""
    from feature_engineering_tk_spark.functions.numeric import polynomial_features

    li = _t(spark, sf_dir, "lineitem")
    out = polynomial_features(li, ["l_quantity", "l_discount"], degree=2)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity_squared", 6).alias("qty_sq"),
        F.round("l_discount_squared", 6).alias("disc_sq"),
        F.round("l_quantity_x_l_discount", 6).alias("qty_x_disc"),
    )


def q_log_sqrt(spark, sf_dir):
    """create_log_transform (offset = abs(min)+1 when min <= 0) +
    create_sqrt_transform (feature_engineering.py:444-511)."""
    from feature_engineering_tk_spark.functions.numeric import log_transform, sqrt_transform

    ev = _t(spark, sf_dir, "events").withColumn("v_shift", F.col("value") - F.lit(50.0))
    out = log_transform(ev, ["v_shift"])
    out = sqrt_transform(out, ["value"])
    return out.select(
        "event_id",
        F.round("v_shift_log", 6).alias("v_log"),
        F.round("value_sqrt", 6).alias("v_sqrt"),
    )


def q_robust_scale(spark, sf_dir):
    """scale_features robust (feature_engineering.py:226-292):
    (x - median) / (Q3 - Q1), exact percentiles."""
    from feature_engineering_tk_spark.transforms.scale import Scaler

    li = _t(spark, sf_dir, "lineitem")
    out = Scaler(method="robust").fit(li, ["l_extendedprice"]).transform(li)
    return out.select(
        "l_orderkey", "l_linenumber", F.round("l_extendedprice", 6).alias("price_scaled")
    )


def q_zscore_outliers(spark, sf_dir):
    """detect_outliers_zscore (data_analysis.py:119-141): |x-mean|/std > 3,
    std ddof=1."""
    from feature_engineering_tk_spark.transforms.outliers import OutlierDetector

    ev = _t(spark, sf_dir, "events")
    out = OutlierDetector(method="zscore", threshold=3.0).fit(ev, ["value"]).flag(ev, ["value"])
    return out.select("event_id", F.col("value_is_outlier").alias("is_outlier"))


def q_outlier_cap(spark, sf_dir):
    """handle_outliers action='cap' (preprocessing.py:375-386): clamp at
    the IQR fences, upcast to double."""
    from feature_engineering_tk_spark.transforms.outliers import OutlierDetector

    ev = _t(spark, sf_dir, "events")
    out = OutlierDetector(method="iqr", factor=1.5).fit(ev, ["value"]).cap(ev)
    return out.select("event_id", F.round("value", 6).alias("value_capped"))


def q_dedup_last(spark, sf_dir):
    """remove_duplicates keep='last' (preprocessing.py:223-272)."""
    from feature_engineering_tk_spark.operators.rows import remove_duplicates

    ev = _t(spark, sf_dir, "events")
    out = remove_duplicates(ev, subset=["user_id", "event_type"], keep="last", order=("ts", "event_id"))
    return out.select("event_id", "user_id", "event_type")


def q_dedup_unique_only(spark, sf_dir):
    """remove_duplicates keep=False: drop ALL rows of any duplicated key
    (preprocessing.py:223-272)."""
    from feature_engineering_tk_spark.operators.rows import remove_duplicates

    # slice to the first 500 events so some (user, type) keys are genuinely
    # unique — keep=False over the full table removes every row here
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    out = remove_duplicates(ev, subset=["user_id", "event_type"], keep=False)
    return out.select("event_id", "user_id", "event_type")


def q_missing_indicators(spark, sf_dir):
    """create_missing_indicators (preprocessing.py:1231-1286):
    {col}_was_missing 0/1 flags."""
    from feature_engineering_tk_spark.operators.rows import create_missing_indicators

    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    )
    out = create_missing_indicators(ev, ["v", "value"])
    return out.select("event_id", "v_was_missing", "value_was_missing")


def q_infinite_values(spark, sf_dir):
    """detect_infinite_values (preprocessing.py:1196-1229): per-column
    ±inf counts (injected deterministically)."""
    from feature_engineering_tk_spark.operators.rows import detect_infinite_values

    ev = _t(spark, sf_dir, "events").withColumn(
        "v",
        F.when(F.col("event_type") == "error", F.lit(float("inf")))
        .when(F.col("event_type") == "signup", F.lit(float("-inf")))
        .otherwise(F.col("value")),
    )
    counts = detect_infinite_values(ev, ["v", "value"])
    return spark.createDataFrame(
        [(c, n) for c, n in sorted(counts.items())], "col_name string, n_inf long"
    )


def q_string_title_len(spark, sf_dir):
    """clean_string_columns 'title' (exact pandas str.title via Arrow
    pandas UDF — initcap differs) + handle_whitespace_variants +
    extract_string_length (preprocessing.py:912-1106)."""
    from feature_engineering_tk_spark.functions.strings import (
        clean_strings,
        extract_string_length,
    )

    d = _t(spark, sf_dir, "documents")
    out = clean_strings(d, ["text"], ["normalize_whitespace", "title"])
    out = extract_string_length(out, ["text"])
    return out.select("doc_id", F.col("text").alias("title_text"), F.col("text_length"))


def q_high_correlations(spark, sf_dir):
    """get_high_correlations (data_analysis.py:158-180): pairwise-complete
    upper-triangle pairs |r| >= threshold."""
    from feature_engineering_tk_spark.analysis.eda import get_high_correlations

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "l_net", F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    )
    pairs = get_high_correlations(
        li, threshold=0.1, columns=["l_quantity", "l_extendedprice", "l_discount", "l_net"]
    )
    rows = [(p["a"], p["b"], round(float(p["r"]), 6)) for p in pairs]
    return spark.createDataFrame(rows, "col_a string, col_b string, r double")


def q_variance_select(spark, sf_dir):
    """select_by_variance (feature_selection.py:61-85): var_pop (ddof=0,
    sklearn VarianceThreshold) per feature + keep decision."""
    from feature_engineering_tk_spark.analysis.selection import FeatureSelector

    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    sel = FeatureSelector(li, target=None)
    kept = sel.select_by_variance(threshold=1.0)
    # variances span 1e-4..1e9 — fixed-decimal rounding can't be both
    # stable and informative, so report mantissa (6dp) + exponent
    import math

    def _sig(v: float) -> tuple[float, int]:
        e = math.floor(math.log10(abs(v))) if v else 0
        return round(v / 10**e, 6), e

    rows = [
        (c, *_sig(v), 1 if c in kept else 0) for c, v in sorted(sel.scores_.items())
    ]
    return spark.createDataFrame(
        rows, "feature string, var_mant double, var_exp int, selected int"
    )


def q_skew_kurtosis(spark, sf_dir):
    """analyze_target_distribution moments (target_analyzer/core.py:199-253):
    pandas/DuckDB bias-corrected G1 skew + G2 excess kurtosis from Spark
    population moments (the §2.9 parity trap)."""
    from feature_engineering_tk_spark.analysis.stats import (
        bias_corrected_kurtosis,
        bias_corrected_skew,
    )

    ev = _t(spark, sf_dir, "events")
    row = ev.agg(
        F.count("value").alias("n"),
        F.skewness("value").alias("g1"),
        F.kurtosis("value").alias("g2"),
    ).first()
    return spark.createDataFrame(
        [
            (
                round(bias_corrected_skew(row["g1"], row["n"]), 6),
                round(bias_corrected_kurtosis(row["g2"], row["n"]), 6),
            )
        ],
        "skew_g1 double, kurt_g2 double",
    )


def q_effect_sizes(spark, sf_dir):
    """cohens_d (statistical_utils.py:395-480) + eta_squared (:483-565)
    from one distributed group-moments pass."""
    from feature_engineering_tk_spark.analysis import stats as ST

    ev = _t(spark, sf_dir, "events")
    groups = ST.group_moments(ev, "value", "event_type")
    by = {g["group"]: g for g in groups}
    a, b = by["view"], by["click"]
    d = ST.cohens_d(a["n"], a["mean"], a["var"], b["n"], b["mean"], b["var"])
    eta = ST.eta_squared_from_groups(groups)
    return spark.createDataFrame(
        [(round(d["d"], 6), round(eta, 6))], "cohens_d double, eta_squared double"
    )


def q_chi2_cramers(spark, sf_dir):
    """chi-square independence + Cramér's V (statistical_utils.py:568-695)
    from a distributed contingency table (event_type × above-median
    value)."""
    from feature_engineering_tk_spark.analysis import stats as ST

    ev = _t(spark, sf_dir, "events")
    med = ev.agg(F.percentile(F.col("value"), F.lit(0.5))).first()[0]
    work = ev.withColumn("hi", (F.col("value") > F.lit(med)).cast("int"))
    observed = ST.contingency_table(work, "event_type", "hi")
    chi2 = ST.chi2_independence(observed)
    v = ST.cramers_v(observed)
    return spark.createDataFrame(
        [(round(chi2["chi2"], 6), int(chi2["dof"]), round(v, 6))],
        "chi2 double, dof int, cramers_v double",
    )


def q_class_imbalance(spark, sf_dir):
    """get_class_imbalance_info (target_analyzer/core.py:149-197)."""
    from feature_engineering_tk_spark.analysis.target import TargetAnalyzer

    ev = _t(spark, sf_dir, "events")
    info = TargetAnalyzer(ev, "event_type", task="classification").get_class_imbalance_info()
    return spark.createDataFrame(
        [(str(info["majority"]), str(info["minority"]), round(float(info["ratio"]), 6))],
        "majority string, minority string, ratio double",
    )


def q_categorical_summary(spark, sf_dir):
    """get_categorical_summary (data_analysis.py:69-94): nunique, mode
    (smallest on ties), top freq/% per string column."""
    from feature_engineering_tk_spark.analysis.eda import get_categorical_summary

    d = _t(spark, sf_dir, "documents")
    summ = get_categorical_summary(d, ["lang", "source"])
    rows = [
        (c, s["unique"], s["mode"], s["top_freq"], round(s["top_pct"], 6))
        for c, s in sorted(summ.items())
    ]
    return spark.createDataFrame(
        rows, "col_name string, n_unique long, mode string, top_freq long, top_pct double"
    )


def q_data_quality(spark, sf_dir):
    """validate_data_quality (preprocessing.py:1110-1194): nulls,
    duplicates, constant cols, high-cardinality cols in one multi-agg."""
    from feature_engineering_tk_spark.analysis.eda import validate_data_quality

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn(
            "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
        )
        .withColumn("const_col", F.lit(1))
        .select("user_id", "event_type", "v", "const_col")
    )
    q = validate_data_quality(ev)
    return spark.createDataFrame(
        [
            (
                q["rows"],
                sum(q["nulls"].values()),
                len(q["constant_columns"]),
                q["duplicates"],
            )
        ],
        "n_rows long, total_nulls long, n_constant long, n_duplicates long",
    )


def q_uniform_bin(spark, sf_dir):
    """create_binning uniform (feature_engineering.py:370-442): pd.cut
    edge math — linspace edges, left edge widened 0.1% of range,
    right-closed intervals."""
    from feature_engineering_tk_spark.transforms.binning import UniformBinner

    li = _t(spark, sf_dir, "lineitem")
    out = UniformBinner(bins=4).fit(li, "l_extendedprice").transform(li, out="price_bin")
    return out.select("l_orderkey", "l_linenumber", "price_bin")


def q_spearman_corr(spark, sf_dir):
    """Spearman correlation with average ranks on ties (pandas parity;
    data_analysis.py:143-156 method='spearman')."""
    from feature_engineering_tk_spark.analysis.eda import correlation_matrix

    li = _t(spark, sf_dir, "lineitem")
    cols, mat = correlation_matrix(
        li, ["l_quantity", "l_extendedprice"], method="spearman"
    )
    return spark.createDataFrame([(round(float(mat[0, 1]), 6),)], "rho double")


def q_vif(spark, sf_dir):
    """calculate_vif (data_analysis.py:214-274): Gram-matrix pass →
    driver inverts the correlation matrix; VIF_i = diag(inv(R))_i."""
    from feature_engineering_tk_spark.analysis.eda import calculate_vif

    li = _t(spark, sf_dir, "lineitem")
    rows = calculate_vif(li, ["l_quantity", "l_extendedprice", "l_discount"])
    return spark.createDataFrame(
        [(r["feature"], round(r["vif"], 6)) for r in rows], "feature string, vif double"
    )


def q_range_join(spark, sf_dir):
    """Time-range join (bucketed equi-join, no inequality explosion):
    per click anchor, count/sum of view values in the trailing hour."""
    from feature_engineering_tk_spark.operators.asof import range_join_agg

    ev = _t(spark, sf_dir, "events")
    anchors = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = range_join_agg(
        anchors, views, entity="user_id", window_seconds=3600.0,
        value_col="value", funcs=("count", "sum"),
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("value_range_count").alias("n_views_1h"),
        F.round("value_range_sum", 6).alias("sum_views_1h"),
    )


def q_tumbling_daily(spark, sf_dir):
    """Tumbling time-bucket aggregation (batch analog of a streaming
    tumbling window; §2.20): daily event counts + value sum per type."""
    from feature_engineering_tk_spark.operators.window_features import tumbling_agg

    ev = _t(spark, sf_dir, "events")
    out = tumbling_agg(
        ev,
        86400,
        keys=["event_type"],
        aggs={
            "n": F.count(F.lit(1)),
            "value_sum": F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2),
        },
    )
    return out.select(
        "event_type", _epoch("window_start").alias("day_start_s"), "n", "value_sum"
    )


def q_ngram_jaccard(spark, sf_dir):
    """Exact token-3-gram Jaccard for a bounded candidate set (dedup
    verification primitive) — JVM array set ops."""
    from feature_engineering_tk_spark.operators.dedup import ngram_jaccard

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    pairs = (
        d.select(F.col("doc_id").alias("id_a"))
        .crossJoin(d.select(F.col("doc_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    out = ngram_jaccard(pairs, _t(spark, sf_dir, "documents"), shingle_n=3)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_mode_impute(spark, sf_dir):
    """handle_missing_values strategy='mode' (preprocessing.py:186-192):
    pandas mode()[0] = smallest value among max-count ties."""
    from feature_engineering_tk_spark.transforms.impute import Imputer

    d = _t(spark, sf_dir, "documents").withColumn(
        "lang2", F.when(F.col("source") == "src0", F.lit(None)).otherwise(F.col("lang"))
    )
    out = Imputer(strategy="mode").fit(d, ["lang2"]).transform(d)
    return out.select("doc_id", F.col("lang2").alias("lang_imputed"))


def q_detect_task(spark, sf_dir):
    """_detect_task heuristics (target_analyzer/core.py:66-92): dtype +
    cardinality rules."""
    from feature_engineering_tk_spark.analysis.target import detect_task

    ev = _t(spark, sf_dir, "events")
    return spark.createDataFrame(
        [(detect_task(ev, "event_type"), detect_task(ev, "value"))],
        "task_event_type string, task_value string",
    )


def q_basic_info(spark, sf_dir):
    """get_basic_info (data_analysis.py:36-44): shape + duplicate count."""
    from feature_engineering_tk_spark.analysis.eda import get_basic_info

    d = _t(spark, sf_dir, "documents").select("text", "lang", "source")
    info = get_basic_info(d)
    return spark.createDataFrame(
        [(info["rows"], info["columns"], info["duplicates"])],
        "n_rows long, n_cols long, n_duplicates long",
    )


def q_custom_udf(spark, sf_dir):
    """apply_custom_function (preprocessing.py:772-824) through the
    Arrow-vectorized Series→Series pandas UDF path (never per-row
    Python) — oracle proves numeric equivalence with the SQL form."""
    import numpy as np

    from feature_engineering_tk_spark.operators.rows import apply_custom_function

    ev = _t(spark, sf_dir, "events")
    out = apply_custom_function(
        ev, "value", lambda s: np.log1p(s) * 2.0, out="v_custom"
    )
    return out.select("event_id", F.round("v_custom", 6).alias("v_custom"))


def q_levene(spark, sf_dir):
    """Brown-Forsythe Levene (statistical_utils.py:184-256): per-group
    medians then ANOVA on |x - median| — two distributed passes, closed
    form on driver. p-value omitted (F-dist CDF isn't ANSI SQL)."""
    from feature_engineering_tk_spark.analysis.stats import levene_from_spark

    ev = _t(spark, sf_dir, "events")
    res = levene_from_spark(ev, "value", "event_type")
    return spark.createDataFrame([(round(res["statistic"], 6),)], "levene_w double")


def q_mutual_info(spark, sf_dir):
    """analyze_mutual_information (statistical.py:429-533): binned
    plug-in MI estimator from a distributed contingency job, normalized
    by log(n_classes)."""
    from feature_engineering_tk_spark.analysis.target import TargetAnalyzer

    ev = _t(spark, sf_dir, "events")
    rows = TargetAnalyzer(ev, "event_type", task="classification").analyze_mutual_information(
        ["value"], bins=16
    )
    return spark.createDataFrame(
        [(r["feature"], round(r["mi"], 6)) for r in rows], "feature string, mi double"
    )


def q_anova_per_feature(spark, sf_dir):
    """analyze_feature_target_relationship (statistical.py:31-250):
    per-feature ANOVA F across target classes (p-values and BH-FDR are
    driver-side scipy-equivalents — see feature_target_fdr)."""
    from feature_engineering_tk_spark.analysis import stats as ST

    li = _t(spark, sf_dir, "lineitem")
    rows = []
    for c in ["l_quantity", "l_extendedprice", "l_discount"]:
        groups = ST.group_moments(li, c, "l_returnflag")
        rows.append((c, round(ST.anova_f_from_groups(groups)["F"], 6)))
    return spark.createDataFrame(rows, "feature string, f_stat double")


def q_feature_target_fdr(spark, sf_dir):
    """Full relationship pipeline incl. p-values + Benjamini-Hochberg
    FDR (statistical_utils.py:723-795). F-distribution tails aren't
    ANSI-SQL-expressible → rows-only check; the F statistics themselves
    are oracle-verified by anova_per_feature."""
    from feature_engineering_tk_spark.analysis.target import TargetAnalyzer

    ev = _t(spark, sf_dir, "events")
    rows = TargetAnalyzer(ev, "event_type", task="classification").analyze_feature_target_relationship(
        ["value"]
    )
    return spark.createDataFrame(
        [
            (
                r["feature"],
                r["test"],
                round(float(r["statistic"]), 6),
                round(float(r["pvalue"]), 9),
                round(float(r.get("pvalue_adj", r["pvalue"])), 9),
            )
            for r in rows
        ],
        "feature string, test string, statistic double, pvalue double, pvalue_adj double",
    )


def q_mean_ci(spark, sf_dir):
    """calculate_mean_ci (statistical_utils.py:802-856): t-distribution
    CI from distributed (n, mean, std). The t-quantile depends only on
    (confidence, df); the oracle inlines t_ppf(0.975, n-1) computed by
    the same special-functions code and replays the CI arithmetic in
    SQL."""
    from feature_engineering_tk_spark.analysis.stats import mean_ci

    ev = _t(spark, sf_dir, "events")
    row = ev.agg(
        F.count("value").alias("n"),
        F.avg("value").alias("m"),
        F.stddev_samp("value").alias("s"),
    ).first()
    lo, hi = mean_ci(row["n"], row["m"], row["s"], confidence=0.95)
    return spark.createDataFrame(
        [(round(lo, 6), round(hi, 6))], "ci_lo double, ci_hi double"
    )


def q_constant_columns(spark, sf_dir):
    """remove_constant_columns (preprocessing.py:520-559): one-pass
    null-excluding countDistinct, drop cols with <= 1 unique."""
    from feature_engineering_tk_spark.operators.rows import remove_constant_columns

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("const_a", F.lit(7))
        .withColumn("all_null", F.lit(None).cast("double"))
        .select("event_id", "event_type", "value", "const_a", "all_null")
    )
    out = remove_constant_columns(ev)
    return spark.createDataFrame(
        [(c,) for c in sorted(out.columns)], "kept_column string"
    )


# ---------------------------------------------------------------------------
# queries — row ops / sampling / set ops

def q_filter_project(spark, sf_dir):
    """filter_rows (preprocessing.py:610-654) + rename_columns (:696-729)
    + reorder_columns (:731-770) in one declarative plan — the filter and
    projection both reach the parquet scan (PushedFilters/ReadSchema)."""
    from feature_engineering_tk_spark.operators.rows import (
        filter_rows,
        rename_columns,
        reorder_columns,
    )

    od = _t(spark, sf_dir, "orders")
    out = filter_rows(od, (F.col("o_totalprice") > 200000) & (F.col("o_orderstatus") == "O"))
    out = rename_columns(out, {"o_totalprice": "total", "o_orderpriority": "priority"})
    out = reorder_columns(out, ["o_orderkey", "total", "priority"])
    return out.select("o_orderkey", "total", "priority")


def q_deterministic_sample(spark, sf_dir):
    """sample_data (preprocessing.py:857-908) re-expressed as a
    deterministic arithmetic-hash sample — the only sampling form that
    is reproducible across engines AND across cluster sizes (Bernoulli
    `df.sample(seed)` changes with partitioning; this never does)."""
    od = _t(spark, sf_dir, "orders")
    keep = F.pmod(F.col("o_orderkey") * F.lit(2654435761), F.lit(1000)) < 100
    return od.filter(keep).select("o_orderkey", "o_custkey", "o_totalprice")


def q_set_ops(spark, sf_dir):
    """Set-op surface (SURVEY.md §2.12): users with purchases INTERSECT /
    EXCEPT users with errors, tagged and unioned — distinct-aggregate
    shaped, shuffles once per branch on the same key."""
    ev = _t(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    both = buyers.intersect(erroring).withColumn("tag", F.lit("both"))
    only_buy = buyers.subtract(erroring).withColumn("tag", F.lit("purchase_only"))
    return both.unionByName(only_buy)


def q_drop_missing(spark, sf_dir):
    """handle_missing_values strategy='drop' (preprocessing.py:152-163):
    na.drop on the target column (+ the 30% destructive-op guard lives in
    the pipeline layer)."""
    from feature_engineering_tk_spark.transforms.impute import Imputer

    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    )
    imp = Imputer(strategy="drop").fit(ev, ["v"])
    return imp.transform(ev).select("event_id", F.round("v", 6).alias("v"))


def q_json_extract(spark, sf_dir):
    """Semi-structured props column: JSON path extraction stays JVM-side
    (get_json_object inside whole-stage codegen) — the engine's answer to
    per-row Python json.loads."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


def q_ranking(spark, sf_dir):
    """Ranking analytics family (row_number / rank / dense_rank / ntile)
    over the per-user ordered window — completes the §2.11 window surface
    (row_number is the reference's duplicate keep='first' primitive)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "vb", F.floor(F.col("value") / 100).cast("int")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("vb").desc(), F.col("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        "vb",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


# ---------------------------------------------------------------------------
# queries — outliers / selection / correlation extensions

def q_outlier_replace(spark, sf_dir):
    """handle_outliers action='replace' (preprocessing.py:388-401):
    IQR-fenced outliers replaced with the exact median (percentile, not
    approx); int upcast to double (pandas parity)."""
    from feature_engineering_tk_spark.transforms.outliers import OutlierDetector

    ev = _t(spark, sf_dir, "events")
    med = ev.agg(F.percentile("value", F.lit(0.5)).alias("m")).first()["m"]
    det = OutlierDetector(method="iqr", factor=1.5).fit(ev, ["value"])
    out = det.replace(ev, {"value": float(med)})
    return out.select("event_id", F.round("value", 6).alias("value_replaced"))


def q_target_corr_select(spark, sf_dir):
    """select_by_target_correlation (feature_selection.py:116-162):
    top-k |corr(feature, target)| — one agg pass, top-k on the driver."""
    from feature_engineering_tk_spark.analysis.selection import FeatureSelector

    li = _t(spark, sf_dir, "lineitem")
    sel = FeatureSelector(li, target="l_extendedprice")
    kept = sel.select_by_target_correlation(
        top_k=2, columns=["l_quantity", "l_discount", "l_tax"]
    )
    return spark.createDataFrame(
        [(c, round(sel.scores_[c], 6)) for c in kept], "feature string, abs_corr double"
    )


def q_correlation_select(spark, sf_dir):
    """select_by_correlation greedy upper-triangle drop in column order
    (feature_selection.py:87-114) — order matters for parity; the oracle
    unrolls the same greedy logic over the collected corr values."""
    from feature_engineering_tk_spark.analysis.selection import FeatureSelector

    li = (
        _t(spark, sf_dir, "lineitem")
        .withColumn("qty2", F.col("l_quantity") * 2 + 1)
        .withColumn("negq", -F.col("l_quantity"))
    )
    sel = FeatureSelector(li)
    kept = sel.select_by_correlation(
        threshold=0.9, columns=["l_quantity", "qty2", "l_extendedprice", "negq"]
    )
    return spark.createDataFrame([(c,) for c in kept], "kept_column string")


def q_correlation_ci(spark, sf_dir):
    """calculate_correlation_ci (statistical_utils.py:859-923): Fisher-Z
    interval from distributed (r, n) — formula on the driver, tanh'd
    bounds; NaN for |r|>=1 or n<4."""
    from feature_engineering_tk_spark.analysis.stats import correlation_ci

    li = _t(spark, sf_dir, "lineitem")
    row = li.agg(
        F.corr("l_quantity", "l_extendedprice").alias("r"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    lo, hi = correlation_ci(row["r"], row["n"], confidence=0.95)
    return spark.createDataFrame(
        [(round(row["r"], 6), round(lo, 6), round(hi, 6))],
        "r double, ci_lo double, ci_hi double",
    )


def q_residuals_ols(spark, sf_dir):
    """analyze_residuals (target_analyzer/statistical.py:535-578) on a
    closed-form OLS fit: slope/intercept via regr_slope/regr_intercept
    (sufficient statistics — no iterative solver), residual MAE/RMSE/R²
    through DECIMAL sums so partial-aggregation order can't shift the
    result."""
    li = _t(spark, sf_dir, "lineitem")
    f = li.agg(
        F.expr("regr_slope(l_extendedprice, l_quantity)").alias("sl"),
        F.expr("regr_intercept(l_extendedprice, l_quantity)").alias("ic"),
    ).first()
    res = F.col("l_extendedprice") - (F.lit(f["sl"]) * F.col("l_quantity") + F.lit(f["ic"]))
    d = li.withColumn("_res", res)
    dec = "decimal(38,6)"
    row = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.abs(F.col("_res")).cast(dec)).alias("sae"),
        F.sum((F.col("_res") * F.col("_res")).cast(dec)).alias("ss_res"),
        F.sum((F.col("l_extendedprice") * F.col("l_extendedprice")).cast(dec)).alias("ss_y2"),
        F.sum(F.col("l_extendedprice").cast(dec)).alias("sum_y"),
    ).first()
    n = row["n"]
    ss_res = float(row["ss_res"])
    ss_tot = float(row["ss_y2"]) - float(row["sum_y"]) ** 2 / n
    import math as _m

    return spark.createDataFrame(
        [
            (
                n,
                round(float(row["sae"]) / n, 4),
                round(_m.sqrt(ss_res / n), 4),
                round(1.0 - ss_res / ss_tot, 6),
            )
        ],
        "n long, mae double, rmse double, r2 double",
    )


def q_jarque_bera(spark, sf_dir):
    """check_normality analog from sufficient statistics
    (statistical_utils.py:39-181 runs Shapiro on a sample; the engine's
    distributed path is Jarque-Bera from population moments — exact at
    any scale, one agg pass)."""
    from feature_engineering_tk_spark.analysis.stats import normality_from_moments

    ev = _t(spark, sf_dir, "events")
    row = ev.agg(
        F.count("value").alias("n"),
        F.skewness("value").alias("g1"),
        F.kurtosis("value").alias("g2"),
    ).first()
    res = normality_from_moments(row["n"], row["g1"], row["g2"])
    return spark.createDataFrame(
        [(row["n"], round(res["statistic"], 4), round(res["pvalue"], 6))],
        "n long, jb double, pvalue double",
    )


def q_bootstrap_ci(spark, sf_dir):
    """bootstrap_ci (statistical_utils.py:926-1002): percentile bootstrap
    of the per-class median on a deterministic per-class sample
    (ORDER BY event_id LIMIT 5000 — reproducible across partitionings,
    unlike df.sample). sampler='hash' draws resample indices from a
    portable md5 fold, so the DuckDB oracle regenerates the identical
    index matrix and replays median + numpy-linear quantiles in SQL."""
    from feature_engineering_tk_spark.analysis.stats import bootstrap_ci

    ev = _t(spark, sf_dir, "events")
    classes = [r["event_type"] for r in ev.select("event_type").distinct().collect()]
    rows = []
    for cls in sorted(classes):
        vals = (
            ev.filter(F.col("event_type") == cls)
            .orderBy("event_id")
            .limit(5000)
            .select("value")
            .toPandas()["value"]
            .to_numpy()
        )
        lo, hi = bootstrap_ci(vals, n_boot=200, seed=42, sampler="hash")
        rows.append((cls, round(lo, 6), round(hi, 6)))
    return spark.createDataFrame(rows, "event_type string, ci_lo double, ci_hi double")


# ---------------------------------------------------------------------------
# queries — suggestions / recommendations (§2.17)

def q_suggest_binning(spark, sf_dir):
    """suggest_binning (data_analysis.py:351-443): strategy per column
    from one distributed profile pass (cardinality, bias-corrected skew,
    exact quartiles)."""
    from feature_engineering_tk_spark.analysis.suggest import suggest_binning

    li = _t(spark, sf_dir, "lineitem")
    out = suggest_binning(li, ["l_linenumber", "l_quantity", "l_extendedprice"])
    return spark.createDataFrame(
        [(d["column"], d["strategy"], d["suggested_bins"]) for d in out],
        "col string, strategy string, suggested_bins int",
    )


def q_suggest_transforms(spark, sf_dir):
    """suggest_feature_engineering (target_analyzer/suggestions.py:63-259):
    skew>1 → log, range>100 → scale, >5% missing → indicator — rule table
    on collected profile scalars."""
    from feature_engineering_tk_spark.analysis.suggest import suggest_feature_engineering

    ev = _t(spark, sf_dir, "events").withColumn(
        "v_gappy",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value")),
    )
    out = suggest_feature_engineering(ev, ["value", "v_gappy"])
    return spark.createDataFrame(
        [(d["column"], ",".join(d["suggestions"])) for d in out],
        "col string, suggestions string",
    )


def q_fill_value_impute(spark, sf_dir):
    """handle_missing_values strategy='fill_value' (preprocessing.py:
    165-168): constant fill."""
    from feature_engineering_tk_spark.transforms.impute import Imputer

    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    )
    imp = Imputer(strategy="fill_value", fill_value=-1.0).fit(ev, ["v"])
    return imp.transform(ev).select("event_id", F.round("v", 6).alias("v"))


def q_outlier_remove(spark, sf_dir):
    """handle_outliers action='remove' (preprocessing.py:326-327): OR of
    per-column IQR masks, one filter pass."""
    from feature_engineering_tk_spark.transforms.outliers import OutlierDetector

    ev = _t(spark, sf_dir, "events")
    det = OutlierDetector(method="iqr", factor=1.5).fit(ev, ["value"])
    return det.remove(ev).select("event_id", F.round("value", 6).alias("value"))


def q_udf_predicate_filter(spark, sf_dir):
    """filter_rows with a CALLABLE predicate (preprocessing.py:610-654 /
    §2.19): arbitrary Python logic as a vectorized Series→Series pandas
    UDF returning booleans — never per-row Python; the oracle proves the
    UDF computes exactly what the SQL form does."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # no type annotations: PEP-563 string annotations (module-level
    # `from __future__ import annotations`) break pandas_udf inference
    def _keep(v):
        return np.sqrt(v) * np.log1p(v) > 20.0

    keep = pandas_udf(_keep, "boolean")

    ev = _t(spark, sf_dir, "events")
    return ev.filter(keep(F.col("value"))).select("event_id", "value")


def q_corpus_cleanse(spark, sf_dir):
    """Composite training-data cleanse — the brief's core pipeline in
    one plan: inject duplicates → exact dedup (hash-groupBy keep-min) →
    language filter → token-count quality floor → per-source stats.
    Every stage is individually oracled; this checks the composition."""
    from feature_engineering_tk_spark.functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    dup = d.orderBy("doc_id").limit(100).withColumn("doc_id", F.col("doc_id") + 100000)
    corpus = d.unionByName(dup)
    deduped = (
        corpus.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(F.col("text")).orderBy(F.col("doc_id").asc())
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    clean = deduped.filter(F.col("lang") == "en").withColumn(
        "n_tokens", token_count(F.col("text"))
    ).filter(F.col("n_tokens") >= 5)
    return (
        clean.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source")
    )


def q_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: per-part average quantity gates the fact scan —
    the correlated-subquery pattern expressed as agg + join, no per-row
    subquery execution. NO compile-time broadcast hint: the aggregate is
    keyed on l_partkey (part-key cardinality — corpus-scale at SF100),
    so AQE runtime-broadcasts at toy SF and keeps the partkey shuffle
    join at scale, where both sides are already partitioned on the key."""
    li = _t(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg((F.avg("l_quantity") * 0.5).alias("half_avg"))
    out = (
        li.join(part_avg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )
    return out.select(F.round("avg_yearly", 4).alias("avg_yearly"), "n_small")


def q_snapshot_scale(spark, sf_dir):
    """Snapshot-stat fitting (SURVEY §7 step 4, north-star train-cutoff
    rule): scaler statistics computed ONLY from rows before the cutoff,
    then applied to every row — fitted state never reads the future;
    the broadcast-back of tiny fitted stats is the engine's §2.10
    'fit-then-transform' join."""
    from feature_engineering_tk_spark.transforms.scale import Scaler

    ev = _t(spark, sf_dir, "events")
    cutoff = "2024-01-15 00:00:00"
    train = ev.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
    sc = Scaler(method="standard").fit(train, ["value"])
    out = sc.transform(ev)
    return out.select("event_id", F.round("value", 6).alias("value_scaled"))


def q_detect_misclassified(spark, sf_dir):
    """detect_misclassified_categorical (data_analysis.py:276-349):
    numeric columns that look categorical — few distinct, tiny
    unique/total ratio, all-integral — one aggregate pass."""
    from feature_engineering_tk_spark.api import DataAnalyzer

    li = _t(spark, sf_dir, "lineitem").select(
        "l_linenumber", "l_quantity", "l_extendedprice"
    )
    out = DataAnalyzer(li).detect_misclassified_categorical(max_unique=60, max_ratio=0.01)
    return spark.createDataFrame(
        [(d["column"], d["unique"]) for d in out], "col string, n_unique long"
    )


def q_expanding_impute(spark, sf_dir):
    """Point-in-time imputation (SURVEY §2.3 'past-only mean via
    expanding Window'): nulls filled with the expanding PAST-ONLY mean
    within the entity — the leakage-free variant of global mean fill."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    )
    # same frame as W.expanding_impute (unit-tested for semantics); the
    # running mean goes through DECIMAL sums here so partial-summation
    # order can't flip the 6-dp rounding across engines
    w = (
        Window.partitionBy("user_id")
        .orderBy(*EVENT_ORDER)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    fill = (
        F.sum(F.col("v").cast("decimal(28,10)")).over(w) / F.count("v").over(w)
    ).cast("double")
    out = ev.withColumn("v", F.coalesce(F.col("v"), fill))
    return out.select("event_id", "user_id", F.round("v", 6).alias("v_pit"))


def q_edge_bin(spark, sf_dir):
    """create_binning with an explicit edge list (pd.cut(bins=[...])
    parity: (lo,hi] intervals, outside -> null) —
    feature_engineering.py:370-442."""
    from feature_engineering_tk_spark.transforms.binning import EdgeBinner

    li = _t(spark, sf_dir, "lineitem")
    out = EdgeBinner(edges=[0.0, 10.0, 25.0, 40.0]).fit(li, "l_quantity").transform(
        li, out="qty_bin"
    )
    return out.select("l_orderkey", "l_linenumber", "qty_bin")


def q_whitespace_clean(spark, sf_dir):
    """handle_whitespace_variants (preprocessing.py:1000-1054): strip +
    collapse internal whitespace, exact-text contract."""
    from feature_engineering_tk_spark.functions.strings import handle_whitespace_variants

    d = _t(spark, sf_dir, "documents").withColumn(
        "messy", F.concat(F.lit("  "), F.col("text"), F.lit("   x  "))
    )
    out = handle_whitespace_variants(d, ["messy"])
    return out.select("doc_id", F.col("messy").alias("cleaned"))


def q_missing_select(spark, sf_dir):
    """select_by_missing_values (feature_selection.py:302-319): keep
    columns whose null ratio <= threshold — one null-ratio agg pass."""
    from feature_engineering_tk_spark.analysis.selection import FeatureSelector

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn(
            "mostly_null",
            F.when(F.col("event_type") == "view", F.col("value")),
        )
        .withColumn(
            "sometimes_null",
            F.when(F.col("event_type") != "error", F.col("value")),
        )
    )
    sel = FeatureSelector(ev)
    kept = sel.select_by_missing_values(
        threshold=0.5, columns=["value", "mostly_null", "sometimes_null"]
    )
    return spark.createDataFrame([(c,) for c in sorted(kept)], "kept_column string")


def q_rolling_median(spark, sf_dir):
    """Rolling median — non-decomposable stat through the guarded
    applyInPandas path (pandas rolling().median() parity; SURVEY §7
    hard-part 3)."""
    ev = _t(spark, sf_dir, "events")
    out = W.rolling_median(
        ev, "value", window_rows=5, entity="user_id", order=EVENT_ORDER, out="roll_med5"
    )
    return out.select("event_id", "user_id", F.round("roll_med5", 6).alias("roll_med5"))


def q_asof_tolerance(spark, sf_dir):
    """As-of join with a max-staleness tolerance (only matches within
    the last hour count) — checked against DuckDB's native ASOF JOIN
    plus the tolerance mask."""
    ev = _t(spark, sf_dir, "events")
    anchors = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(
        anchors,
        purchases,
        entity="user_id",
        value_cols=["purchase_value"],
        tolerance_seconds=3600.0,
        suffix="",
    )
    return out.select(
        "event_id", "user_id", _epoch("ts").alias("ts_s"), "purchase_value"
    )


def q_group_join_agg(spark, sf_dir):
    """Skew-safe twin of group_broadcast_agg: same create_aggregations
    semantics via partial-agg groupBy + join-back (the heavy-tailed-
    entity default; see BENCH/BASELINE.md skew-stress section) —
    identical results, different physical plan."""
    li = _t(spark, sf_dir, "lineitem")
    out = W.group_transform_join(li, ["l_partkey"], "l_quantity", funcs=["mean", "max"])
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.round("l_quantity_l_partkey_mean", 6).alias("qty_part_mean"),
        F.col("l_quantity_l_partkey_max").alias("qty_part_max"),
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal column plumbing end-to-end (binary payload + typed
    metadata → JVM-side sha256/crc32 dedup keys → Arrow-batched
    mapInPandas feature extraction dropping the payload before any
    shuffle). Decode step is a deterministic stub (no codec libs in
    the runtime) → rows-only check; the table itself is seeded, not
    read from sf_dir."""
    from feature_engineering_tk_spark.functions.multimodal import (
        extract_media_features,
        synthesize_media,
        with_payload_meta,
    )
    from feature_engineering_tk_spark.functions.similarity import l2_norm

    media = synthesize_media(spark, n=60, seed=42)
    meta = with_payload_meta(media)
    feat = extract_media_features(meta, feature_dim=8)
    return feat.select(
        "media_id",
        "mime",
        "payload_bytes",
        F.substring("payload_sha256", 1, 16).alias("sha_prefix"),
        F.round(l2_norm(F.col("feature")), 6).alias("feature_norm"),
    )


def q_regional_revenue(spark, sf_dir):
    """TPC-H Q5-shaped 6-table join: dims (region→nation→customer/
    supplier) broadcast down the chain onto the lineitem fact — one
    fact-scan, zero fact-side shuffles before the final small groupBy.
    Exercises Catalyst join reordering + broadcast planning."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")

    dims = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("c_custkey", "n_nationkey", "n_name")
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    joined = (
        # orders/customer/supplier are corpus-scale tables: no broadcast
        # hints — AQE picks the join (shuffle at 100 TB, runtime-broadcast
        # at toy SF). Only the true bounded dims (region/nation chain,
        # inside `dims`) get explicit broadcasts.
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(dims, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp.select("s_suppkey", "s_nationkey"),
              (li.l_suppkey == F.col("s_suppkey"))
              & (F.col("s_nationkey") == F.col("n_nationkey")))
    )
    return (
        joined.groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


def q_bartlett(spark, sf_dir):
    """check_homogeneity_of_variance method='bartlett'
    (statistical_utils.py:184-256): closed form from one group-moments
    pass; chi2 p-value via analysis.special."""
    from feature_engineering_tk_spark.analysis.stats import bartlett

    ev = _t(spark, sf_dir, "events")
    res = bartlett(ev, "value", "event_type")
    return spark.createDataFrame(
        [(round(res["statistic"], 6), round(res["pvalue"], 6))],
        "stat double, pvalue double",
    )


def q_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H (the reference's ANOVA fallback,
    target_analyzer/statistical.py:31-250): tie-corrected midranks via
    distinct-value prefix sums — global ranks with NO global row sort."""
    from feature_engineering_tk_spark.analysis.stats import kruskal_wallis

    ev = _t(spark, sf_dir, "events")
    res = kruskal_wallis(ev, "value", "event_type")
    return spark.createDataFrame(
        [(round(res["statistic"], 6), round(res["pvalue"], 6))],
        "stat double, pvalue double",
    )


def q_ivf_topk(spark, sf_dir):
    """IVF ANN: deterministic coarse quantizer (8 buckets), probe the 2
    nearest buckets, exact cosine inside — the middle of the
    brute-force / LSH spectrum. Oracle replays the identical index+probe
    in SQL."""
    from feature_engineering_tk_spark.functions.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).first()["embedding"]
    out = ivf_topk(e, [float(x) for x in qvec], k=10, n_centroids=8, nprobe=2)
    return out.select(
        "vec_id", "centroid_id", F.round("cosine_sim", 6).alias("cos_sim")
    )


def q_histogram_bins(spark, sf_dir):
    """Distributed multi-column histogram counts (the aggregation core
    of plot_distributions, analysis/viz.py; reference
    data_analysis.py:506-550): one (min,max) job for all columns, then
    ONE shuffle keyed on tiny (column, bin) structs."""
    from feature_engineering_tk_spark.analysis.viz import histogram_counts_df

    li = _t(spark, sf_dir, "lineitem")
    out = histogram_counts_df(li, ["l_quantity", "l_extendedprice"], bins=10)
    return out.select(
        F.col("name"), F.col("bin").cast("long").alias("bin"), F.col("n")
    )


def q_class_box_stats(spark, sf_dir):
    """Per-class box-plot statistics (plot_feature_by_class box path,
    analysis/viz.py; reference visualization.py:117-161): exact grouped
    quartiles + matplotlib-convention whiskers (furthest datum inside
    the 1.5·IQR fences) via one grouped percentile pass and one
    conditional re-aggregation against broadcast fences."""
    from feature_engineering_tk_spark.analysis.target import TargetAnalyzer
    from feature_engineering_tk_spark.analysis.viz import plot_feature_by_class

    li = _t(spark, sf_dir, "lineitem")
    ta = TargetAnalyzer(li, "l_returnflag", task="classification")
    spec = plot_feature_by_class(ta, "l_extendedprice", plot_type="box")
    rows = [
        (
            c,
            round(s["q1"], 6),
            round(s["median"], 6),
            round(s["q3"], 6),
            round(s["whisker_lo"], 6),
            round(s["whisker_hi"], 6),
            s["n"],
        )
        for c, s in zip(spec["classes"], spec["stats"])
    ]
    return spark.createDataFrame(
        rows,
        "cls string, q1 double, median double, q3 double, wlo double, whi double, n long",
    )


def q_chunk_docs(spark, sf_dir):
    """Overlapping token-window chunking (functions/text.py
    chunk_documents) — the pre-embedding/pre-training splitter. Pure
    JVM higher-order array exprs, zero shuffle; null text yields one
    empty chunk (audit-visible, never dropped)."""
    from feature_engineering_tk_spark.functions.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, max_tokens=40, overlap=8)


def q_bigram_lm(spark, sf_dir):
    """Corpus-trained add-1 bigram LM perplexity proxy (functions/
    text.py bigram_lm_score) — CCNet-style document quality scoring
    with the LM trained on the corpus itself: explode-once counts,
    partial-aggregatable groupBys, shuffle hash join on the bigram
    key, per-doc windowless aggregate. Empty docs keep a row."""
    from feature_engineering_tk_spark.functions.text import bigram_lm_score

    docs = _t(spark, sf_dir, "documents")
    out = bigram_lm_score(docs)
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("avg_logprob", 6).alias("avg_logprob"),
        F.round("logppl", 6).alias("logppl"),
    )


def q_clean_lines(spark, sf_dir):
    """C4-style line filter (functions/cleaning.py clean_lines):
    line structure is synthesized deterministically from the flat
    synthetic docs (short line, javascript line every 3rd doc, lorem
    ipsum line every 7th, punct-less tail on odd ids) so every rule
    fires. Row-local array exprs, zero shuffle."""
    from feature_engineering_tk_spark.functions.cleaning import clean_lines

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.substring("text", 1, 40), F.lit(".\n"),
            F.lit("too short\n"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("Enable javascript to view this page data.\n")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit("lorem ipsum dolor sit amet filler here.\n")).otherwise(F.lit("")),
            F.substring("text", 41, 60),
            F.when(F.col("doc_id") % 2 == 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    out = clean_lines(docs)
    return out.select("doc_id", "clean_text", "n_lines", "n_lines_kept", "page_drop")


def q_gopher_rules(spark, sf_dir):
    """Gopher/MassiveText composite quality rules (functions/
    cleaning.py gopher_rules): bullets, ellipsis teasers, and markup
    lines are synthesized per doc_id residue so every rule fires;
    a stopword tail keeps the stopword gate varied only by the doc
    body. Row-local JVM exprs, zero shuffle."""
    from feature_engineering_tk_spark.functions.cleaning import gopher_rules

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"), F.lit("\n"),
            F.when(F.col("doc_id") % 4 == 0,
                   F.lit("- bullet item one\n- bullet item two\n")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit("trailing teaser goes on...\n")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 6 == 0,
                   F.lit("### ## # markup heavy line\n")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("the words have to be of use and that with end here")).otherwise(F.lit("")),
        ),
    )
    out = gopher_rules(docs, min_words=20)
    return out.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("symbol_ratio", 6).alias("symbol_ratio"),
        F.round("bullet_line_frac", 6).alias("bullet_line_frac"),
        F.round("ellipsis_line_frac", 6).alias("ellipsis_line_frac"),
        F.round("alpha_word_frac", 6).alias("alpha_word_frac"),
        "stopword_hits",
        "gopher_pass",
    )


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity buckets (functions/text.py
    ccnet_buckets): bigram-LM scores cut at exact distributed
    terciles (range-partition sort-select, never a single-reducer
    percentile) → row-local CASE labels."""
    from feature_engineering_tk_spark.functions.text import ccnet_buckets

    docs = _t(spark, sf_dir, "documents")
    out = ccnet_buckets(docs)
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("avg_logprob", 6).alias("avg_logprob"),
        F.round("logppl", 6).alias("logppl"),
        "ppl_bucket",
    )


def q_importance_weights(spark, sf_dir):
    """DSIR importance weights (functions/text.py importance_weights):
    target = the 'en' slice of the corpus, raw = everything; hashed
    512-bucket bigram models on both sides, broadcast-joined scoring
    (the corpus never shuffles), md5 hash mode for oracle replay."""
    from feature_engineering_tk_spark.functions.text import importance_weights

    docs = _t(spark, sf_dir, "documents")
    tgt = docs.filter(F.col("lang") == "en")
    out = importance_weights(docs, tgt, n_buckets=512, hash_mode="md5")
    return out.select(
        "doc_id", "n_features", F.round("avg_logratio", 6).alias("avg_logratio")
    )


def q_dedup_paragraphs(spark, sf_dir):
    """Cross-document exact paragraph dedup (operators/dedup.py
    dedup_paragraphs): a boilerplate paragraph injected into EVERY doc
    must survive only in doc 0; short 'ok' lines are kept verbatim
    everywhere; body paragraphs dedup by global (doc_id, pos)
    first-occurrence. 8-byte-key shuffle + min-struct winners."""
    from feature_engineering_tk_spark.operators.dedup import dedup_paragraphs

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.lit("Subscribe to our newsletter for updates.\n"),
            F.substring("text", 1, 50), F.lit("\n"),
            F.lit("ok\n"),
            F.substring("text", 51, 40),
        ),
    )
    out = dedup_paragraphs(docs)
    return out.select("doc_id", "clean_text", "n_paras", "n_paras_kept")


def q_normalize_unicode(spark, sf_dir):
    """Unicode NFC normalization + control strip (functions/cleaning.py
    normalize_unicode): combining-acute sequences must fold to single
    codepoints and a BEL control must vanish; the normalize itself is
    an Arrow-batched pandas UDF, replayed by DuckDB nfc_normalize."""
    from feature_engineering_tk_spark.functions.cleaning import normalize_unicode

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.substring("text", 1, 30),
            F.lit(" café"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("")).otherwise(F.lit("")),
            F.lit(" naive"),
        ),
    )
    out = normalize_unicode(docs, "text", form="NFC", out="norm_text")
    return out.select(
        "doc_id", "norm_text", F.length("norm_text").cast("bigint").alias("n_chars")
    )


def q_nb_classify(spark, sf_dir):
    """Multinomial Naive Bayes corpus classifier (functions/text.py
    nb_classify): trained on the lang-labeled corpus and replayed on
    it — training is pure counting, the densified model broadcasts
    into scoring, argmax is a deterministic max-struct. md5 hash mode
    for the oracle."""
    from feature_engineering_tk_spark.functions.text import nb_classify

    docs = _t(spark, sf_dir, "documents")
    out = nb_classify(
        docs, docs, label_col="lang", n_buckets=1024, hash_mode="md5"
    )
    return out.select(
        "doc_id", "pred_label", F.round("score", 6).alias("score"), "n_tokens"
    )


def q_importance_resample(spark, sf_dir):
    """Gumbel top-k importance resampling (operators/sampling.py
    importance_resample): weights from a deterministic length
    expression, Gumbel keys from the md5 hash fold — the 50-doc
    selected set replays exactly in SQL. TakeOrdered top-k, no full
    sort."""
    from feature_engineering_tk_spark.operators.sampling import importance_resample

    docs = _t(spark, sf_dir, "documents").withColumn(
        "w", F.log(F.lit(1.0) + F.length("text").cast("double") / F.lit(100.0))
    )
    out = importance_resample(
        docs, "w", k=50, id_cols=["doc_id"], temperature=0.5, hash_mode="md5"
    )
    return out.select(
        "doc_id", F.round("w", 6).alias("w"), F.round("gumbel_key", 6).alias("gumbel_key")
    )


def q_domain_filter(spark, sf_dir):
    """Suffix-chain domain blocklist filter (functions/cleaning.py
    filter_by_domain): blocking 'srcN.example.com' must drop that
    source's synthetic URLs via PARENT-domain matching — a row-local
    arrays_overlap predicate, zero shuffle."""
    from feature_engineering_tk_spark.functions.cleaning import filter_by_domain

    docs = _t(spark, sf_dir, "documents").withColumn(
        "url", F.concat(F.lit("https://www."), F.col("source"), F.lit(".example.com/p?x=1"))
    )
    out = filter_by_domain(docs, "url", ["src1.example.com", "src4.example.com"])
    return out.select("doc_id", "source")


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum hash sampling (operators/sampling.py
    stratified_sample) — the reproducible ``sampleBy``: per-language
    corpus rebalancing as one row-local CASE + hash predicate, zero
    shuffle, replayed value-for-value by the md5 oracle."""
    from feature_engineering_tk_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, ["doc_id"], "lang", {"en": 0.6, "zh": 0.3}, default=0.1,
        hash_mode="md5",
    )
    return out.select("doc_id", "lang")


def _messy_url(variant: int = 0):
    """Synthetic messy URL built from documents columns — shared by the
    Spark query and (textually) the oracle."""
    if variant == 0:
        return F.concat(
            F.lit("HTTPS://www."), F.col("source"), F.lit(".example.com/Articles/"),
            (F.col("doc_id") % 7).cast("string"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?utm_source=feed&b="), (F.col("doc_id") % 3).cast("string"),
            F.lit("&a=1"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("&ref=tw")).otherwise(F.lit("")),
            F.lit("#frag"),
        )
    base = F.concat(
        F.col("source"), F.lit(".example.com/page/"), (F.col("doc_id") % 5).cast("string")
    )
    return (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("https://"), base))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("http://www."), base, F.lit("/")))
        .when(F.col("doc_id") % 4 == 2, F.concat(F.lit("HTTPS://"), base, F.lit("?utm_campaign=x")))
        .otherwise(F.concat(F.lit("https://"), base, F.lit("#top")))
    )


def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization (functions/cleaning.py canonicalize_url):
    fragment/scheme/www stripped, tracking params dropped, surviving
    params sorted, trailing slash trimmed — pure JVM regex + array
    exprs, alternation-free for RE2 oracle parity."""
    from feature_engineering_tk_spark.functions.cleaning import canonicalize_url

    docs = _t(spark, sf_dir, "documents").withColumn("url", _messy_url(0))
    return docs.select(
        "doc_id", canonicalize_url(F.col("url")).alias("canon_url")
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (operators/dedup.py semantic_dedup): exact clones of
    every 10th vector (re-id'd +100000) are injected; each clone lands
    in its original's IVF cluster at cosine ~1.0 and must be dropped,
    while no original pair reaches the 0.95 threshold (measured max
    within-cluster cosine at this SF is 0.49) — so the expected output
    is exactly the original table, an INDEPENDENT oracle rather than a
    replay."""
    from feature_engineering_tk_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    clones = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    corpus = emb.unionByName(clones)
    out = semantic_dedup(corpus, threshold=0.95)
    return out.select("vec_id", "label")


def q_url_dedup(spark, sf_dir):
    """URL-level dedup (functions/cleaning.py url_dedup): four messy
    variants of each logical page (scheme/www/tracking/fragment noise)
    collapse to one canonical survivor per URL. The oracle derives the
    canonical form independently — it validates, not replays."""
    from feature_engineering_tk_spark.functions.cleaning import url_dedup

    docs = _t(spark, sf_dir, "documents").withColumn("url", _messy_url(1))
    return url_dedup(docs, "url")


def q_context_window(spark, sf_dir):
    """SFT context assembly (operators/window_features.py
    context_window): previous-3-turn history per event, leakage-free
    frame (-3, -1), sharing the entity-key shuffle with every other
    window feature. NULL texts pad as '' so history stays positional."""
    from feature_engineering_tk_spark.operators.window_features import context_window

    ev = _t(spark, sf_dir, "events")
    out = context_window(
        ev, "event_type", n_prev=3, entity="user_id", order=EVENT_ORDER, sep=" > "
    )
    return out.select("event_id", "user_id", "event_type", "context", "context_n")


def q_collocations(spark, sf_dir):
    """PMI collocation mining (functions/text.py collocations):
    explode-once unigram+bigram counts, vocab-sized broadcast
    join-back, rounded-pmi ordering so ln() ulp noise can't flip
    ties."""
    from feature_engineering_tk_spark.functions.text import collocations

    docs = _t(spark, sf_dir, "documents")
    return collocations(docs, min_count=5, top_k=20)


def q_pagerank(spark, sf_dir):
    """Weighted PageRank (operators/graph.py) over a deterministic
    50-host link graph derived from doc ids (hosts ≡3 mod 10 emit no
    edges → dangling-mass path exercised). Per-iteration groupBy(dst)
    contribution sums, ranks rounded to 9 decimals per iteration so
    the only order-dependent reduction is pinned cross-engine."""
    from feature_engineering_tk_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    edges = (
        docs.select(
            (F.col("doc_id") % 50).alias("src"),
            ((F.col("doc_id") * 31 + 7) % 50).alias("dst"),
        )
        .where(F.col("src") % 10 != 3)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    return pagerank(edges, weight="weight", damping=0.85, n_iter=5)


def q_hits(spark, sf_dir):
    """HITS hubs/authorities (operators/graph.py) on the same
    deterministic 50-host graph as q_pagerank — max-normalized exact
    fixed-point iterations so both engines agree bit-for-bit."""
    from feature_engineering_tk_spark.operators.graph import hits

    docs = _t(spark, sf_dir, "documents")
    edges = (
        docs.select(
            (F.col("doc_id") % 50).alias("src"),
            ((F.col("doc_id") * 31 + 7) % 50).alias("dst"),
        )
        .where(F.col("src") % 10 != 3)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    return hits(edges, weight="weight", n_iter=4)


def q_mean_pool(spark, sf_dir):
    """Per-group embedding mean-pool (functions/embeddings.py
    mean_pool): (groups × dim) partial-sum shuffle, vectors never
    shuffled whole. Output exploded to (grp, pos, mean) rows, rounded
    to 9 so map-side partial-sum order can't flip a ulp."""
    from feature_engineering_tk_spark.functions.embeddings import mean_pool

    e = _t(spark, sf_dir, "embeddings")
    pooled = mean_pool(e.withColumn("grp", F.col("vec_id") % 10), "grp")
    return pooled.select(
        "grp", F.posexplode("mean_vec").alias("pos", "m")
    ).select("grp", "pos", F.round("m", 9).alias("mean_val"))


def q_source_overlap(spark, sf_dir):
    """Cross-source n-gram overlap matrix (operators/dedup.py
    source_overlap): both sides reduce to distinct (source, 8-byte
    hash) before the bounded-fan-out hash self-join — corpus text
    never shuffles. md5 hash mode for the oracle replay."""
    from feature_engineering_tk_spark.operators.dedup import source_overlap

    docs = _t(spark, sf_dir, "documents")
    return source_overlap(docs, shingle_n=3, hash_mode="md5")


def q_context_truncate(spark, sf_dir):
    """Context-budget truncation (operators/transcripts.py
    context_truncate): head turns always kept, then the longest suffix
    whose whitespace-token total fits the budget — one descending
    running sum over the conv_id partition, no join."""
    from feature_engineering_tk_spark.operators.transcripts import context_truncate

    out = context_truncate(_transcript_view(spark, sf_dir), max_tokens=5, keep_first=1)
    return out.select("conv_id", "turn_idx", "n_tokens", "kept")


def q_length_buckets(spark, sf_dir):
    """Sequence-length bucketing (functions/text.py length_buckets):
    smallest power-of-two edge ≥ token count via a literal-array
    filter (no float log2), one tiny groupBy with padding-waste
    accounting."""
    from feature_engineering_tk_spark.functions.text import length_buckets

    docs = _t(spark, sf_dir, "documents")
    return length_buckets(docs)


def q_corpus_report(spark, sf_dir):
    """Dataset-card facet table (analysis/reports.py
    corpus_report_facet_table): the distributed core of corpus_report —
    one full-corpus scalar agg (tokens, empty/short/dup rates) broadcast
    onto the top-k source facets. Ratios are explicit sum/count
    divisions rounded to 9 dp for cross-engine replay."""
    from feature_engineering_tk_spark.analysis.reports import corpus_report_facet_table

    docs = _t(spark, sf_dir, "documents")
    return corpus_report_facet_table(
        docs, text_col="text", facet_col="source", short_doc_tokens=5, top_k=10
    )


def q_label_prop(spark, sf_dir):
    """Label propagation (operators/graph.py): every 7th host seeds
    label node%3; 5 clamped-seed rounds over the symmetrized host
    graph — integer votes, smallest-label tie-break, bit-exact
    cross-engine."""
    from feature_engineering_tk_spark.operators.graph import label_propagation

    docs = _t(spark, sf_dir, "documents")
    edges = (
        docs.select(
            (F.col("doc_id") % 50).alias("src"),
            ((F.col("doc_id") * 31 + 7) % 50).alias("dst"),
        )
        .where(F.col("src") % 10 != 3)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    nodes = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    seeds = nodes.where(F.col("node") % 7 == 0).select(
        "node", (F.col("node") % 3).alias("label")
    )
    return label_propagation(edges, seeds, weight="weight", n_iter=5)


def q_fuzzy_pairs(spark, sf_dir):
    """Blocked fuzzy matching (operators/dedup.py fuzzy_pairs):
    one-substitution variants injected for every 7th doc are recovered
    as Levenshtein ≤ 2 pairs inside first-4-char blocks — edit
    distance never crosses blocks, runs as the built-in JVM
    expression."""
    from feature_engineering_tk_spark.operators.dedup import fuzzy_pairs

    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.substring("text", 1, 24).alias("name"))
    variants = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 9), F.lit("z"), F.substring("text", 11, 14)
        ).alias("name"),
    )
    corpus = base.unionByName(variants)
    return fuzzy_pairs(corpus, "name", "doc_id", max_dist=2)


def _transcript_view(spark, sf_dir):
    """Canonical transcript table (conv_id, turn_idx, role, text,
    tool, ts — datagen.TRANSCRIPT_SCHEMA) derived deterministically
    from the events table: user_id → conv_id, (ts, event_id) order →
    turn_idx, event_type → role/text/tool. The oracle replays the
    identical derivation in SQL (_TRANSCRIPT_CTE)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("event_type").isin("view", "signup"), F.lit("user"))
        .when(F.col("event_type").isin("click", "purchase"), F.lit("assistant"))
        .otherwise(F.lit("tool"))
        .alias("role"),
        F.col("event_type").alias("text"),
        F.when(F.col("event_type") == "error", F.lit("search")).alias("tool"),
        F.col("ts"),
    )


def q_transcript_validate(spark, sf_dir):
    """Per-conversation structural QA (operators/transcripts.py):
    role alternation (tool turns transparent), tool-call pairing,
    strict ts monotonicity — one conv_id shuffle, every window
    partitioned."""
    from feature_engineering_tk_spark.operators.transcripts import (
        validate_transcripts,
    )

    return validate_transcripts(_transcript_view(spark, sf_dir))


def q_conversation_stats(spark, sf_dir):
    """Per-conversation profile (operators/transcripts.py): turn/role
    counts, integer-µs duration and mean gap (fixed division order),
    assistant share of characters."""
    from feature_engineering_tk_spark.operators.transcripts import (
        conversation_stats,
    )

    return conversation_stats(_transcript_view(spark, sf_dir))


def q_response_latency(spark, sf_dir):
    """Assistant response latency (operators/transcripts.py): seconds
    since the most recent PRIOR user turn — point-in-time frame ends
    at the previous row, integer-µs difference, one division."""
    from feature_engineering_tk_spark.operators.transcripts import (
        response_latency,
    )

    out = response_latency(_transcript_view(spark, sf_dir))
    return out.select("conv_id", "turn_idx", "role", "latency_s")


def q_loss_mask(spark, sf_dir):
    """SFT loss-weight projection (operators/transcripts.py):
    assistant turns weight 1.0, everything else 0.0 — row-local, no
    shuffle beyond the view's turn_idx derivation."""
    from feature_engineering_tk_spark.operators.transcripts import loss_mask

    out = loss_mask(_transcript_view(spark, sf_dir))
    return out.select("conv_id", "turn_idx", "role", "loss_weight")


def q_merge_adjacent_turns(spark, sf_dir):
    """Role-alternation repair (operators/transcripts.py): maximal
    same-role runs collapse to one turn (texts joined in order, first
    ts, first non-null tool, dense re-index). One conv-key window
    builds run ids; the follow-up groupBy clusters on a superset of
    the window key so the exchange is reused — one shuffle total."""
    from feature_engineering_tk_spark.operators.transcripts import merge_adjacent_turns

    out = merge_adjacent_turns(_transcript_view(spark, sf_dir))
    return out.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        _epoch("ts").alias("ts_s"), "n_merged",
    )


def q_tool_roundtrip(spark, sf_dir):
    """Tool-call roundtrip (operators/transcripts.py): seconds from
    each tool turn to the NEXT assistant turn — forward-reading
    serving analytic, one partitioned window, integer-µs."""
    from feature_engineering_tk_spark.operators.transcripts import tool_roundtrip

    out = tool_roundtrip(_transcript_view(spark, sf_dir))
    return out.select("conv_id", "turn_idx", "role", "roundtrip_s")


def q_tool_stats(spark, sf_dir):
    """Per-tool usage profile (operators/transcripts.py): call count,
    distinct conversations, mean roundtrip (integer-µs sum, one
    division at the end)."""
    from feature_engineering_tk_spark.operators.transcripts import tool_stats

    return tool_stats(_transcript_view(spark, sf_dir))


def q_sft_export(spark, sf_dir):
    """Chat-SFT JSONL assembly (operators/transcripts.py sft_export):
    deterministic byte-level JSON built from concat + minimal escaping
    (NOT engine to_json), one conv groupBy with map-side list
    assembly."""
    from feature_engineering_tk_spark.operators.transcripts import sft_export

    return sft_export(_transcript_view(spark, sf_dir))


def q_jsonl_roundtrip(spark, sf_dir):
    """Chat-JSONL ingest round-trip (sources/jsonl.py parse_chat_jsonl
    — the exact inverse of sft_export): the exported JSONL lines are
    re-parsed by from_json + posexplode (whole-stage codegen, zero
    shuffle, zero Python) and must reproduce every turn exactly. The
    oracle is the transcript CTE itself: if export → ingest is
    lossless, the result IS the base table — per-turn text equality
    under stable turn ordering, the north-rule invariant, end-to-end."""
    from feature_engineering_tk_spark.operators.transcripts import sft_export
    from feature_engineering_tk_spark.sources import parse_chat_jsonl

    lines = sft_export(_transcript_view(spark, sf_dir))
    return parse_chat_jsonl(lines, col="json_line").select(
        "conv_id", "turn_idx", "role", "text"
    )


def q_detect_loops(spark, sf_dir):
    """Agent-loop detection (operators/transcripts.py detect_loops):
    gaps-and-islands run lengths of identical (role, text) turns over
    one conv_id sort; repeats are natural in the event-derived view
    (text = event_type)."""
    from feature_engineering_tk_spark.operators.transcripts import detect_loops

    return detect_loops(_transcript_view(spark, sf_dir))


def q_near_loops(spark, sf_dir):
    """Fuzzy agent-loop detection (operators/transcripts.py
    near_loops): consecutive assistant turns compared by normalized
    Levenshtein similarity on event_type+props text (same event_type,
    near-identical props → similar but not verbatim — exactly the
    paraphrase-loop shape detect_loops misses).  DuckDB's levenshtein
    matches Spark's, so the gaps-and-islands chains oracle
    bit-exact."""
    from feature_engineering_tk_spark.operators.transcripts import near_loops

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("event_type").isin("view", "signup"), F.lit("user"))
        .when(F.col("event_type").isin("click", "purchase"), F.lit("assistant"))
        .otherwise(F.lit("tool"))
        .alias("role"),
        F.concat_ws(" ", F.col("event_type"), F.col("props")).alias("text"),
    )
    return near_loops(tr, similarity=0.8, min_repeats=3).orderBy("conv_id")


def q_tool_arg_schema(spark, sf_dir):
    """Observed tool-argument schema census (operators/transcripts.py
    tool_arg_schema): events play tool calls — a third of calls carry
    the bare props blob, most carry a two-key payload, every 7th is
    malformed; the census separates int/float/bool/null/str values
    per (tool, key) with presence shares over PARSED calls only.
    Row-local parse + explode, one schema-sized groupBy."""
    from feature_engineering_tk_spark.operators.transcripts import tool_arg_schema

    ev = _t(spark, sf_dir, "events")
    args = (
        F.when(F.col("user_id") % 7 == 0, F.lit("broken"))
        .when(F.col("user_id") % 3 == 0, F.col("props"))
        .otherwise(
            F.concat(
                F.lit('{"k": '),
                F.col("user_id").cast("string"),
                F.lit(', "flag": true}'),
            )
        )
    )
    calls = ev.where(F.col("user_id").isNotNull()).select(
        F.col("event_type").alias("tool"), args.alias("tool_args")
    )
    return tool_arg_schema(calls).orderBy("tool", "key")


def q_conversation_dedup(spark, sf_dir):
    """Sequence-level conversation dedup (operators/transcripts.py):
    fingerprint = hash of the ordered (role, text) turn sequence;
    winners = min conv_id per fingerprint. Truncating to the first 3
    turns forces duplicate sequences by pigeonhole (150 convs, ≤125
    distinct 3-turn sequences). hash_mode='md5' so DuckDB replays the
    fingerprint value-for-value."""
    from feature_engineering_tk_spark.operators.transcripts import (
        dedup_conversations,
    )

    tr = _transcript_view(spark, sf_dir).filter(F.col("turn_idx") < 3)
    return dedup_conversations(tr, hash_mode="md5")


def q_echo_rate(spark, sf_dir):
    """Assistant parroting rate (operators/transcripts.py): distinct-
    token overlap with the most recent prior user turn, pure JVM array
    exprs over one partitioned window. Text here is event_type+props
    so token overlap is non-trivial."""
    from feature_engineering_tk_spark.operators.transcripts import echo_rate

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("event_type").isin("view", "signup"), F.lit("user"))
        .when(F.col("event_type").isin("click", "purchase"), F.lit("assistant"))
        .otherwise(F.lit("tool"))
        .alias("role"),
        F.concat_ws(" ", F.col("event_type"), F.col("props")).alias("text"),
    )
    return echo_rate(tr).select("conv_id", "turn_idx", "role", "echo_rate")


def q_readability(spark, sf_dir):
    """Flesch / Flesch-Kincaid readability (functions/text.py
    readability_scores): row-local regexp_count expressions, fixed
    float expression order replayed exactly in SQL."""
    from feature_engineering_tk_spark.functions.text import readability_scores

    docs = _t(spark, sf_dir, "documents")
    return readability_scores(docs, "text").select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        "flesch_reading_ease",
        "fk_grade",
    )


def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit (operators/privacy.py): group sizes over the
    (user_id, event_type) quasi-identifier pair, risky below k=5 —
    one groupBy with map-side partials."""
    from feature_engineering_tk_spark.operators.privacy import k_anonymity

    ev = _t(spark, sf_dir, "events")
    return k_anonymity(ev, ["user_id", "event_type"], k=5)


def q_l_diversity(spark, sf_dir):
    """l-diversity audit (operators/privacy.py): distinct sensitive
    event_type values per user_id group, risky below l=5."""
    from feature_engineering_tk_spark.operators.privacy import l_diversity

    ev = _t(spark, sf_dir, "events")
    return l_diversity(ev, ["user_id"], "event_type", l=5)


def q_pseudonymize(spark, sf_dir):
    """Consistent pseudonymization (operators/privacy.py): user_id →
    salted-md5 token; same value → same token (joins/windows survive),
    no lookup table to build or leak — one row-local codegen
    expression, zero shuffle, zero driver state at 10^12 ids."""
    from feature_engineering_tk_spark.operators.privacy import pseudonymize

    ev = _t(spark, sf_dir, "events")
    return pseudonymize(ev, ["user_id"], salt="rel1", keep_bits=48).select(
        "event_id", "user_id"
    )


def q_date_shift(spark, sf_dir):
    """Per-entity deterministic date shifting (HIPAA-style de-id,
    operators/privacy.py): every timestamp of a user moves by the same
    hash-derived offset in ±30 days — within-entity intervals exactly
    preserved, absolute dates destroyed. Row-local md5 expression, no
    per-entity table, no shuffle."""
    from feature_engineering_tk_spark.operators.privacy import date_shift

    ev = _t(spark, sf_dir, "events")
    return date_shift(ev, "ts", "user_id", max_shift_days=30, salt="rel1").select(
        "event_id", _epoch("ts").alias("ts_s")
    )


def q_funnel(spark, sf_dir):
    """Ordered-event funnel (operators/funnel.py): earliest strict
    view→click→purchase completion within 2 h per user — ONE entity
    shuffle, the whole state machine a sequential JVM fold over
    time-sorted events (no k-join chain), integer-µs arithmetic."""
    from feature_engineering_tk_spark.operators.funnel import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(
        ev, ["view", "click", "purchase"], within_seconds=7200.0
    )


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort-retention triangle (operators/funnel.py
    cohort_retention): Monday-truncated first-seen cohorts × active
    weeks, three partial-aggregatable shuffles, no window."""
    from feature_engineering_tk_spark.operators.funnel import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev)


_DRIFT_CUT = "2024-01-15"


def q_psi_drift(spark, sf_dir):
    """PSI drift monitor (analysis/drift.py psi_table): reference
    decile bins from exact distributed quantiles (DuckDB
    quantile_cont-identical), smoothed proportions, per-bin terms +
    repeated total. Ref = events before the cut date, cur = after."""
    from feature_engineering_tk_spark.analysis.drift import psi_table

    ev = _t(spark, sf_dir, "events")
    ref = ev.where(F.col("ts") < F.lit(_DRIFT_CUT).cast("timestamp"))
    cur = ev.where(F.col("ts") >= F.lit(_DRIFT_CUT).cast("timestamp"))
    return psi_table(ref, cur, "value", bins=10)


def q_psi_sketch(spark, sf_dir):
    """Sketch-table PSI (analysis/drift.py hist_sketch_table +
    psi_from_sketches): each window is sketched per user-shard slice
    into a fixed-edge (slice, bin, n) histogram table — lossless
    integer merge — and PSI is computed from the sketch tables alone.
    The ORACLE replays the RAW-SLICE psi_table SQL: equality proves
    the sketch path is exact, so daily monitoring reads sketch rows,
    not the corpus."""
    from feature_engineering_tk_spark.analysis.drift import (
        hist_sketch_table,
        psi_from_sketches,
        reference_edges,
    )

    ev = _t(spark, sf_dir, "events")
    ref = ev.where(F.col("ts") < F.lit(_DRIFT_CUT).cast("timestamp"))
    cur = ev.where(F.col("ts") >= F.lit(_DRIFT_CUT).cast("timestamp"))
    edges = reference_edges(ref, "value", bins=10)
    shard = (F.col("user_id") % 4).cast("int")
    rs = hist_sketch_table(ref.withColumn("shard", shard), "value", "shard", edges)
    cs = hist_sketch_table(cur.withColumn("shard", shard), "value", "shard", edges)
    return psi_from_sketches(rs, cs, n_bins=len(edges) + 1)


def q_hist_quantiles(spark, sf_dir):
    """Sketch-table quantiles (analysis/drift.py quantiles_from_hist):
    bracketing [lo, hi] bin intervals for each prob, answered from the
    persisted fixed-edge histogram sketch alone — counts are exact
    integers, so the true quantile provably lies inside the returned
    bin. Oracle replays edges + bin cumulation in SQL."""
    from feature_engineering_tk_spark.analysis.drift import (
        hist_sketch_table,
        quantiles_from_hist,
        reference_edges,
    )

    ev = _t(spark, sf_dir, "events")
    edges = reference_edges(ev, "value", bins=10)
    sk = hist_sketch_table(
        ev.withColumn("shard", (F.col("user_id") % 4).cast("int")),
        "value", "shard", edges,
    )
    out = quantiles_from_hist(sk, edges, [0.25, 0.5, 0.75, 0.95])
    return out.select(
        "prob", F.round("lo", 6).alias("lo"), F.round("hi", 6).alias("hi")
    ).orderBy("prob")


def q_ks_drift(spark, sf_dir):
    """Exact two-sample KS (analysis/drift.py ks_statistic_df):
    sup|F1-F2| over pooled distinct values via range-partitioned
    prefix sums (no unpartitioned window); Kolmogorov-series p as a
    100-term sequential fold, bit-identical cross-engine."""
    from feature_engineering_tk_spark.analysis.drift import ks_statistic_df

    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click")
    b = ev.where(F.col("event_type") == "view")
    return ks_statistic_df(a, b, "value")


def q_mann_whitney(spark, sf_dir):
    """Mann-Whitney U (analysis/stats.py mann_whitney_u): midranks
    from distinct-value prefix sums, tie-corrected normal z with
    continuity correction; p (erfc-based) lives in the dict API, the
    oracled surface is the exact U and z."""
    from feature_engineering_tk_spark.analysis.stats import mann_whitney_u

    ev = _t(spark, sf_dir, "events")
    r = mann_whitney_u(ev, "value", "event_type", "click", "view")
    return spark.createDataFrame(
        [(float(r["u_statistic"]), round(float(r["z"]), 9), r["n1"], r["n2"])],
        "u_statistic double, z double, n1 bigint, n2 bigint",
    )


def q_embedding_covariance(spark, sf_dir):
    """One-pass embedding covariance (functions/embeddings.py):
    Arrow batches reduce to d(d+3)/2+1 partial sums via numpy matmul
    before anything shuffles (RowMatrix/treeAggregate shape); sample
    (ddof=1) covariance assembled on the driver from the sufficient
    statistics, rounded to pin order-dependent batch sums."""
    from feature_engineering_tk_spark.functions.embeddings import covariance_table

    emb = _t(spark, sf_dir, "embeddings")
    return covariance_table(spark, emb)


def q_kmeans(spark, sf_dir):
    """Distributed Lloyd's k-means (functions/clustering.py kmeans):
    assignment is a shuffle-free array_min expression over driver-
    literal centroids; re-estimation is a map-side-combined (cluster,
    dim) partial aggregate; centroid means round to 7 decimals per
    iteration so the only order-dependent float reduction is pinned
    cross-engine. Deterministic smallest-id init, ties → smallest
    centroid id, empty clusters keep their previous centroid."""
    from feature_engineering_tk_spark.functions.clustering import kmeans

    emb = _t(spark, sf_dir, "embeddings")
    assigned, _ = kmeans(emb, k=8, n_iter=4, round_decimals=7)
    return assigned


_SPAN_BOILER = "spark shuffle exchange partition codegen whole stage fusion broadcast probe"


def q_span_dedup(spark, sf_dir):
    """Exact-substring span dedup (operators/dedup.py exact_span_dedup,
    Lee et al. ExactSubstr with rolling span hashes instead of a
    suffix array): a 10-token boilerplate passage injected at the head
    of every 3rd doc and the tail of every 5th is removed everywhere
    except its first corpus occurrence; overlapping 8-token spans
    union their coverage. Only touched docs are rebuilt."""
    from feature_engineering_tk_spark.operators.dedup import exact_span_dedup

    docs = _t(spark, sf_dir, "documents")
    t2 = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.lit(_SPAN_BOILER + " "), F.col("text"))
    ).otherwise(F.col("text"))
    t2 = F.when(F.col("doc_id") % 5 == 0, F.concat(t2, F.lit(" " + _SPAN_BOILER))).otherwise(t2)
    return exact_span_dedup(docs.withColumn("text", t2), window=8)


def q_bpe_train(spark, sf_dir):
    """Distributed BPE merge learning (functions/bpe.py learn_bpe):
    merges learned on the distinct-word frequency table — the corpus
    is scanned once, every merge iteration runs on the vocab-sized
    table (10^7 rows at 10^12 tokens). Pair argmax ties break
    lexicographically; the greedy-fold rewrite is a sequential
    F.aggregate fold the oracle replays with list_reduce."""
    from feature_engineering_tk_spark.functions import bpe

    docs = _t(spark, sf_dir, "documents")
    merges, vocab = bpe.learn_bpe(docs, "text", num_merges=8)
    vocab.unpersist()
    return bpe.merge_table(spark, merges)


def q_bpe_segment(spark, sf_dir):
    """Per-document token counts under a corpus-trained BPE vocab
    (functions/bpe.py bpe_token_counts): second corpus scan explodes
    words and broadcast-joins the vocab-sized (word → subword count)
    table — documents never shuffle; NULL-text docs keep a zero row."""
    from feature_engineering_tk_spark.functions import bpe

    docs = _t(spark, sf_dir, "documents")
    merges, vocab = bpe.learn_bpe(docs, "text", num_merges=8)
    return bpe.bpe_token_counts(docs, vocab)


def q_cohen_kappa(spark, sf_dir):
    """Two-rater chance-corrected agreement (analysis/agreement.py
    cohen_kappa): label×label confusion matrix via one groupBy(item)
    pivot, coefficient from exact integer sufficient statistics
    (po=A/n, pe=P/n², kappa=(A·n−P)/(n²−P)). Annotation table derived
    from events: item = event_id % 500, rater = user_id % 2, label =
    event_type."""
    from feature_engineering_tk_spark.analysis.agreement import cohen_kappa

    ev = _t(spark, sf_dir, "events")
    ratings = ev.select(
        (F.col("event_id") % 500).alias("item_id"),
        (F.col("user_id") % 2).alias("rater_id"),
        F.col("event_type").alias("label"),
    )
    return cohen_kappa(ratings, rater_a=0, rater_b=1)


def q_fleiss_kappa(spark, sf_dir):
    """Multi-rater agreement (analysis/agreement.py fleiss_kappa):
    items with exactly 5 ratings kept (standard equal-n filter);
    A=Σ n_il², B=Σ c_l² exact integers, only the final divisions are
    floats, mirrored verbatim in the oracle. Ratings derived as one
    row per (item = event_id % 193, rater = user_id % 5) with the MIN
    event_type as that rater's label, so complete items have exactly
    5 ratings at any scale factor."""
    from feature_engineering_tk_spark.analysis.agreement import fleiss_kappa

    ev = _t(spark, sf_dir, "events")
    ratings = (
        ev.groupBy(
            (F.col("event_id") % 193).alias("item_id"),
            (F.col("user_id") % 5).alias("rater_id"),
        )
        .agg(F.min("event_type").alias("label"))
        .select("item_id", "label")
    )
    return fleiss_kappa(ratings, n_raters=5)


def _battles(spark, sf_dir):
    """Synthetic arena battle table over events: two model ids from
    user_id residues (never equal: 6u ≢ 5 mod 8), winner by value
    thresholds with a 'draw' band."""
    ev = _t(spark, sf_dir, "events")
    ma = F.concat(F.lit("m"), (F.col("user_id") % 8).cast("string"))
    mb = F.concat(F.lit("m"), ((F.col("user_id") * 7 + 3) % 8).cast("string"))
    return ev.where(F.col("value").isNotNull()).select(
        ma.alias("model_a"),
        mb.alias("model_b"),
        F.when(F.col("value") >= 10, ma)
        .when(F.col("value") >= 2, mb)
        .otherwise(F.lit("draw"))
        .alias("winner"),
    )


def q_model_winrates(spark, sf_dir):
    """Arena battle records (operators/evals.py model_winrates): per-
    model games/wins/winrate via one partial-aggregatable groupBy over
    the two-way unpivot; draws count as winless games."""
    from feature_engineering_tk_spark.operators.evals import model_winrates

    return model_winrates(_battles(spark, sf_dir))


def q_bradley_terry(spark, sf_dir):
    """Bradley-Terry strengths (operators/evals.py bradley_terry):
    Hunter-MM fixed point in exact parts-per-10^6 integers (pagerank
    convention — bit-identical under any summation order), 4
    iterations, ratings floored at 1 fixed-point part. Oracle is the
    identical chained-CTE integer iteration."""
    from feature_engineering_tk_spark.operators.evals import bradley_terry

    return bradley_terry(_battles(spark, sf_dir), n_iter=4)


def q_qa_metrics(spark, sf_dir):
    """SQuAD-style token-F1 / exact-match (functions/text.py
    qa_metrics): row-local multiset-intersection metrics where every
    float is ONE division of exact integers (f1 = 2I/(n_pred+n_ref)).
    Pred/ref derived row-locally from documents: tokens 1-4 vs 3-8."""
    from feature_engineering_tk_spark.functions.text import qa_metrics

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    pairs = docs.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, 4), " ").alias("pred"),
        F.array_join(F.slice(toks, 3, 6), " ").alias("ref"),
    )
    return qa_metrics(pairs).select(
        "doc_id", "n_pred", "n_ref", "n_overlap", "precision", "recall", "f1", "exact_match"
    )


def q_distinct_ngrams(spark, sf_dir):
    """Distinct-2 generation diversity per source (functions/text.py
    distinct_ngrams): grams hashed row-locally so the shuffle carries
    8-byte keys; distinct/total/ratio per source with the ratio one
    exact integer division."""
    from feature_engineering_tk_spark.functions.text import distinct_ngrams

    docs = _t(spark, sf_dir, "documents")
    return distinct_ngrams(docs, "text", n=2, by="source")


def _pred_ref_pairs(docs):
    """The shared pred/ref fixture for the summary-eval trio (q_bleu /
    q_rouge / q_rouge_l): tokens 1-8 vs 3-10 of each document, so every
    order has real overlap on longer docs and honest zeros on short
    ones.  The oracle-side twin is _PRED_REF_CTES."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, 8), " ").alias("pred"),
        F.array_join(F.slice(toks, 3, 8), " ").alias("ref"),
    )


def q_bleu(spark, sf_dir):
    """Sentence BLEU-4 (functions/text.py bleu_score): row-local
    clipped n-gram precisions as exact integer match/total columns,
    brevity penalty + geometric mean rounded to 9 decimals (the repo's
    cross-engine libm convention). Pred/ref from _pred_ref_pairs."""
    from feature_engineering_tk_spark.functions.text import bleu_score

    pairs = _pred_ref_pairs(_t(spark, sf_dir, "documents"))
    cols = ["doc_id", "n_pred", "n_ref"]
    cols += [c for n in range(1, 5) for c in (f"match_{n}", f"total_{n}")]
    return bleu_score(pairs, max_n=4).select(*cols, "brevity_penalty", "bleu")


def q_rouge(spark, sf_dir):
    """ROUGE-1/2 (functions/text.py rouge_n): recall-oriented summary
    eval — the recall-side complement of q_bleu on the same
    _pred_ref_pairs fixture. Exact integer clipped
    match / pred-total / ref-total columns plus round-9 P/R/F1; zero
    denominators score 0.0 (sklearn zero_division=0). Row-local array
    expressions, zero shuffle."""
    from feature_engineering_tk_spark.functions.text import rouge_n

    pairs = _pred_ref_pairs(_t(spark, sf_dir, "documents"))
    cols = ["doc_id"]
    for n in (1, 2):
        cols += [f"r{n}_match", f"r{n}_pred_total", f"r{n}_ref_total"]
        cols += [f"rouge{n}_p", f"rouge{n}_r", f"rouge{n}_f"]
    return rouge_n(pairs, max_n=2).select(*cols)


def q_rouge_l(spark, sf_dir):
    """ROUGE-L (functions/text.py rouge_l): LCS F-measure on the
    _pred_ref_pairs fixture — the LCS dynamic program is a nested
    sequential fold of JVM array expressions, element-for-element
    replayed by the oracle's nested list_reduce (exact integer DP, no
    float in the core). Zero shuffle, zero Python."""
    from feature_engineering_tk_spark.functions.text import rouge_l

    pairs = _pred_ref_pairs(_t(spark, sf_dir, "documents"))
    return rouge_l(pairs).select(
        "doc_id", "lcs_len", "l_pred_total", "l_ref_total",
        "rougeL_p", "rougeL_r", "rougeL_f",
    )


def q_js_divergence(spark, sf_dir):
    """Vocabulary drift between corpus halves (analysis/drift.py
    js_divergence_table): Jensen-Shannon divergence over the token
    distribution of sources src0-src9 vs src10-src19 — the categorical
    drift gauge PSI (numeric bins) and KS (ordered values) can't
    express. Per-token half-terms rounded to 12 decimals and summed in
    exact DECIMAL so js_total is bit-identical under any partitioning;
    one token groupBy, no window, no sort."""
    from feature_engineering_tk_spark.analysis.drift import js_divergence_table

    docs = _t(spark, sf_dir, "documents")
    lo = [f"src{i}" for i in range(10)]
    return js_divergence_table(
        docs.where(F.col("source").isin(lo)),
        docs.where(~F.col("source").isin(lo)),
        "text",
        tokens=True,
    )


def q_ngram_novelty(spark, sf_dir):
    """Generation novelty vs a reference corpus (functions/text.py
    ngram_novelty): bigrams of src0 docs left-joined against the
    DISTINCT bigram set of every other source — the join shuffles
    8-byte hashes, never gram text; novelty is one exact integer
    division per doc."""
    from feature_engineering_tk_spark.functions.text import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    gen = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return ngram_novelty(gen, corpus, "text", n=2)


def q_phrase_scan(spark, sf_dir):
    """Blocklist / refusal-phrase scan (functions/cleaning.py
    phrase_scan): case-folded substring flags, hit count, and the
    first matching phrase in severity order — plain instr, no regex,
    zero shuffle."""
    from feature_engineering_tk_spark.functions.cleaning import phrase_scan

    docs = _t(spark, sf_dir, "documents")
    return phrase_scan(
        docs.select("doc_id", "text"), phrases=("slow", "error fast", "null")
    ).select("doc_id", "phrase_hits", "phrase_first", "has_phrase")


def q_mix_balance(spark, sf_dir):
    """Corpus-composition balance (operators/sampling.py mix_balance):
    HHI / Simpson diversity / top-source share from integer sufficient
    statistics in one partial-agg groupBy + scalar agg."""
    from feature_engineering_tk_spark.operators.sampling import mix_balance

    return mix_balance(_t(spark, sf_dir, "documents"), by="source")


def q_semantic_decontaminate(spark, sf_dir):
    """Embedding-space benchmark decontamination (functions/
    similarity.py embedding_decontaminate): bench side broadcast,
    similarities partition-local, partial-agg max collapses N×m to N
    before the only exchange. Train = vec_id % 5 != 0, bench = the
    rest, threshold 0.35 on 6-dp-rounded cosine."""
    from feature_engineering_tk_spark.functions.similarity import (
        embedding_decontaminate,
    )

    emb = _t(spark, sf_dir, "embeddings")
    train = emb.where(F.col("vec_id") % 5 != 0)
    bench = emb.where(F.col("vec_id") % 5 == 0)
    return embedding_decontaminate(train, bench, threshold=0.35)


def q_pass_at_k(spark, sf_dir):
    """Unbiased pass@k estimator (operators/evals.py pass_at_k):
    1 − Π(n−c−i)/(n−i), a fixed-length sequential fold over exact
    integer terms — bit-identical to DuckDB list_reduce. Problems =
    event_id % 97, sample correct when value ≥ 8, k = 5."""
    from feature_engineering_tk_spark.operators.evals import pass_at_k

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    samples = ev.select(
        (F.col("event_id") % 97).alias("problem_id"),
        (F.col("value") >= 8).alias("correct"),
    )
    return pass_at_k(samples, k=5)


def q_majority_vote(spark, sf_dir):
    """Self-consistency scoring (operators/evals.py majority_vote):
    modal answer per problem via struct-min argmax (lexically-smallest
    tie-break), vote share one exact division. Problems =
    event_id % 131, answers = event_type."""
    from feature_engineering_tk_spark.operators.evals import majority_vote

    ev = _t(spark, sf_dir, "events")
    pid = F.col("event_id") % 131
    samples = ev.select(
        pid.alias("problem_id"),
        F.col("event_type").alias("answer"),
        F.when(pid % 2 == 0, F.lit("click")).otherwise(F.lit("view")).alias("reference"),
    )
    return majority_vote(samples)


def q_token_budget(spark, sf_dir):
    """Token-budget downsampling (operators/sampling.py
    token_budget_sample): per source, hash-ordered prefix whose
    cumulative token count fits 500 tokens — one window shuffle on
    the source key, md5 portable-hash order for the oracle replay."""
    from feature_engineering_tk_spark.operators.sampling import token_budget_sample

    docs = _t(spark, sf_dir, "documents")
    return token_budget_sample(
        docs, by="source", budget=500, hash_mode="md5"
    ).select("doc_id", "source", "n_tokens", "cum_tokens")


def q_tool_args(spark, sf_dir):
    """Tool-call JSON argument QA (operators/transcripts.py
    validate_tool_args): row-local from_json validity + key audit,
    zero shuffle. Args derived from events.props with every 7th blob
    truncated (a realistic cut-off corruption)."""
    from feature_engineering_tk_spark.operators.transcripts import validate_tool_args

    ev = _t(spark, sf_dir, "events")
    args = F.when(
        F.col("event_id") % 7 == 0,
        F.expr("substring(props, 1, length(props) - 1)"),
    ).otherwise(F.col("props"))
    df = ev.select("event_id", args.alias("tool_args"))
    return validate_tool_args(df, "tool_args", required=("k", "missing")).select(
        "event_id", "json_ok", "n_keys", "missing_required"
    )


def q_vocab_stats(spark, sf_dir):
    """Corpus vocabulary profile (functions/text.py vocab_stats):
    Heaps-law health scalars — explode → one token groupBy → one
    scalar agg; ratios are single exact integer divisions."""
    from feature_engineering_tk_spark.functions.text import vocab_stats

    return vocab_stats(_t(spark, sf_dir, "documents"))


def q_zipf_table(spark, sf_dir):
    """Zipf concentration head (functions/text.py zipf_table): top-20
    tokens by frequency (deterministic tie-break), exact share and
    cumulative-share divisions; ranked on the driver from the
    aggregate-sized top-k so no unpartitioned window exists."""
    from feature_engineering_tk_spark.functions.text import zipf_table

    return zipf_table(_t(spark, sf_dir, "documents"), k=20)


def q_cluster_keywords(spark, sf_dir):
    """c-TF-IDF cluster labeling (functions/text.py cluster_keywords,
    Grootendorst 2022): top-3 signature terms per source with score
    tf·ln(1 + A/f_t) — the exploded token table shuffles once into a
    map-side-combined (label, token) groupBy, everything downstream is
    vocabulary-sized, ranking window partitions by label. Round-9
    score descending + token ascending is the engine-independent
    rank order (the rounded-argmax convention)."""
    from feature_engineering_tk_spark.functions.text import cluster_keywords

    docs = _t(spark, sf_dir, "documents")
    return cluster_keywords(docs, "source", "text", top_k=3)


def q_best_of_n(spark, sf_dir):
    """Rejection-sampling selection (operators/evals.py best_of_n):
    per-problem reward argmax as a struct max (ties → greatest sample
    id), mean one exact division — ONE partial-agg groupBy. Problems
    = event_id % 89, sample = event_id, reward = value."""
    from feature_engineering_tk_spark.operators.evals import best_of_n

    ev = _t(spark, sf_dir, "events")
    samples = ev.select(
        (F.col("event_id") % 89).alias("problem_id"),
        F.col("event_id").alias("sample_id"),
        F.col("value").alias("reward"),
    )
    out = best_of_n(samples)
    return out.select(
        "problem_id",
        "n_samples",
        "best_sample",
        "best_reward",
        F.round("mean_reward", 6).alias("mean_reward"),
        F.round("reward_range", 6).alias("reward_range"),
    )


def q_preference_pairs(spark, sf_dir):
    """DPO pair construction (operators/evals.py preference_pairs):
    per-prompt chosen/rejected by struct-max/min over (score,
    response) — ONE partial-agg groupBy, no window, equal-score
    prompts dropped. Prompts = user_id % 211, responses = event_id,
    scores = value."""
    from feature_engineering_tk_spark.operators.evals import preference_pairs

    ev = _t(spark, sf_dir, "events")
    resp = ev.select(
        (F.col("user_id") % 211).alias("prompt_id"),
        F.col("event_id").alias("response_id"),
        F.col("value").alias("score"),
    )
    out = preference_pairs(resp)
    return out.select(
        "prompt_id",
        "chosen",
        F.round("chosen_score", 6).alias("chosen_score"),
        "rejected",
        F.round("rejected_score", 6).alias("rejected_score"),
        F.round("margin", 6).alias("margin"),
        "n_responses",
    ).orderBy("prompt_id")


def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 lexical retrieval (functions/text.py bm25_topk):
    query terms as plan literals filter the token explode at the
    scan; df/tf partial-agg groupBys; 1-row N/avgdl broadcasts;
    decimal-exact per-doc sum; TakeOrdered top-k."""
    from feature_engineering_tk_spark.functions.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    out = bm25_topk(docs, "spark sort window", k=10)
    return out.select(
        "doc_id", F.round("bm25", 6).alias("bm25"), "n_query_terms_hit"
    )


def q_refusal_rate(spark, sf_dir):
    """Per-model refusal-rate gauge (operators/evals.py refusal_rate,
    composing functions/cleaning.py phrase_scan): row-local case-folded
    substring flags, one partial-agg groupBy — text never shuffles.
    Models = user_id % 5; replies refuse when value < 2, NULL-value
    replies get NULL text (scanned as '')."""
    from feature_engineering_tk_spark.operators.evals import refusal_rate

    ev = _t(spark, sf_dir, "events")
    replies = ev.select(
        F.concat(F.lit("m"), (F.col("user_id") % 5).cast("string")).alias("model"),
        F.when(F.col("value") < 2, F.lit("Sorry, I cannot do that."))
        .when(F.col("value").isNotNull(), F.col("event_type"))
        .alias("text"),
    )
    return refusal_rate(replies)


def q_discounted_return(spark, sf_dir):
    """Leakage-free discounted reward trace (operators/transcripts.py
    discounted_return): G_i = 0.9·G_{i-1} + r_i over turn order — one
    conv groupBy, JVM fold, posexplode back; the identical sequential
    float recurrence as the DuckDB list_reduce replay (seeded 0.0), so
    values are bit-exact with no rounding. Reward = text length."""
    from feature_engineering_tk_spark.operators.transcripts import discounted_return

    tv = _transcript_view(spark, sf_dir).withColumn(
        "reward", F.length("text").cast("double")
    )
    return discounted_return(tv, reward="reward", gamma=0.9)


def q_prefix_sharing(spark, sf_dir):
    """Shared-prefix audit (operators/transcripts.py prefix_sharing):
    conversations grouped by md5 of their first-2-turn texts; saved
    tokens = (n_convs−1)·prefix_tokens. Head filters before any
    shuffle; two partial-agg groupBys."""
    from feature_engineering_tk_spark.operators.transcripts import prefix_sharing

    return prefix_sharing(_transcript_view(spark, sf_dir), k=2)


def q_branch_points(spark, sf_dir):
    """Conversation-fork detection (operators/transcripts.py
    branch_points): running-prefix md5 per turn (one conv window),
    groupBy(prefix) with two exact distincts sharing one expand;
    forks = prefixes shared by ≥2 convs with ≥2 distinct next turns."""
    from feature_engineering_tk_spark.operators.transcripts import branch_points

    return branch_points(_transcript_view(spark, sf_dir))


def q_memorization_scan(spark, sf_dir):
    """Verbatim-memorization audit (operators/dedup.py
    memorization_scan): longest contiguous run of corpus-shared token
    3-grams per generated doc — hash join on 8-byte keys, then
    gaps-and-islands per doc. Generated = doc_id % 3 == 0, corpus =
    the rest."""
    from feature_engineering_tk_spark.operators.dedup import memorization_scan

    docs = _t(spark, sf_dir, "documents")
    gen = docs.where(F.col("doc_id") % 3 == 0)
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    return memorization_scan(gen, corpus, shingle_n=3)


def q_tool_transitions(spark, sf_dir):
    """Tool-call Markov table (operators/transcripts.py
    tool_transitions): one conv lag + one partial-agg groupBy(src,
    dst); per-source totals broadcast back onto the tools²-bounded
    edge table. Calls synthesized from events (every event a call,
    tool = event_type) so all 5 tools appear."""
    from feature_engineering_tk_spark.operators.transcripts import tool_transitions

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    calls = ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        F.row_number().over(w).alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.col("event_type").alias("tool"),
    )
    return tool_transitions(calls)


def q_special_token_rate(spark, sf_dir):
    """Template-leakage QA (functions/cleaning.py special_token_rate):
    phrase_scan flags + one partial-agg groupBy; every 11th doc gets a
    '</s>' suffix so both paths exercise."""
    from feature_engineering_tk_spark.functions.cleaning import special_token_rate

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" </s>"))
        ).otherwise(F.col("text")),
    )
    return special_token_rate(docs)


def q_tool_cooccurrence(spark, sf_dir):
    """Tool-affinity pairs (operators/transcripts.py
    tool_cooccurrence): distinct (conv, tool) reduction, conv-keyed
    self-join, one tools²-bounded groupBy, totals broadcast back.
    Calls synthesized from events (tool = event_type)."""
    from feature_engineering_tk_spark.operators.transcripts import tool_cooccurrence

    ev = _t(spark, sf_dir, "events")
    calls = ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        F.lit("tool").alias("role"),
        F.col("event_type").alias("tool"),
    )
    return tool_cooccurrence(calls)


def q_contrastive_triplets(spark, sf_dir):
    """Contrastive-pair mining (functions/similarity.py
    contrastive_triplets): per anchor the best same-group positive and
    best cross-group hard negative as struct maxes in one groupBy —
    cosines rounded before the argmax so winners are engine-stable.
    Groups = vec_id % 7."""
    from feature_engineering_tk_spark.functions.similarity import (
        contrastive_triplets,
    )

    emb = _t(spark, sf_dir, "embeddings").withColumn("grp", F.col("vec_id") % 7)
    return contrastive_triplets(emb, "grp")


def q_dialog_act_mix(spark, sf_dir):
    """Dialog-act composition (operators/transcripts.py
    dialog_act_mix): row-local first-token/suffix heuristics (no
    regex), one partial-agg groupBy + a window over the roles×acts-
    bounded aggregate. Texts rewritten so all four acts appear."""
    from feature_engineering_tk_spark.operators.transcripts import dialog_act_mix

    tv = _transcript_view(spark, sf_dir).withColumn(
        "text",
        F.when(F.col("text") == "view", F.lit("what is this?"))
        .when(F.col("text") == "click", F.lit("run the report"))
        .when(F.col("text") == "error", F.lit(""))
        .otherwise(F.col("text")),
    )
    return dialog_act_mix(tv)


def q_position_bias(spark, sf_dir):
    """Judge position-bias audit (operators/evals.py position_bias):
    one fully map-side scalar aggregation over the battle table; every
    share an exact integer division."""
    from feature_engineering_tk_spark.operators.evals import position_bias

    return position_bias(_battles(spark, sf_dir))


def q_length_bias(spark, sf_dir):
    """Verbosity-bias audit (operators/evals.py length_bias): row-local
    whitespace-token deltas, one scalar agg — text never shuffles.
    Pairs = (text, first half of text), so chosen is predictably
    longer and the sign test fires."""
    from feature_engineering_tk_spark.operators.evals import length_bias

    docs = _t(spark, sf_dir, "documents")
    pairs = docs.select(
        F.col("text").alias("chosen_text"),
        F.expr("substring(text, 1, CAST(length(text) / 2 AS INT))").alias(
            "rejected_text"
        ),
    )
    out = length_bias(pairs)
    return out.select(
        "n_pairs",
        "n_chosen_longer",
        "n_rejected_longer",
        "n_equal",
        "longer_share",
        F.round("mean_token_delta", 6).alias("mean_token_delta"),
        F.round("sign_z", 6).alias("sign_z"),
    )


def q_repair_timestamps(spark, sf_dir):
    """Clock-repair cleanup (operators/transcripts.py
    repair_timestamps): running-max clamp on one conv window with an
    audit flag. Every 7th turn's clock is pulled back an hour to
    exercise both paths."""
    from feature_engineering_tk_spark.operators.transcripts import repair_timestamps

    tv = _transcript_view(spark, sf_dir).withColumn(
        "ts",
        F.when(
            F.col("turn_idx") % 7 == 3, F.col("ts") - F.expr("INTERVAL 1 HOUR")
        ).otherwise(F.col("ts")),
    )
    from feature_engineering_tk_spark.functions.timeutil import epoch_micros

    out = repair_timestamps(tv)
    return out.select(
        "conv_id",
        "turn_idx",
        epoch_micros(F.col("ts")).alias("ts_us"),
        "ts_was_repaired",
    )


def q_embedding_shift(spark, sf_dir):
    """Embedding-space snapshot drift (functions/embeddings.py
    embedding_shift): per-dim means rounded before the distance
    algebra (covariance_stats convention), dim-bounded shuffles only.
    Snapshot a = vec_id even, b = odd."""
    from feature_engineering_tk_spark.functions.embeddings import embedding_shift

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_shift(
        emb.where(F.col("vec_id") % 2 == 0), emb.where(F.col("vec_id") % 2 != 0)
    )


def q_adjacent_similarity(spark, sf_dir):
    """Topic-boundary primitive (functions/embeddings.py
    adjacent_similarity): cosine of each embedding vs its predecessor
    within a label sequence — ONE partitioned window carries the
    vector once; dot/norm are row-local left-fold array expressions
    rounded to 6 (cosine_topk convention). Boundary = cos < 0.1."""
    from feature_engineering_tk_spark.functions.embeddings import adjacent_similarity

    emb = _t(spark, sf_dir, "embeddings")
    return adjacent_similarity(
        emb, "embedding", order=["vec_id"], by="label", threshold=0.1
    ).select("vec_id", "label", "prev_cosine", "is_boundary")


def q_topic_segments(spark, sf_dir):
    """Topic segmentation (functions/embeddings.py topic_segments):
    adjacent_similarity's boundary flags plus a 0-based running
    segment id — the cumsum shares the one label-partitioned window
    exchange; RAG chunking that never straddles a topic."""
    from feature_engineering_tk_spark.functions.embeddings import topic_segments

    emb = _t(spark, sf_dir, "embeddings")
    return topic_segments(
        emb, "embedding", order=["vec_id"], by="label", threshold=0.1
    ).select("vec_id", "label", "prev_cosine", "is_boundary", "segment_id")


def q_dedup_best(spark, sf_dir):
    """Quality-priority exact dedup (operators/dedup.py exact_dedup
    with score_col): 20-char text prefixes force duplicate groups by
    pigeonhole; the survivor is the LONGEST copy (min doc_id on ties,
    NULL scores lose) instead of the min id — the mirrored-crawl
    'keep the cleanest copy' policy.  One hash-key exchange serves
    the rank window and the copy count."""
    from feature_engineering_tk_spark.operators.dedup import exact_dedup

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("key_text", F.substring("text", 1, 20))
        .withColumn("quality", F.length("text"))
    )
    return exact_dedup(d, "key_text", "doc_id", score_col="quality").orderBy(
        "doc_id"
    )


def q_dataset_fingerprint(spark, sf_dir):
    """Order-invariant snapshot checksum (sources/tables.py
    dataset_fingerprint): per-row md5-60bit hashes of a unit-separator
    canonical rendering, summed in DECIMAL(38,0) mod 2^61-1 — one
    map-side-combined scalar agg; any partitioning yields the
    identical value."""
    from feature_engineering_tk_spark.sources.tables import dataset_fingerprint

    orders = _t(spark, sf_dir, "orders")
    return dataset_fingerprint(
        orders, ["o_orderkey", "o_orderstatus", "o_orderpriority"], hash_mode="md5"
    )


def q_rows_since_event(spark, sf_dir):
    """Point-in-time recency feature (operators/window_features.py
    rows_since_event): rows back to the most recent PRIOR 'error'
    turn — frame ends at the previous row (leakage-free), distance in
    row_numbers so order gaps don't distort. One conv sort."""
    from feature_engineering_tk_spark.operators.window_features import (
        rows_since_event,
    )

    tv = _transcript_view(spark, sf_dir)
    out = rows_since_event(tv, F.col("text") == "error")
    return out.select("conv_id", "turn_idx", "rows_since_event")


def q_conversation_outcome(spark, sf_dir):
    """Per-conversation outcome triage (operators/transcripts.py
    conversation_outcome): last-role / answered / thanked heuristics
    as struct maxes in ONE partial-agg groupBy — no window, text never
    shuffles. 'signup' turns rewritten to a thanks phrase so the
    satisfaction flag exercises both ways."""
    from feature_engineering_tk_spark.operators.transcripts import (
        conversation_outcome,
    )

    tv = _transcript_view(spark, sf_dir).withColumn(
        "text",
        F.when(F.col("text") == "signup", F.lit("Thanks, that worked!")).otherwise(
            F.col("text")
        ),
    )
    return conversation_outcome(tv)


def q_calibration_bins(spark, sf_dir):
    """Reliability-diagram table (operators/evals.py calibration_bins):
    row-local equal-width bin id, one partial-agg groupBy to an
    n_bins-bounded result; frac_pos exact, mean_score rounded at the
    comparison boundary. Scores = fractional part of value (exact
    float subtraction), labels = user_id parity."""
    from feature_engineering_tk_spark.operators.evals import calibration_bins

    ev = _t(spark, sf_dir, "events")
    samples = ev.where(F.col("value").isNotNull()).select(
        (F.col("value") - F.floor(F.col("value"))).alias("score"),
        (F.col("user_id") % 2).alias("label"),
    )
    out = calibration_bins(samples, n_bins=10)
    return out.select(
        "bin", "n", F.round("mean_score", 6).alias("mean_score"), "frac_pos"
    )


def q_corpus_diff(spark, sf_dir):
    """Snapshot churn audit (operators/dedup.py corpus_diff): both
    versions reduce to distinct (source, content-hash) pairs before
    the only join — text never shuffles; jaccard one exact division.
    Version a = doc_id % 4 != 0, version b = doc_id % 4 != 1."""
    from feature_engineering_tk_spark.operators.dedup import corpus_diff

    docs = _t(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 4 != 0)
    b = docs.where(F.col("doc_id") % 4 != 1)
    return corpus_diff(a, b)


def q_unigram_train(spark, sf_dir):
    """Unigram-LM tokenizer training (functions/unigram.py
    unigram_train): hard-EM over the distinct-word table, broadcast
    vocab model, integer Viterbi counts (order-free, bit-deterministic).
    Float-scored DP inside iterative EM is not reasonably ANSI-SQL
    expressible as engine algebra — the oracle is a VALUES-literal
    table pinned by an independent pure-Python replay of the pinned
    semantics (_trio_oracles); exact property-parity also proven in
    tests/test_unigram.py."""
    from feature_engineering_tk_spark.functions.unigram import unigram_train

    docs = _t(spark, sf_dir, "documents")
    return unigram_train(docs, vocab_size=60, n_iter=2, max_piece_len=4, seed_size=120)


def q_unigram_segment(spark, sf_dir):
    """Unigram-LM segmentation (functions/unigram.py unigram_segment):
    model broadcast, one Arrow-batched mapInPandas pass, zero shuffle.
    Oracled via the _trio_oracles VALUES-literal replay (same
    rationale as unigram_train)."""
    from feature_engineering_tk_spark.functions.unigram import (
        unigram_segment,
        unigram_train,
    )

    docs = _t(spark, sf_dir, "documents")
    model = unigram_train(docs, vocab_size=60, n_iter=2, max_piece_len=4, seed_size=120)
    out = unigram_segment(docs.select("doc_id", "text"), model, max_piece_len=4)
    return out.select(
        "doc_id",
        F.size("pieces").alias("n_pieces"),
        F.array_join(F.slice("pieces", 1, 12), " ").alias("pieces_head"),
    )


def q_compression_ratio(spark, sf_dir):
    """zlib compressibility signal (functions/cleaning.py
    compression_ratio): Arrow-batched pandas UDF over UTF-8 bytes,
    zero shuffle. Compressed length is a zlib library constant, not
    engine algebra — the oracle is a VALUES-literal table pinned by
    an independent pure-Python zlib replay (_trio_oracles); pytest
    additionally pins fixture values."""
    from feature_engineering_tk_spark.functions.cleaning import compression_ratio

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return compression_ratio(docs).select(
        "doc_id", "compressed_bytes", "raw_bytes", F.round("compression_ratio", 6).alias("compression_ratio")
    )


def q_count_encode(spark, sf_dir):
    """Frequency encoding — the reference suggests it for
    high-cardinality categoricals (target_analyzer/suggestions.py:173)
    but never implements it; fit = one groupBy, apply = literal map."""
    from feature_engineering_tk_spark.transforms.encode import CountEncoder

    ev = _t(spark, sf_dir, "events")
    out = CountEncoder(normalize=True).fit(ev, "event_type").transform(ev, out="et_freq")
    return out.select("event_id", F.round("et_freq", 6).alias("et_freq"))


def q_target_encode(spark, sf_dir):
    """Smoothed (m-estimate, m=10) mean-target encoding
    (suggestions.py:173 'Target encode ...' made real): enc =
    (sum_c + m·prior) / (n_c + m); fit is ONE groupBy aggregation."""
    from feature_engineering_tk_spark.transforms.encode import TargetEncoder

    ev = _t(spark, sf_dir, "events")
    enc = TargetEncoder(smoothing=10.0).fit(ev, "event_type", "value")
    out = enc.transform(ev, out="et_tenc")
    return out.select("event_id", F.round("et_tenc", 6).alias("et_tenc"))


def q_pit_target_encode(spark, sf_dir):
    """Leakage-free point-in-time target encoding: each row's code =
    mean target over STRICTLY EARLIER rows of its category (null until
    history exists). Two-level telescoped expanding sum — per-(category,
    day) partials + day-bounded windows, never a whole category on one
    task (north rule: zero temporal leakage, skew handled)."""
    from feature_engineering_tk_spark.transforms.encode import expanding_target_encode

    ev = _t(spark, sf_dir, "events")
    out = expanding_target_encode(
        ev, "event_type", "value", order=["ts", "event_id"], out="et_pit",
        decimal_scale=3,
    )
    return out.select("event_id", F.round("et_pit", 6).alias("et_pit"))


def q_rare_categories(spark, sf_dir):
    """Rare-category lumping (suggestions.py:173 'group rare
    categories'): users seen < 25 times collapse to '__other__';
    keep-set fitted in one groupBy, applied as a literal map."""
    from feature_engineering_tk_spark.transforms.encode import RareCategoryGrouper

    ev = _t(spark, sf_dir, "events").withColumn("u", F.col("user_id").cast("string"))
    g = RareCategoryGrouper(min_count=25).fit(ev, "u")
    return g.transform(ev, out="user_grouped").select("event_id", "user_grouped")


def q_cyclical_encode(spark, sf_dir):
    """Cyclical sin/cos encoding of hour-of-day and month — fixes the
    wrap-around defect in the reference's raw datetime extractors
    (feature_engineering.py:513-574). Pure codegen column math."""
    from feature_engineering_tk_spark.functions.datetime_features import cyclical_encode

    ev = _t(spark, sf_dir, "events")
    out = cyclical_encode(ev, "ts", features=["hour", "month"])
    return out.select(
        "event_id",
        F.round("ts_hour_sin", 6).alias("hour_sin"),
        F.round("ts_hour_cos", 6).alias("hour_cos"),
        F.round("ts_month_sin", 6).alias("month_sin"),
        F.round("ts_month_cos", 6).alias("month_cos"),
    )


def q_woe_encode(spark, sf_dir):
    """Weight-of-evidence encoding vs a binary target (the
    risk-modelling standard behind suggestions.py:173's categorical↔
    binary advice): woe = ln(dist_pos/dist_neg) with Laplace alpha=0.5;
    fit = ONE groupBy (two longs per category cross the shuffle),
    apply = literal map — zero shuffle on the data table."""
    from feature_engineering_tk_spark.transforms.encode import WoEEncoder

    ev = _t(spark, sf_dir, "events").withColumn(
        "tgt",
        F.when(F.col("value").isNull(), F.lit(None).cast("int")).otherwise(
            (F.col("value") > 50).cast("int")
        ),
    )
    enc = WoEEncoder(alpha=0.5).fit(ev, "event_type", "tgt")
    out = enc.transform(ev, out="et_woe")
    return out.select("event_id", F.round("et_woe", 6).alias("et_woe"))


def q_hashing_encode(spark, sf_dir):
    """The hashing trick: value → hash(salt, column, value) % buckets,
    NO fitted vocabulary and NO driver state — the only encoder whose
    cost is independent of cardinality (the 10^12-row default for
    web-scale id columns, where even distinct() is a full key shuffle).
    md5 mode makes the exact buckets replayable in the oracle."""
    from feature_engineering_tk_spark.transforms.encode import hashing_encode

    ev = _t(spark, sf_dir, "events")
    out = hashing_encode(
        ev, ["event_type", "user_id"], n_buckets=997, hash_mode="md5"
    )
    return out.select("event_id", "event_type_hash", "user_id_hash")


def q_feature_cross(spark, sf_dir):
    """Crossed categorical interaction (suggestions.py:58
    'interaction'): lang × source on documents, row-local concat —
    codegen, no shuffle (hashed-bucket variant pytest-covered)."""
    from feature_engineering_tk_spark.transforms.encode import feature_cross

    docs = _t(spark, sf_dir, "documents")
    out = feature_cross(docs, ["lang", "source"], out="lang_x_source", sep="|")
    return out.select("doc_id", "lang_x_source")


def q_rank_uniform(spark, sf_dir):
    """Rank-to-uniform transform (QuantileTransformer-style) via
    distributed midranks — distinct-value prefix sums, NO global sort
    window (the Kruskal-Wallis rank machinery reused)."""
    from feature_engineering_tk_spark.transforms.scale import rank_uniform

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    out = rank_uniform(ev, "value", out="u")
    return out.select("event_id", F.round("u", 6).alias("value_rank_uniform"))


def q_ewma(spark, sf_dir):
    """Per-user adjusted EWMA (pandas ewm(alpha=.3, adjust=True)
    parity) via the telescoped prefix-sum identity — two cumulative
    window sums, zero Python, one partitionBy(user) exchange."""
    from feature_engineering_tk_spark.operators.window_features import with_ewma

    ev = _t(spark, sf_dir, "events")
    out = with_ewma(
        ev, "value", alpha=0.3, entity="user_id", order=["ts", "event_id"],
        out="value_ewma", method="prefix",
    )
    return out.select("event_id", F.round("value_ewma", 6).alias("value_ewma"))


def q_pct_change(spark, sf_dir):
    """Per-user pct_change (pandas parity; zero-previous → NULL, not
    inf — infinities are defects per the reference's own
    detect_infinite_values). Strictly past-only lag."""
    from feature_engineering_tk_spark.operators.window_features import with_pct_change

    ev = _t(spark, sf_dir, "events")
    out = with_pct_change(
        ev, "value", k=1, entity="user_id", order=["ts", "event_id"], out="pc"
    )
    return out.select("event_id", F.round("pc", 6).alias("value_pct"))


def q_yeojohnson(spark, sf_dir):
    """Yeo-Johnson power transform at fixed λ=0.5 (the sign-safe
    Box-Cox the reference's suggest_transformations points at for
    skewed features); grid-MLE fit is pytest-covered — one aggregation
    pass scores the whole λ grid."""
    from feature_engineering_tk_spark.transforms.scale import yeo_johnson_transform

    ev = _t(spark, sf_dir, "events")
    out = yeo_johnson_transform(ev, "value", lam=0.5, out="value_yj")
    return out.select("event_id", F.round("value_yj", 6).alias("value_yj"))


def _scored_events(spark, sf_dir):
    """Shared score/label derivation for the classifier-evaluation
    family (same construction as calibration_bins): score = fractional
    part of value (exact float subtraction), label = user_id parity."""
    ev = _t(spark, sf_dir, "events")
    return ev.where(F.col("value").isNotNull()).select(
        (F.col("value") - F.floor(F.col("value"))).alias("score"),
        (F.col("user_id") % 2).cast("int").alias("label"),
    )


def q_roc_auc(spark, sf_dir):
    """Exact tie-corrected ROC-AUC (analysis/classification.py
    roc_auc): Mann-Whitney pair-count identity over the distinct-score
    prefix-sum table — integer numerator/denominator, ONE double
    division, no global sort. The oracle uses the independent midrank
    formulation (rank + tie-count windows); both reduce to the same
    exact integers, so the match is bit-level."""
    from feature_engineering_tk_spark.analysis.classification import roc_auc

    return roc_auc(_scored_events(spark, sf_dir), "score", "label")


def q_roc_curve(spark, sf_dir):
    """Per-distinct-threshold ROC operating points
    (analysis/classification.py roc_curve): (tp, fp, tpr, fpr,
    precision), every rate a single integer division — exact."""
    from feature_engineering_tk_spark.analysis.classification import roc_curve

    out = roc_curve(_scored_events(spark, sf_dir), "score", "label")
    return out.select(
        F.round("threshold", 9).alias("threshold"),
        "tp",
        "fp",
        "tpr",
        "fpr",
        "precision",
    )


def q_average_precision(spark, sf_dir):
    """Step-interpolated average precision (PR-AUC,
    analysis/classification.py average_precision): per-threshold
    precision weighted by recall gain; per-term integer divisions,
    double-rounded at the comparison boundary."""
    from feature_engineering_tk_spark.analysis.classification import average_precision

    out = average_precision(_scored_events(spark, sf_dir), "score", "label")
    return out.select(
        "n_pos", "n_neg", F.round("average_precision", 6).alias("average_precision")
    )


def q_confusion_threshold(spark, sf_dir):
    """Confusion matrix + accuracy/precision/recall/F1/MCC at
    threshold 0.5 (analysis/classification.py confusion_at_threshold):
    one map-side-combined aggregation pass; overflow-safe double
    products inside MCC."""
    from feature_engineering_tk_spark.analysis.classification import (
        confusion_at_threshold,
    )

    return confusion_at_threshold(_scored_events(spark, sf_dir), "score", "label", 0.5)


def q_log_loss(spark, sf_dir):
    """Proper-scoring-rule summary (analysis/classification.py
    log_loss_brier): clamped log-loss + Brier score, one aggregation
    pass; sums rounded at the boundary."""
    from feature_engineering_tk_spark.analysis.classification import log_loss_brier

    out = log_loss_brier(_scored_events(spark, sf_dir), "score", "label")
    return out.select(
        "n",
        F.round("log_loss", 6).alias("log_loss"),
        F.round("brier", 6).alias("brier"),
    )


def q_gains_lift(spark, sf_dir):
    """Decile gains/lift table (analysis/classification.py
    gains_table): exact-quantile score buckets (bit-identical to
    DuckDB quantile_cont), one groupBy to 10 rows, suffix sums over
    the aggregate-sized bucket table (never replicating row data)."""
    from feature_engineering_tk_spark.analysis.classification import gains_table

    out = gains_table(_scored_events(spark, sf_dir), "score", "label", n_buckets=10)
    return out.select(
        "bucket",
        "n",
        "n_pos",
        "pos_rate",
        "cum_n",
        "cum_pos",
        "cum_capture",
        "lift",
    )


def q_heavy_hitters(spark, sf_dir):
    """Exact top-20 corpus tokens (operators/frequency.py
    heavy_hitters): map-side-combined token counts, deterministic
    (count desc, token asc) TakeOrdered — only k rows reach the
    driver."""
    from feature_engineering_tk_spark.operators.frequency import heavy_hitters

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    ).where(F.col("token") != "")
    return heavy_hitters(toks, "token", k=20)


def q_mg_heavy_hitters(spark, sf_dir):
    """Cross-slice heavy hitters answered FROM THE SKETCH TABLE
    (operators/frequency.py mg_sketch_table + merge_mg_sketches):
    each user-shard slice is summarised once into a persistable
    Misra-Gries (slice, value, weight) table — raw values never
    shuffle — and the corpus-wide answer merges the sketch-sized
    table in the deterministic (weight desc, value asc) fold order.
    width=64 ≥ the event_type cardinality, so no decrement ever
    fires and the sketch is EXACT (partition-independent) — the
    oracle-able regime; the lossy-width band is pinned by
    tests/test_frequency.py."""
    from feature_engineering_tk_spark.operators.frequency import (
        merge_mg_sketches,
        mg_sketch_table,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "shard", (F.col("user_id") % 8).cast("int")
    )
    sketches = mg_sketch_table(ev, "event_type", "shard", width=64)
    merged = merge_mg_sketches(sketches, width=64)
    return merged.orderBy(F.desc("weight"), "value")


def q_cms_point_freq(spark, sf_dir):
    """Point-frequency estimates from the Count-Min sketch table
    (operators/frequency.py cms_sketch_table + merge_cms_sketches +
    cms_estimate): each user-shard slice is summarised once into a
    persistable (shard, row, col, weight) cell table — the shuffle
    carries only depth×width cell coordinates, raw values never move —
    slices merge LOSSLESSLY by cell-wise sums, and point queries are
    min-over-rows cell lookups.  md5 hash mode: the oracle replays
    every hash, cell sum, and min bit-for-bit."""
    from feature_engineering_tk_spark.operators.frequency import (
        cms_estimate,
        cms_sketch_table,
        merge_cms_sketches,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "shard", (F.col("user_id") % 8).cast("int")
    )
    sk = cms_sketch_table(
        ev, "event_type", by="shard", depth=3, width=256, hash_mode="md5"
    )
    merged = merge_cms_sketches(sk)
    probes = ["click", "view", "purchase", "signup", "error", "absent-probe"]
    return cms_estimate(
        merged, probes, depth=3, width=256, hash_mode="md5"
    ).orderBy("value")


def q_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination gate (operators/membership.py
    decontaminate_bloom): the benchmark's 3-grams compress into a
    sparse 2^16-bit filter (aggregate-sized, broadcast); every train
    doc probes it with k=3 row-local broadcast joins — the corpus
    never shuffles, and the one-sided guarantee (flagged ≥ exact
    overlap, False = provably clean) makes it the standing ingest
    gate in front of the exact path (q_decontaminate).  md5 mode: the
    oracle replays the identical bit array and probes."""
    from feature_engineering_tk_spark.operators.membership import decontaminate_bloom

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    out = decontaminate_bloom(
        train, bench, n=3, n_bits=1 << 16, k=3, hash_mode="md5"
    )
    return out.orderBy("doc_id")


def q_rank_overlap(spark, sf_dir):
    """Rank-biased overlap (analysis/ranking.py rank_biased_overlap):
    two rankers over the same per-user-bucket candidates (by value
    desc vs by time), truncated RBO@10 at p=0.9.  The weighted sum is
    ONE left-to-right fold whose accumulator carries the p-power by
    repeated multiplication, so the oracle's list_reduce replays the
    identical IEEE multiply sequence; rank>depth rows are filtered
    before the query-key exchange."""
    from pyspark.sql import Window

    from feature_engineering_tk_spark.analysis.ranking import rank_biased_overlap

    ev = _t(spark, sf_dir, "events")
    base = ev.where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    ).select(
        (F.col("user_id") % 50).alias("query_id"), "event_id", "value", "ts"
    )
    wa = Window.partitionBy("query_id").orderBy(F.desc("value"), "event_id")
    wb = Window.partitionBy("query_id").orderBy("ts", "event_id")
    a = base.select(
        "query_id",
        F.lit("a").alias("ranker"),
        F.row_number().over(wa).alias("rank"),
        F.col("event_id").alias("item_id"),
    )
    b = base.select(
        "query_id",
        F.lit("b").alias("ranker"),
        F.row_number().over(wb).alias("rank"),
        F.col("event_id").alias("item_id"),
    )
    return rank_biased_overlap(
        a.unionByName(b), p=0.9, depth=10
    ).orderBy("query_id")


def q_skipgram_pmi(spark, sf_dir):
    """Windowed skip-gram co-occurrence (functions/text.py
    skipgram_cooccurrence): window-2 unordered pairs generated
    ROW-LOCALLY (no self-join), one pair groupBy, vocab-sized unigram
    broadcast; top-30 by rounded PMI with pair tie-break so the limit
    boundary is cross-engine stable."""
    from feature_engineering_tk_spark.functions.text import skipgram_cooccurrence

    d = _t(spark, sf_dir, "documents")
    return skipgram_cooccurrence(d, window=2, min_count=5, top_k=30)


def q_burst_scores(spark, sf_dir):
    """Burst detection (operators/frequency.py burst_scores): fast-1d
    and slow-7d decayed masses in ONE map-side-combined groupBy, the
    normalized ratio ≈1 for steady keys; decayed_counts' DECIMAL
    discipline both horizons, so the oracle replays the pass
    exactly."""
    from feature_engineering_tk_spark.operators.frequency import burst_scores

    ev = _t(spark, sf_dir, "events")
    return burst_scores(
        ev, "event_type", "ts", fast_half_life_s=86400.0,
        slow_half_life_s=604800.0,
    ).orderBy("event_type")


def q_char_entropy(spark, sf_dir):
    """Character-entropy quality gate (functions/text.py char_entropy):
    per-doc Shannon entropy over the first 2000 chars — row-local JVM
    array expressions with the histogram fold pinned to sorted-
    distinct-char order, so the oracle replays every term; the
    zlib-free compression_ratio cousin, and unlike it fully
    SQL-expressible."""
    from feature_engineering_tk_spark.functions.text import char_entropy

    d = _t(spark, sf_dir, "documents")
    return char_entropy(d).orderBy("doc_id")


def q_topk_per_group(spark, sf_dir):
    """Per-group exact top-k (operators/sampling.py topk_per_group):
    top-3 events per user bucket by value with event_id tie-break —
    one group-key exchange, rank window fused into the sort, no
    global sort."""
    from feature_engineering_tk_spark.operators.sampling import topk_per_group

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 100).alias("bucket"), "event_id", "value"
    )
    return topk_per_group(
        ev, "bucket", "value", k=3, tie_break="event_id", out_rank="rk"
    ).orderBy("bucket", "rk")


def q_decayed_counts(spark, sf_dir):
    """Time-decayed trending counts (operators/frequency.py
    decayed_counts): per event_type, rows weighted 2^(−Δt/7d) from the
    corpus max-ts anchor; each term rounded to 12 dp and summed in
    DECIMAL(38,12) so the result is partition-layout independent and
    the oracle replays it exactly (integer-µs deltas both sides)."""
    from feature_engineering_tk_spark.operators.frequency import decayed_counts

    ev = _t(spark, sf_dir, "events")
    return decayed_counts(ev, "event_type", "ts", half_life_s=604800.0).orderBy(
        "event_type"
    )


def q_trigram_lm(spark, sf_dir):
    """Trigram stupid-backoff scoring (functions/text.py
    trigram_lm_score): model trained on the even-doc_id half, scores
    the odd half — the cross-corpus CCNet/DSIR pattern, exercising
    every backoff level (trigram hit, bigram, unigram, OOV floor).
    All joins on 60-bit md5 window hashes; the per-doc mean is an
    exact DECIMAL sum of round-12 log-scores, so the oracle replays
    hashing, count identities, backoff coalesce, and mean bit-for-
    bit."""
    from feature_engineering_tk_spark.functions.text import trigram_lm_score

    d = _t(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 2 == 0)
    tgt = d.filter(F.col("doc_id") % 2 == 1)
    return trigram_lm_score(tgt, ref=ref, hash_mode="md5").orderBy("doc_id")


def q_mcnemar(spark, sf_dir):
    """McNemar's paired test (operators/evals.py mcnemar_test): two
    deterministic 'models' scored on the same events — correctness is
    entirely in the discordant counts; the χ²₁-critical-value verdict
    needs no p-value machinery, so the statistic replays as exact
    integers + one division."""
    from feature_engineering_tk_spark.operators.evals import mcnemar_test

    ev = _t(spark, sf_dir, "events")
    paired = ev.where(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        F.col("event_id").alias("item_id"),
        (F.col("value") >= 10).alias("a_correct"),
        ((F.col("user_id") + F.col("event_id")) % 5 > 0).alias("b_correct"),
    )
    return mcnemar_test(paired)


def q_truncation_audit(spark, sf_dir):
    """Truncated-generation audit (functions/cleaning.py
    truncation_artifacts): row-local sentence-boundary flags over the
    documents table — codegen regex, zero shuffle."""
    from feature_engineering_tk_spark.functions.cleaning import truncation_artifacts

    d = _t(spark, sf_dir, "documents")
    return truncation_artifacts(d).orderBy("doc_id")


def q_winrate_ci(spark, sf_dir):
    """Wilson score intervals on the arena winrate table
    (operators/evals.py proportion_ci over model_winrates): row-local
    closed-form bounds — one IEEE-correctly-rounded sqrt, so the
    oracle replays the identical expression tree bit-for-bit; zero
    shuffle beyond the winrate groupBy itself."""
    from feature_engineering_tk_spark.operators.evals import (
        model_winrates,
        proportion_ci,
    )

    return proportion_ci(
        model_winrates(_battles(spark, sf_dir)), "n_wins", "n_games"
    ).orderBy("model")


def q_frequency_spectrum(spark, sf_dir):
    """Vocabulary count-of-counts (operators/frequency.py
    frequency_spectrum): how many distinct tokens occur exactly f
    times (the Good-Turing spectrum driving tokenizer min-frequency
    and dedup decisions); two stacked map-side-combined groupBys,
    aggregate-sized result."""
    from feature_engineering_tk_spark.operators.frequency import frequency_spectrum

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    ).where(F.col("token") != "")
    return frequency_spectrum(toks, "token")


def _predicted_events(spark, sf_dir):
    """Shared (pred, y) derivation for the regression-evaluation
    family: a deterministic affine 'model' of the value column so both
    engines compute identical row-wise doubles."""
    ev = _t(spark, sf_dir, "events")
    return ev.where(F.col("value").isNotNull()).select(
        (F.col("value") * 0.9 + 3).alias("pred"), F.col("value").alias("y")
    )


def _multiclass_events(spark, sf_dir):
    """Deterministic multi-class (label, predicted) table: the 'model'
    predicts the true event_type except on user_id % 7 == 0 rows,
    where it hallucinates 'error' — exercising a predicted-but-never-
    dominant class in both engines identically."""
    ev = _t(spark, sf_dir, "events")
    return ev.where(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        F.col("event_type").alias("y"),
        F.when(F.col("user_id") % 7 == 0, F.lit("error"))
        .otherwise(F.col("event_type"))
        .alias("p"),
    )


def q_multiclass_confusion(spark, sf_dir):
    """Multi-class confusion matrix (analysis/classification.py
    multiclass_confusion): one map-side-combined groupBy to
    vocabulary²-bounded rows."""
    from feature_engineering_tk_spark.analysis.classification import (
        multiclass_confusion,
    )

    return multiclass_confusion(_multiclass_events(spark, sf_dir), "p", "y")


def q_multiclass_metrics(spark, sf_dir):
    """Macro-averaged multi-class scorecard (analysis/classification.py
    multiclass_metrics): accuracy + macro precision/recall/F1 over the
    union of true and predicted vocabularies (sklearn zero_division=0
    convention), integer confusion cells, driver-side divisions."""
    from feature_engineering_tk_spark.analysis.classification import multiclass_metrics

    out = multiclass_metrics(_multiclass_events(spark, sf_dir), "p", "y")
    return out.select(
        "n",
        "n_classes",
        F.round("accuracy", 6).alias("accuracy"),
        F.round("macro_precision", 6).alias("macro_precision"),
        F.round("macro_recall", 6).alias("macro_recall"),
        F.round("macro_f1", 6).alias("macro_f1"),
    )


def q_dedup_incremental(spark, sf_dir):
    """Incremental near-dup ingest gate (operators/dedup.py
    minhash_index + dedup_against_index): the shard (doc_id % 5 = 0)
    dedups against the persisted corpus LSH index via
    signature-estimated Jaccard — the 100 TB corpus text is never
    rescanned, only its 8-byte signature/bucket table joins.  md5
    hash mode so DuckDB replays the full signature pipeline."""
    from feature_engineering_tk_spark.operators.dedup import (
        dedup_against_index,
        minhash_index,
    )

    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    shard = d.filter(F.col("doc_id") % 5 == 0)
    idx = minhash_index(corpus, hash_mode="md5")
    surv, _additions = dedup_against_index(shard, idx, threshold=0.7, hash_mode="md5")
    return surv.select("doc_id").orderBy("doc_id")


def q_dedup_index_compact(spark, sf_dir):
    """Index lifecycle (operators/dedup.py remove_from_index /
    compact_index): the append-only corpus index — built as two
    overlapping snapshot segments (full corpus + a re-appended
    doc_id % 3 = 0 slice) — is compacted with doc_id % 7 = 0
    tombstoned (takedowns), then gates the shard.  The ORACLE replays
    the gate against a FRESH index of the surviving corpus: equality
    proves compaction + takedown are invisible to gate decisions,
    so the lifecycle runs index-sized with zero corpus rescans."""
    from feature_engineering_tk_spark.operators.dedup import (
        compact_index,
        dedup_against_index,
        minhash_index,
    )

    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    shard = d.filter(F.col("doc_id") % 5 == 0)
    seg1 = minhash_index(corpus, hash_mode="md5")
    seg2 = minhash_index(corpus.filter(F.col("doc_id") % 3 == 0), hash_mode="md5")
    pile = seg1.unionByName(seg2)  # append-only segment history
    tombs = corpus.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    idx = compact_index(pile, tombstones=tombs)
    surv, _additions = dedup_against_index(shard, idx, threshold=0.7, hash_mode="md5")
    return surv.select("doc_id").orderBy("doc_id")


def q_split_leakage(spark, sf_dir):
    """Cross-split near-dup leakage audit (operators/dedup.py
    split_leakage_audit): banded-LSH candidates over the whole corpus,
    filtered to cross-side pairs BEFORE exact-Jaccard verification —
    eval contamination surfaces as (train, test) pairs.  md5 mode so
    DuckDB replays the full signature pipeline."""
    from feature_engineering_tk_spark.operators.dedup import split_leakage_audit

    d = _t(spark, sf_dir, "documents").withColumn(
        "side",
        F.when(F.col("doc_id") % 5 == 0, F.lit("test")).otherwise(F.lit("train")),
    )
    out = split_leakage_audit(d, "side", threshold=0.7, hash_mode="md5")
    return out.select(
        "id_a", "side_a", "id_b", "side_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


def q_regression_eval(spark, sf_dir):
    """Regression-model scorecard (analysis/regression.py
    regression_metrics): mae/rmse/r2/bias/mape from one map-side-
    combined aggregation pass over Σe, Σ|e|, Σe², Σy, Σy² partials —
    no shuffle of rows, sums rounded at the comparison boundary."""
    from feature_engineering_tk_spark.analysis.regression import regression_metrics

    out = regression_metrics(_predicted_events(spark, sf_dir), "pred", "y")
    return out.select(
        "n",
        F.round("mae", 6).alias("mae"),
        F.round("rmse", 6).alias("rmse"),
        F.round("r2", 6).alias("r2"),
        F.round("mean_error", 6).alias("mean_error"),
        F.round("mape", 6).alias("mape"),
        "n_mape",
    )


def q_residual_quantiles(spark, sf_dir):
    """Signed-error tail profile (analysis/regression.py
    residual_quantiles): exact distributed percentiles of pred−target
    (bit-identical to DuckDB quantile_cont) — the calibration view the
    mean error hides."""
    from feature_engineering_tk_spark.analysis.regression import residual_quantiles

    out = residual_quantiles(_predicted_events(spark, sf_dir), "pred", "y")
    return out.select("p", F.round("error_q", 6).alias("error_q"))


def q_krippendorff(spark, sf_dir):
    """Krippendorff's alpha (analysis/agreement.py krippendorff_alpha)
    on a synthetic annotation table (item=user, rater=event_type,
    label=value tercile-ish band) with naturally MISSING ratings —
    the missing-tolerant agreement coefficient Fleiss' completeness
    filter cannot provide.  Exact-integer coincidence sums grouped by
    distinct rater count; float work is driver-sized."""
    from feature_engineering_tk_spark.analysis.agreement import krippendorff_alpha

    ev = _t(spark, sf_dir, "events")
    ann = ev.where(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.col("user_id").alias("item"),
        F.col("event_type").alias("rater"),
        F.when(F.col("value") < 20, F.lit("low"))
        .when(F.col("value") < 60, F.lit("mid"))
        .otherwise(F.lit("high"))
        .alias("lab"),
    )
    out = krippendorff_alpha(ann, item="item", rater="rater", label="lab")
    return out.select(
        "n_pairable",
        "n_items",
        F.round("d_o", 6).alias("d_o"),
        F.round("d_e", 6).alias("d_e"),
        F.round("alpha", 6).alias("alpha"),
    )


def q_mad_outliers(spark, sf_dir):
    """Robust MAD outlier fences (transforms/outliers.py
    OutlierDetector method='mad'): median ± 3·1.4826·MAD via two exact
    percentile passes (bit-identical to quantile_cont), then a
    row-local flag aggregation."""
    from feature_engineering_tk_spark.transforms.outliers import OutlierDetector

    ev = _t(spark, sf_dir, "events")
    det = OutlierDetector(method="mad", threshold=3.0).fit(ev, ["value"])
    b = det.state_["bounds"]["value"]
    flagged = det.flag(ev, ["value"])
    return flagged.agg(
        F.lit(round(b["lo"], 6)).alias("lo"),
        F.lit(round(b["hi"], 6)).alias("hi"),
        F.sum("value_is_outlier").cast("bigint").alias("n_outliers"),
        F.count("value").alias("n_rows"),
    )


def q_temporal_split(spark, sf_dir):
    """Chronological train/val/test fold sizes with a 2-day embargo
    before each cut (operators/sampling.py temporal_split): the purged
    split that keeps windowed-feature information from crossing fold
    boundaries (north rule: zero temporal leakage).  Pure row-local
    CASE — zero shuffle before the count."""
    from feature_engineering_tk_spark.operators.sampling import temporal_split

    ev = _t(spark, sf_dir, "events")
    out = temporal_split(
        ev, "ts", "2024-01-20", "2024-01-26", embargo_seconds=2 * 86400
    )
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n"))


def q_approx_distinct(spark, sf_dir):
    """HLL distinct-count accuracy gauge (operators/frequency.py
    approx_distinct, the ann_recall pattern): per event_type, the
    DataSketches HLL estimate must land within 5% of the exact
    distinct-user count — verified at test SF so the sketch can be
    trusted alone at corpus SF, where exact count_distinct would
    shuffle the whole id spectrum."""
    from feature_engineering_tk_spark.operators.frequency import approx_distinct

    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    out = approx_distinct(ev, "user_id", by="event_type", check_rel_error=0.05)
    return out.select(
        "event_type", "n_distinct_exact", F.col("within_tol").cast("int").alias("within_tol")
    )


def _retrieval_table(spark, sf_dir):
    """Deterministic ranked-retrieval fixture from events: 211 queries,
    rank = event order within query, graded relevance from value."""
    ev = _t(spark, sf_dir, "events")
    qid = (F.col("event_id") % 211).alias("query_id")
    rel = (
        F.when(F.col("value").isNull(), F.lit(0.0))
        .when(F.col("value") >= 150, F.lit(2.0))
        .when(F.col("value") >= 100, F.lit(1.0))
        .otherwise(F.lit(0.0))
    )
    w = Window.partitionBy(F.col("event_id") % 211).orderBy("event_id")
    return ev.select(
        qid, F.row_number().over(w).alias("rank"), rel.alias("relevance")
    )


def q_ranking_per_query(spark, sf_dir):
    """Ranked-retrieval metrics (analysis/ranking.py ranking_metrics):
    NDCG@10 / AP@10 / RR / P@10 / R@10 per query. Every float fold is
    an ORDER-BY ROWS window, so the summation order is pinned — the
    DuckDB oracle replays the identical left-to-right folds. One
    exchange on query_id serves both sort orders and the final group."""
    from feature_engineering_tk_spark.analysis.ranking import ranking_metrics

    out = ranking_metrics(_retrieval_table(spark, sf_dir), k=10)
    return out.select(
        "query_id",
        "n_retrieved",
        "n_relevant",
        "hits_at_k",
        F.round("rr", 6).alias("rr"),
        F.round("precision_at_k", 6).alias("p_at_k"),
        F.round("recall_at_k", 6).alias("r_at_k"),
        F.round("ndcg_at_k", 6).alias("ndcg_at_k"),
        F.round("ap_at_k", 6).alias("ap_at_k"),
    )


def q_ranking_summary(spark, sf_dir):
    """Macro retrieval summary (analysis/ranking.py ranking_summary):
    MRR / mean-NDCG@10 / MAP@10 via exact decimal sums of round-6
    per-query metrics divided as doubles — partition-layout
    independent, bit-identical to the oracle's decimal arithmetic."""
    from feature_engineering_tk_spark.analysis.ranking import ranking_summary

    out = ranking_summary(_retrieval_table(spark, sf_dir), k=10)
    return out.select(
        "n_queries",
        F.round("mrr", 6).alias("mrr"),
        F.round("mean_ndcg_at_k", 6).alias("mean_ndcg"),
        F.round("map_at_k", 6).alias("map_at_k"),
        F.round("mean_precision_at_k", 6).alias("mean_p"),
        F.round("mean_recall_at_k", 6).alias("mean_r"),
    )


def q_snapshot_diff(spark, sf_dir):
    """Snapshot diff (operators/diff.py snapshot_diff_summary): old =
    orders minus orderkey%19==3, new = orders minus orderkey%13==5
    with totalprice bumped on orderkey%7==0 — per-status counts plus
    an exact bigint key checksum. One sort-merge join on the key, the
    comparison is a row-local null-safe predicate."""
    from feature_engineering_tk_spark.operators.diff import snapshot_diff_summary

    orders = _t(spark, sf_dir, "orders")
    old = orders.where(F.col("o_orderkey") % 19 != 3)
    new = orders.where(F.col("o_orderkey") % 13 != 5).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff_summary(
        old, new, keys=["o_orderkey"], compare=["o_totalprice", "o_orderstatus"]
    )


def q_apply_diff(spark, sf_dir):
    """Diff round-trip (operators/diff.py apply_diff): the oracle IS
    the reconstruction contract — apply_diff(old, snapshot_diff(old,
    new), keys) must equal new on keys + compared values, so the SQL
    twin simply computes `new` directly.  Compared columns come
    straight from diff rows (no join); the uncompared o_custkey
    carries over from old via one key join (null for added keys is
    avoided here by comparing all non-key columns we select)."""
    from feature_engineering_tk_spark.operators.diff import apply_diff, snapshot_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = orders.where(F.col("o_orderkey") % 19 != 3)
    new = orders.where(F.col("o_orderkey") % 13 != 5).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    diff = snapshot_diff(old, new, keys=["o_orderkey"])
    rebuilt = apply_diff(old, diff, keys=["o_orderkey"])
    return rebuilt.select(
        "o_orderkey",
        F.round("o_totalprice", 6).alias("o_totalprice"),
        "o_orderstatus",
    ).orderBy("o_orderkey")


def q_strip_markup(spark, sf_dir):
    """HTML/markup stripping (functions/cleaning.py strip_markup):
    documents wrapped in a deterministic tag/script/entity shell, then
    cleaned by the fixed JVM regexp_replace chain — zero shuffle, zero
    Python; every pattern is RE2-compatible so DuckDB replays it."""
    from feature_engineering_tk_spark.functions.cleaning import strip_markup

    docs = _t(spark, sf_dir, "documents")
    marked = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><body><p class="x">'),
            F.col("text"),
            F.lit(
                "</p><script type=\"text/javascript\">var x = 1 < 2;</script>"
                "<!-- note --><div>&amp; &lt;tag&gt;&nbsp;ok</div></body></html>"
            ),
        ).alias("marked"),
    )
    return strip_markup(marked, "marked", out="clean").select("doc_id", "clean")


def q_rolling_corr(spark, sf_dir):
    """Trailing Pearson correlation (operators/window_features.py
    rolling_corr): six windowed sums in ONE bounded-preceding ROWS
    frame per user — single entity exchange, closed-form corr, pandas
    null/min_periods/zero-variance semantics. Second series is the
    deterministic event_id%17."""
    from feature_engineering_tk_spark.operators.window_features import rolling_corr

    ev = _t(spark, sf_dir, "events").withColumn(
        "y", (F.col("event_id") % 17).cast("double")
    )
    out = rolling_corr(
        ev, "value", "y", window_rows=10, entity="user_id",
        order=["ts", "event_id"], min_periods=5, out="rcorr",
    )
    return out.select("event_id", "user_id", F.round("rcorr", 6).alias("rcorr"))


def q_melt_reshape(spark, sf_dir):
    """Wide→long melt (operators/reshape.py melt): Spark native
    unpivot — map-side row generator, zero shuffle, one output row per
    (row × value column), values cast to one double column."""
    from feature_engineering_tk_spark.operators.reshape import melt

    li = _t(spark, sf_dir, "lineitem")
    return melt(
        li,
        id_vars=["l_orderkey", "l_linenumber"],
        value_vars=["l_quantity", "l_extendedprice", "l_discount"],
    )


def q_pivot_events(spark, sf_dir):
    """Long→wide pivot (operators/reshape.py pivot_agg): one
    conditional-aggregation groupBy with sorted-collected categories
    (deterministic column order — never groupBy().pivot() inference)
    and decimal-exact money sums cast back to double."""
    from feature_engineering_tk_spark.operators.reshape import pivot_agg

    ev = _t(spark, sf_dir, "events")
    return pivot_agg(
        ev, index=["user_id"], column="event_type", value="value",
        func="sum", decimal_scale=2, fill=0.0,
    )


def q_rolling_zscore(spark, sf_dir):
    """Leakage-free rolling standardization (operators/
    window_features.py rolling_zscore): trailing-window z-score whose
    frame ends at the PREVIOUS row — the current value never
    standardizes itself. Three windowed sums, one entity exchange."""
    from feature_engineering_tk_spark.operators.window_features import rolling_zscore

    ev = _t(spark, sf_dir, "events")
    out = rolling_zscore(
        ev, "value", window_rows=10, entity="user_id",
        order=["ts", "event_id"], min_periods=3, out="z",
    )
    return out.select("event_id", "user_id", F.round("z", 6).alias("z"))


def q_logreg_score(spark, sf_dir):
    """Logistic-regression scoring (functions/logreg.py logreg_score):
    sigmoid(β₀ + β·x) as a row-local codegen expression over pinned
    coefficients — the model ships as plan literals, zero shuffle.
    (Training — logreg_train, the decimal-sum IRLS — is pytest-gated:
    its d×d driver solve has no SQL twin; partition-layout invariance
    is the tested contract.)"""
    from feature_engineering_tk_spark.functions.logreg import logreg_score

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    feats = ev.select(
        "event_id",
        (F.col("value") / F.lit(100.0)).alias("x1"),
        (F.col("event_id") % 7).cast("double").alias("x2"),
    )
    out = logreg_score(
        feats, ["x1", "x2"], {"intercept": -0.5, "beta": [0.8, -0.3]}
    )
    return out.select("event_id", F.round("p", 6).alias("p"))


def q_kfold_assign(spark, sf_dir):
    """Group-aware k-fold CV assignment (operators/sampling.py
    kfold_assign): fold = pure key-hash mod k — row-local predicate
    over the scan, zero shuffle, re-run-stable; md5 mode replayed
    value-for-value by the oracle. Summarised per fold so the driver
    compares the whole assignment."""
    from feature_engineering_tk_spark.operators.sampling import kfold_assign

    docs = _t(spark, sf_dir, "documents")
    out = kfold_assign(docs, ["doc_id"], k=5, hash_mode="md5")
    return out.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("doc_id_sum"),
    )


# ---------------------------------------------------------------------------
# registry

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "lag_lead": q_lag_lead,
        "rolling_avg": q_rolling_avg,
        "rolling_time_sum": q_rolling_time_sum,
        "cumulative_sum": q_cumulative_sum,
        "sessionize": q_sessionize,
        "session_stats": q_session_stats,
        "forward_fill": q_forward_fill,
        "asof_join": q_asof_join,
        "asof_packed": q_asof_packed,
        "asof_forward": q_asof_forward,
        "asof_nearest": q_asof_nearest,
        "dedup_first": q_dedup_first,
        "pricing_summary": q_pricing_summary,
        "group_broadcast_agg": q_group_broadcast_agg,
        "top_revenue_orders": q_top_revenue_orders,
        "datetime_extract": q_datetime_extract,
        "standard_scale": q_standard_scale,
        "minmax_scale": q_minmax_scale,
        "iqr_outliers": q_iqr_outliers,
        "mean_impute": q_mean_impute,
        "median_impute": q_median_impute,
        "label_encode": q_label_encode,
        "onehot_encode": q_onehot_encode,
        "quantile_bin": q_quantile_bin,
        "clip_flags_ratio": q_clip_flags_ratio,
        "string_clean": q_string_clean,
        "token_count": q_token_count,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "exact_dedup": q_exact_dedup,
        "cosine_topk": q_cosine_topk,
        "quantized_topk": q_quantized_topk,
        "embedding_norms": q_embedding_norms,
        "minhash_dedup": q_minhash_dedup,
        "simhash": q_simhash,
        "embedding_neardup": q_embedding_neardup,
        "doc_fingerprint": q_doc_fingerprint,
        "lsh_topk": q_lsh_topk,
        "numeric_summary": q_numeric_summary,
        "missing_summary": q_missing_summary,
        "cardinality": q_cardinality,
        "class_distribution": q_class_distribution,
        "classwise_stats": q_classwise_stats,
        "anova_f": q_anova_f,
        "pearson_corr": q_pearson_corr,
        "backward_fill": q_backward_fill,
        "interpolate": q_interpolate,
        "ordinal_encode": q_ordinal_encode,
        "polynomial": q_polynomial,
        "log_sqrt": q_log_sqrt,
        "robust_scale": q_robust_scale,
        "zscore_outliers": q_zscore_outliers,
        "outlier_cap": q_outlier_cap,
        "dedup_last": q_dedup_last,
        "dedup_unique_only": q_dedup_unique_only,
        "missing_indicators": q_missing_indicators,
        "infinite_values": q_infinite_values,
        "string_title_len": q_string_title_len,
        "high_correlations": q_high_correlations,
        "variance_select": q_variance_select,
        "skew_kurtosis": q_skew_kurtosis,
        "effect_sizes": q_effect_sizes,
        "chi2_cramers": q_chi2_cramers,
        "class_imbalance": q_class_imbalance,
        "categorical_summary": q_categorical_summary,
        "data_quality": q_data_quality,
        "uniform_bin": q_uniform_bin,
        "spearman_corr": q_spearman_corr,
        "vif": q_vif,
        "range_join": q_range_join,
        "tumbling_daily": q_tumbling_daily,
        "ngram_jaccard": q_ngram_jaccard,
        "mode_impute": q_mode_impute,
        "detect_task": q_detect_task,
        "basic_info": q_basic_info,
        "custom_udf": q_custom_udf,
        "levene": q_levene,
        "mutual_info": q_mutual_info,
        "anova_per_feature": q_anova_per_feature,
        "feature_target_fdr": q_feature_target_fdr,
        "mean_ci": q_mean_ci,
        "constant_columns": q_constant_columns,
        "filter_project": q_filter_project,
        "deterministic_sample": q_deterministic_sample,
        "set_ops": q_set_ops,
        "drop_missing": q_drop_missing,
        "json_extract": q_json_extract,
        "ranking": q_ranking,
        "outlier_replace": q_outlier_replace,
        "target_corr_select": q_target_corr_select,
        "correlation_select": q_correlation_select,
        "correlation_ci": q_correlation_ci,
        "residuals_ols": q_residuals_ols,
        "jarque_bera": q_jarque_bera,
        "bootstrap_ci": q_bootstrap_ci,
        "suggest_binning": q_suggest_binning,
        "suggest_transforms": q_suggest_transforms,
        "bartlett": q_bartlett,
        "kruskal_wallis": q_kruskal_wallis,
        "check_normality": q_check_normality,
        "kendall_corr": q_kendall_corr,
        "dedup_components": q_dedup_components,
        "decontaminate": q_decontaminate,
        "tfidf": q_tfidf,
        "knn_join": q_knn_join,
        "hash_sample": q_hash_sample,
        "sample_per_group": q_sample_per_group,
        "group_split": q_group_split,
        "weighted_mix": q_weighted_mix,
        "scrub_pii": q_scrub_pii,
        "repetition": q_repetition,
        "pack_sequences": q_pack_sequences,
        "ivf_topk": q_ivf_topk,
        "histogram_bins": q_histogram_bins,
        "class_box_stats": q_class_box_stats,
        "chunk_docs": q_chunk_docs,
        "bigram_lm": q_bigram_lm,
        "clean_lines": q_clean_lines,
        "gopher_rules": q_gopher_rules,
        "importance_weights": q_importance_weights,
        "ccnet_buckets": q_ccnet_buckets,
        "dedup_paragraphs": q_dedup_paragraphs,
        "normalize_unicode": q_normalize_unicode,
        "nb_classify": q_nb_classify,
        "importance_resample": q_importance_resample,
        "domain_filter": q_domain_filter,
        "stratified_sample": q_stratified_sample,
        "url_canonicalize": q_url_canonicalize,
        "semantic_dedup": q_semantic_dedup,
        "url_dedup": q_url_dedup,
        "span_dedup": q_span_dedup,
        "kmeans_clusters": q_kmeans,
        "context_window": q_context_window,
        "collocations": q_collocations,
        "embedding_covariance": q_embedding_covariance,
        "psi_drift": q_psi_drift,
        "psi_sketch": q_psi_sketch,
        "hist_quantiles": q_hist_quantiles,
        "ks_drift": q_ks_drift,
        "mann_whitney": q_mann_whitney,
        "funnel": q_funnel,
        "fuzzy_pairs": q_fuzzy_pairs,
        "pagerank": q_pagerank,
        "hits": q_hits,
        "label_prop": q_label_prop,
        "source_overlap": q_source_overlap,
        "mean_pool": q_mean_pool,
        "transcript_validate": q_transcript_validate,
        "conversation_stats": q_conversation_stats,
        "response_latency": q_response_latency,
        "loss_mask": q_loss_mask,
        "merge_adjacent_turns": q_merge_adjacent_turns,
        "conversation_dedup": q_conversation_dedup,
        "echo_rate": q_echo_rate,
        "tool_roundtrip": q_tool_roundtrip,
        "tool_stats": q_tool_stats,
        "sft_export": q_sft_export,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "detect_loops": q_detect_loops,
        "ann_recall": q_ann_recall,
        "resample_daily": q_resample_daily,
        "k_anonymity": q_k_anonymity,
        "l_diversity": q_l_diversity,
        "pseudonymize": q_pseudonymize,
        "date_shift": q_date_shift,
        "readability": q_readability,
        "cohort_retention": q_cohort_retention,
        "bpe_train": q_bpe_train,
        "bpe_segment": q_bpe_segment,
        "regional_revenue": q_regional_revenue,
        "multimodal_features": q_multimodal_features,
        "group_join_agg": q_group_join_agg,
        "rolling_median": q_rolling_median,
        "asof_tolerance": q_asof_tolerance,
        "fill_value_impute": q_fill_value_impute,
        "outlier_remove": q_outlier_remove,
        "udf_predicate_filter": q_udf_predicate_filter,
        "corpus_cleanse": q_corpus_cleanse,
        "small_quantity_revenue": q_small_quantity_revenue,
        "snapshot_scale": q_snapshot_scale,
        "detect_misclassified": q_detect_misclassified,
        "expanding_impute": q_expanding_impute,
        "edge_bin": q_edge_bin,
        "whitespace_clean": q_whitespace_clean,
        "missing_select": q_missing_select,
        "corpus_report": q_corpus_report,
        "context_truncate": q_context_truncate,
        "length_buckets": q_length_buckets,
        "cohen_kappa": q_cohen_kappa,
        "fleiss_kappa": q_fleiss_kappa,
        "model_winrates": q_model_winrates,
        "bradley_terry": q_bradley_terry,
        "qa_metrics": q_qa_metrics,
        "distinct_ngrams": q_distinct_ngrams,
        "bleu": q_bleu,
        "rouge": q_rouge,
        "rouge_l": q_rouge_l,
        "js_divergence": q_js_divergence,
        "cluster_keywords": q_cluster_keywords,
        "ngram_novelty": q_ngram_novelty,
        "tool_args": q_tool_args,
        "vocab_stats": q_vocab_stats,
        "zipf_table": q_zipf_table,
        "phrase_scan": q_phrase_scan,
        "mix_balance": q_mix_balance,
        "token_budget": q_token_budget,
        "semantic_decontaminate": q_semantic_decontaminate,
        "pass_at_k": q_pass_at_k,
        "majority_vote": q_majority_vote,
        "best_of_n": q_best_of_n,
        "preference_pairs": q_preference_pairs,
        "bm25_topk": q_bm25_topk,
        "refusal_rate": q_refusal_rate,
        "discounted_return": q_discounted_return,
        "prefix_sharing": q_prefix_sharing,
        "branch_points": q_branch_points,
        "memorization_scan": q_memorization_scan,
        "tool_transitions": q_tool_transitions,
        "calibration_bins": q_calibration_bins,
        "corpus_diff": q_corpus_diff,
        "rows_since_event": q_rows_since_event,
        "conversation_outcome": q_conversation_outcome,
        "embedding_shift": q_embedding_shift,
        "adjacent_similarity": q_adjacent_similarity,
        "dataset_fingerprint": q_dataset_fingerprint,
        "special_token_rate": q_special_token_rate,
        "tool_cooccurrence": q_tool_cooccurrence,
        "contrastive_triplets": q_contrastive_triplets,
        "dialog_act_mix": q_dialog_act_mix,
        "position_bias": q_position_bias,
        "length_bias": q_length_bias,
        "repair_timestamps": q_repair_timestamps,
        "unigram_train": q_unigram_train,
        "unigram_segment": q_unigram_segment,
        "compression_ratio": q_compression_ratio,
        "count_encode": q_count_encode,
        "target_encode": q_target_encode,
        "pit_target_encode": q_pit_target_encode,
        "rare_categories": q_rare_categories,
        "cyclical_encode": q_cyclical_encode,
        "feature_cross": q_feature_cross,
        "rank_uniform": q_rank_uniform,
        "ewma": q_ewma,
        "pct_change": q_pct_change,
        "yeojohnson": q_yeojohnson,
        "woe_encode": q_woe_encode,
        "hashing_encode": q_hashing_encode,
        "roc_auc": q_roc_auc,
        "roc_curve": q_roc_curve,
        "average_precision": q_average_precision,
        "confusion_threshold": q_confusion_threshold,
        "log_loss": q_log_loss,
        "gains_lift": q_gains_lift,
        "heavy_hitters": q_heavy_hitters,
        "mg_heavy_hitters": q_mg_heavy_hitters,
        "cms_point_freq": q_cms_point_freq,
        "bloom_decontaminate": q_bloom_decontaminate,
        "rank_overlap": q_rank_overlap,
        "winrate_ci": q_winrate_ci,
        "trigram_lm": q_trigram_lm,
        "decayed_counts": q_decayed_counts,
        "char_entropy": q_char_entropy,
        "topk_per_group": q_topk_per_group,
        "skipgram_pmi": q_skipgram_pmi,
        "burst_scores": q_burst_scores,
        "near_loops": q_near_loops,
        "mcnemar": q_mcnemar,
        "truncation_audit": q_truncation_audit,
        "tool_arg_schema": q_tool_arg_schema,
        "topic_segments": q_topic_segments,
        "dedup_best": q_dedup_best,
        "frequency_spectrum": q_frequency_spectrum,
        "multiclass_confusion": q_multiclass_confusion,
        "multiclass_metrics": q_multiclass_metrics,
        "dedup_incremental": q_dedup_incremental,
        "dedup_index_compact": q_dedup_index_compact,
        "split_leakage": q_split_leakage,
        "regression_eval": q_regression_eval,
        "residual_quantiles": q_residual_quantiles,
        "krippendorff": q_krippendorff,
        "mad_outliers": q_mad_outliers,
        "temporal_split": q_temporal_split,
        "approx_distinct": q_approx_distinct,
        "ranking_per_query": q_ranking_per_query,
        "rolling_corr": q_rolling_corr,
        "kfold_assign": q_kfold_assign,
        "rolling_zscore": q_rolling_zscore,
        "logreg_score": q_logreg_score,
        "melt_reshape": q_melt_reshape,
        "pivot_events": q_pivot_events,
        "ranking_summary": q_ranking_summary,
        "snapshot_diff": q_snapshot_diff,
        "apply_diff": q_apply_diff,
        "strip_markup": q_strip_markup,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles

_STOPWORDS = "('the','a','of','to','and','in','is','it','for','on','with','as','by','at')"


def _h60_sql(expr: str) -> str:
    """DuckDB replay of dedup._hash60: first 15 hex chars of md5 parsed
    as a 60-bit integer via a per-char fold."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split(substr(md5({expr}), 1, 15), ''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), "
        "(acc, x) -> acc * 16 + x)"
    )


def _bpe_ctes(num_merges: int) -> str:
    """Chained-CTE DuckDB replay of functions/bpe.py learn_bpe: w0 =
    word frequencies (one corpus pass), s0 = char symbols + </w>, then
    per merge k: pair count (overlaps included) → argmax with
    lexicographic tie-break → greedy left-fold rewrite (list_reduce,
    element-for-element the engine's F.aggregate fold)."""
    parts = ["""
        WITH w0 AS (
          SELECT word, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                            x -> x <> '')) AS word
                    FROM documents WHERE text IS NOT NULL)
           GROUP BY word
        ), s0 AS (
          SELECT word, cnt, list_append(string_split(word, ''), '</w>') AS syms FROM w0
        )"""]
    for k in range(num_merges):
        parts.append(f""", p{k} AS (
          SELECT u.a AS a, u.b AS b, sum(cnt) AS w
            FROM (SELECT cnt,
                         unnest(list_transform(range(1, len(syms)),
                                i -> {{'a': syms[i], 'b': syms[i+1]}})) AS u
                    FROM s{k})
           GROUP BY u.a, u.b
        ), b{k} AS (
          SELECT a, b, w FROM p{k} ORDER BY w DESC, a, b LIMIT 1
        ), s{k + 1} AS (
          SELECT word, cnt,
                 list_reduce(
                   list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, x -> [x])),
                   (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b{k}.a AND x[1] = b{k}.b
                               THEN list_append(acc[1:len(acc)-1], b{k}.a || b{k}.b)
                               ELSE list_append(acc, x[1]) END) AS syms
            FROM s{k}, b{k}
        )""")
    return "".join(parts)


_BPE_K = 8


def _kmeans_ctes(k: int, n_iter: int, nd: int = 7) -> str:
    """DuckDB replay of functions/clustering.py kmeans: smallest-id
    init, per-iteration (assign via bit-identical left-fold sq-dist,
    argmin ties → smallest cid) then per-dim mean rounded to ``nd``
    decimals; empty clusters coalesce to the previous centroid."""
    sqd = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list_zip(e.vec, c.cvec), "
        "z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) "
        "* (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, x) -> acc + x)"
    )
    parts = [f"""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings WHERE embedding IS NOT NULL
        ), c0 AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
                 list_transform(vec, x -> round(x, {nd})) AS cvec
            FROM (SELECT vec_id, vec FROM e ORDER BY vec_id LIMIT {k})
        )"""]
    for i in range(n_iter):
        parts.append(f""", a{i} AS (
          SELECT vec_id, vec, cluster_id, sq_dist FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sq_dist, cluster_id) AS rn
              FROM (SELECT e.vec_id, e.vec, c.cid AS cluster_id, {sqd} AS sq_dist
                      FROM e CROSS JOIN c{i} c)
          ) WHERE rn = 1
        ), c{i + 1} AS (
          SELECT c.cid, coalesce(nv.cvec, c.cvec) AS cvec
            FROM c{i} c LEFT JOIN (
                 SELECT cluster_id AS cid, list(m ORDER BY dim) AS cvec
                   FROM (SELECT cluster_id, dim, round(avg(val), {nd}) AS m
                           FROM (SELECT cluster_id, u.i AS dim, u.v AS val
                                   FROM (SELECT cluster_id,
                                                unnest(list_transform(range(0, len(vec)),
                                                       i -> {{'i': i, 'v': vec[i+1]}})) AS u
                                           FROM a{i}))
                          GROUP BY cluster_id, dim)
                  GROUP BY cluster_id) nv USING (cid)
        )""")
    return "".join(parts)


_TRANSCRIPT_CTE = """
    WITH transcript AS (
      SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) - 1
                  AS INTEGER) AS turn_idx,
             CASE WHEN event_type IN ('view','signup') THEN 'user'
                  WHEN event_type IN ('click','purchase') THEN 'assistant'
                  ELSE 'tool' END AS role,
             event_type AS text,
             CASE WHEN event_type = 'error' THEN 'search' END AS tool,
             ts
        FROM events
    )"""


def _pagerank_ctes(n_iter: int, damping: float = 0.85, nd: int = 9) -> str:
    """DuckDB replay of operators/graph.py pagerank over the
    q_pagerank synthetic host graph: exact fixed-point integer
    iterations (parts-per-10^nd ranks, integer // division) — bit-
    identical on any engine under any summation order."""
    from fractions import Fraction

    frac = Fraction(damping).limit_denominator(10_000)
    num, den = frac.numerator, frac.denominator
    scale = 10**nd
    parts = [f"""
        WITH e2 AS (
          SELECT doc_id % 50 AS s, (doc_id * 31 + 7) % 50 AS d,
                 CAST(count(*) AS BIGINT) AS w
            FROM documents WHERE (doc_id % 50) % 10 != 3
           GROUP BY doc_id % 50, (doc_id * 31 + 7) % 50
        ), nodes AS (
          SELECT DISTINCT node FROM (SELECT s AS node FROM e2 UNION SELECT d FROM e2)
        ), nn AS (SELECT count(*) AS n FROM nodes
        ), ow AS (SELECT s, CAST(sum(w) AS BIGINT) AS ow FROM e2 GROUP BY s
        ), t AS (SELECT e2.s, e2.d, e2.w, ow.ow FROM e2 JOIN ow USING (s)
        ), r0 AS (
          SELECT node, CAST(CAST({scale} AS BIGINT) // nn.n AS BIGINT) AS r FROM nodes, nn
        )"""]
    for k in range(n_iter):
        parts.append(f""", c{k} AS (
          SELECT t.d AS node, CAST(sum((t.w * r.r) // t.ow) AS BIGINT) AS c
            FROM t JOIN r{k} r ON t.s = r.node GROUP BY t.d
        ), dm{k} AS (
          SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dm FROM r{k}
           WHERE node NOT IN (SELECT s FROM ow)
        ), r{k + 1} AS (
          SELECT nodes.node,
                 CAST((CAST({den - num} AS BIGINT) * {scale}) // ({den} * nn.n)
                      + ({num} * (coalesce(c{k}.c, CAST(0 AS BIGINT))
                                  + dm{k}.dm // nn.n)) // {den} AS BIGINT) AS r
            FROM nodes LEFT JOIN c{k} ON nodes.node = c{k}.node, dm{k}, nn
        )""")
    return "".join(parts)


def _hits_ctes(n_iter: int, scale: int = 10**6) -> str:
    """DuckDB replay of operators/graph.py hits over the q_pagerank
    synthetic host graph: max-normalized exact fixed-point halves —
    integer sums and divs only, bit-identical on any engine."""
    parts = [f"""
        WITH e2 AS (
          SELECT doc_id % 50 AS s, (doc_id * 31 + 7) % 50 AS d,
                 CAST(count(*) AS BIGINT) AS w
            FROM documents WHERE (doc_id % 50) % 10 != 3
           GROUP BY doc_id % 50, (doc_id * 31 + 7) % 50
        ), nodes AS (
          SELECT DISTINCT node FROM (SELECT s AS node FROM e2 UNION SELECT d FROM e2)
        ), h0 AS (SELECT node, CAST({scale} AS BIGINT) AS h FROM nodes)"""]
    for k in range(n_iter):
        parts.append(f""", ar{k} AS (
          SELECT e2.d AS node, CAST(sum(e2.w * h{k}.h) AS BIGINT) AS x
            FROM e2 JOIN h{k} ON e2.s = h{k}.node GROUP BY e2.d
        ), am{k} AS (
          SELECT greatest(CAST(1 AS BIGINT),
                          coalesce(max(x), CAST(1 AS BIGINT))) AS m FROM ar{k}
        ), a{k + 1} AS (
          SELECT nodes.node,
                 CAST((coalesce(x, CAST(0 AS BIGINT)) * {scale}) // m
                      AS BIGINT) AS a
            FROM nodes LEFT JOIN ar{k} USING (node), am{k}
        ), hr{k} AS (
          SELECT e2.s AS node, CAST(sum(e2.w * a{k + 1}.a) AS BIGINT) AS x
            FROM e2 JOIN a{k + 1} ON e2.d = a{k + 1}.node GROUP BY e2.s
        ), hm{k} AS (
          SELECT greatest(CAST(1 AS BIGINT),
                          coalesce(max(x), CAST(1 AS BIGINT))) AS m FROM hr{k}
        ), h{k + 1} AS (
          SELECT nodes.node,
                 CAST((coalesce(x, CAST(0 AS BIGINT)) * {scale}) // m
                      AS BIGINT) AS h
            FROM nodes LEFT JOIN hr{k} USING (node), hm{k}
        )""")
    return "".join(parts)


def _labelprop_ctes(n_iter: int) -> str:
    """DuckDB replay of operators/graph.py label_propagation over the
    q_pagerank synthetic host graph: symmetrized edges, clamped
    seeds (node%7==0 → node%3), integer votes, argmax with
    smallest-label tie-break."""
    parts = ["""
        WITH e1 AS (
          SELECT doc_id % 50 AS s, (doc_id * 31 + 7) % 50 AS d,
                 CAST(count(*) AS BIGINT) AS w
            FROM documents WHERE (doc_id % 50) % 10 != 3
           GROUP BY doc_id % 50, (doc_id * 31 + 7) % 50
        ), und AS (
          SELECT s, d, w FROM e1
          UNION ALL
          SELECT d AS s, s AS d, w FROM e1
        ), nodes AS (
          SELECT DISTINCT node FROM (SELECT s AS node FROM und UNION SELECT d FROM und)
        ), seed AS (
          SELECT node, CAST(node % 3 AS BIGINT) AS lab FROM nodes WHERE node % 7 = 0
        ), l0 AS (
          SELECT nodes.node, seed.lab FROM nodes LEFT JOIN seed USING (node)
        )"""]
    for k in range(n_iter):
        parts.append(f""", v{k} AS (
          SELECT und.d AS node, l.lab, CAST(sum(und.w) AS BIGINT) AS v
            FROM und JOIN l{k} l ON und.s = l.node
           WHERE l.lab IS NOT NULL GROUP BY und.d, l.lab
        ), b{k} AS (
          SELECT node, lab AS nl FROM (
            SELECT node, lab,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY v DESC, lab ASC) AS rn
              FROM v{k}) WHERE rn = 1
        ), l{k + 1} AS (
          SELECT nodes.node, coalesce(seed.lab, b{k}.nl) AS lab
            FROM nodes LEFT JOIN seed USING (node)
                 LEFT JOIN b{k} ON nodes.node = b{k}.node
        )""")
    return "".join(parts)


def _json_esc_sql(e: str) -> str:
    """DuckDB replay of transcripts._json_escape: literal replaces in
    the same order (backslash, quote, \\n, \\r, \\t), written with
    chr() so no SQL-quoting ambiguity."""
    out = f"replace({e}, chr(92), chr(92)||chr(92))"
    out = f"replace({out}, chr(34), chr(92)||chr(34))"
    out = f"replace({out}, chr(10), chr(92)||'n')"
    out = f"replace({out}, chr(13), chr(92)||'r')"
    out = f"replace({out}, chr(9), chr(92)||'t')"
    # strip remaining C0 control chars (JSON forbids them raw)
    return (
        f"regexp_replace({out}, "
        "'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g')"
    )


def _dot_sql(a: str, b: str) -> str:
    """Sequential left-fold dot product — same rounding order as the
    engine's F.aggregate fold, so doubles are bit-identical."""
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), "
        "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), (acc, x) -> acc + x)"
    )


def _l2_sql(a: str) -> str:
    return (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
        "(acc, x) -> acc + x))"
    )


def _dlit(v: float) -> str:
    """Float literal DuckDB parses as a DOUBLE bit-exactly (bare
    decimal literals go through DECIMAL and can land 1 ulp off)."""
    return f"CAST('{v!r}' AS DOUBLE)"


def _betacf_sql(a: float, b: float, x_expr: str, tag: str) -> str:
    """Scalar subquery replaying analysis/special.py:_betacf (Lentz
    continued fraction) op-for-op in a DuckDB recursive CTE: a, b are
    Python constants, x_expr is a SQL expression over a 1-row CTE named
    ``xsrc``. The layered subselects name the same intermediates the
    Python loop mutates; the frozen flag reproduces the early break.
    Bit-exact vs the engine on every tested (a, b, x)."""
    L = _dlit
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    fpmin, eps = "1e-300", "3e-14"
    return f"""(
      WITH RECURSIVE bcf_{tag}(m, c, d, h, frozen, x) AS (
        SELECT CAST(0 AS DOUBLE), CAST(1.0 AS DOUBLE),
               1.0 / (CASE WHEN abs(1.0 - {L(qab)} * x / {L(qap)}) < {fpmin} THEN {fpmin}
                      ELSE 1.0 - {L(qab)} * x / {L(qap)} END),
               1.0 / (CASE WHEN abs(1.0 - {L(qab)} * x / {L(qap)}) < {fpmin} THEN {fpmin}
                      ELSE 1.0 - {L(qab)} * x / {L(qap)} END),
               false, x
        FROM (SELECT {x_expr} AS x FROM xsrc)
        UNION ALL
        SELECT m, c2c, d4, h1 * delta, abs(delta - 1.0) < {eps}, x
        FROM (
          SELECT m, x, h1, c2c, d4, d4 * c2c AS delta FROM (
            SELECT m, x, h1, d2,
                   1.0 / (CASE WHEN abs(1.0 + aa2 * d2) < {fpmin} THEN {fpmin}
                          ELSE 1.0 + aa2 * d2 END) AS d4,
                   (CASE WHEN abs(1.0 + aa2 / c1c) < {fpmin} THEN {fpmin}
                         ELSE 1.0 + aa2 / c1c END) AS c2c
            FROM (
              SELECT m, x, d2, c1c, h0 * (d2 * c1c) AS h1,
                     -(({L(a)} + m) * ({L(qab)} + m)) * x
                       / (({L(a)} + m2) * ({L(qap)} + m2)) AS aa2
              FROM (
                SELECT m, m2, x, h0, c1c, 1.0 / d1c AS d2
                FROM (
                  SELECT m, m2, x, h0,
                         (CASE WHEN abs(1.0 + aa1 * d0) < {fpmin} THEN {fpmin}
                               ELSE 1.0 + aa1 * d0 END) AS d1c,
                         (CASE WHEN abs(1.0 + aa1 / c0) < {fpmin} THEN {fpmin}
                               ELSE 1.0 + aa1 / c0 END) AS c1c
                  FROM (
                    SELECT m, m2, x, c0, d0, h0,
                           m * ({L(b)} - m) * x / (({L(qam)} + m2) * ({L(a)} + m2)) AS aa1
                    FROM (
                      SELECT m + 1 AS m, 2.0 * (m + 1) AS m2,
                             c AS c0, d AS d0, h AS h0, x
                      FROM bcf_{tag} WHERE NOT frozen AND m < 500
                    )
                  )
                )
              )
            )
          )
        )
      )
      SELECT h FROM bcf_{tag} ORDER BY m DESC LIMIT 1
    )"""


def _betainc_sql(a: float, b: float, x_expr: str, tag: str = "t") -> str:
    """Regularized incomplete beta I_x(a, b) as a scalar SQL expression
    (analysis/special.py:betainc_reg parity): lgamma terms precomputed
    in Python (a, b constant), x stays SQL; both continued-fraction
    branches evaluated, CASE picks the one the engine would take.
    Unlocks t/F-distribution p-value oracles."""
    import math as _math

    L = _dlit
    ga, gb, gab = _math.lgamma(a), _math.lgamma(b), _math.lgamma(a + b)
    thresh = (a + 1.0) / (a + b + 2.0)
    bt = (
        f"exp({L(gab)} - {L(ga)} - {L(gb)}"
        f" + {L(a)} * ln({x_expr}) + {L(b)} * ln(1.0 - ({x_expr})))"
    )
    lo = f"{bt} * {_betacf_sql(a, b, x_expr, tag + '_lo')} / {L(a)}"
    hi = f"1.0 - {bt} * {_betacf_sql(b, a, f'1.0 - ({x_expr})', tag + '_hi')} / {L(b)}"
    return f"""(
      CASE WHEN ({x_expr}) <= 0.0 THEN 0.0
           WHEN ({x_expr}) >= 1.0 THEN 1.0
           WHEN ({x_expr}) < {L(thresh)} THEN {lo}
           ELSE {hi} END
    )"""


def _np_quantile_lerp(n_stats: int, q: float, arr_expr: str) -> str:
    """numpy ``quantile(..., method='linear')`` over a 1-indexed
    order-statistic accessor: {arr_expr} must format a rank into a SQL
    scalar. Replays numpy's virtual-index arithmetic (including the
    t>=0.5 branch of numpy's _lerp) with Python-computed constants."""
    import math as _math

    virtual = n_stats * q + (1.0 + q * (1.0 - 1.0 - 1.0)) - 1.0
    prev = int(_math.floor(virtual))
    prev = min(max(prev, 0), n_stats - 1)
    gamma = virtual - prev
    nxt = min(prev + 1, n_stats - 1)
    a, b = arr_expr.format(rk=prev + 1), arr_expr.format(rk=nxt + 1)
    if gamma >= 0.5:
        return f"({b} - ({b} - {a}) * {_dlit(1.0 - gamma)})"
    return f"({a} + ({b} - {a}) * {_dlit(gamma)})"


def _generated_oracles() -> dict[str, str]:
    """Oracles whose SQL embeds seeded constants (minhash permutation
    coefficients, LSH hyperplanes) generated with the SAME numpy seeds
    as the engine — the full signature pipelines are replayed in
    DuckDB, not just spot-checked."""
    import numpy as np

    p = (1 << 31) - 1
    rng = np.random.default_rng(42)
    a = rng.integers(1, p, 32, dtype=np.int64)
    b = rng.integers(0, p, 32, dtype=np.int64)
    perm_values = ", ".join(f"({i}, {int(a[i])}, {int(b[i])})" for i in range(32))

    planes = np.random.default_rng(42).standard_normal((6, 64))
    plane_values = ", ".join(
        "(%d, [%s])" % (j, ", ".join(repr(float(x)) for x in planes[j]))
        for j in range(6)
    )
    norm_src = (
        "SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm"
        " FROM documents"
    )
    bucket_sql = (
        "SELECT e.vec_id, e.embedding, CAST(sum(CASE WHEN "
        + _dot_sql("e.embedding", "planes.p")
        + " > 0 THEN CAST(1 AS BIGINT) << planes.j ELSE 0 END) AS BIGINT) AS bucket "
        "FROM embeddings e, planes GROUP BY e.vec_id, e.embedding"
    )

    # shared CTE chain up to verified-jaccard candidate pairs, reused by
    # minhash_dedup and dedup_components
    mh_ctes = f"""perms(pi, a, b) AS (VALUES {perm_values}),
        src AS ({norm_src}),
        tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM src),
        sh AS (SELECT doc_id,
                      list_transform(range(0, greatest(len(toks) - 2, 1)),
                                     i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) AS shingles
               FROM tk),
        hh AS (SELECT doc_id, {_h60_sql('u.s')} % 2147483647 AS h
               FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) u),
        sig AS (SELECT doc_id, pi, min((a * h + b) % 2147483647) AS mh
                FROM hh, perms GROUP BY doc_id, pi),
        sigarr AS (SELECT doc_id, list(mh ORDER BY pi) AS sig FROM sig GROUP BY doc_id),
        bands AS (SELECT doc_id,
                         {_h60_sql("concat(bd.band, '|', array_to_string(list_slice(sig, bd.band * 4 + 1, bd.band * 4 + 4), ','))")} AS bucket
                  FROM sigarr, (SELECT unnest(range(8)) AS band) bd),
        cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
                 FROM bands x JOIN bands y ON x.bucket = y.bucket AND x.doc_id < y.doc_id),
        dsh AS (SELECT doc_id, list_distinct(shingles) AS ds FROM sh),
        jac AS (SELECT id_a, id_b,
                       CAST(len(list_intersect(da.ds, db.ds)) AS DOUBLE)
                       / greatest(len(list_distinct(list_concat(da.ds, db.ds))), 1) AS j
                FROM cand JOIN dsh da ON da.doc_id = id_a JOIN dsh db ON db.doc_id = id_b)"""

    minhash_dedup = f"""
        WITH {mh_ctes},
        dups AS (SELECT DISTINCT id_b FROM jac WHERE j >= 0.7)
        SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id_b FROM dups)
        ORDER BY doc_id
    """

    # incremental shard-vs-index gate: same signature/band chain, but
    # candidates are new-shard × corpus-index only and verification is
    # the SIGNATURE-estimated Jaccard (matching components / 32) — the
    # index never stores text, so neither does the oracle's join
    dedup_incremental = f"""
        WITH {mh_ctes},
        newb AS (SELECT doc_id AS nid, bucket FROM bands WHERE doc_id % 5 = 0),
        oldb AS (SELECT doc_id AS oid, bucket FROM bands WHERE doc_id % 5 != 0),
        icand AS (SELECT DISTINCT nid, oid FROM newb JOIN oldb USING (bucket)),
        est AS (
          SELECT nid,
                 list_sum(list_transform(range(1, 33),
                          i -> CASE WHEN sn.sig[i] = so.sig[i] THEN 1 ELSE 0 END)) / 32.0 AS e
            FROM icand
            JOIN sigarr sn ON sn.doc_id = nid
            JOIN sigarr so ON so.doc_id = oid
        ),
        dupn AS (SELECT DISTINCT nid FROM est WHERE e >= 0.7)
        SELECT doc_id FROM documents
         WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT nid FROM dupn)
         ORDER BY doc_id
    """

    split_leakage = f"""
        WITH {mh_ctes},
        sides AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN 'test' ELSE 'train' END AS side
            FROM documents
        ),
        crossj AS (
          SELECT j.id_a, sa.side AS side_a, j.id_b, sb.side AS side_b, j.j
            FROM jac j
            JOIN sides sa ON sa.doc_id = j.id_a
            JOIN sides sb ON sb.doc_id = j.id_b
           WHERE sa.side <> sb.side AND j.j >= 0.7
        )
        SELECT id_a, side_a, id_b, side_b, round(j, 6) AS jaccard
          FROM crossj ORDER BY id_a, id_b
    """

    # lifecycle proof: gate vs the COMPACTED index (Spark side) must
    # equal gate vs a FRESH index of the surviving corpus (this
    # replay): tombstoned docs (%7 = 0) no longer suppress, duplicate
    # re-appended segment rows change nothing
    dedup_index_compact = f"""
        WITH {mh_ctes},
        newb AS (SELECT doc_id AS nid, bucket FROM bands WHERE doc_id % 5 = 0),
        oldb AS (SELECT doc_id AS oid, bucket FROM bands
                  WHERE doc_id % 5 != 0 AND doc_id % 7 != 0),
        icand AS (SELECT DISTINCT nid, oid FROM newb JOIN oldb USING (bucket)),
        est AS (
          SELECT nid,
                 list_sum(list_transform(range(1, 33),
                          i -> CASE WHEN sn.sig[i] = so.sig[i] THEN 1 ELSE 0 END)) / 32.0 AS e
            FROM icand
            JOIN sigarr sn ON sn.doc_id = nid
            JOIN sigarr so ON so.doc_id = oid
        ),
        dupn AS (SELECT DISTINCT nid FROM est WHERE e >= 0.7)
        SELECT doc_id FROM documents
         WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT nid FROM dupn)
         ORDER BY doc_id
    """

    tfidf = f"""
        WITH src AS ({norm_src}),
        toks AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM src),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY 1, 2),
        nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term HAVING count(*) >= 2),
        w AS (SELECT t.doc_id, t.term, t.tf, d.df,
                     t.tf * (ln((1.0 + nd.n) / (1.0 + d.df)) + 1.0) AS tfidf
              FROM tf t JOIN dfq d USING (term), nd),
        nr AS (SELECT doc_id, sqrt(sum(tfidf * tfidf)) AS l2 FROM w GROUP BY doc_id)
        SELECT w.doc_id, w.term, CAST(w.tf AS BIGINT) AS tf, CAST(w.df AS BIGINT) AS df,
               round(w.tfidf / nr.l2, 6) AS tfidf
        FROM w JOIN nr ON w.doc_id = nr.doc_id
    """

    knn_join = f"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
        sc AS (SELECT q.q_id, e.vec_id,
                      {_dot_sql('e.embedding', 'q.q_vec')}
                      / ({_l2_sql('e.embedding')} * {_l2_sql('q.q_vec')}) AS cs
               FROM embeddings e, q),
        rk AS (SELECT q_id, vec_id, cs,
                      row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id ASC) AS rank
               FROM sc)
        SELECT q_id, vec_id, round(cs, 6) AS cos_sim, CAST(rank AS INT) AS rank
        FROM rk WHERE rank <= 5
    """

    sample_per_group = f"""
        WITH r AS (
          SELECT event_id, user_id,
                 CAST(row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY {_h60_sql("concat('pergroup-v1', chr(31), CAST(event_id AS VARCHAR))")} % 1000000,
                            event_id
                 ) AS INT) AS rk
          FROM events
        )
        SELECT event_id, user_id, rk FROM r WHERE rk <= 3 ORDER BY event_id
    """

    pack_sequences = r"""
        WITH RECURSIVE src AS (
          SELECT doc_id, doc_id % 8 AS shard,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS t
          FROM documents
        ),
        ord AS (SELECT shard, doc_id, t,
                       row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
                FROM src),
        state(shard, rn, doc_id, t, bin, fill) AS (
          SELECT shard, rn, doc_id, t, CAST(0 AS BIGINT), CAST(t AS BIGINT)
          FROM ord WHERE rn = 1
          UNION ALL
          SELECT o.shard, o.rn, o.doc_id, o.t,
                 CASE WHEN s.fill + o.t > 30 THEN s.bin + 1 ELSE s.bin END,
                 CASE WHEN s.fill + o.t > 30 THEN CAST(o.t AS BIGINT) ELSE s.fill + o.t END
          FROM state s JOIN ord o ON o.shard = s.shard AND o.rn = s.rn + 1
        )
        SELECT doc_id, CAST(shard AS BIGINT) AS shard, CAST(t AS BIGINT) AS n_tokens,
               bin AS bin_id, fill AS bin_fill, t > 30 AS oversize
        FROM state ORDER BY doc_id
    """

    scrub_pii = r"""
        WITH inj AS (
          SELECT doc_id,
                 concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                        '@example.com at 10.0.0.', CAST(doc_id % 255 AS VARCHAR),
                        ' or +1(555)867-53', CAST(doc_id % 90 + 10 AS VARCHAR)) AS text
          FROM documents
        )
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                 '\+?\d[\d().-]{7,}\d', '<PHONE>', 'g') AS text
        FROM inj ORDER BY doc_id
    """

    def _topgram_sql(n: int) -> str:
        return f"""(
          SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top{n}gram_frac
          FROM (
            SELECT doc_id, g, count(*) AS c FROM (
              SELECT doc_id,
                     unnest(list_transform(range(0, greatest(len(toks) - {n - 1}, 1)),
                            i -> array_to_string(list_slice(toks, i + 1, i + {n}), ' '))) AS g
              FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ') AS toks
                    FROM documents)
            ) GROUP BY doc_id, g
          ) GROUP BY doc_id
        )"""

    repetition = f"""
        SELECT d.doc_id,
               round(coalesce(t2.top2gram_frac, 0.0), 6) AS top2gram_frac,
               round(coalesce(t3.top3gram_frac, 0.0), 6) AS top3gram_frac,
               round(1.0 - CAST(len(list_distinct(string_split(coalesce(d.text, ''), chr(10)))) AS DOUBLE)
                     / len(string_split(coalesce(d.text, ''), chr(10))), 6) AS dup_line_frac
        FROM documents d
        LEFT JOIN {_topgram_sql(2)} t2 ON t2.doc_id = d.doc_id
        LEFT JOIN {_topgram_sql(3)} t3 ON t3.doc_id = d.doc_id
        ORDER BY d.doc_id
    """

    # hash-sampling family: bucket = hash60(salt \\x1f key) mod 1e6
    def _bucket_sql(salt: str, key_expr: str) -> str:
        return (
            _h60_sql(f"concat('{salt}', chr(31), CAST({key_expr} AS VARCHAR))")
            + " % 1000000"
        )

    hash_sample = f"""
        SELECT doc_id FROM documents
        WHERE {_bucket_sql('v1', 'doc_id')} < 300000
        ORDER BY doc_id
    """

    group_split = f"""
        SELECT event_id, user_id,
               {_bucket_sql('split-v1', 'user_id')} < 250000 AS is_test
        FROM events ORDER BY event_id
    """

    weighted_mix = f"""
        SELECT doc_id, 0 AS mix_source FROM documents
        WHERE doc_id % 2 = 0 AND {_bucket_sql('mix-v1/0', 'doc_id')} < 500000
        UNION ALL
        SELECT doc_id, 1 FROM documents
        WHERE doc_id % 2 = 1 AND {_bucket_sql('mix-v1/1', 'doc_id')} < 800000
        ORDER BY doc_id
    """

    decontaminate = f"""
        WITH src AS ({norm_src}),
        tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM src),
        sh AS (SELECT doc_id,
                      list_transform(range(0, greatest(len(toks) - 2, 1)),
                                     i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) AS shingles
               FROM tk),
        dh AS (SELECT DISTINCT doc_id, {_h60_sql('u.s')} AS h
               FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) u),
        bset AS (SELECT DISTINCT h FROM dh WHERE doc_id % 50 = 0),
        train AS (SELECT doc_id, h FROM dh WHERE doc_id % 50 != 0)
        SELECT t.doc_id,
               CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated_ngrams,
               count(*) AS n_ngrams,
               sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated
        FROM train t LEFT JOIN bset b ON t.h = b.h
        GROUP BY t.doc_id ORDER BY t.doc_id
    """

    dedup_components = f"""
        WITH RECURSIVE {mh_ctes},
        edges AS (SELECT id_a AS ea, id_b AS eb FROM jac WHERE j >= 0.7),
        sym AS (SELECT ea, eb FROM edges UNION SELECT eb, ea FROM edges),
        nodes AS (SELECT DISTINCT ea AS id FROM sym),
        reach(id, r) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT s.ea, reach.r FROM reach JOIN sym s ON s.eb = reach.id
        )
        SELECT id, min(r) AS component_id FROM reach GROUP BY id ORDER BY id
    """

    simhash = f"""
        WITH src AS ({norm_src}),
        th AS (SELECT doc_id, {_h60_sql('t.tok')} AS h
               FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM src) t),
        votes AS (SELECT doc_id, bt.bit,
                         sum(CASE WHEN (h >> bt.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
                  FROM th, (SELECT unnest(range(60)) AS bit) bt
                  GROUP BY doc_id, bt.bit)
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id ORDER BY doc_id
    """

    doc_fingerprint = f"""
        WITH src AS ({norm_src})
        SELECT doc_id,
               CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
                      list_transform(range(1, length(norm) + 1),
                                     i -> CAST(ord(substr(norm, i, 1)) AS HUGEINT))),
                    (acc, ch) -> (acc * 257 + ch) % 2305843009213693951) AS BIGINT) AS fingerprint
        FROM src ORDER BY doc_id
    """

    embedding_neardup = f"""
        WITH planes(j, p) AS (VALUES {plane_values}),
        b AS ({bucket_sql}),
        pr AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                      {_dot_sql('x.embedding', 'y.embedding')}
                      / ({_l2_sql('x.embedding')} * {_l2_sql('y.embedding')}) AS cs
               FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
        SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM pr WHERE cs >= 0.2
    """

    lsh_topk = f"""
        WITH planes(j, p) AS (VALUES {plane_values}),
        q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        b AS ({bucket_sql}),
        qb AS (SELECT CAST(sum(CASE WHEN {_dot_sql('q.qvec', 'planes.p')} > 0
                                    THEN CAST(1 AS BIGINT) << planes.j ELSE 0 END) AS BIGINT) AS qbucket
               FROM q, planes),
        sc AS (SELECT b.vec_id,
                      {_dot_sql('b.embedding', 'q.qvec')}
                      / ({_l2_sql('b.embedding')} * {_l2_sql('q.qvec')}) AS cs
               FROM b, q, qb WHERE b.bucket = qb.qbucket)
        SELECT vec_id, round(cs, 6) AS cos_sim FROM sc
        ORDER BY cs DESC, vec_id ASC LIMIT 10
    """

    # Shapiro-Wilk oracle: AS R94 weights depend only on n; the driver
    # gate runs at sf0.01 where the even-event_id subset is exactly
    # 5000 rows, so the weight vector is generated here with the same
    # code the engine uses and inlined. n >= 12 branch: z =
    # (ln(1-W) - mu)/sigma with n-dependent constants, also inlined.
    from feature_engineering_tk_spark.analysis.normality import shapiro_weights

    sw_n = 5000
    sw_a = shapiro_weights(sw_n)
    sw_arr = "[" + ", ".join(repr(float(v)) for v in sw_a) + "]"
    u = math.log(sw_n)
    sw_mu = -1.5861 - 0.31082 * u - 0.083751 * u**2 + 0.0038915 * u**3
    sw_sigma = math.exp(-0.4803 - 0.082676 * u + 0.0030302 * u**2)

    check_normality = f"""
        WITH warr AS (SELECT {sw_arr} AS arr),
        src AS (SELECT value AS v FROM events
                WHERE event_id % 2 = 0 AND value IS NOT NULL),
        ord AS (SELECT v, row_number() OVER (ORDER BY v) AS i FROM src),
        m AS (SELECT avg(v) AS mean, count(*) AS n FROM src),
        agg AS (SELECT sum(list_extract(warr.arr, ord.i) * ord.v) AS sa,
                       sum((ord.v - m.mean) * (ord.v - m.mean)) AS den,
                       max(m.n) AS n
                FROM ord, m, warr),
        w AS (SELECT least(sa * sa / den, 1.0) AS stat_w, n FROM agg)
        SELECT round(stat_w, 6) AS stat_w,
               round((ln(1.0 - stat_w) - ({sw_mu!r})) / ({sw_sigma!r}), 6) AS z,
               n
        FROM w
    """

    # mean_ci: the t critical value is a pure function of (confidence,
    # df); at the sf0.01 gate events.value has n=10000 non-null rows →
    # df=9999. Inline t_ppf from the engine's own special functions and
    # replay mean ± t*s/sqrt(n) in SQL.
    from feature_engineering_tk_spark.analysis import special as SP

    tcrit = SP.t_ppf(0.975, 9999)
    mean_ci = f"""
        SELECT round(avg(value) - {tcrit!r} * (stddev_samp(value) / sqrt(count(value))), 6) AS ci_lo,
               round(avg(value) + {tcrit!r} * (stddev_samp(value) / sqrt(count(value))), 6) AS ci_hi
        FROM events
    """

    # Kendall tau-b: explicit pair counting. sign() via CASE (no float
    # subtraction); tau formula written with the identical
    # sqrt(tot-xt)*sqrt(tot-yt) denominator as the engine.
    def _tau_pair(xcol: str, ycol: str) -> str:
        return f"""
            SELECT '{xcol}|{ycol}' AS pair,
                   round((C - D) / (sqrt(CAST(tot - xt AS DOUBLE)) * sqrt(CAST(tot - yt AS DOUBLE))), 6) AS tau
            FROM (
              SELECT sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS C,
                     sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS D,
                     sum(tx) AS xt, sum(ty) AS yt, count(*) AS tot
              FROM (
                SELECT (CASE WHEN a.{xcol} > b.{xcol} THEN 1 WHEN a.{xcol} < b.{xcol} THEN -1 ELSE 0 END)
                       * (CASE WHEN a.{ycol} > b.{ycol} THEN 1 WHEN a.{ycol} < b.{ycol} THEN -1 ELSE 0 END) AS s,
                       CASE WHEN a.{xcol} = b.{xcol} THEN 1 ELSE 0 END AS tx,
                       CASE WHEN a.{ycol} = b.{ycol} THEN 1 ELSE 0 END AS ty
                FROM ksrc a JOIN ksrc b ON a.rid < b.rid
              )
            )
        """

    kendall_corr = f"""
        WITH ksrc AS (
          -- any unique rid yields the same unordered-pair set; the
          -- synthetic lineitem has duplicate (orderkey, linenumber)
          SELECT row_number() OVER () AS rid,
                 CAST(l_quantity AS DOUBLE) AS l_quantity,
                 CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
                 CAST(l_discount AS DOUBLE) AS l_discount
          FROM lineitem WHERE l_orderkey % 37 = 0
        )
        {_tau_pair('l_quantity', 'l_extendedprice')}
        UNION ALL
        {_tau_pair('l_quantity', 'l_discount')}
        UNION ALL
        {_tau_pair('l_extendedprice', 'l_discount')}
    """

    # ---- feature_target_fdr: ANOVA F + F-distribution p-value.
    # df constants follow the mean_ci precedent (pure functions of the
    # sf0.01 gate data shape): k=5 event_type classes, N=10000 non-null
    # values → df=(4, 9995). The p-value replays special.f_sf via the
    # recursive-CTE incomplete beta (bit-exact vs the engine); with a
    # single tested feature, BH-FDR leaves p unchanged (m=1, rank=1).
    _dfn, _dfd = 4, 9995
    feature_target_fdr = f"""
        WITH g AS (
          SELECT event_type, count(value) AS n, avg(value) AS m, var_samp(value) AS v
          FROM events GROUP BY event_type HAVING count(value) > 1
        ), tot AS (
          SELECT sum(n) AS n_tot, count(*) AS k, sum(n * m) / sum(n) AS grand FROM g
        ), fs AS (
          SELECT (sum(g.n * (g.m - tot.grand) * (g.m - tot.grand)) / (tot.k - 1))
                 / (sum((g.n - 1) * g.v) / (tot.n_tot - tot.k)) AS f
          FROM g, tot GROUP BY tot.k, tot.n_tot
        ), xsrc AS (
          SELECT f, CAST({_dfd} AS DOUBLE)
                    / (CAST({_dfd} AS DOUBLE) + CAST({_dfn} AS DOUBLE) * f) AS xval
          FROM fs
        ), pv AS (
          SELECT f, {_betainc_sql(_dfd / 2.0, _dfn / 2.0, 'xval', 'ft')} AS p FROM xsrc
        )
        SELECT 'value' AS feature, 'anova_f' AS test, round(f, 6) AS statistic,
               round(p, 9) AS pvalue, round(p, 9) AS pvalue_adj
        FROM pv
    """

    # ---- bootstrap_ci: regenerate the engine's md5-fold resample
    # indices in SQL (sampler='hash'), replay numpy median (mean of the
    # two middle order stats) and numpy-linear quantiles per class.
    _bs_nboot = 200
    _bs_alpha = (1.0 - 0.95) / 2.0
    _med = "max(CASE WHEN rk = {rk} THEN m END)"
    _bs_lo = _np_quantile_lerp(_bs_nboot, _bs_alpha, _med)
    _bs_hi = _np_quantile_lerp(_bs_nboot, 1.0 - _bs_alpha, _med)
    bootstrap_ci = f"""
        WITH s AS (
          SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1 AS pos
          FROM events
        ),
        sz AS (SELECT event_type, count(*) AS n FROM s GROUP BY event_type),
        hb AS (
          SELECT boot, i,
                 {_h60_sql("concat('boot42:', CAST(boot AS VARCHAR), ':', CAST(i AS VARCHAR))")} AS h
          FROM (SELECT unnest(range(0, {_bs_nboot})) AS boot),
               (SELECT unnest(range(0, (SELECT max(n) FROM sz))) AS i)
        ),
        res AS (
          SELECT sz.event_type, hb.boot, hb.h % sz.n AS pos
          FROM hb JOIN sz ON hb.i < sz.n
        ),
        vals AS (
          SELECT r.event_type, r.boot, s.value AS v
          FROM res r JOIN s ON s.event_type = r.event_type AND s.pos = r.pos
        ),
        ranked AS (
          SELECT event_type, boot, v,
                 row_number() OVER (PARTITION BY event_type, boot ORDER BY v) AS rk,
                 count(*) OVER (PARTITION BY event_type, boot) AS n
          FROM vals
        ),
        med AS (
          SELECT event_type, boot,
                 CASE WHEN n % 2 = 1 THEN max(CASE WHEN rk = (n + 1) // 2 THEN v END)
                      ELSE (max(CASE WHEN rk = n // 2 THEN v END)
                            + max(CASE WHEN rk = n // 2 + 1 THEN v END)) / 2.0 END AS m
          FROM ranked GROUP BY event_type, boot, n
        ),
        mr AS (
          SELECT event_type, m,
                 row_number() OVER (PARTITION BY event_type ORDER BY m) AS rk
          FROM med
        )
        SELECT event_type,
               round({_bs_lo}, 6) AS ci_lo,
               round({_bs_hi}, 6) AS ci_hi
        FROM mr GROUP BY event_type ORDER BY event_type
    """

    # ---- multimodal_features: the pipeline is a pure function of
    # (seed=42, n=60) — independent numpy/hashlib replay of synthesize →
    # sha256 meta → stub decode → sequential-fold L2 norm, expected rows
    # inlined as VALUES (rounding stays SQL-side so both engines round
    # the same doubles).
    import hashlib as _hl

    import numpy as _np

    _mm_rows = []
    _mm_rng = _np.random.default_rng(42)
    _mm_mimes = ["image/png", "image/jpeg", "audio/wav"]
    for _i in range(60):
        _payload = _mm_rng.integers(0, 256, 512, dtype=_np.uint8).tobytes()
        _mime = _mm_mimes[_i % 3]
        if _mime.startswith("image"):
            _mm_rng.integers(16, 512)
            _mm_rng.integers(16, 512)
        else:
            _mm_rng.uniform(0.5, 30.0)
        _digest = _hl.sha256(_payload)
        _seed2 = int.from_bytes(_digest.digest()[:8], "little")
        _feat = _np.random.default_rng(_seed2).standard_normal(8).astype(_np.float32)
        _acc = 0.0
        for _v in _feat:
            _d = float(_v)
            _acc = _acc + _d * _d
        _mm_rows.append(
            f"({_i}, '{_mime}', 512, '{_digest.hexdigest()[:16]}', {_dlit(math.sqrt(_acc))})"
        )
    multimodal_features = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, mime,"
        " CAST(payload_bytes AS BIGINT) AS payload_bytes, sha_prefix,"
        " round(feature_norm, 6) AS feature_norm FROM (VALUES "
        + ", ".join(_mm_rows)
        + ") AS t(media_id, mime, payload_bytes, sha_prefix, feature_norm)"
        " ORDER BY media_id"
    )

    return {
        "feature_target_fdr": feature_target_fdr,
        "bootstrap_ci": bootstrap_ci,
        "multimodal_features": multimodal_features,
        "minhash_dedup": minhash_dedup,
        "dedup_incremental": dedup_incremental,
        "dedup_index_compact": dedup_index_compact,
        "split_leakage": split_leakage,
        "simhash": simhash,
        "doc_fingerprint": doc_fingerprint,
        "embedding_neardup": embedding_neardup,
        "lsh_topk": lsh_topk,
        "check_normality": check_normality,
        "kendall_corr": kendall_corr,
        "mean_ci": mean_ci,
        "dedup_components": dedup_components,
        "decontaminate": decontaminate,
        "tfidf": tfidf,
        "knn_join": knn_join,
        "hash_sample": hash_sample,
        "sample_per_group": sample_per_group,
        "group_split": group_split,
        "weighted_mix": weighted_mix,
        "scrub_pii": scrub_pii,
        "repetition": repetition,
        "pack_sequences": pack_sequences,
    }


# Shared CTE: corpus-trained add-1 bigram LM per-doc scores (the
# DuckDB replay of functions/text.py bigram_lm_score) — used by both
# the bigram_lm and ccnet_buckets oracles.
_BIGRAM_SCORED_CTE = """
    WITH base AS (
      SELECT doc_id,
             list_prepend('<s>', list_filter(
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '')) AS l
        FROM documents
    ), bg AS (
      SELECT doc_id, p.w1 AS w1, p.w2 AS w2
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(l)),
                       i -> {'w1': l[i], 'w2': l[i + 1]})) AS p
                FROM base)
    ), c12 AS (
      SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1
    ), v AS (
      SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM c12
    ), model AS (
      SELECT c12.w1, c12.w2,
             ln((c12.c12 + 1.0) / (c1.c1 + 1.0 * v.v)) AS logp
        FROM c12 JOIN c1 USING (w1) CROSS JOIN v
    ), scored AS (
      SELECT bg.doc_id, count(*) AS n_bigrams, avg(m.logp) AS avg_logprob
        FROM bg JOIN model m ON bg.w1 = m.w1 AND bg.w2 = m.w2
       GROUP BY bg.doc_id
    ), fullset AS (
      SELECT d.doc_id,
             coalesce(s.n_bigrams, 0) AS n_bigrams,
             s.avg_logprob,
             -s.avg_logprob AS logppl
        FROM documents d LEFT JOIN scored s USING (doc_id)
    )
"""


_TRIO_CACHE: dict[str, dict[str, str]] = {}


def _trio_oracles() -> dict[str, str]:
    """VALUES-literal oracles for the three queries whose cores (zlib,
    float-scored Viterbi DP inside iterative EM) are not reasonably
    ANSI-SQL-expressible: the expected outputs are recomputed here by
    an INDEPENDENT pure-Python replay of the pinned semantics
    (functions/unigram.py docstring contract; zlib at level 6) over
    the same parquet the driver registers, then pinned as literal
    tables — the bootstrap_ci / multimodal inline-constant pattern.

    The replay reads ``$SPARK_GRAFT_ORACLE_SF_DIR`` (default the
    driver's sf0.01); scripts/check_oracle.py sets it from its sf_dir
    argument so replays at other scales stay honest.
    """
    import os as _os
    import re as _re
    import zlib as _zl
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb as _dk

    sf_dir = _os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    if sf_dir in _TRIO_CACHE:
        return _TRIO_CACHE[sf_dir]
    docs = _dk.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()

    def _slit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    # ---- unigram-LM reference (pure Python, mirrors the pinned
    # conventions: Java-\s word split for training, Python split for
    # segmentation, hard-EM integer counts, char floor, count-rank
    # pruning, Viterbi ties -> fewer pieces then lexicographic)
    _java_ws = _re.compile(r"[ \t\n\x0b\f\r]+")
    V, NI, MPL, SEED = 60, 2, 4, 120

    freqs: dict[str, int] = {}
    for _id, text in docs:
        if text is None:
            continue
        for w in _java_ws.split(text.lower()):
            if w:
                freqs[w] = freqs.get(w, 0) + 1

    def _viterbi(word: str, logp: dict[str, float]) -> list[str]:
        n = len(word)
        best = [(0.0, 0, ())] + [(-math.inf, 0, ())] * n
        for i in range(1, n + 1):
            for j in range(max(0, i - MPL), i):
                piece = word[j:i]
                lp = logp.get(piece)
                if lp is None:
                    if i - j > 1:
                        continue
                    lp = -20.0
                sc, np_, seq = best[j]
                if sc == -math.inf:
                    continue
                cand = (sc + lp, np_ + 1, seq + (piece,))
                cur = best[i]
                if (
                    cand[0] > cur[0]
                    or (cand[0] == cur[0] and cand[1] < cur[1])
                    or (
                        cand[0] == cur[0]
                        and cand[1] == cur[1]
                        and cand[2] < cur[2]
                    )
                ):
                    best[i] = cand
        return list(best[n][2])

    weight: dict[str, int] = {}
    for w, c in freqs.items():
        for i in range(len(w)):
            for ln in range(1, min(MPL, len(w) - i) + 1):
                p = w[i : i + ln]
                weight[p] = weight.get(p, 0) + c
    counts = {p: c for p, c in weight.items() if len(p) == 1}
    for p, c in sorted(
        ((p, c) for p, c in weight.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[:SEED]:
        counts[p] = c
    char_set = {p for p in counts if len(p) == 1}

    def _logp(cs: dict[str, int]) -> dict[str, float]:
        total = sum(cs.values())
        return {
            p: math.log(c) - math.log(total) for p, c in cs.items() if c > 0
        }

    logp = _logp(counts)
    for _ in range(NI):
        acc: dict[str, int] = {}
        for w, c in freqs.items():
            for piece in _viterbi(w, logp):
                acc[piece] = acc.get(piece, 0) + c
        for ch in char_set:
            acc[ch] = max(acc.get(ch, 0), 1)
        counts = acc
        logp = _logp(counts)
    keep = {p: c for p, c in counts.items() if len(p) == 1}
    for p, c in sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    ):
        if len(keep) >= V and p not in keep:
            continue
        keep[p] = c
    total = sum(keep.values())
    model_rows = [
        (p, int(c), math.log(c) - math.log(total))
        for p, c in sorted(keep.items())
    ]
    final_logp = {p: lp for p, _c, lp in model_rows}

    train_vals = ", ".join(
        f"({_slit(p)}, {c}, {_dlit(lp)})" for p, c, lp in model_rows
    )
    unigram_train = (
        'SELECT piece, CAST(cnt AS BIGINT) AS "count",'
        " CAST(logprob AS DOUBLE) AS logprob"
        f" FROM (VALUES {train_vals}) AS t(piece, cnt, logprob)"
    )

    seg_rows = []
    for doc_id, text in docs:
        if text is None:
            seg_rows.append((doc_id, None, None))
            continue
        pieces: list[str] = []
        for w in str(text).lower().split():
            pieces.extend(_viterbi(w, final_logp))
        seg_rows.append((doc_id, len(pieces), " ".join(pieces[:12])))
    seg_vals = ", ".join(
        f"({i}, {('NULL' if n is None else n)},"
        f" {('NULL' if h is None else _slit(h))})"
        for i, n, h in seg_rows
    )
    unigram_segment = (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id,"
        " CAST(n_pieces AS INT) AS n_pieces, pieces_head"
        f" FROM (VALUES {seg_vals}) AS t(doc_id, n_pieces, pieces_head)"
    )

    # ---- zlib compressibility reference (level 6, ratio rounded the
    # way Spark rounds doubles: BigDecimal.valueOf -> HALF_UP)
    cz_rows = []
    for doc_id, text in docs:
        if text is None:
            cz_rows.append((doc_id, None, None, None))
            continue
        raw = len(text.encode("utf-8"))
        comp = len(_zl.compress(text.encode("utf-8"), 6))
        ratio = (
            float(
                Decimal(repr(comp / raw)).quantize(
                    Decimal("0.000001"), ROUND_HALF_UP
                )
            )
            if raw > 0
            else None
        )
        cz_rows.append((doc_id, comp, raw, ratio))
    cz_vals = ", ".join(
        f"({i}, {('NULL' if c is None else c)}, {('NULL' if r is None else r)},"
        f" {('NULL' if x is None else _dlit(x))})"
        for i, c, r, x in cz_rows
    )
    compression_ratio = (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id,"
        " CAST(compressed_bytes AS BIGINT) AS compressed_bytes,"
        " CAST(raw_bytes AS BIGINT) AS raw_bytes,"
        " CAST(compression_ratio AS DOUBLE) AS compression_ratio"
        f" FROM (VALUES {cz_vals})"
        " AS t(doc_id, compressed_bytes, raw_bytes, compression_ratio)"
    )

    out = {
        "unigram_train": unigram_train,
        "unigram_segment": unigram_segment,
        "compression_ratio": compression_ratio,
    }
    _TRIO_CACHE[sf_dir] = out
    return out


def oracle_sql() -> dict[str, str]:
    d = _generated_oracles()
    d_static = {
        "lag_lead": """
            SELECT event_id, user_id, value,
                   lag(value) OVER w AS value_lag1,
                   lead(value) OVER w AS value_lead1
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "rolling_avg": """
            SELECT event_id, user_id,
                   round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS roll_avg5
            FROM events
        """,
        "rolling_time_sum": """
            SELECT event_id, user_id,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6) AS sum_1h
            FROM events
        """,
        "cumulative_sum": """
            SELECT event_id, user_id,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_value
            FROM events
        """,
        "sessionize": """
            WITH g AS (
              SELECT event_id, user_id, ts,
                     epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events
            )
            SELECT event_id, user_id,
                   CAST(sum(CASE WHEN gap IS NULL OR gap > 1800.0 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
            FROM g
        """,
        "session_stats": """
            WITH g AS (
              SELECT user_id, ts,
                     epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap,
                     event_id
              FROM events
            ), s AS (
              SELECT user_id, ts,
                     CAST(sum(CASE WHEN gap IS NULL OR gap > 1800.0 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
              FROM g
            )
            SELECT user_id, session_id,
                   round(epoch(max(ts)) - epoch(min(ts)), 6) AS duration_s,
                   count(*) AS n_events
            FROM s GROUP BY user_id, session_id
        """,
        "forward_fill": """
            SELECT event_id, user_id,
                   last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
            FROM events
        """,
        "asof_join": """
            WITH anchors AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            ), features AS (
              SELECT user_id, ts, max(value) AS view_value
              FROM events WHERE event_type = 'view' GROUP BY user_id, ts
            )
            SELECT a.event_id, a.user_id, epoch(a.ts) AS ts_s, f.view_value
            FROM anchors a ASOF LEFT JOIN features f
              ON a.user_id = f.user_id AND a.ts >= f.ts
        """,
        "asof_packed": """
            WITH anchors AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            ), features AS (
              SELECT user_id, ts, max(value) AS view_value
              FROM events WHERE event_type = 'view' GROUP BY user_id, ts
            )
            SELECT a.event_id, a.user_id, epoch(a.ts) AS ts_s, f.view_value
            FROM anchors a ASOF LEFT JOIN features f
              ON a.user_id = f.user_id AND a.ts >= f.ts
        """,
        "dedup_first": """
            SELECT event_id, user_id, event_type
            FROM events
            QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts, event_id) = 1
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "group_broadcast_agg": """
            SELECT l_orderkey, l_linenumber, l_partkey,
                   round(avg(l_quantity) OVER (PARTITION BY l_partkey), 6) AS qty_part_mean,
                   max(l_quantity) OVER (PARTITION BY l_partkey) AS qty_part_max
            FROM lineitem
        """,
        "top_revenue_orders": """
            SELECT o.o_orderkey,
                   CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
                   min(epoch(o.o_orderdate)) AS orderdate_s
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
            GROUP BY o.o_orderkey
            ORDER BY revenue DESC, o.o_orderkey ASC
            LIMIT 10
        """,
        "datetime_extract": """
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS INT) AS o_orderdate_year,
                   CAST(month(o_orderdate) AS INT) AS o_orderdate_month,
                   CAST(day(o_orderdate) AS INT) AS o_orderdate_day,
                   CAST(isodow(o_orderdate) - 1 AS INT) AS o_orderdate_dayofweek,
                   CAST(quarter(o_orderdate) AS INT) AS o_orderdate_quarter,
                   CAST(dayofyear(o_orderdate) AS INT) AS o_orderdate_dayofyear,
                   CAST(weekofyear(o_orderdate) AS INT) AS o_orderdate_weekofyear,
                   CAST(isodow(o_orderdate) IN (6, 7) AS INT) AS o_orderdate_is_weekend,
                   CAST(day(o_orderdate) = 1 AS INT) AS o_orderdate_is_month_start,
                   CAST(o_orderdate = last_day(o_orderdate) AS INT) AS o_orderdate_is_month_end
            FROM orders
        """,
        "standard_scale": """
            WITH s AS (SELECT avg(l_quantity) AS m, stddev_pop(l_quantity) AS sd FROM lineitem)
            SELECT l_orderkey, l_linenumber,
                   round((l_quantity - s.m) / s.sd, 6) AS qty_scaled
            FROM lineitem, s
        """,
        "minmax_scale": """
            WITH s AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem)
            SELECT l_orderkey, l_linenumber,
                   round((l_extendedprice - s.lo) / (s.hi - s.lo), 6) AS price_scaled
            FROM lineitem, s
        """,
        "iqr_outliers": """
            WITH q AS (
              SELECT quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3 FROM events
            )
            SELECT event_id,
                   CAST(value < q.q1 - 1.5 * (q.q3 - q.q1)
                        OR value > q.q3 + 1.5 * (q.q3 - q.q1) AS INT) AS is_outlier
            FROM events, q
        """,
        "mean_impute": """
            WITH v AS (
              SELECT event_id,
                     CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
              FROM events
            ), m AS (SELECT avg(v) AS mv FROM v)
            SELECT event_id, round(coalesce(v, m.mv), 6) AS value_imputed FROM v, m
        """,
        "median_impute": """
            WITH v AS (
              SELECT event_id,
                     CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
              FROM events
            ), m AS (SELECT quantile_cont(v, 0.5) AS mv FROM v)
            SELECT event_id, round(coalesce(v, m.mv), 6) AS value_imputed FROM v, m
        """,
        "label_encode": """
            WITH vocab AS (
              SELECT event_type, row_number() OVER (ORDER BY event_type) - 1 AS code
              FROM (SELECT DISTINCT event_type FROM events)
            )
            SELECT e.event_id, CAST(v.code AS BIGINT) AS event_type_code
            FROM events e LEFT JOIN vocab v USING (event_type)
        """,
        "onehot_encode": """
            SELECT event_id,
                   CAST(event_type = 'click' AS INT) AS et_click,
                   CAST(event_type = 'error' AS INT) AS et_error,
                   CAST(event_type = 'purchase' AS INT) AS et_purchase,
                   CAST(event_type = 'signup' AS INT) AS et_signup,
                   CAST(event_type = 'view' AS INT) AS et_view
            FROM events
        """,
        "quantile_bin": """
            WITH e AS (
              SELECT quantile_cont(l_extendedprice, 0.25) AS e1,
                     quantile_cont(l_extendedprice, 0.50) AS e2,
                     quantile_cont(l_extendedprice, 0.75) AS e3
              FROM lineitem
            )
            SELECT l_orderkey, l_linenumber,
                   CAST((l_extendedprice > e.e1) AS INT)
                   + CAST((l_extendedprice > e.e2) AS INT)
                   + CAST((l_extendedprice > e.e3) AS INT) AS price_bin
            FROM lineitem, e
        """,
        "clip_flags_ratio": """
            SELECT l_orderkey, l_linenumber,
                   least(greatest(l_quantity, 5.0), 45.0) AS qty_clipped,
                   CAST(l_returnflag = 'R' AS INT) AS is_returned,
                   round(l_discount / (l_tax + 1e-8), 6) AS disc_ratio
            FROM lineitem
        """,
        "string_clean": """
            SELECT doc_id,
                   regexp_replace(
                     trim(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g')),
                     ' +', ' ', 'g') AS clean_text,
                   length(regexp_replace(
                     trim(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g')),
                     ' +', ' ', 'g')) AS clean_len
            FROM documents
        """,
        "token_count": """
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                   END AS n_tokens
            FROM documents
        """,
        "text_quality": """
            WITH t AS (
              SELECT doc_id, text,
                     length(text) AS n,
                     regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
              FROM documents
            )
            SELECT doc_id,
                   length(regexp_replace(text, '\\s', '', 'g')) AS n_chars_clean,
                   CASE WHEN trim(text) = '' THEN 0 ELSE len(toks) END AS n_tokens,
                   round(CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
                         / greatest(n, 1), 6) AS punct_ratio,
                   round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                         / greatest(n, 1), 6) AS digit_ratio,
                   round(CAST(len(list_filter(toks, x -> x IN """ + _STOPWORDS + """)) AS DOUBLE)
                         / greatest(len(toks), 1), 6) AS stopword_ratio
            FROM t
        """,
        "lang_id": """
            WITH t AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(lower(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))), ' +') AS toks
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN CAST(len(list_filter(toks, x -> x IN """ + _STOPWORDS + """)) AS DOUBLE)
                             / greatest(len(toks), 1) >= 0.05 THEN 'en' ELSE 'unknown' END AS lang_pred,
                   round(CAST(len(list_filter(toks, x -> x IN """ + _STOPWORDS + """)) AS DOUBLE)
                         / greatest(len(toks), 1), 6) AS en_score
            FROM t
        """,
        "exact_dedup": """
            SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
            FROM documents
            GROUP BY lower(trim(text))
        """,
        "cosine_topk": """
            WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(
                     list_sum(list_transform(list_zip(embedding, qvec),
                                             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                     6) AS cos_sim
            FROM embeddings, q
            ORDER BY cos_sim DESC, vec_id ASC
            LIMIT 20
        """,
        "quantized_topk": """
            WITH qz AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(round(
                       CAST(x AS DOUBLE) /
                       (CASE WHEN list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) > 0
                             THEN list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0
                             ELSE 1.0 END)) AS BIGINT)) AS q8
                FROM embeddings
            ), q AS (SELECT q8 AS qv FROM qz WHERE vec_id = 0)
            SELECT vec_id,
                   round(
                     CAST(list_sum(list_transform(list_zip(q8, qv), p -> p[1] * p[2])) AS DOUBLE)
                     / (sqrt(CAST(list_sum(list_transform(q8, x -> x * x)) AS DOUBLE))
                        * sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))),
                     6) AS cos_q8
              FROM qz, q
             ORDER BY cos_q8 DESC, vec_id ASC
             LIMIT 20
        """,
        "embedding_norms": """
            SELECT vec_id, label,
                   round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
            FROM embeddings
        """,
        "numeric_summary": """
            SELECT col_name,
                   CAST(cnt AS DOUBLE) AS n_count, round(mean, 6) AS mean,
                   round(std, 6) AS std, CAST(min_v AS DOUBLE) AS min_v,
                   round(median, 6) AS median, CAST(max_v AS DOUBLE) AS max_v
            FROM (
              SELECT 'l_quantity' AS col_name, count(l_quantity) AS cnt,
                     avg(l_quantity) AS mean, stddev_samp(l_quantity) AS std,
                     min(l_quantity) AS min_v, quantile_cont(l_quantity, 0.5) AS median,
                     max(l_quantity) AS max_v FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice', count(l_extendedprice), avg(l_extendedprice),
                     stddev_samp(l_extendedprice), min(l_extendedprice),
                     quantile_cont(l_extendedprice, 0.5), max(l_extendedprice) FROM lineitem
              UNION ALL
              SELECT 'l_discount', count(l_discount), avg(l_discount),
                     stddev_samp(l_discount), min(l_discount),
                     quantile_cont(l_discount, 0.5), max(l_discount) FROM lineitem
            )
        """,
        "missing_summary": """
            WITH src AS (
              SELECT event_id,
                     CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v,
                     event_type
              FROM events
            ), n AS (SELECT count(*) AS total FROM src)
            SELECT col_name, CAST(n_missing AS BIGINT) AS n_missing,
                   CAST((n_missing * 100000000) // n.total AS DOUBLE) / 1000000.0 AS missing_pct
            FROM (
              SELECT 'event_id' AS col_name, sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS n_missing FROM src
              UNION ALL
              SELECT 'v', sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) FROM src
              UNION ALL
              SELECT 'event_type', sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) FROM src
            ), n
        """,
        "cardinality": """
            WITH n AS (SELECT count(*) AS total FROM events)
            SELECT col_name, n_unique, round(CAST(n_unique AS DOUBLE) / n.total, 6) AS uniq_ratio
            FROM (
              SELECT 'user_id' AS col_name, count(DISTINCT user_id) AS n_unique FROM events
              UNION ALL
              SELECT 'event_type', count(DISTINCT event_type) FROM events
            ), n
        """,
        "class_distribution": """
            WITH d AS (
              SELECT event_type AS class, count(*) AS n FROM events GROUP BY 1
            ), m AS (SELECT max(n) AS mx, sum(n) AS total FROM d)
            SELECT class, n, round(100.0 * n / m.total, 6) AS pct,
                   round(CAST(m.mx AS DOUBLE) / n, 6) AS imbalance_ratio
            FROM d, m
        """,
        "classwise_stats": """
            SELECT event_type AS class, count(value) AS n,
                   round(avg(value), 6) AS mean,
                   round(quantile_cont(value, 0.5), 6) AS median,
                   round(stddev_samp(value), 6) AS std,
                   min(value) AS min_v, max(value) AS max_v
            FROM events GROUP BY event_type
        """,
        "anova_f": """
            WITH g AS (
              SELECT event_type, count(value) AS n, avg(value) AS m, var_samp(value) AS v
              FROM events GROUP BY event_type
            ), tot AS (
              SELECT sum(n) AS n_tot, count(*) AS k, sum(n * m) / sum(n) AS grand FROM g
            )
            SELECT round(
              (sum(g.n * (g.m - tot.grand) * (g.m - tot.grand)) / (tot.k - 1))
              / (sum((g.n - 1) * g.v) / (tot.n_tot - tot.k)), 6) AS f_stat
            FROM g, tot
            GROUP BY tot.k, tot.n_tot
        """,
        "chunk_docs": """
            WITH t AS (
              SELECT doc_id,
                     string_split_regex(trim(coalesce(text, '')), '\\s+') AS toks
                FROM documents
            ), s AS (
              SELECT doc_id, toks, len(toks) AS n,
                     unnest(range(0, greatest(len(toks) - 1, 0) + 1, 32)) AS st
                FROM t
            )
            SELECT doc_id,
                   CAST(st / 32 AS BIGINT) AS chunk_idx,
                   array_to_string(toks[st + 1 : st + 40], ' ') AS chunk_text,
                   CAST(len(list_filter(toks[st + 1 : st + 40], x -> x <> '')) AS BIGINT)
                       AS chunk_tokens
              FROM s
             WHERE st = 0 OR st + 8 < n
        """,
        "domain_filter": """
            SELECT doc_id, source FROM documents
             WHERE source NOT IN ('src1', 'src4')
        """,
        "importance_weights": """
            WITH base AS (
              SELECT doc_id, lang,
                     list_prepend('<s>', list_filter(
                       string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                       x -> x <> '')) AS l
                FROM documents
            ), bg AS (
              SELECT doc_id, lang,
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(substr(md5(p.w1 || chr(31) || p.w2), 1, 15), ''),
                         c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
                       (acc, x) -> acc * 16 + x) % 512 AS bucket
                FROM (SELECT doc_id, lang,
                             unnest(list_transform(range(1, len(l)),
                               i -> {'w1': l[i], 'w2': l[i + 1]})) AS p
                        FROM base)
            ), rc AS (
              SELECT bucket, count(*) AS c_raw FROM bg GROUP BY bucket
            ), tc AS (
              SELECT bucket, count(*) AS c_tgt FROM bg WHERE lang = 'en' GROUP BY bucket
            ), rt AS (
              SELECT CAST(count(*) AS DOUBLE) AS t_raw FROM bg
            ), tt AS (
              SELECT CAST(count(*) AS DOUBLE) AS t_tgt FROM bg WHERE lang = 'en'
            ), model AS (
              SELECT rc.bucket,
                     ln((coalesce(tc.c_tgt, 0) + 1.0) / (tt.t_tgt + 512.0))
                     - ln((rc.c_raw + 1.0) / (rt.t_raw + 512.0)) AS logratio
                FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN rt CROSS JOIN tt
            ), scored AS (
              SELECT bg.doc_id, count(*) AS n_features, avg(m.logratio) AS avg_logratio
                FROM bg JOIN model m USING (bucket)
               GROUP BY bg.doc_id
            )
            SELECT d.doc_id,
                   coalesce(s.n_features, 0) AS n_features,
                   round(s.avg_logratio, 6) AS avg_logratio
              FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "importance_resample": """
            WITH w AS (
              SELECT doc_id, ln(1.0 + length(text) / 100.0) AS w FROM documents
            ), g AS (
              SELECT doc_id, w,
                     ((list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(string_split(substr(md5('dsir-v1' || chr(31)
                           || CAST(doc_id AS VARCHAR)), 1, 15), ''),
                           c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
                         (acc, x) -> acc * 16 + x) % 1000000) + 0.5) / 1000000.0 AS u
                FROM w
            )
            SELECT doc_id, round(w, 6) AS w,
                   round(w / 0.5 + (-ln(-ln(u))), 6) AS gumbel_key
              FROM g
             ORDER BY w / 0.5 + (-ln(-ln(u))) DESC, doc_id
             LIMIT 50
        """,
        "nb_classify": """
            WITH tok AS (
              SELECT doc_id, lang,
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(substr(md5(t), 1, 15), ''),
                         c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
                       (acc, x) -> acc * 16 + x) % 1024 AS bucket
                FROM (SELECT doc_id, lang,
                             unnest(list_filter(
                               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                               x -> x <> '')) AS t
                        FROM documents)
            ), labels AS (
              SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
            ), ntot AS (
              SELECT CAST(sum(n_docs) AS DOUBLE) AS n FROM labels
            ), priors AS (
              SELECT lang, ln(n_docs / ntot.n) AS log_prior FROM labels CROSS JOIN ntot
            ), counts AS (
              SELECT bucket, lang, count(*) AS c FROM tok GROUP BY bucket, lang
            ), totals AS (
              SELECT lang, sum(c) AS tot FROM counts GROUP BY lang
            ), seen AS (
              SELECT DISTINCT bucket FROM counts
            ), model AS (
              SELECT s.bucket, t.lang,
                     ln((coalesce(c.c, 0) + 1.0) / (t.tot + 1024.0)) AS log_cond
                FROM seen s CROSS JOIN totals t
                LEFT JOIN counts c ON c.bucket = s.bucket AND c.lang = t.lang
            ), token_scores AS (
              SELECT i.doc_id, m.lang, sum(m.log_cond) AS s, count(*) AS n_tok
                FROM tok i JOIN model m USING (bucket)
               GROUP BY i.doc_id, m.lang
            ), doc_scores AS (
              SELECT ts.doc_id, ts.lang, p.log_prior + ts.s AS score, ts.n_tok
                FROM token_scores ts JOIN priors p USING (lang)
            ), best AS (
              SELECT doc_id, lang, score, n_tok,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, lang DESC) AS rn
                FROM doc_scores
            ), pb AS (
              SELECT lang, log_prior,
                     row_number() OVER (ORDER BY log_prior DESC, lang DESC) AS rn
                FROM priors
            )
            SELECT d.doc_id,
                   coalesce(b.lang, (SELECT lang FROM pb WHERE rn = 1)) AS pred_label,
                   round(coalesce(b.score, (SELECT log_prior FROM pb WHERE rn = 1)), 6)
                       AS score,
                   coalesce(b.n_tok, 0) AS n_tokens
              FROM documents d
              LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
        """,
        "normalize_unicode": """
            SELECT doc_id,
                   nfc_normalize(regexp_replace(
                     substr(text, 1, 30) || ' cafe' || chr(769) ||
                     CASE WHEN doc_id % 2 = 0 THEN chr(7) ELSE '' END || ' naive',
                     '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f\\x{80}-\\x{9f}]', '', 'g'))
                       AS norm_text,
                   CAST(length(nfc_normalize(regexp_replace(
                     substr(text, 1, 30) || ' cafe' || chr(769) ||
                     CASE WHEN doc_id % 2 = 0 THEN chr(7) ELSE '' END || ' naive',
                     '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f\\x{80}-\\x{9f}]', '', 'g')))
                       AS BIGINT) AS n_chars
              FROM documents
        """,
        "dedup_paragraphs": """
            WITH t AS (
              SELECT doc_id,
                     'Subscribe to our newsletter for updates.' || chr(10) ||
                     substr(text, 1, 50) || chr(10) || 'ok' || chr(10) ||
                     substr(text, 51, 40) AS t2
                FROM documents
            ), p AS (
              SELECT doc_id, u.pos AS pos, u.para AS para
                FROM (SELECT doc_id,
                             unnest(list_transform(range(1, len(string_split(t2, chr(10))) + 1),
                               i -> {'pos': i - 1, 'para': string_split(t2, chr(10))[i]})) AS u
                        FROM t)
            ), w AS (
              SELECT doc_id, pos, para,
                     row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
                FROM p
            ), k AS (
              SELECT doc_id, pos, para FROM w WHERE len(para) < 15 OR rn = 1
            ), r AS (
              SELECT doc_id,
                     string_agg(para, chr(10) ORDER BY pos) AS clean_text,
                     count(*) AS n_paras_kept
                FROM k GROUP BY doc_id
            )
            SELECT t.doc_id,
                   coalesce(r.clean_text, '') AS clean_text,
                   CAST(len(string_split(t.t2, chr(10))) AS BIGINT) AS n_paras,
                   coalesce(r.n_paras_kept, 0) AS n_paras_kept
              FROM t LEFT JOIN r USING (doc_id)
        """,
        "span_dedup": f"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN t1 || ' ' || '{_SPAN_BOILER}' ELSE t1 END AS text
                FROM (SELECT doc_id,
                             CASE WHEN doc_id % 3 = 0 THEN '{_SPAN_BOILER}' || ' ' || text
                                  ELSE text END AS t1
                        FROM documents)
            ), base AS (
              SELECT doc_id, coalesce(text, '') AS text,
                     list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                                 x -> x <> '') AS toks
                FROM t
            ), occ AS (
              SELECT doc_id, u.s AS start, u.sp AS sp
                FROM (SELECT doc_id,
                             unnest(list_transform(range(0, greatest(len(toks) - 7, 0)),
                                    s -> {{'s': s, 'sp': array_to_string(toks[s+1:s+8], ' ')}})) AS u
                        FROM base)
            ), w2 AS (
              SELECT doc_id, start,
                     count(*) OVER (PARTITION BY sp) AS cnt,
                     row_number() OVER (PARTITION BY sp ORDER BY doc_id, start) AS rn
                FROM occ
            ), rem AS (
              SELECT DISTINCT doc_id, idx
                FROM (SELECT doc_id, unnest(range(start, start + 8)) AS idx
                        FROM w2 WHERE cnt > 1 AND rn > 1)
            ), remc AS (
              SELECT doc_id, count(*) AS nrem FROM rem GROUP BY doc_id
            ), tok AS (
              SELECT doc_id, u.i AS idx, u.t AS tok
                FROM (SELECT doc_id,
                             unnest(list_transform(range(0, len(toks)),
                                    i -> {{'i': i, 't': toks[i+1]}})) AS u
                        FROM base WHERE doc_id IN (SELECT doc_id FROM remc))
            ), kept AS (
              SELECT tk.doc_id,
                     string_agg(tk.tok, ' ' ORDER BY tk.idx) AS rebuilt
                FROM tok tk LEFT JOIN rem r ON tk.doc_id = r.doc_id AND tk.idx = r.idx
               WHERE r.doc_id IS NULL
               GROUP BY tk.doc_id
            )
            SELECT b.doc_id,
                   CASE WHEN rc.doc_id IS NOT NULL THEN coalesce(k.rebuilt, '')
                        ELSE b.text END AS clean_text,
                   CAST(len(b.toks) AS BIGINT) AS n_tokens,
                   coalesce(rc.nrem, 0) AS n_removed
              FROM base b
              LEFT JOIN remc rc USING (doc_id)
              LEFT JOIN kept k USING (doc_id)
        """,
        "pagerank": _pagerank_ctes(5) + """
            SELECT node, r AS rank_fp, r / 1000000000.0 AS rank FROM r5
        """,
        "label_prop": _labelprop_ctes(5) + """
            SELECT node, lab AS label FROM l5
        """,
        "mean_pool": """
            WITH ex AS (
              SELECT vec_id % 10 AS grp,
                     unnest(range(0, len(embedding))) AS pos,
                     unnest(embedding) AS v
                FROM embeddings
            )
            SELECT grp, CAST(pos AS INT) AS pos,
                   round(avg(CAST(v AS DOUBLE)), 9) AS mean_val
              FROM ex GROUP BY grp, pos
        """,
        "source_overlap": f"""
            WITH src AS (SELECT source,
                                trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
                           FROM documents),
            tk AS (SELECT source, string_split(norm, ' ') AS toks FROM src),
            sh AS (SELECT source,
                          list_transform(range(0, greatest(len(toks) - 2, 1)),
                                         i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) AS shingles
                   FROM tk),
            g AS (SELECT DISTINCT source AS s, {_h60_sql("u.sg")} AS h
                    FROM (SELECT source, unnest(shingles) AS sg FROM sh) u),
            tot AS (SELECT s, count(*) AS n FROM g GROUP BY s),
            sharedt AS (SELECT a.s AS source_a, b.s AS source_b,
                               CAST(count(*) AS BIGINT) AS shared_ngrams
                          FROM g a JOIN g b ON a.h = b.h AND a.s < b.s
                         GROUP BY a.s, b.s)
            SELECT source_a, source_b, shared_ngrams,
                   CAST(shared_ngrams AS DOUBLE) / ta.n AS frac_a,
                   CAST(shared_ngrams AS DOUBLE) / tb.n AS frac_b
              FROM sharedt
              JOIN tot ta ON ta.s = source_a
              JOIN tot tb ON tb.s = source_b
        """,
        "hits": _hits_ctes(4) + """
            SELECT a4.node, a4.a AS authority_fp, h4.h AS hub_fp,
                   a4.a / 1000000.0 AS authority,
                   h4.h / 1000000.0 AS hub
              FROM a4 JOIN h4 USING (node)
        """,
        "transcript_validate": _TRANSCRIPT_CTE + """
            , f AS (
              SELECT conv_id, role,
                     lag(role) OVER w AS pr,
                     CASE WHEN lag(us) OVER w IS NOT NULL
                           AND us <= lag(us) OVER w THEN 1 ELSE 0 END AS ts_bad,
                     row_number() OVER w AS rn
                FROM (SELECT *, epoch_us(ts) AS us FROM transcript)
              WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            )
            SELECT conv_id,
                   count(*) AS n_turns,
                   max(CASE WHEN rn = 1 THEN
                         CASE WHEN role = 'user' THEN 1 ELSE 0 END END) = 1
                     AS starts_with_user,
                   CAST(sum(CASE WHEN role IN ('user','assistant')
                                  AND pr = role THEN 1 ELSE 0 END) AS BIGINT)
                     AS alternation_violations,
                   CAST(sum(CASE WHEN role = 'tool'
                                  AND NOT coalesce(pr IN ('assistant','tool'),
                                                   FALSE)
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS orphan_tool_turns,
                   sum(ts_bad) = 0 AS ts_monotonic,
                   (max(CASE WHEN rn = 1 THEN
                          CASE WHEN role = 'user' THEN 1 ELSE 0 END END) = 1
                    AND sum(CASE WHEN role IN ('user','assistant')
                                  AND pr = role THEN 1 ELSE 0 END) = 0
                    AND sum(CASE WHEN role = 'tool'
                                  AND NOT coalesce(pr IN ('assistant','tool'),
                                                   FALSE)
                                 THEN 1 ELSE 0 END) = 0
                    AND sum(ts_bad) = 0) AS is_valid
              FROM f GROUP BY conv_id
        """,
        "conversation_stats": _TRANSCRIPT_CTE + """
            , g AS (
              SELECT conv_id, role, tool,
                     CAST(length(text) AS BIGINT) AS chars,
                     epoch_us(ts) AS us,
                     epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap
                FROM transcript
            )
            SELECT conv_id,
                   count(*) AS n_turns,
                   CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_user,
                   CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_assistant,
                   CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_tool_calls,
                   (max(us) - min(us)) / 1000000.0 AS duration_s,
                   CASE WHEN sum(CASE WHEN gap IS NOT NULL THEN 1 ELSE 0 END) > 0
                        THEN (CAST(sum(gap) AS DOUBLE)
                              / CAST(sum(CASE WHEN gap IS NOT NULL THEN 1
                                              ELSE 0 END) AS BIGINT))
                             / 1000000.0 END AS mean_gap_s,
                   CAST(sum(CASE WHEN role = 'assistant' THEN chars
                                 ELSE 0 END) AS DOUBLE) / sum(chars)
                     AS assistant_char_share
              FROM g GROUP BY conv_id
        """,
        "response_latency": _TRANSCRIPT_CTE + """
            SELECT conv_id, turn_idx, role,
                   CASE WHEN role = 'assistant' AND lu IS NOT NULL
                        THEN (us - lu) / 1000000.0 END AS latency_s
              FROM (
                SELECT conv_id, turn_idx, role, epoch_us(ts) AS us,
                       last_value(CASE WHEN role = 'user'
                                       THEN epoch_us(ts) END IGNORE NULLS)
                         OVER (PARTITION BY conv_id ORDER BY turn_idx
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS lu
                  FROM transcript)
        """,
        "conversation_dedup": _TRANSCRIPT_CTE + f"""
            , fp AS (
              SELECT conv_id, {_h60_sql("joined")} AS conv_fp
                FROM (SELECT conv_id,
                             string_agg(role || chr(31) || text,
                                        chr(30) ORDER BY turn_idx) AS joined
                        FROM transcript WHERE turn_idx < 3
                       GROUP BY conv_id)
            )
            , w AS (SELECT conv_fp, min(conv_id) AS kept_conv_id
                      FROM fp GROUP BY conv_fp)
            SELECT fp.conv_id, fp.conv_fp, w.kept_conv_id,
                   fp.conv_id != w.kept_conv_id AS is_duplicate
              FROM fp JOIN w USING (conv_fp)
        """,
        "echo_rate": """
            WITH tr AS (
              SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id,
                     CAST(row_number() OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) - 1
                          AS INTEGER) AS turn_idx,
                     CASE WHEN event_type IN ('view','signup') THEN 'user'
                          WHEN event_type IN ('click','purchase')
                            THEN 'assistant'
                          ELSE 'tool' END AS role,
                     event_type || ' ' || props AS text
                FROM events
            ), tok AS (
              SELECT conv_id, turn_idx, role,
                     list_distinct(list_filter(
                       string_split_regex(trim(text), '\\s+'),
                       x -> x != '')) AS toks
                FROM tr
            ), lk AS (
              SELECT conv_id, turn_idx, role, toks,
                     last_value(CASE WHEN role = 'user' THEN toks END
                                IGNORE NULLS)
                       OVER (PARTITION BY conv_id ORDER BY turn_idx
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS pu
                FROM tok
            )
            SELECT conv_id, turn_idx, role,
                   CASE WHEN role = 'assistant' AND pu IS NOT NULL
                             AND len(toks) > 0
                        THEN CAST(len(list_intersect(toks, pu)) AS DOUBLE)
                             / len(toks) END AS echo_rate
              FROM lk
        """,
        "sft_export": _TRANSCRIPT_CTE + f"""
            SELECT conv_id,
                   '{{"conv_id":"' || {_json_esc_sql("conv_id")}
                   || '","messages":['
                   || string_agg('{{"role":"' || {_json_esc_sql("role")}
                                 || '","content":"' || {_json_esc_sql("text")}
                                 || '"}}', ',' ORDER BY turn_idx)
                   || ']}}' AS json_line
              FROM transcript GROUP BY conv_id
        """,
        "jsonl_roundtrip": _TRANSCRIPT_CTE + """
            SELECT conv_id, turn_idx, role, text FROM transcript
        """,
        "detect_loops": _TRANSCRIPT_CTE + """
            , m AS (
              SELECT conv_id, turn_idx,
                     role || chr(31) || text AS k,
                     CASE WHEN lag(role || chr(31) || text)
                            OVER (PARTITION BY conv_id ORDER BY turn_idx)
                            IS DISTINCT FROM role || chr(31) || text
                          THEN 1 ELSE 0 END AS nw
                FROM transcript
            ), r AS (
              SELECT conv_id, k,
                     sum(nw) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS run
                FROM m
            ), runs AS (
              SELECT conv_id, run, count(*) AS len FROM r GROUP BY conv_id, run
            )
            SELECT t.conv_id,
                   count(*) AS n_turns,
                   CAST(count(*) - count(DISTINCT role || chr(31) || text)
                        AS BIGINT) AS n_repeated_turns,
                   (SELECT max(len) FROM runs WHERE runs.conv_id = t.conv_id)
                     AS max_consecutive_repeats,
                   (SELECT max(len) FROM runs WHERE runs.conv_id = t.conv_id)
                     >= 3 AS has_loop
              FROM transcript t GROUP BY t.conv_id
        """,
        "merge_adjacent_turns": _TRANSCRIPT_CTE + """
            , r AS (
              SELECT *, CASE WHEN lag(role) OVER
                               (PARTITION BY conv_id ORDER BY turn_idx)
                             IS DISTINCT FROM role THEN 1 ELSE 0 END AS brk
                FROM transcript
            ), g AS (
              SELECT *, sum(brk) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                          AS run_id
                FROM r
            )
            SELECT conv_id, CAST(run_id - 1 AS INT) AS turn_idx, role,
                   string_agg(text, chr(10) ORDER BY turn_idx) AS text,
                   (array_agg(tool ORDER BY turn_idx)
                      FILTER (WHERE tool IS NOT NULL))[1] AS tool,
                   epoch(min(ts)) AS ts_s,
                   count(*) AS n_merged
              FROM g GROUP BY conv_id, run_id, role
        """,
        "tool_roundtrip": _TRANSCRIPT_CTE + """
            SELECT conv_id, turn_idx, role,
                   CASE WHEN role = 'tool' AND na IS NOT NULL
                        THEN (na - us) / 1000000.0 END AS roundtrip_s
              FROM (
                SELECT conv_id, turn_idx, role, epoch_us(ts) AS us,
                       first_value(CASE WHEN role = 'assistant'
                                        THEN epoch_us(ts) END IGNORE NULLS)
                         OVER (PARTITION BY conv_id ORDER BY turn_idx
                               ROWS BETWEEN 1 FOLLOWING
                                        AND UNBOUNDED FOLLOWING) AS na
                  FROM transcript)
        """,
        "tool_stats": _TRANSCRIPT_CTE + """
            , calls AS (
              SELECT tool AS t, conv_id AS c, na - us AS rt_us
                FROM (
                  SELECT role, tool, conv_id, epoch_us(ts) AS us,
                         first_value(CASE WHEN role = 'assistant'
                                          THEN epoch_us(ts) END IGNORE NULLS)
                           OVER (PARTITION BY conv_id ORDER BY turn_idx
                                 ROWS BETWEEN 1 FOLLOWING
                                          AND UNBOUNDED FOLLOWING) AS na
                    FROM transcript)
               WHERE role = 'tool' AND tool IS NOT NULL
            )
            SELECT t AS tool,
                   count(*) AS n_calls,
                   CAST(count(DISTINCT c) AS BIGINT) AS n_conversations,
                   CASE WHEN sum(CASE WHEN rt_us IS NOT NULL THEN 1 ELSE 0 END) > 0
                        THEN (CAST(sum(rt_us) AS DOUBLE)
                              / CAST(sum(CASE WHEN rt_us IS NOT NULL THEN 1
                                              ELSE 0 END) AS BIGINT))
                             / 1000000.0 END AS mean_roundtrip_s
              FROM calls GROUP BY t
        """,
        "readability": """
            WITH m AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split_regex(trim(text),
                                                             '\\s+'),
                                          x -> x != '')) AS BIGINT) AS w,
                     greatest(CAST(1 AS BIGINT),
                              CAST(len(regexp_extract_all(text, '[.!?]+'))
                                   AS BIGINT)) AS s,
                     CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                          AS BIGINT) AS sy
                FROM documents
            )
            SELECT doc_id, w AS n_words, s AS n_sentences, sy AS n_syllables,
                   CASE WHEN w > 0 THEN
                     206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                             - 84.6 * (CAST(sy AS DOUBLE) / w) END
                     AS flesch_reading_ease,
                   CASE WHEN w > 0 THEN
                     0.39 * (CAST(w AS DOUBLE) / s)
                     + 11.8 * (CAST(sy AS DOUBLE) / w) - 15.59 END
                     AS fk_grade
              FROM m
        """,
        "resample_daily": """
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS bucket,
                   count(*) AS n_rows,
                   sum(value) AS value_sum
              FROM events GROUP BY event_type, date_trunc('day', ts)
        """,
        "k_anonymity": """
            SELECT user_id, event_type,
                   count(*) AS group_size,
                   count(*) < 5 AS is_risky
              FROM events GROUP BY user_id, event_type
        """,
        "l_diversity": """
            SELECT user_id,
                   count(*) AS group_size,
                   CAST(count(DISTINCT event_type) AS BIGINT) AS n_sensitive,
                   count(DISTINCT event_type) < 5 AS is_risky
              FROM events GROUP BY user_id
        """,
        "pseudonymize": """
            SELECT event_id,
                   CASE WHEN user_id IS NULL THEN NULL
                        ELSE 'user_id_' || substr(md5(concat('rel1', chr(31),
                             'user_id', chr(31), CAST(user_id AS VARCHAR))), 1, 12)
                   END AS user_id
              FROM events
        """,
        "date_shift": f"""
            SELECT event_id,
                   epoch(ts + to_days(CAST(
                     {_h60_sql("concat('rel1', chr(31), CAST(user_id AS VARCHAR))")}
                     % 61 - 30 AS INT))) AS ts_s
              FROM events
        """,
        "loss_mask": _TRANSCRIPT_CTE + """
            SELECT conv_id, turn_idx, role,
                   CASE WHEN role = 'assistant'
                        THEN CAST(1.0 AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END AS loss_weight
              FROM transcript
        """,
        "fuzzy_pairs": """
            WITH base AS (
              SELECT doc_id, substr(text, 1, 24) AS name FROM documents
            ), var AS (
              SELECT doc_id + 100000 AS doc_id,
                     substr(text, 1, 9) || 'z' || substr(text, 11, 14) AS name
                FROM documents WHERE doc_id % 7 = 0
            ), c AS (
              SELECT * FROM base UNION ALL SELECT * FROM var
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
              FROM c a JOIN c b
                ON substr(lower(trim(a.name)), 1, 4) = substr(lower(trim(b.name)), 1, 4)
               AND a.doc_id < b.doc_id
             WHERE levenshtein(a.name, b.name) <= 2
        """,
        "funnel": """
            WITH ev AS (
              SELECT user_id,
                     [CAST(epoch_us(ts) AS BIGINT),
                      CAST(CASE event_type WHEN 'view' THEN 0
                                           WHEN 'click' THEN 1
                                           WHEN 'purchase' THEN 2
                                           ELSE -1 END AS BIGINT)] AS e
                FROM events WHERE ts IS NOT NULL
            ), g AS (
              SELECT user_id, list(e ORDER BY e[1], e[2]) AS evs FROM ev GROUP BY user_id
            ), s AS (
              SELECT user_id,
                     list_reduce(
                       list_prepend([CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)], evs),
                       (acc, x) -> [
                         CASE WHEN acc[1] != -1 THEN acc[1]
                              WHEN x[2] = 0 THEN x[1] ELSE -1 END,
                         CASE WHEN acc[2] != -1 THEN acc[2]
                              WHEN x[2] = 1 AND acc[1] != -1 AND x[1] > acc[1]
                                   AND x[1] - acc[1] <= 7200000000 THEN x[1] ELSE -1 END,
                         CASE WHEN acc[3] != -1 THEN acc[3]
                              WHEN x[2] = 2 AND acc[2] != -1 AND x[1] > acc[2]
                                   AND x[1] - acc[1] <= 7200000000 THEN x[1] ELSE -1 END
                       ]) AS st
                FROM g
            )
            SELECT user_id,
                   CAST(len(list_filter(st, v -> v != -1)) AS INTEGER) AS steps_completed,
                   len(list_filter(st, v -> v != -1)) = 3 AS completed,
                   CASE WHEN len(list_filter(st, v -> v != -1)) = 3
                        THEN (st[3] - st[1]) / 1000000.0 END AS funnel_seconds
              FROM s
        """,
        "cohort_retention": """
            WITH wk AS (
              SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
                FROM events WHERE ts IS NOT NULL
            ), fw AS (
              SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY user_id
            ), active AS (
              SELECT DISTINCT user_id, week FROM wk
            ), j AS (
              SELECT a.user_id, f.cohort_week,
                     CAST(datediff('day', f.cohort_week, a.week) // 7 AS INTEGER) AS week_offset
                FROM active a JOIN fw f USING (user_id)
            )
            SELECT cohort_week, week_offset,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
              FROM j GROUP BY cohort_week, week_offset
        """,
        "psi_drift": """
            WITH r AS (
              SELECT value AS v FROM events
               WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-15'
            ), cur AS (
              SELECT value AS v FROM events
               WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-15'
            ), e AS (
              -- engine edges route probabilities through the percent
              -- scale (operators/quantiles.py); replay the round trip
              SELECT """ + ", ".join(
                  f"quantile_cont(v, (CAST({i} AS DOUBLE)/10*100)/100) AS e{i}"
                  for i in range(1, 10)
              ) + """
                FROM r
            ), coded AS (
              SELECT """ + " + ".join(f"CAST((v > e.e{i}) AS INT)" for i in range(1, 10)) + """
                     AS bin, 1 AS is_r FROM r, e
              UNION ALL
              SELECT """ + " + ".join(f"CAST((v > e.e{i}) AS INT)" for i in range(1, 10)) + """
                     AS bin, 0 AS is_r FROM cur, e
            ), cnt AS (
              SELECT bin, CAST(sum(is_r) AS BIGINT) AS n_ref,
                     CAST(sum(1 - is_r) AS BIGINT) AS n_cur
                FROM coded GROUP BY bin
            ), grid AS (SELECT CAST(unnest(range(10)) AS INTEGER) AS bin
            ), g2 AS (
              SELECT grid.bin, coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
                FROM grid LEFT JOIN cnt USING (bin)
            ), tot AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM g2
            ), terms AS (
              SELECT bin, n_ref, n_cur,
                     greatest(n_ref / tr, 1e-6) AS pr,
                     greatest(n_cur / tc, 1e-6) AS pc,
                     (greatest(n_ref / tr, 1e-6) - greatest(n_cur / tc, 1e-6))
                       * ln(greatest(n_ref / tr, 1e-6) / greatest(n_cur / tc, 1e-6)) AS t
                FROM g2, tot
            ), total AS (SELECT round(sum(t), 9) AS psi_total FROM terms)
            SELECT bin, n_ref, n_cur,
                   round(pr, 9) AS p_ref, round(pc, 9) AS p_cur,
                   round(t, 9) AS psi_term, psi_total
              FROM terms, total
        """,
        "ks_drift": """
            WITH a AS (
              SELECT value AS x FROM events
               WHERE value IS NOT NULL AND event_type = 'click'
            ), b AS (
              SELECT value AS x FROM events
               WHERE value IS NOT NULL AND event_type = 'view'
            ), u AS (
              SELECT x, 1 AS ia FROM a UNION ALL SELECT x, 0 FROM b
            ), vc AS (
              SELECT x, CAST(sum(ia) AS BIGINT) AS ca,
                     CAST(sum(1 - ia) AS BIGINT) AS cb
                FROM u GROUP BY x
            ), cum AS (
              SELECT x, sum(ca) OVER (ORDER BY x) AS cum_a,
                     sum(cb) OVER (ORDER BY x) AS cum_b FROM vc
            ), n AS (SELECT max(cum_a) AS n1, max(cum_b) AS n2 FROM cum
            ), d AS (
              SELECT max(abs(cum_a / n.n1 - cum_b / n.n2)) AS d_stat,
                     max(n.n1) AS n1, max(n.n2) AS n2
                FROM cum, n
            ), l AS (
              SELECT d_stat, n1, n2,
                     (sqrt(n1 * n2 / (n1 + n2)) + 0.12
                      + 0.11 / sqrt(n1 * n2 / (n1 + n2))) * d_stat AS lam
                FROM d
            )
            SELECT round(d_stat, 9) AS d_stat,
                   CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                   round(CASE WHEN d_stat = 0.0 THEN 1.0
                         ELSE least(greatest(
                           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                             list_transform(range(1, 101),
                               j -> (CASE WHEN j % 2 = 1 THEN 2.0 ELSE -2.0 END)
                                    * exp(-2.0 * (j * j) * lam * lam))),
                             (acc, x) -> acc + x), 0.0), 1.0) END, 9) AS p_value
              FROM l
        """,
        "mann_whitney": """
            WITH d AS (
              SELECT event_type AS g, value AS v FROM events
               WHERE value IS NOT NULL AND event_type IN ('click', 'view')
            ), vc AS (
              SELECT v, count(*) AS c FROM d GROUP BY v
            ), vr AS (
              SELECT v, c, sum(c) OVER (ORDER BY v) - c + (c + 1) / 2.0 AS ar FROM vc
            ), j AS (
              SELECT d.g, vr.ar FROM d JOIN vr ON d.v = vr.v
            ), pg AS (
              SELECT g, sum(ar) AS R, count(*) AS n FROM j GROUP BY g
            ), s AS (
              SELECT (SELECT R FROM pg WHERE g = 'click') AS r1,
                     (SELECT n FROM pg WHERE g = 'click') AS n1,
                     (SELECT n FROM pg WHERE g = 'view') AS n2,
                     (SELECT sum(CAST(c AS DOUBLE) * c * c - c) FROM vc) AS tie
            ), f AS (
              SELECT r1 - n1 * (n1 + 1) / 2.0 AS u1, n1, n2, n1 + n2 AS N, tie FROM s
            ), zc AS (
              SELECT u1, n1, n2, n1 * n2 / 2.0 AS mu,
                     sqrt(n1 * n2 / 12.0 * ((N + 1.0) - tie / (N * (N - 1.0)))) AS sigma
                FROM f
            )
            SELECT u1 AS u_statistic,
                   round((u1 - mu - (CASE WHEN u1 > mu THEN 0.5
                                          WHEN u1 < mu THEN -0.5
                                          ELSE 0.0 END)) / sigma, 9) AS z,
                   CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
              FROM zc
        """,
        "embedding_covariance": """
            WITH x AS (
              SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
            ), d AS (
              SELECT vec_id, u.i AS i, u.v AS v
                FROM (SELECT vec_id,
                             unnest(list_transform(range(0, len(embedding)),
                                    i -> {'i': i, 'v': CAST(embedding[i+1] AS DOUBLE)})) AS u
                        FROM x)
            )
            SELECT CAST(a.i AS INTEGER) AS i, CAST(b.i AS INTEGER) AS j,
                   round((sum(a.v * b.v) - count(*) * avg(a.v) * avg(b.v))
                         / (count(*) - 1), 6) AS cov
              FROM d a JOIN d b ON a.vec_id = b.vec_id AND a.i <= b.i
             GROUP BY a.i, b.i
        """,
        "context_window": """
            SELECT event_id, user_id, event_type,
                   coalesce(array_to_string(ctx, ' > '), '') AS context,
                   CAST(nctx AS BIGINT) AS context_n
              FROM (SELECT event_id, user_id, event_type,
                           list(coalesce(event_type, '')) OVER w AS ctx,
                           count(*) OVER w AS nctx
                      FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))
        """,
        "collocations": """
            WITH toks AS (
              SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
                FROM documents WHERE text IS NOT NULL
            ), tn AS (SELECT t FROM toks WHERE len(t) > 0
            ), uni AS (
              SELECT w, CAST(count(*) AS BIGINT) AS cw
                FROM (SELECT unnest(t) AS w FROM tn) GROUP BY w
            ), total AS (SELECT sum(cw) AS n FROM uni
            ), bi AS (
              SELECT u.w1 AS w1, u.w2 AS w2, CAST(count(*) AS BIGINT) AS cab
                FROM (SELECT unnest(list_transform(range(1, len(t)),
                             i -> {'w1': t[i], 'w2': t[i+1]})) AS u
                        FROM tn WHERE len(t) >= 2)
               GROUP BY u.w1, u.w2
              HAVING count(*) >= 5
            )
            SELECT b.w1, b.w2, b.cab,
                   u1.cw AS c1, u2.cw AS c2,
                   round(ln(CAST(total.n AS DOUBLE) * b.cab / (u1.cw * u2.cw)), 9) AS pmi
              FROM bi b
              JOIN uni u1 ON b.w1 = u1.w
              JOIN uni u2 ON b.w2 = u2.w
              CROSS JOIN total
             ORDER BY pmi DESC, b.w1, b.w2
             LIMIT 20
        """,
        "kmeans_clusters": _kmeans_ctes(8, 4) + """
            SELECT e.vec_id, f.cluster_id, round(f.sq_dist, 7) AS sq_dist
              FROM e JOIN (
                SELECT vec_id, cluster_id, sq_dist FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                                               ORDER BY sq_dist, cluster_id) AS rn
                    FROM (SELECT e.vec_id, c.cid AS cluster_id,
                                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                   list_transform(list_zip(e.vec, c.cvec),
                                     z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
                                        * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))),
                                   (acc, x) -> acc + x) AS sq_dist
                            FROM e CROSS JOIN c4 c)
                ) WHERE rn = 1
              ) f USING (vec_id)
        """,
        "bpe_train": _bpe_ctes(_BPE_K) + " SELECT * FROM (" + " UNION ALL ".join(
            f"SELECT {k} AS merge_rank, a AS lhs, b AS rhs, a || b AS merged,"
            f" CAST(w AS BIGINT) AS pair_weight FROM b{k}"
            for k in range(_BPE_K)
        ) + ") ORDER BY merge_rank",
        "bpe_segment": _bpe_ctes(_BPE_K) + f"""
        , docw AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    x -> x <> '')) AS word
            FROM documents WHERE text IS NOT NULL
        ), bpe_agg AS (
          SELECT dw.doc_id,
                 CAST(sum(len(s.syms)) AS BIGINT) AS n_bpe_tokens,
                 CAST(count(*) AS BIGINT) AS n_words
            FROM docw dw JOIN s{_BPE_K} s USING (word)
           GROUP BY dw.doc_id
        )
        SELECT d.doc_id,
               coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens,
               coalesce(a.n_words, 0) AS n_words
          FROM documents d LEFT JOIN bpe_agg a USING (doc_id)
        """,
        "gopher_rules": """
            WITH t AS (
              SELECT doc_id,
                     text || chr(10) ||
                     CASE WHEN doc_id % 4 = 0
                          THEN '- bullet item one' || chr(10) || '- bullet item two' || chr(10)
                          ELSE '' END ||
                     CASE WHEN doc_id % 5 = 0
                          THEN 'trailing teaser goes on...' || chr(10) ELSE '' END ||
                     CASE WHEN doc_id % 6 = 0
                          THEN '### ## # markup heavy line' || chr(10) ELSE '' END ||
                     CASE WHEN doc_id % 3 = 0
                          THEN 'the words have to be of use and that with end here'
                          ELSE '' END AS t2
                FROM documents
            ), w AS (
              SELECT doc_id, t2,
                     list_filter(string_split_regex(trim(t2), '\\s+'), x -> x <> '') AS words,
                     list_filter(list_transform(string_split(t2, chr(10)), l -> trim(l)),
                                 l -> l <> '') AS lines
                FROM t
            ), s AS (
              SELECT doc_id, t2, words, lines,
                     len(words) AS n_words,
                     greatest(len(words), 1) AS nw,
                     greatest(len(lines), 1) AS nl,
                     CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE)
                         / greatest(len(words), 1) AS mean_word_len,
                     (len(t2) - len(replace(t2, '#', ''))
                      + (len(t2) - len(replace(t2, '...', ''))) / 3)
                         / greatest(len(words), 1) AS symbol_ratio,
                     CAST(len(list_filter(lines, l -> starts_with(l, '-')
                              OR starts_with(l, '*') OR starts_with(l, '•'))) AS DOUBLE)
                         / greatest(len(lines), 1) AS bullet_line_frac,
                     CAST(len(list_filter(lines, l -> ends_with(l, '...')
                              OR ends_with(l, '…'))) AS DOUBLE)
                         / greatest(len(lines), 1) AS ellipsis_line_frac,
                     CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                         / greatest(len(words), 1) AS alpha_word_frac,
                     len(list_intersect(list_transform(words, x -> lower(x)),
                         ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
                         AS stopword_hits
                FROM w
            )
            SELECT doc_id,
                   CAST(n_words AS BIGINT) AS n_words,
                   round(mean_word_len, 6) AS mean_word_len,
                   round(symbol_ratio, 6) AS symbol_ratio,
                   round(bullet_line_frac, 6) AS bullet_line_frac,
                   round(ellipsis_line_frac, 6) AS ellipsis_line_frac,
                   round(alpha_word_frac, 6) AS alpha_word_frac,
                   CAST(stopword_hits AS BIGINT) AS stopword_hits,
                   (n_words >= 20 AND n_words <= 100000
                    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                    AND symbol_ratio <= 0.1
                    AND bullet_line_frac <= 0.9
                    AND ellipsis_line_frac <= 0.3
                    AND alpha_word_frac >= 0.8
                    AND stopword_hits >= 2) AS gopher_pass
              FROM s
        """,
        "clean_lines": """
            WITH t AS (
              SELECT doc_id,
                     substr(text, 1, 40) || '.' || chr(10) ||
                     'too short' || chr(10) ||
                     CASE WHEN doc_id % 3 = 0
                          THEN 'Enable javascript to view this page data.' || chr(10)
                          ELSE '' END ||
                     CASE WHEN doc_id % 7 = 0
                          THEN 'lorem ipsum dolor sit amet filler here.' || chr(10)
                          ELSE '' END ||
                     substr(text, 41, 60) ||
                     CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END AS t2
                FROM documents
            ), k AS (
              SELECT doc_id, t2, string_split(t2, chr(10)) AS lines,
                     list_filter(string_split(t2, chr(10)),
                       x -> len(string_split_regex(trim(x), '\\s+')) >= 5
                            AND regexp_matches(trim(x), '[.!?"]$')
                            AND NOT contains(lower(trim(x)), 'javascript')) AS kept
                FROM t
            )
            SELECT doc_id,
                   array_to_string(kept, chr(10)) AS clean_text,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   CAST(len(kept) AS BIGINT) AS n_lines_kept,
                   (contains(t2, '{') OR contains(lower(t2), 'lorem ipsum')) AS page_drop
              FROM k
        """,
        "bigram_lm": _BIGRAM_SCORED_CTE + """
            SELECT doc_id, n_bigrams,
                   round(avg_logprob, 6) AS avg_logprob,
                   round(logppl, 6) AS logppl
              FROM fullset
        """,
        "ccnet_buckets": _BIGRAM_SCORED_CTE + """,
            q AS (
              SELECT quantile_cont(round(logppl, 9), 1.0 / 3) AS lo,
                     quantile_cont(round(logppl, 9), 2.0 / 3) AS hi
                FROM fullset
            )
            SELECT f.doc_id, f.n_bigrams,
                   round(f.avg_logprob, 6) AS avg_logprob,
                   round(f.logppl, 6) AS logppl,
                   CASE WHEN f.logppl IS NULL THEN NULL
                        WHEN round(f.logppl, 9) <= q.lo THEN 'head'
                        WHEN round(f.logppl, 9) <= q.hi THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
              FROM fullset f CROSS JOIN q
        """,
        "stratified_sample": """
            WITH h AS (
              SELECT doc_id, lang,
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(substr(md5(concat('strata-v1', chr(31), CAST(doc_id AS VARCHAR))), 1, 15), ''),
                         c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
                       (acc, x) -> acc * 16 + x) % 1000000 AS b
                FROM documents)
            SELECT doc_id, lang FROM h
             WHERE b < CASE lang WHEN 'en' THEN 600000 WHEN 'zh' THEN 300000 ELSE 100000 END
        """,
        "url_canonicalize": """
            WITH u0 AS (
              SELECT doc_id,
                     lower(trim('HTTPS://www.' || source || '.example.com/Articles/'
                       || CAST(doc_id % 7 AS VARCHAR)
                       || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
                       || '?utm_source=feed&b=' || CAST(doc_id % 3 AS VARCHAR) || '&a=1'
                       || CASE WHEN doc_id % 5 = 0 THEN '&ref=tw' ELSE '' END
                       || '#frag')) AS u
                FROM documents),
            u1 AS (
              SELECT doc_id,
                     regexp_replace(regexp_replace(regexp_replace(u,
                       '#.*$', ''), '^[a-z][a-z0-9+.-]*://', ''), '^www\\.', '') AS u
                FROM u0),
            p AS (
              SELECT doc_id,
                     regexp_replace(regexp_replace(u, '\\?.*$', ''), '/+$', '') AS path,
                     list_sort(list_filter(string_split(regexp_extract(u, '\\?(.*)$', 1), '&'),
                       x -> x <> '' AND NOT regexp_matches(x, '^utm_')
                            AND NOT regexp_matches(x, '^fbclid=')
                            AND NOT regexp_matches(x, '^gclid=')
                            AND NOT regexp_matches(x, '^ref='))) AS params
                FROM u1)
            SELECT doc_id,
                   CASE WHEN len(params) > 0
                        THEN path || '?' || array_to_string(params, '&')
                        ELSE path END AS canon_url
              FROM p
        """,
        "semantic_dedup": """
            SELECT vec_id, label FROM embeddings
        """,
        "url_dedup": """
            SELECT source || '.example.com/page/' || CAST(doc_id % 5 AS VARCHAR) AS canon_url,
                   min(doc_id) AS doc_id,
                   count(*) AS n_copies
              FROM documents
             GROUP BY 1
        """,
        "histogram_bins": """
            WITH rq AS (SELECT min(l_quantity) AS lo, max(l_quantity) AS hi FROM lineitem),
                 rp AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem)
            SELECT 'l_quantity' AS name,
                   LEAST(CAST(FLOOR((l_quantity - rq.lo) / ((rq.hi - rq.lo) / 10)) AS BIGINT), 9) AS bin,
                   count(*) AS n
              FROM lineitem, rq
             WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity)
             GROUP BY 1, 2
            UNION ALL
            SELECT 'l_extendedprice' AS name,
                   LEAST(CAST(FLOOR((l_extendedprice - rp.lo) / ((rp.hi - rp.lo) / 10)) AS BIGINT), 9) AS bin,
                   count(*) AS n
              FROM lineitem, rp
             WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
             GROUP BY 1, 2
        """,
        "class_box_stats": """
            WITH q AS (
              SELECT l_returnflag AS cls,
                     quantile_cont(l_extendedprice, 0.25) AS q1,
                     quantile_cont(l_extendedprice, 0.5) AS med,
                     quantile_cont(l_extendedprice, 0.75) AS q3,
                     count(*) AS n
                FROM lineitem
               WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
               GROUP BY 1
            )
            SELECT q.cls AS cls, round(q.q1, 6) AS q1, round(q.med, 6) AS median,
                   round(q.q3, 6) AS q3,
                   round(min(l.l_extendedprice), 6) AS wlo,
                   round(max(l.l_extendedprice), 6) AS whi,
                   q.n AS n
              FROM lineitem l JOIN q ON l.l_returnflag = q.cls
             WHERE l.l_extendedprice BETWEEN q.q1 - 1.5 * (q.q3 - q.q1)
                                         AND q.q3 + 1.5 * (q.q3 - q.q1)
             GROUP BY 1, q.q1, q.med, q.q3, q.n
        """,
        "pearson_corr": """
            SELECT round(corr(l_quantity, l_extendedprice), 6) AS r_qty_price,
                   round(corr(l_discount, l_tax), 6) AS r_disc_tax
            FROM lineitem
        """,
        "backward_fill": """
            SELECT event_id, user_id,
                   first_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS value_bfill
            FROM events
        """,
        "interpolate": """
            WITH v AS (
              SELECT event_id, user_id,
                     CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
              FROM events
            ), b AS (
              SELECT event_id, user_id, v, pos,
                     last_value(v IGNORE NULLS) OVER wp AS v0,
                     last_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS) OVER wp AS p0,
                     first_value(v IGNORE NULLS) OVER wf AS v1,
                     first_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS) OVER wf AS p1
              FROM v
              WINDOW wp AS (PARTITION BY user_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wf AS (PARTITION BY user_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT event_id, user_id,
                   round(CASE WHEN v IS NOT NULL THEN v
                              WHEN p0 IS NULL THEN NULL
                              WHEN p1 IS NULL THEN v0
                              ELSE v0 + (v1 - v0) * (pos - p0) / (p1 - p0) END, 6) AS value_interp
            FROM b
        """,
        "ordinal_encode": """
            SELECT event_id,
                   CASE WHEN event_type = 'view' THEN 0.0
                        WHEN event_type = 'click' THEN 1.0
                        WHEN event_type = 'purchase' THEN 2.0
                        ELSE -1.0 END AS et_ord
            FROM events
        """,
        "polynomial": """
            SELECT l_orderkey, l_linenumber,
                   round(l_quantity * l_quantity, 6) AS qty_sq,
                   round(l_discount * l_discount, 6) AS disc_sq,
                   round(l_quantity * l_discount, 6) AS qty_x_disc
            FROM lineitem
        """,
        "log_sqrt": """
            WITH m AS (
              SELECT min(value - 50.0) AS mn FROM events
            ), o AS (
              SELECT CASE WHEN mn <= 0 THEN abs(mn) + 1 ELSE 0 END AS off FROM m
            )
            SELECT event_id,
                   round(ln(value - 50.0 + o.off), 6) AS v_log,
                   round(sqrt(value), 6) AS v_sqrt
            FROM events, o
        """,
        "robust_scale": """
            WITH s AS (
              SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
                     quantile_cont(l_extendedprice, 0.50) AS q2,
                     quantile_cont(l_extendedprice, 0.75) AS q3
              FROM lineitem
            )
            SELECT l_orderkey, l_linenumber,
                   round((l_extendedprice - s.q2) / (s.q3 - s.q1), 6) AS price_scaled
            FROM lineitem, s
        """,
        "zscore_outliers": """
            WITH s AS (SELECT avg(value) AS m, stddev_samp(value) AS sd FROM events)
            SELECT event_id,
                   CAST(value < s.m - 3.0 * s.sd OR value > s.m + 3.0 * s.sd AS INT) AS is_outlier
            FROM events, s
        """,
        "outlier_cap": """
            WITH q AS (
              SELECT quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3 FROM events
            )
            SELECT event_id,
                   round(least(greatest(value, q.q1 - 1.5 * (q.q3 - q.q1)),
                               q.q3 + 1.5 * (q.q3 - q.q1)), 6) AS value_capped
            FROM events, q
        """,
        "dedup_last": """
            SELECT event_id, user_id, event_type
            FROM events
            QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts DESC, event_id DESC) = 1
        """,
        "dedup_unique_only": """
            SELECT event_id, user_id, event_type
            FROM events
            WHERE event_id < 500
            QUALIFY count(*) OVER (PARTITION BY user_id, event_type) = 1
        """,
        "missing_indicators": """
            SELECT event_id,
                   CAST(event_type = 'error' AS INT) AS v_was_missing,
                   CAST(value IS NULL AS INT) AS value_was_missing
            FROM events
        """,
        "infinite_values": """
            SELECT 'v' AS col_name,
                   sum(CASE WHEN event_type IN ('error', 'signup') THEN 1 ELSE 0 END) AS n_inf
            FROM events
            UNION ALL
            SELECT 'value' AS col_name, CAST(0 AS BIGINT) AS n_inf
        """,
        "string_title_len": """
            WITH n AS (
              SELECT doc_id,
                     trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
              FROM documents
            )
            SELECT doc_id,
                   array_to_string(
                     list_transform(str_split(norm, ' '),
                                    t -> upper(substring(t, 1, 1)) || substring(t, 2)),
                     ' ') AS title_text,
                   length(norm) AS text_length
            FROM n
        """,
        "high_correlations": """
            WITH li AS (
              SELECT *, l_extendedprice * (1.0 - l_discount) AS l_net FROM lineitem
            ), c AS (
              SELECT corr(l_quantity, l_extendedprice) AS r1,
                     corr(l_quantity, l_discount) AS r2,
                     corr(l_quantity, l_net) AS r3,
                     corr(l_extendedprice, l_discount) AS r4,
                     corr(l_extendedprice, l_net) AS r5,
                     corr(l_discount, l_net) AS r6
              FROM li
            )
            SELECT col_a, col_b, round(r, 6) AS r FROM (
              SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, r1 AS r FROM c
              UNION ALL SELECT 'l_quantity', 'l_discount', r2 FROM c
              UNION ALL SELECT 'l_quantity', 'l_net', r3 FROM c
              UNION ALL SELECT 'l_extendedprice', 'l_discount', r4 FROM c
              UNION ALL SELECT 'l_extendedprice', 'l_net', r5 FROM c
              UNION ALL SELECT 'l_discount', 'l_net', r6 FROM c
            ) WHERE abs(r) >= 0.1
        """,
        "variance_select": """
            SELECT feature,
                   round(v / power(10, floor(log10(abs(v)))), 6) AS var_mant,
                   CAST(floor(log10(abs(v))) AS INT) AS var_exp,
                   CAST(v > 1.0 AS INT) AS selected FROM (
              SELECT 'l_quantity' AS feature, var_pop(l_quantity) AS v FROM lineitem
              UNION ALL SELECT 'l_extendedprice', var_pop(l_extendedprice) FROM lineitem
              UNION ALL SELECT 'l_discount', var_pop(l_discount) FROM lineitem
              UNION ALL SELECT 'l_tax', var_pop(l_tax) FROM lineitem
            )
        """,
        "skew_kurtosis": """
            SELECT round(skewness(value), 6) AS skew_g1,
                   round(kurtosis(value), 6) AS kurt_g2
            FROM events
        """,
        "effect_sizes": """
            WITH g AS (
              SELECT event_type, count(value) AS n, avg(value) AS m, var_samp(value) AS v
              FROM events GROUP BY event_type
            ), d AS (
              SELECT (a.m - b.m) / sqrt(((a.n - 1) * a.v + (b.n - 1) * b.v) / (a.n + b.n - 2)) AS d
              FROM (SELECT * FROM g WHERE event_type = 'view') a,
                   (SELECT * FROM g WHERE event_type = 'click') b
            ), e AS (
              SELECT sum(n * (m - t.gm) * (m - t.gm))
                     / (sum(n * (m - t.gm) * (m - t.gm)) + sum((n - 1) * v)) AS eta
              FROM g, (SELECT sum(n * m) / sum(n) AS gm FROM g) t
              GROUP BY t.gm
            )
            SELECT round(d.d, 6) AS cohens_d, round(e.eta, 6) AS eta_squared FROM d, e
        """,
        "chi2_cramers": """
            WITH med AS (SELECT quantile_cont(value, 0.5) AS m FROM events),
            o AS (
              SELECT event_type, CAST(value > med.m AS INT) AS hi, count(*) AS c
              FROM events, med GROUP BY 1, 2
            ), n AS (SELECT sum(c) AS t FROM o),
            e AS (
              SELECT o.c,
                     (sum(o.c) OVER (PARTITION BY o.event_type))
                     * (sum(o.c) OVER (PARTITION BY o.hi)) / n.t AS exp
              FROM o, n
            ), chi AS (SELECT sum((c - exp) * (c - exp) / exp) AS chi2 FROM e)
            SELECT round(chi.chi2, 6) AS chi2, CAST(4 AS INT) AS dof,
                   round(sqrt(chi.chi2 / n.t), 6) AS cramers_v
            FROM chi, n
        """,
        "class_imbalance": """
            WITH d AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1)
            SELECT
              (SELECT event_type FROM d ORDER BY n DESC, event_type ASC LIMIT 1) AS majority,
              (SELECT event_type FROM d ORDER BY n ASC, event_type DESC LIMIT 1) AS minority,
              round(CAST((SELECT max(n) FROM d) AS DOUBLE) / (SELECT min(n) FROM d), 6) AS ratio
        """,
        "categorical_summary": """
            WITH tot AS (SELECT count(*) AS t FROM documents),
            u AS (
              SELECT 'lang' AS col_name,
                     (SELECT count(DISTINCT lang) FROM documents) AS n_unique,
                     (SELECT lang FROM documents WHERE lang IS NOT NULL
                      GROUP BY lang ORDER BY count(*) DESC, lang ASC LIMIT 1) AS mode,
                     (SELECT count(*) FROM documents WHERE lang IS NOT NULL GROUP BY lang
                      ORDER BY count(*) DESC, lang ASC LIMIT 1) AS top_freq
              UNION ALL
              SELECT 'source',
                     (SELECT count(DISTINCT source) FROM documents),
                     (SELECT source FROM documents WHERE source IS NOT NULL
                      GROUP BY source ORDER BY count(*) DESC, source ASC LIMIT 1),
                     (SELECT count(*) FROM documents WHERE source IS NOT NULL GROUP BY source
                      ORDER BY count(*) DESC, source ASC LIMIT 1)
            )
            SELECT col_name, n_unique, mode, top_freq,
                   round(100.0 * top_freq / tot.t, 6) AS top_pct
            FROM u, tot
        """,
        "data_quality": """
            WITH src AS (
              SELECT user_id, event_type,
                     CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v,
                     1 AS const_col
              FROM events
            )
            SELECT count(*) AS n_rows,
                   (SELECT sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) FROM src) AS total_nulls,
                   CAST(1 AS BIGINT) AS n_constant,
                   count(*) - (SELECT count(*) FROM
                               (SELECT DISTINCT user_id, event_type, v, const_col FROM src))
                     AS n_duplicates
            FROM src
        """,
        "uniform_bin": """
            WITH s AS (
              SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem
            ), e AS (
              SELECT lo, hi, (hi - lo) / 4 AS st, lo - (hi - lo) * 0.001 AS e0 FROM s
            )
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_extendedprice > e.e0 AND l_extendedprice <= e.hi THEN
                     CAST(l_extendedprice > e.lo + 1 * e.st AS INT)
                     + CAST(l_extendedprice > e.lo + 2 * e.st AS INT)
                     + CAST(l_extendedprice > e.lo + 3 * e.st AS INT)
                   END AS price_bin
            FROM lineitem, e
        """,
        "spearman_corr": """
            WITH r AS (
              SELECT l_quantity, l_extendedprice,
                     row_number() OVER (ORDER BY l_quantity) AS rq,
                     row_number() OVER (ORDER BY l_extendedprice) AS rp
              FROM lineitem
            ), a AS (
              SELECT avg(rq) OVER (PARTITION BY l_quantity) AS arq,
                     avg(rp) OVER (PARTITION BY l_extendedprice) AS arp
              FROM r
            )
            SELECT round(corr(arq, arp), 6) AS rho FROM a
        """,
        "vif": """
            WITH c AS (
              SELECT corr(l_quantity, l_extendedprice) AS r12,
                     corr(l_quantity, l_discount) AS r13,
                     corr(l_extendedprice, l_discount) AS r23
              FROM lineitem
            ), d AS (
              SELECT 1 + 2 * r12 * r13 * r23 - r12 * r12 - r13 * r13 - r23 * r23 AS det,
                     r12, r13, r23
              FROM c
            )
            SELECT 'l_quantity' AS feature, round((1 - r23 * r23) / det, 6) AS vif FROM d
            UNION ALL SELECT 'l_extendedprice', round((1 - r13 * r13) / det, 6) FROM d
            UNION ALL SELECT 'l_discount', round((1 - r12 * r12) / det, 6) FROM d
        """,
        "range_join": """
            WITH anchors AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            ), v AS (
              SELECT user_id, ts, value FROM events WHERE event_type = 'view'
            )
            SELECT a.event_id, a.user_id,
                   count(v.value) AS n_views_1h,
                   round(sum(v.value), 6) AS sum_views_1h
            FROM anchors a LEFT JOIN v
              ON a.user_id = v.user_id
             AND epoch(v.ts) <= epoch(a.ts)
             AND epoch(v.ts) >= epoch(a.ts) - 3600.0
            GROUP BY a.event_id, a.user_id
        """,
        "tumbling_daily": """
            SELECT event_type,
                   CAST(floor(epoch(ts) / 86400) * 86400 AS DOUBLE) AS day_start_s,
                   count(*) AS n,
                   round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS value_sum
            FROM events
            GROUP BY event_type, floor(epoch(ts) / 86400)
        """,
        "ngram_jaccard": """
            WITH t AS (
              SELECT doc_id,
                     str_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
              FROM documents WHERE doc_id < 20
            ), d AS (
              SELECT doc_id,
                     list_distinct(
                       list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                                      i -> array_to_string(toks[i:i+2], ' '))) AS sh
              FROM t
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1),
                         6) AS jaccard
            FROM d a JOIN d b ON a.doc_id < b.doc_id
        """,
        "mode_impute": """
            WITH v AS (
              SELECT doc_id,
                     CASE WHEN source = 'src0' THEN NULL ELSE lang END AS lang2
              FROM documents
            ), m AS (
              SELECT lang2 FROM v WHERE lang2 IS NOT NULL
              GROUP BY lang2 ORDER BY count(*) DESC, lang2 ASC LIMIT 1
            )
            SELECT v.doc_id, coalesce(v.lang2, m.lang2) AS lang_imputed FROM v, m
        """,
        "detect_task": """
            WITH s AS (
              SELECT count(DISTINCT event_type) AS nu_t, count(event_type) AS n_t,
                     count(DISTINCT value) AS nu_v, count(value) AS n_v
              FROM events
            )
            SELECT 'classification' AS task_event_type,  -- non-numeric target
                   CASE WHEN nu_v = 2 THEN 'classification'
                        WHEN nu_v <= 20 OR CAST(nu_v AS DOUBLE) / n_v < 0.05
                          THEN 'classification'
                        ELSE 'regression' END AS task_value
            FROM s
        """,
        "basic_info": """
            SELECT count(*) AS n_rows,
                   CAST(3 AS BIGINT) AS n_cols,
                   count(*) - (SELECT count(*) FROM
                               (SELECT DISTINCT text, lang, source FROM documents))
                     AS n_duplicates
            FROM documents
        """,
        "custom_udf": """
            SELECT event_id, round(ln(1 + value) * 2.0, 6) AS v_custom FROM events
        """,
        "levene": """
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS m FROM events GROUP BY 1
            ), z AS (
              SELECT e.event_type, abs(e.value - med.m) AS z
              FROM events e JOIN med USING (event_type)
            ), g AS (
              SELECT event_type, count(z) AS n, avg(z) AS m, var_samp(z) AS v
              FROM z GROUP BY 1
            ), tot AS (
              SELECT sum(n) AS n_tot, count(*) AS k, sum(n * m) / sum(n) AS grand FROM g
            )
            SELECT round(
              (sum(g.n * (g.m - tot.grand) * (g.m - tot.grand)) / (tot.k - 1))
              / (sum((g.n - 1) * g.v) / (tot.n_tot - tot.k)), 6) AS levene_w
            FROM g, tot
            GROUP BY tot.k, tot.n_tot
        """,
        "mutual_info": """
            WITH s AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
            b AS (
              SELECT event_type,
                     least(floor((coalesce(value, 0.0) - s.lo) / ((s.hi - s.lo) / 16)),
                           15) AS bin
              FROM events, s
            ), c AS (
              SELECT bin, event_type, count(*) AS n FROM b GROUP BY 1, 2
            ), t AS (SELECT sum(n) AS tot FROM c),
            p AS (
              SELECT n / t.tot AS pxy,
                     (sum(n) OVER (PARTITION BY bin)) / t.tot AS px,
                     (sum(n) OVER (PARTITION BY event_type)) / t.tot AS py
              FROM c, t
            ), mi AS (SELECT sum(pxy * ln(pxy / (px * py))) AS mi FROM p),
            k AS (SELECT count(DISTINCT event_type) AS k FROM events)
            SELECT 'value' AS feature, round(mi.mi / ln(k.k), 6) AS mi FROM mi, k
        """,
        "anova_per_feature": """
            WITH g AS (
              SELECT feature, l_returnflag, count(v) AS n, avg(v) AS m, var_samp(v) AS var
              FROM (
                SELECT 'l_quantity' AS feature, l_returnflag, l_quantity AS v FROM lineitem
                UNION ALL SELECT 'l_extendedprice', l_returnflag, l_extendedprice FROM lineitem
                UNION ALL SELECT 'l_discount', l_returnflag, l_discount FROM lineitem
              ) GROUP BY 1, 2
            ), tot AS (
              SELECT feature, sum(n) AS n_tot, count(*) AS k,
                     sum(n * m) / sum(n) AS grand
              FROM g GROUP BY 1
            )
            SELECT g.feature,
                   round(
                     (sum(g.n * (g.m - tot.grand) * (g.m - tot.grand)) / (tot.k - 1))
                     / (sum((g.n - 1) * g.var) / (tot.n_tot - tot.k)), 6) AS f_stat
            FROM g JOIN tot ON g.feature = tot.feature
            GROUP BY g.feature, tot.k, tot.n_tot
        """,
        "constant_columns": """
            WITH d AS (
              SELECT count(DISTINCT event_id) AS c1,
                     count(DISTINCT event_type) AS c2,
                     count(DISTINCT value) AS c3,
                     count(DISTINCT 7) AS c4,
                     count(DISTINCT CAST(NULL AS DOUBLE)) AS c5
              FROM events
            )
            SELECT kept_column FROM (
              SELECT 'event_id' AS kept_column, c1 AS nu FROM d
              UNION ALL SELECT 'event_type', c2 FROM d
              UNION ALL SELECT 'value', c3 FROM d
              UNION ALL SELECT 'const_a', c4 FROM d
              UNION ALL SELECT 'all_null', c5 FROM d
            ) WHERE nu > 1
        """,
        "filter_project": """
            SELECT o_orderkey, o_totalprice AS total, o_orderpriority AS priority
            FROM orders
            WHERE o_totalprice > 200000 AND o_orderstatus = 'O'
        """,
        "deterministic_sample": """
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders
            WHERE (o_orderkey * 2654435761) % 1000 < 100
        """,
        "set_ops": """
            SELECT user_id, 'both' AS tag FROM (
              SELECT user_id FROM events WHERE event_type = 'purchase'
              INTERSECT
              SELECT user_id FROM events WHERE event_type = 'error')
            UNION ALL
            SELECT user_id, 'purchase_only' AS tag FROM (
              SELECT user_id FROM events WHERE event_type = 'purchase'
              EXCEPT
              SELECT user_id FROM events WHERE event_type = 'error')
        """,
        "drop_missing": """
            SELECT event_id, round(value, 6) AS v
            FROM events WHERE event_type <> 'error'
        """,
        "json_extract": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
            FROM events
        """,
        "ranking": """
            SELECT event_id, user_id, CAST(floor(value / 100) AS INT) AS vb,
                   row_number() OVER w AS rn,
                   rank() OVER w AS rnk,
                   dense_rank() OVER w AS drnk,
                   ntile(4) OVER w AS quartile
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(floor(value / 100) AS INT) DESC, event_id)
        """,
        "outlier_replace": """
            WITH q AS (
              SELECT quantile_cont(value, 0.25) AS q1,
                     quantile_cont(value, 0.75) AS q3,
                     quantile_cont(value, 0.5) AS med
              FROM events
            )
            SELECT event_id,
                   round(CASE WHEN value < q.q1 - 1.5 * (q.q3 - q.q1)
                                OR value > q.q3 + 1.5 * (q.q3 - q.q1)
                              THEN q.med ELSE value END, 6) AS value_replaced
            FROM events, q
        """,
        "target_corr_select": """
            WITH s AS (
              SELECT 'l_quantity' AS feature,
                     abs(corr(l_quantity, l_extendedprice)) AS a FROM lineitem
              UNION ALL SELECT 'l_discount', abs(corr(l_discount, l_extendedprice)) FROM lineitem
              UNION ALL SELECT 'l_tax', abs(corr(l_tax, l_extendedprice)) FROM lineitem
            )
            SELECT feature, round(a, 6) AS abs_corr
            FROM s ORDER BY a DESC LIMIT 2
        """,
        "correlation_select": """
            WITH c AS (
              SELECT corr(l_quantity, l_quantity * 2 + 1) AS r12,
                     corr(l_quantity, l_extendedprice) AS r13,
                     corr(l_quantity, -l_quantity) AS r14,
                     corr(l_quantity * 2 + 1, l_extendedprice) AS r23,
                     corr(l_quantity * 2 + 1, -l_quantity) AS r24,
                     corr(l_extendedprice, -l_quantity) AS r34
              FROM lineitem
            ), d AS (
              SELECT abs(r12) > 0.9 AS d2,
                     (abs(r13) > 0.9 OR (NOT (abs(r12) > 0.9) AND abs(r23) > 0.9)) AS d3,
                     r14, r24, r34
              FROM c
            )
            SELECT 'l_quantity' AS kept_column FROM d
            UNION ALL SELECT 'qty2' FROM d WHERE NOT d2
            UNION ALL SELECT 'l_extendedprice' FROM d WHERE NOT d3
            UNION ALL SELECT 'negq' FROM d
              WHERE NOT (abs(r14) > 0.9 OR (NOT d2 AND abs(r24) > 0.9)
                         OR (NOT d3 AND abs(r34) > 0.9))
        """,
        "correlation_ci": """
            WITH c AS (
              SELECT corr(l_quantity, l_extendedprice) AS r, count(*) AS n FROM lineitem
            ), z AS (
              SELECT r,
                     0.5 * ln((1 + r) / (1 - r)) - 1.9599639845400318 / sqrt(n - 3) AS zlo,
                     0.5 * ln((1 + r) / (1 - r)) + 1.9599639845400318 / sqrt(n - 3) AS zhi
              FROM c
            )
            SELECT round(r, 6) AS r,
                   round((exp(2 * zlo) - 1) / (exp(2 * zlo) + 1), 6) AS ci_lo,
                   round((exp(2 * zhi) - 1) / (exp(2 * zhi) + 1), 6) AS ci_hi
            FROM z
        """,
        "residuals_ols": """
            WITH f AS (
              SELECT regr_slope(l_extendedprice, l_quantity) AS sl,
                     regr_intercept(l_extendedprice, l_quantity) AS ic
              FROM lineitem
            ), r AS (
              SELECT l_extendedprice - (f.sl * l_quantity + f.ic) AS res,
                     l_extendedprice AS y
              FROM lineitem, f
            ), a AS (
              SELECT count(*) AS n,
                     CAST(sum(CAST(abs(res) AS DECIMAL(38,6))) AS DOUBLE) AS sae,
                     CAST(sum(CAST(res * res AS DECIMAL(38,6))) AS DOUBLE) AS ss_res,
                     CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS ss_y2,
                     CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sum_y
              FROM r
            )
            SELECT n, round(sae / n, 4) AS mae,
                   round(sqrt(ss_res / n), 4) AS rmse,
                   round(1 - ss_res / (ss_y2 - sum_y * sum_y / n), 6) AS r2
            FROM a
        """,
        "jarque_bera": """
            WITH m AS (
              SELECT count(value) AS n, skewness(value) AS sG1,
                     kurtosis_pop(value) AS g2
              FROM events
            ), p AS (
              SELECT n, sG1 * (n - 2) / sqrt(n * (n - 1.0)) AS g1, g2 FROM m
            ), j AS (
              SELECT n, n / 6.0 * (g1 * g1 + g2 * g2 / 4.0) AS jb FROM p
            )
            SELECT n, round(jb, 4) AS jb, round(exp(-jb / 2.0), 6) AS pvalue FROM j
        """,
        "suggest_binning": """
            WITH prof AS (
              SELECT 'l_linenumber' AS col, count(DISTINCT l_linenumber) AS u,
                     skewness(l_linenumber) AS sk, max(l_linenumber) AS mx,
                     quantile_cont(l_linenumber, 0.25) AS q1,
                     quantile_cont(l_linenumber, 0.75) AS q3
              FROM lineitem
              UNION ALL
              SELECT 'l_quantity', count(DISTINCT l_quantity), skewness(l_quantity),
                     max(l_quantity), quantile_cont(l_quantity, 0.25),
                     quantile_cont(l_quantity, 0.75)
              FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice', count(DISTINCT l_extendedprice),
                     skewness(l_extendedprice), max(l_extendedprice),
                     quantile_cont(l_extendedprice, 0.25),
                     quantile_cont(l_extendedprice, 0.75)
              FROM lineitem
            )
            SELECT col,
                   CASE WHEN u <= 10 THEN 'none'
                        WHEN abs(sk) > 1.0 THEN 'quantile'
                        WHEN q3 - q1 > 0 AND (mx - q3) > 3.0 * (q3 - q1) THEN 'quantile'
                        ELSE 'uniform' END AS strategy,
                   CASE WHEN u <= 10 THEN 0 ELSE 5 END AS suggested_bins
            FROM prof
        """,
        "suggest_transforms": """
            WITH prof AS (
              SELECT 'value' AS col, count(*) AS rows_, count(value) AS n,
                     skewness(value) AS sk, min(value) AS mn, max(value) AS mx
              FROM events
              UNION ALL
              SELECT 'v_gappy', count(*),
                     count(CASE WHEN event_type = 'error' THEN NULL ELSE value END),
                     skewness(CASE WHEN event_type = 'error' THEN NULL ELSE value END),
                     min(CASE WHEN event_type = 'error' THEN NULL ELSE value END),
                     max(CASE WHEN event_type = 'error' THEN NULL ELSE value END)
              FROM events
            )
            SELECT col,
                   coalesce(nullif(concat_ws(',',
                     CASE WHEN sk > 1.0 THEN
                            CASE WHEN mn >= 0 THEN 'log_transform'
                                 ELSE 'sqrt_after_shift' END
                          WHEN sk < -1.0 THEN 'square_transform' END,
                     CASE WHEN mx - mn > 100.0 THEN 'scale' END,
                     CASE WHEN 100.0 * (rows_ - n) / rows_ > 5.0
                          THEN 'missing_indicator' END
                   ), ''), 'none') AS suggestions
            FROM prof
        """,
        "fill_value_impute": """
            SELECT event_id,
                   round(coalesce(CASE WHEN event_type = 'error' THEN NULL
                                       ELSE value END, -1.0), 6) AS v
            FROM events
        """,
        "outlier_remove": """
            WITH q AS (
              SELECT quantile_cont(value, 0.25) AS q1,
                     quantile_cont(value, 0.75) AS q3
              FROM events
            )
            SELECT event_id, round(value, 6) AS value
            FROM events, q
            WHERE value >= q.q1 - 1.5 * (q.q3 - q.q1)
              AND value <= q.q3 + 1.5 * (q.q3 - q.q1)
        """,
        "udf_predicate_filter": """
            SELECT event_id, value
            FROM events
            WHERE sqrt(value) * ln(1 + value) > 20.0
        """,
        "corpus_cleanse": """
            WITH corpus AS (
              SELECT * FROM documents
              UNION ALL
              SELECT doc_id + 100000, text, lang, source, n_chars
              FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 100)
            ), deduped AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
                FROM corpus
              ) WHERE rn = 1
            ), clean AS (
              SELECT source, doc_id,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                     END AS n_tokens
              FROM deduped WHERE lang = 'en'
            )
            SELECT source, count(*) AS n_docs, sum(n_tokens) AS total_tokens,
                   min(doc_id) AS first_doc
            FROM clean WHERE n_tokens >= 5
            GROUP BY source ORDER BY source
        """,
        "small_quantity_revenue": """
            WITH pa AS (
              SELECT l_partkey, avg(l_quantity) * 0.5 AS half_avg
              FROM lineitem GROUP BY l_partkey
            )
            SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 4) AS avg_yearly,
                   count(*) AS n_small
            FROM lineitem JOIN pa USING (l_partkey)
            WHERE l_quantity < pa.half_avg
        """,
        "snapshot_scale": """
            WITH f AS (
              SELECT avg(value) AS m,
                     stddev_pop(value) AS s
              FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
            )
            SELECT event_id, round((value - f.m) / f.s, 6) AS value_scaled
            FROM events, f
        """,
        "detect_misclassified": """
            WITH s AS (
              SELECT count(*) AS n,
                     count(DISTINCT l_linenumber) AS u1,
                     sum(CASE WHEN l_linenumber <> floor(l_linenumber) THEN 1 ELSE 0 END) AS f1,
                     count(DISTINCT l_quantity) AS u2,
                     sum(CASE WHEN l_quantity <> floor(l_quantity) THEN 1 ELSE 0 END) AS f2,
                     count(DISTINCT l_extendedprice) AS u3,
                     sum(CASE WHEN l_extendedprice <> floor(l_extendedprice) THEN 1 ELSE 0 END) AS f3
              FROM lineitem
            )
            SELECT col, n_unique FROM (
              SELECT 'l_linenumber' AS col, u1 AS n_unique, f1 AS frac, n FROM s
              UNION ALL SELECT 'l_quantity', u2, f2, n FROM s
              UNION ALL SELECT 'l_extendedprice', u3, f3, n FROM s
            ) WHERE n_unique <= 60 AND n_unique / CAST(n AS DOUBLE) < 0.01 AND frac = 0
        """,
        "expanding_impute": """
            SELECT event_id, user_id,
                   round(coalesce(
                     CASE WHEN event_type = 'error' THEN NULL ELSE value END,
                     CAST(sum(CAST(CASE WHEN event_type = 'error' THEN NULL ELSE value END
                                   AS DECIMAL(28,10)))
                            OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE)
                     / count(CASE WHEN event_type = 'error' THEN NULL ELSE value END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   ), 6) AS v_pit
            FROM events
        """,
        "edge_bin": """
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_quantity > 0 AND l_quantity <= 40
                        THEN CAST(l_quantity > 10 AS INT) + CAST(l_quantity > 25 AS INT)
                   END AS qty_bin
            FROM lineitem
        """,
        "whitespace_clean": """
            SELECT doc_id,
                   trim(regexp_replace('  ' || text || '   x  ', '\\s+', ' ', 'g')) AS cleaned
            FROM documents
        """,
        "missing_select": """
            WITH m AS (
              SELECT count(*) AS n,
                     sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS miss_v,
                     sum(CASE WHEN event_type = 'view' THEN 0 ELSE 1 END) AS miss_mostly,
                     sum(CASE WHEN event_type <> 'error' THEN 0 ELSE 1 END) AS miss_some
              FROM events
            )
            SELECT kept_column FROM (
              SELECT 'value' AS kept_column, miss_v / CAST(n AS DOUBLE) AS r FROM m
              UNION ALL SELECT 'mostly_null', miss_mostly / CAST(n AS DOUBLE) FROM m
              UNION ALL SELECT 'sometimes_null', miss_some / CAST(n AS DOUBLE) FROM m
            ) WHERE r <= 0.5
        """,
        "rolling_median": """
            SELECT event_id, user_id,
                   round(median(value) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS roll_med5
            FROM events
        """,
        "asof_forward": """
            WITH anchors AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            ), features AS (
              SELECT user_id, ts, max(value) AS view_value
              FROM events WHERE event_type = 'view' GROUP BY user_id, ts
            )
            SELECT a.event_id, a.user_id, epoch(a.ts) AS ts_s, f.view_value
            FROM anchors a ASOF LEFT JOIN features f
              ON a.user_id = f.user_id AND a.ts <= f.ts
        """,
        "asof_nearest": """
            WITH anchors AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            ), features AS (
              SELECT user_id, ts, max(value) AS view_value
              FROM events WHERE event_type = 'view' GROUP BY user_id, ts
            ), b AS (
              SELECT a.event_id, f.view_value AS bv, epoch_us(f.ts) AS bt
              FROM anchors a ASOF LEFT JOIN features f
                ON a.user_id = f.user_id AND a.ts >= f.ts
            ), fw AS (
              SELECT a.event_id, f.view_value AS fv, epoch_us(f.ts) AS ft
              FROM anchors a ASOF LEFT JOIN features f
                ON a.user_id = f.user_id AND a.ts <= f.ts
            )
            SELECT a.event_id, a.user_id, epoch(a.ts) AS ts_s,
                   CASE WHEN b.bt IS NOT NULL AND (fw.ft IS NULL OR
                             epoch_us(a.ts) - b.bt <= fw.ft - epoch_us(a.ts))
                        THEN b.bv ELSE fw.fv END AS view_value
            FROM anchors a
            JOIN b USING (event_id) JOIN fw USING (event_id)
        """,
        "asof_tolerance": """
            WITH anchors AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            ), features AS (
              SELECT user_id, ts, max(value) AS purchase_value
              FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            )
            SELECT a.event_id, a.user_id, epoch(a.ts) AS ts_s,
                   CASE WHEN epoch(a.ts) - epoch(f.ts) <= 3600
                        THEN f.purchase_value END AS purchase_value
            FROM anchors a ASOF LEFT JOIN features f
              ON a.user_id = f.user_id AND a.ts >= f.ts
        """,
        "group_join_agg": """
            SELECT l_orderkey, l_linenumber, l_partkey,
                   round(avg(l_quantity) OVER (PARTITION BY l_partkey), 6) AS qty_part_mean,
                   max(l_quantity) OVER (PARTITION BY l_partkey) AS qty_part_max
            FROM lineitem
        """,
        "regional_revenue": """
            SELECT n_name,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
            GROUP BY n_name
            ORDER BY revenue DESC, n_name ASC
        """,
        "bartlett": """
            -- events has exactly 5 classes -> chi2 df = 4:
            -- sf(x, 4) = exp(-x/2) * (1 + x/2) closed form
            WITH g AS (
              SELECT event_type, count(value) AS n, var_samp(value) AS v
              FROM events GROUP BY event_type HAVING count(value) > 1
            ), agg AS (
              SELECT count(*) AS k, sum(n) AS N,
                     sum((n - 1) * v) / (sum(n) - count(*)) AS sp2,
                     sum((n - 1) * ln(v)) AS slv,
                     sum(1.0 / (n - 1)) AS sinv
              FROM g
            ), t AS (
              SELECT ((N - k) * ln(sp2) - slv)
                     / (1 + (sinv - 1.0 / (N - k)) / (3.0 * (k - 1))) AS stat
              FROM agg
            )
            SELECT round(stat, 6) AS stat,
                   round(exp(-stat / 2) * (1 + stat / 2), 6) AS pvalue
            FROM t
        """,
        "kruskal_wallis": """
            -- tie-corrected midranks from distinct-value prefix sums;
            -- 5 classes -> chi2 df = 4 closed-form survival
            WITH d AS (
              SELECT event_type AS g, value AS v FROM events WHERE value IS NOT NULL
            ), vc AS (
              SELECT v, count(*) AS c FROM d GROUP BY v
            ), vr AS (
              SELECT v, c, sum(c) OVER (ORDER BY v) - c + (c + 1) / 2.0 AS ar FROM vc
            ), j AS (
              SELECT d.g, vr.ar FROM d JOIN vr ON d.v = vr.v
            ), pg AS (
              SELECT g, sum(ar) AS R, count(*) AS n FROM j GROUP BY g
            ), tot AS (
              SELECT CAST(sum(n) AS DOUBLE) AS N FROM pg
            ), ties AS (
              SELECT sum(CAST(c AS DOUBLE) * c * c - c) AS tie FROM vc
            ), h AS (
              SELECT (12.0 / (N * (N + 1)) * (SELECT sum(R * R / n) FROM pg)
                      - 3.0 * (N + 1))
                     / (1 - tie / (N * N * N - N)) AS stat
              FROM tot, ties
            )
            SELECT round(stat, 6) AS stat,
                   round(exp(-stat / 2) * (1 + stat / 2), 6) AS pvalue
            FROM h
        """,
        "ivf_topk": """
            WITH c AS (
              SELECT vec_id AS centroid_id, embedding AS cvec
              FROM embeddings ORDER BY vec_id LIMIT 8
            ), s AS (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     list_sum(list_transform(list_zip(e.embedding, c.cvec),
                                             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(c.cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS csim
              FROM embeddings e, c
            ), a AS (
              SELECT vec_id, embedding, centroid_id,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY csim DESC, centroid_id ASC) AS rn
              FROM s
            ), assign AS (
              SELECT vec_id, embedding, centroid_id FROM a WHERE rn = 1
            ), q AS (
              SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
            ), pr AS (
              SELECT centroid_id FROM c, q
              ORDER BY list_sum(list_transform(list_zip(cvec, qvec),
                                               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
                       centroid_id ASC
              LIMIT 2
            )
            SELECT vec_id, centroid_id,
                   round(list_sum(list_transform(list_zip(embedding, qvec),
                                                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                         / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                            * sqrt(list_sum(list_transform(qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos_sim
            FROM assign, q
            WHERE centroid_id IN (SELECT centroid_id FROM pr)
            ORDER BY cos_sim DESC, vec_id ASC
            LIMIT 10
        """,
    }
    d.update(d_static)
    # sketch-path PSI must equal the raw-slice PSI bit-for-bit (the
    # fixed-edge histogram merge is lossless) — same oracle SQL
    d["psi_sketch"] = d_static["psi_drift"]
    d["context_truncate"] = _TRANSCRIPT_CTE + """
        , t AS (
          SELECT conv_id, turn_idx,
                 CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END AS BIGINT) AS n_tokens
            FROM transcript
        ),
        wsum AS (
          SELECT conv_id, turn_idx, n_tokens,
                 sum(CASE WHEN turn_idx < 1 THEN n_tokens ELSE 0 END)
                   OVER (PARTITION BY conv_id) AS head_tokens,
                 sum(CASE WHEN turn_idx < 1 THEN 0 ELSE n_tokens END)
                   OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sfx
            FROM t
        )
        SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, n_tokens,
               (turn_idx < 1 OR sfx + head_tokens <= 5) AS kept
          FROM wsum
    """
    d["length_buckets"] = """
        WITH t AS (
          SELECT doc_id,
                 CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END AS BIGINT) AS n_tokens
            FROM documents
        ),
        b AS (
          SELECT doc_id, n_tokens,
                 coalesce(list_filter([16, 32, 64, 128, 256, 512, 1024,
                                       2048, 4096, 8192],
                                      e -> e >= n_tokens)[1], -1) AS bucket
            FROM t
        )
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(coalesce(sum(CASE WHEN bucket > 0
                                      THEN bucket - n_tokens END), 0)
                    AS BIGINT) AS padding_tokens,
               round(CASE WHEN bucket > 0 THEN
                 CAST(coalesce(sum(CASE WHEN bucket > 0
                                        THEN bucket - n_tokens END), 0) AS DOUBLE)
                 / (bucket * count(*)) END, 9) AS padding_frac
          FROM b GROUP BY bucket
    """
    d["corpus_report"] = """
        WITH base AS (
          SELECT source AS facet,
                 CAST(len(list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                                      x -> x <> '')) AS BIGINT) AS t,
                 coalesce(text, '') AS x
            FROM documents
        ),
        scal AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(t) AS BIGINT) AS total_tokens,
                 round(CAST(sum(t) AS DOUBLE) / count(*), 9) AS mean_tokens,
                 round(CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 9) AS empty_rate,
                 round(CAST(sum(CASE WHEN t < 5 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 9) AS short_rate,
                 round(1.0 - CAST(count(DISTINCT x) AS DOUBLE) / count(*), 9) AS exact_dup_rate
            FROM base
        ),
        fac AS (
          SELECT facet, CAST(count(*) AS BIGINT) AS n_facet
            FROM base GROUP BY facet
           ORDER BY n_facet DESC, facet ASC
           LIMIT 10
        )
        SELECT facet, n_facet,
               round(CAST(n_facet AS DOUBLE) / n_docs, 9) AS share,
               n_docs, total_tokens, mean_tokens, empty_rate, short_rate,
               exact_dup_rate
          FROM fac CROSS JOIN scal
    """
    d["cohen_kappa"] = """
        WITH src AS (
          SELECT event_id % 500 AS item, user_id % 2 AS rater,
                 event_type AS label
            FROM events
        ),
        p AS (
          SELECT item,
                 min(CASE WHEN rater = 0 THEN label END) AS la,
                 min(CASE WHEN rater = 1 THEN label END) AS lb
            FROM src GROUP BY item
        ),
        q AS (SELECT la, lb FROM p WHERE la IS NOT NULL AND lb IS NOT NULL),
        s AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS a
            FROM q
        ),
        ca AS (SELECT la AS l, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY la),
        cb AS (SELECT lb AS l, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY lb),
        pe AS (
          SELECT CAST(sum(ca.c * cb.c) AS BIGINT) AS p
            FROM ca JOIN cb USING (l)
        )
        SELECT s.n AS n_items,
               CAST(s.a AS DOUBLE) / s.n AS po,
               CAST(pe.p AS DOUBLE) / (s.n * s.n) AS pe,
               CASE WHEN s.n * s.n - pe.p = 0 THEN 0.0
                    ELSE CAST(s.a * s.n - pe.p AS DOUBLE) / (s.n * s.n - pe.p)
               END AS kappa
          FROM s, pe
    """
    d["fleiss_kappa"] = """
        WITH src AS (
          SELECT event_id % 193 AS item, user_id % 5 AS rater,
                 min(event_type) AS label
            FROM events GROUP BY event_id % 193, user_id % 5
        ),
        c AS (SELECT item, label, CAST(count(*) AS BIGINT) AS c
                FROM src GROUP BY item, label),
        pi AS (SELECT item, sum(c) AS m, sum(c * c) AS s2
                 FROM c GROUP BY item),
        kept AS (SELECT item, s2 FROM pi WHERE m = 5),
        s AS (
          SELECT CAST(count(*) AS BIGINT) AS n_items,
                 CAST(coalesce(sum(s2), 0) AS BIGINT) AS a
            FROM kept
        ),
        tl AS (
          SELECT c.label, CAST(sum(c.c) AS BIGINT) AS cl
            FROM c JOIN kept USING (item) GROUP BY c.label
        ),
        b AS (SELECT CAST(coalesce(sum(cl * cl), 0) AS BIGINT) AS b FROM tl),
        fin AS (
          SELECT s.n_items,
                 CAST(s.a - s.n_items * 5 AS DOUBLE)
                   / (s.n_items * 5 * 4) AS p_bar,
                 CAST(b.b AS DOUBLE)
                   / (s.n_items * 5 * s.n_items * 5) AS p_e
            FROM s, b
        )
        SELECT n_items, p_bar, p_e,
               CASE WHEN p_e = 1.0 THEN 0.0
                    ELSE (p_bar - p_e) / (1.0 - p_e) END AS kappa
          FROM fin
    """
    _battles_cte = """
        WITH battles AS (
          SELECT 'm' || CAST(user_id % 8 AS VARCHAR) AS model_a,
                 'm' || CAST((user_id * 7 + 3) % 8 AS VARCHAR) AS model_b,
                 CASE WHEN value >= 10
                        THEN 'm' || CAST(user_id % 8 AS VARCHAR)
                      WHEN value >= 2
                        THEN 'm' || CAST((user_id * 7 + 3) % 8 AS VARCHAR)
                      ELSE 'draw' END AS winner
            FROM events WHERE value IS NOT NULL
        ),
        sides AS (
          SELECT model_a AS model, model_b AS opponent,
                 CASE WHEN winner = model_a THEN 1 ELSE 0 END AS win
            FROM battles
          UNION ALL
          SELECT model_b, model_a,
                 CASE WHEN winner = model_b THEN 1 ELSE 0 END
            FROM battles
        )"""
    d["model_winrates"] = _battles_cte + """
        SELECT model, CAST(count(*) AS BIGINT) AS n_games,
               CAST(sum(win) AS BIGINT) AS n_wins,
               CAST(sum(win) AS DOUBLE) / count(*) AS winrate
          FROM sides GROUP BY model
    """
    # Bradley-Terry: the identical exact-integer MM iteration as
    # operators/evals.py bradley_terry (S = 10^6), chained CTEs.
    _bt_scale = 10**6
    _bt = [_battles_cte + f""",
        rec AS (
          SELECT model, CAST(count(*) AS BIGINT) AS n_games,
                 CAST(sum(win) AS BIGINT) AS n_wins
            FROM sides GROUP BY model
        ),
        pairs AS (
          SELECT model, opponent, CAST(count(*) AS BIGINT) AS nij
            FROM sides GROUP BY model, opponent
        ),
        kk AS (SELECT count(*) AS k FROM rec),
        r0 AS (
          SELECT model, CAST({_bt_scale} // kk.k AS BIGINT) AS p
            FROM rec, kk
        )"""]
    for _it in range(4):
        _bt.append(f""",
        d{_it} AS (
          SELECT pr.model,
                 CAST(sum((pr.nij * CAST({_bt_scale * _bt_scale} AS BIGINT))
                          // (ri.p + rj.p)) AS BIGINT) AS d
            FROM pairs pr
            JOIN r{_it} ri ON pr.model = ri.model
            JOIN r{_it} rj ON pr.opponent = rj.model
           GROUP BY pr.model
        ),
        w{_it} AS (
          SELECT rec.model,
                 CAST((rec.n_wins * CAST({_bt_scale * _bt_scale} AS BIGINT))
                      // d{_it}.d AS BIGINT) AS pr
            FROM rec JOIN d{_it} USING (model)
        ),
        t{_it} AS (SELECT CAST(sum(pr) AS BIGINT) AS tot FROM w{_it}),
        r{_it + 1} AS (
          SELECT model,
                 CAST(greatest((pr * {_bt_scale}) // tot, 1) AS BIGINT) AS p
            FROM w{_it}, t{_it}
        )""")
    _bt.append(f"""
        SELECT r4.model, r4.p AS rating_fp,
               CAST(r4.p AS DOUBLE) / {float(_bt_scale)} AS rating,
               rec.n_wins, rec.n_games
          FROM r4 JOIN rec USING (model)
    """)
    d["bradley_terry"] = "".join(_bt)
    d["qa_metrics"] = r"""
        WITH base AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks
            FROM documents
        ),
        pr AS (
          SELECT doc_id,
                 array_to_string(toks[1:4], ' ') AS pred,
                 array_to_string(toks[3:8], ' ') AS ref
            FROM base
        ),
        tk AS (
          SELECT doc_id,
                 CASE WHEN trim(lower(coalesce(pred, ''))) = ''
                      THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(lower(pred)), '\s+')
                 END AS p,
                 CASE WHEN trim(lower(coalesce(ref, ''))) = ''
                      THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(lower(ref)), '\s+')
                 END AS r
            FROM pr
        ),
        m AS (
          SELECT doc_id,
                 CAST(len(p) AS BIGINT) AS n_pred,
                 CAST(len(r) AS BIGINT) AS n_ref,
                 CAST(coalesce(list_sum(list_transform(list_distinct(p),
                        t -> least(len(list_filter(p, x -> x = t)),
                                   len(list_filter(r, x -> x = t))))), 0)
                      AS BIGINT) AS n_overlap,
                 CASE WHEN p = r THEN 1 ELSE 0 END AS exact_match
            FROM tk
        )
        SELECT doc_id, n_pred, n_ref, n_overlap,
               CASE WHEN n_pred > 0
                    THEN CAST(n_overlap AS DOUBLE) / n_pred ELSE 0.0
               END AS "precision",
               CASE WHEN n_ref > 0
                    THEN CAST(n_overlap AS DOUBLE) / n_ref ELSE 0.0
               END AS recall,
               CASE WHEN n_pred + n_ref > 0
                    THEN CAST(2 * n_overlap AS DOUBLE) / (n_pred + n_ref)
                    ELSE 0.0
               END AS f1,
               CAST(exact_match AS INTEGER) AS exact_match
          FROM m
    """
    d["distinct_ngrams"] = r"""
        WITH t AS (
          SELECT source,
                 regexp_split_to_array(trim(lower(coalesce(text, ''))),
                                       '\s+') AS toks
            FROM documents
        ),
        g AS (
          SELECT source,
                 unnest(list_transform(generate_series(1, len(toks) - 1),
                        i -> array_to_string(toks[i:i+1], ' '))) AS gram
            FROM t WHERE len(toks) >= 2
        )
        SELECT source,
               CAST(count(DISTINCT gram) AS BIGINT) AS distinct_grams,
               CAST(count(*) AS BIGINT) AS total_grams,
               CAST(count(DISTINCT gram) AS DOUBLE) / count(*) AS distinct_ratio
          FROM g GROUP BY source
    """
    # shared oracle twin of _pred_ref_pairs + tokenization, used by the
    # summary-eval trio (bleu / rouge / rouge_l)
    _pred_ref_ctes = r"""
        WITH base AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks
            FROM documents
        ),
        pr AS (
          SELECT doc_id,
                 array_to_string(toks[1:8], ' ') AS pred,
                 array_to_string(toks[3:10], ' ') AS ref
            FROM base
        ),
        tk AS (
          SELECT doc_id,
                 CASE WHEN trim(lower(coalesce(pred, ''))) = ''
                      THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(lower(pred)), '\s+')
                 END AS p,
                 CASE WHEN trim(lower(coalesce(ref, ''))) = ''
                      THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(lower(ref)), '\s+')
                 END AS r
            FROM pr
        )"""
    _bleu_grams = "\n".join(
        f"""
                 CASE WHEN len(p) >= {n}
                      THEN list_transform(generate_series(1, len(p) - {n - 1}),
                             i -> array_to_string(p[i:i+{n - 1}], ' '))
                      ELSE CAST([] AS VARCHAR[]) END AS pg{n},
                 CASE WHEN len(r) >= {n}
                      THEN list_transform(generate_series(1, len(r) - {n - 1}),
                             i -> array_to_string(r[i:i+{n - 1}], ' '))
                      ELSE CAST([] AS VARCHAR[]) END AS rg{n},"""
        for n in range(1, 5)
    )
    _bleu_counts = "\n".join(
        f"""
                 CAST(coalesce(list_sum(list_transform(list_distinct(pg{n}),
                        t -> least(len(list_filter(pg{n}, x -> x = t)),
                                   len(list_filter(rg{n}, x -> x = t))))), 0)
                      AS BIGINT) AS match_{n},
                 CAST(len(pg{n}) AS BIGINT) AS total_{n},"""
        for n in range(1, 5)
    )
    d["bleu"] = _pred_ref_ctes + rf""",
        g AS (
          SELECT doc_id, p, r,{_bleu_grams}
                 CAST(len(p) AS BIGINT) AS n_pred,
                 CAST(len(r) AS BIGINT) AS n_ref
            FROM tk
        ),
        m AS (
          SELECT doc_id, n_pred, n_ref,{_bleu_counts}
                 CASE WHEN n_pred = 0 THEN 0.0
                      WHEN n_pred > n_ref THEN 1.0
                      ELSE exp(1.0 - CAST(n_ref AS DOUBLE) / n_pred)
                 END AS bp
            FROM g
        )
        SELECT doc_id, n_pred, n_ref,
               match_1, total_1, match_2, total_2,
               match_3, total_3, match_4, total_4,
               round(bp, 9) AS brevity_penalty,
               round(CASE WHEN match_1 = 0 OR total_1 = 0 OR match_2 = 0
                               OR total_2 = 0 OR match_3 = 0 OR total_3 = 0
                               OR match_4 = 0 OR total_4 = 0
                          THEN 0.0
                          ELSE bp * exp((ln(CAST(match_1 AS DOUBLE) / total_1)
                                       + ln(CAST(match_2 AS DOUBLE) / total_2)
                                       + ln(CAST(match_3 AS DOUBLE) / total_3)
                                       + ln(CAST(match_4 AS DOUBLE) / total_4))
                                       / 4.0)
                     END, 9) AS bleu
          FROM m
    """
    _rouge_grams = "\n".join(
        f"""
                 CASE WHEN len(p) >= {n}
                      THEN list_transform(generate_series(1, len(p) - {n - 1}),
                             i -> array_to_string(p[i:i+{n - 1}], ' '))
                      ELSE CAST([] AS VARCHAR[]) END AS pg{n},
                 CASE WHEN len(r) >= {n}
                      THEN list_transform(generate_series(1, len(r) - {n - 1}),
                             i -> array_to_string(r[i:i+{n - 1}], ' '))
                      ELSE CAST([] AS VARCHAR[]) END AS rg{n},"""
        for n in (1, 2)
    )
    _rouge_counts = "\n".join(
        f"""
                 CAST(coalesce(list_sum(list_transform(list_distinct(pg{n}),
                        t -> least(len(list_filter(pg{n}, x -> x = t)),
                                   len(list_filter(rg{n}, x -> x = t))))), 0)
                      AS BIGINT) AS r{n}_match,
                 CAST(len(pg{n}) AS BIGINT) AS r{n}_pred_total,
                 CAST(len(rg{n}) AS BIGINT) AS r{n}_ref_total,"""
        for n in (1, 2)
    )
    _rouge_prf = "\n".join(
        f"""
                 CASE WHEN r{n}_pred_total > 0
                      THEN CAST(r{n}_match AS DOUBLE) / r{n}_pred_total
                      ELSE 0.0 END AS p{n},
                 CASE WHEN r{n}_ref_total > 0
                      THEN CAST(r{n}_match AS DOUBLE) / r{n}_ref_total
                      ELSE 0.0 END AS rr{n},"""
        for n in (1, 2)
    )
    _rouge_out = ",\n".join(
        f"""
               r{n}_match, r{n}_pred_total, r{n}_ref_total,
               round(p{n}, 9) AS rouge{n}_p,
               round(rr{n}, 9) AS rouge{n}_r,
               CASE WHEN p{n} + rr{n} > 0
                    THEN round(2.0 * p{n} * rr{n} / (p{n} + rr{n}), 9)
                    ELSE 0.0 END AS rouge{n}_f"""
        for n in (1, 2)
    )
    d["rouge"] = _pred_ref_ctes + rf""",
        g AS (
          SELECT doc_id,{_rouge_grams}
                 1 AS _pad
            FROM tk
        ),
        m AS (
          SELECT doc_id,{_rouge_counts}
                 1 AS _pad
            FROM g
        ),
        prf AS (
          SELECT m.*,{_rouge_prf}
                 1 AS _pad2
            FROM m
        )
        SELECT doc_id,{_rouge_out}
          FROM prf
    """
    d["rouge_l"] = _pred_ref_ctes + r""",
        tkc AS (
          -- rouge_l's max_tokens=256 truncation of the shared tk CTE
          SELECT doc_id, p[1:256] AS p, r[1:256] AS r FROM tk
        ),
        l AS (
          SELECT doc_id,
                 CAST(len(p) AS BIGINT) AS l_pred_total,
                 CAST(len(r) AS BIGINT) AS l_ref_total,
                 CAST(CASE WHEN len(p) = 0 OR len(r) = 0 THEN 0
                 ELSE list_reduce(
                   list_prepend(list_transform(generate_series(0, len(r)), x -> 0),
                                list_transform(generate_series(1, len(p)), i -> [i])),
                   (row, xi) -> list_reduce(
                       list_prepend([0], list_transform(generate_series(1, len(r)), j -> [j])),
                       (nr, xj) -> list_append(nr,
                           CASE WHEN r[xj[1]] = p[xi[1]] THEN row[xj[1]] + 1
                                ELSE greatest(row[xj[1] + 1], nr[-1]) END)
                   )
                 )[-1] END AS BIGINT) AS lcs_len
            FROM tkc
        ),
        prf AS (
          SELECT doc_id, lcs_len, l_pred_total, l_ref_total,
                 CASE WHEN l_pred_total > 0
                      THEN CAST(lcs_len AS DOUBLE) / l_pred_total
                      ELSE 0.0 END AS p,
                 CASE WHEN l_ref_total > 0
                      THEN CAST(lcs_len AS DOUBLE) / l_ref_total
                      ELSE 0.0 END AS r
            FROM l
        )
        SELECT doc_id, lcs_len, l_pred_total, l_ref_total,
               round(p, 9) AS rougeL_p,
               round(r, 9) AS rougeL_r,
               CASE WHEN p + r > 0
                    THEN round(2.0 * p * r / (p + r), 9)
                    ELSE 0.0 END AS rougeL_f
          FROM prf
    """
    d["js_divergence"] = r"""
        WITH lo AS (
          SELECT unnest(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+')) AS value,
                 1 AS is_r
            FROM documents
           WHERE source IN ('src0','src1','src2','src3','src4',
                            'src5','src6','src7','src8','src9')
             AND trim(coalesce(text, '')) <> ''
        ), hi AS (
          SELECT unnest(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+')) AS value,
                 0 AS is_r
            FROM documents
           WHERE source NOT IN ('src0','src1','src2','src3','src4',
                                'src5','src6','src7','src8','src9')
             AND trim(coalesce(text, '')) <> ''
        ), cnt AS (
          SELECT value,
                 CAST(sum(is_r) AS BIGINT) AS n_ref,
                 CAST(sum(1 - is_r) AS BIGINT) AS n_cur
            FROM (SELECT * FROM lo UNION ALL SELECT * FROM hi)
           GROUP BY value
        ), tot AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM cnt
        ), terms AS (
          SELECT value, n_ref, n_cur,
                 n_ref / tr AS pr, n_cur / tc AS pc,
                 CAST(round((
                     CASE WHEN n_ref > 0
                          THEN (n_ref / tr) * ln((n_ref / tr) / ((n_ref / tr + n_cur / tc) / 2.0))
                          ELSE 0.0 END
                   + CASE WHEN n_cur > 0
                          THEN (n_cur / tc) * ln((n_cur / tc) / ((n_ref / tr + n_cur / tc) / 2.0))
                          ELSE 0.0 END) / 2.0, 12) AS DECIMAL(24,12)) AS term
            FROM cnt, tot
        ), total AS (SELECT sum(term) AS jt FROM terms)
        SELECT value, n_ref, n_cur,
               round(pr, 9) AS p_ref, round(pc, 9) AS p_cur,
               round(CAST(term AS DOUBLE), 9) AS js_term,
               round(CAST(jt AS DOUBLE), 9) AS js_total
          FROM terms, total
    """
    d["cluster_keywords"] = r"""
        WITH toks AS (
          SELECT source AS label,
                 unnest(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+')) AS token
            FROM documents
           WHERE trim(coalesce(text, '')) <> ''
        ), tf AS (
          SELECT label, token, CAST(count(*) AS BIGINT) AS tf
            FROM toks GROUP BY label, token
        ), ft AS (
          SELECT token, sum(tf) AS f_t FROM tf GROUP BY token
        ), a AS (
          SELECT sum(tf) AS tot, count(*) AS k
            FROM (SELECT label, sum(tf) AS tf FROM tf GROUP BY label)
        ), scored AS (
          SELECT tf.label, tf.token, tf.tf,
                 round(tf.tf * ln(1.0 + (a.tot / a.k) / ft.f_t), 9) AS ctfidf
            FROM tf JOIN ft USING (token) CROSS JOIN a
        ), ranked AS (
          SELECT label, token, tf, ctfidf,
                 CAST(row_number() OVER (
                        PARTITION BY label
                        ORDER BY ctfidf DESC, token ASC) AS INTEGER) AS rank
            FROM scored
        )
        SELECT label, token, tf, ctfidf, rank FROM ranked WHERE rank <= 3
    """
    d["ngram_novelty"] = r"""
        WITH tk AS (
          SELECT doc_id, source,
                 regexp_split_to_array(trim(lower(coalesce(text, ''))),
                                       '\s+') AS toks
            FROM documents
        ),
        corpus AS (
          SELECT DISTINCT unnest(list_transform(
                   generate_series(1, len(toks) - 1),
                   i -> array_to_string(toks[i:i+1], ' '))) AS gram
            FROM tk WHERE source <> 'src0' AND len(toks) >= 2
        ),
        gen AS (
          SELECT doc_id, unnest(list_transform(
                   generate_series(1, len(toks) - 1),
                   i -> array_to_string(toks[i:i+1], ' '))) AS gram
            FROM tk WHERE source = 'src0' AND len(toks) >= 2
        ),
        cnt AS (
          SELECT doc_id, gram, count(*) AS c FROM gen GROUP BY 1, 2
        ),
        per AS (
          SELECT cnt.doc_id,
                 sum(CASE WHEN corpus.gram IS NULL THEN c ELSE 0 END) AS novel,
                 sum(c) AS total
            FROM cnt LEFT JOIN corpus USING (gram)
           GROUP BY cnt.doc_id
        )
        SELECT t.doc_id,
               CAST(coalesce(per.novel, 0) AS BIGINT) AS novel_grams,
               CAST(coalesce(per.total, 0) AS BIGINT) AS total_grams,
               CASE WHEN coalesce(per.total, 0) > 0
                    THEN CAST(per.novel AS DOUBLE) / per.total
               END AS novelty
          FROM (SELECT DISTINCT doc_id FROM tk WHERE source = 'src0') t
          LEFT JOIN per ON t.doc_id = per.doc_id
    """
    d["tool_args"] = """
        WITH src AS (
          SELECT event_id,
                 CASE WHEN event_id % 7 = 0
                      THEN substring(props, 1, length(props) - 1)
                      ELSE props END AS args
            FROM events
        )
        SELECT event_id,
               CASE WHEN json_valid(args) THEN 1 ELSE 0 END AS json_ok,
               CAST(CASE WHEN json_valid(args)
                         THEN len(json_keys(args)) ELSE -1
                    END AS INTEGER) AS n_keys,
               CAST(CASE WHEN json_valid(args)
                         THEN len(list_filter(['k', 'missing'],
                                  q -> NOT list_contains(json_keys(args), q)))
                         ELSE -1
                    END AS INTEGER) AS missing_required
          FROM src
    """
    _vocab_cte = r"""
        WITH tk AS (
          SELECT CASE WHEN trim(lower(coalesce(text, ''))) = ''
                      THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(lower(text)), '\s+')
                 END AS toks
            FROM documents
        ),
        ex AS (SELECT unnest(toks) AS token FROM tk),
        g AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
                FROM ex GROUP BY token)"""
    d["vocab_stats"] = _vocab_cte + """,
        s AS (
          SELECT CAST(sum(freq) AS BIGINT) AS n_tokens,
                 CAST(count(*) AS BIGINT) AS vocab_size,
                 CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS hapax_count,
                 CAST(sum(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS doubleton_count
            FROM g
        )
        SELECT n_tokens, vocab_size, hapax_count, doubleton_count,
               CAST(vocab_size AS DOUBLE) / n_tokens AS type_token_ratio,
               CAST(hapax_count AS DOUBLE) / vocab_size AS hapax_share,
               vocab_size + CASE WHEN doubleton_count > 0
                    THEN CAST(hapax_count * hapax_count AS DOUBLE)
                         / (2 * doubleton_count)
                    ELSE 0.0 END AS chao1
          FROM s
    """
    d["phrase_scan"] = """
        WITH t AS (
          SELECT doc_id, lower(coalesce(text, '')) AS tl FROM documents
        )
        SELECT doc_id,
               CAST((CASE WHEN strpos(tl, 'slow') > 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN strpos(tl, 'error fast') > 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN strpos(tl, 'null') > 0 THEN 1 ELSE 0 END)
                    AS INTEGER) AS phrase_hits,
               CASE WHEN strpos(tl, 'slow') > 0 THEN 'slow'
                    WHEN strpos(tl, 'error fast') > 0 THEN 'error fast'
                    WHEN strpos(tl, 'null') > 0 THEN 'null'
               END AS phrase_first,
               CASE WHEN strpos(tl, 'slow') > 0
                      OR strpos(tl, 'error fast') > 0
                      OR strpos(tl, 'null') > 0
                    THEN 1 ELSE 0 END AS has_phrase
          FROM t
    """
    d["semantic_decontaminate"] = """
        WITH tr AS (
          SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 != 0
        ),
        be AS (
          SELECT vec_id AS bid, embedding AS bvec
            FROM embeddings WHERE vec_id % 5 = 0
        ),
        s AS (
          SELECT tr.vec_id, be.bid,
                 round(
                   list_sum(list_transform(list_zip(tr.embedding, be.bvec),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(tr.embedding,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(be.bvec,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                   6) AS sim
            FROM tr, be
        ),
        m AS (
          SELECT vec_id, sim, bid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY sim DESC, bid DESC) AS rn
            FROM s
        )
        SELECT vec_id, sim AS max_bench_sim,
               CAST(bid AS BIGINT) AS matched_bench_id,
               CASE WHEN sim >= 0.35 THEN 1 ELSE 0 END AS contaminated
          FROM m WHERE rn = 1
    """
    d["pass_at_k"] = """
        WITH s AS (
          SELECT event_id % 97 AS problem_id,
                 CASE WHEN value >= 8 THEN 1 ELSE 0 END AS ok
            FROM events WHERE value IS NOT NULL
        ),
        a AS (
          SELECT problem_id, CAST(count(*) AS BIGINT) AS n_samples,
                 CAST(sum(ok) AS BIGINT) AS n_correct
            FROM s GROUP BY problem_id
        )
        SELECT problem_id, n_samples, n_correct,
               1.0 - (CASE WHEN n_samples - n_correct < 5 THEN 0.0
                      ELSE list_reduce(
                             list_prepend(CAST(1.0 AS DOUBLE),
                               list_transform(generate_series(0, 4),
                                 i -> CAST(n_samples - n_correct - i AS DOUBLE)
                                      / (n_samples - i))),
                             (acc, x) -> acc * x)
                      END) AS pass_at_k
          FROM a WHERE n_samples >= 5
    """
    d["majority_vote"] = """
        WITH s AS (
          SELECT event_id % 131 AS problem_id, event_type AS answer,
                 CASE WHEN (event_id % 131) % 2 = 0 THEN 'click'
                      ELSE 'view' END AS ref
            FROM events
        ),
        c AS (
          SELECT problem_id, answer, CAST(count(*) AS BIGINT) AS c,
                 min(ref) AS r
            FROM s GROUP BY problem_id, answer
        ),
        t AS (
          SELECT problem_id, CAST(sum(c) AS BIGINT) AS n, min(r) AS r
            FROM c GROUP BY problem_id
        ),
        m AS (
          SELECT problem_id, answer, c,
                 row_number() OVER (PARTITION BY problem_id
                                    ORDER BY c DESC, answer ASC) AS rn
            FROM c
        )
        SELECT t.problem_id, t.n AS n_samples, m.answer AS modal_answer,
               m.c AS modal_count, CAST(m.c AS DOUBLE) / t.n AS vote_share,
               CASE WHEN m.answer = t.r THEN 1 ELSE 0 END AS is_correct
          FROM t JOIN m ON t.problem_id = m.problem_id AND m.rn = 1
    """
    d["token_budget"] = f"""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END AS BIGINT) AS n_tokens,
                 {_h60_sql("CAST(doc_id AS VARCHAR)")} AS h
            FROM documents
        ),
        c AS (
          SELECT doc_id, source, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY source
                                     ORDER BY h, doc_id
                                     ROWS UNBOUNDED PRECEDING)
                   AS cum_tokens
            FROM t
        )
        SELECT doc_id, source, n_tokens,
               CAST(cum_tokens AS BIGINT) AS cum_tokens
          FROM c WHERE cum_tokens <= 500
    """
    d["mix_balance"] = """
        -- c*c accumulated as HUGEINT (exact, overflow-proof) mirroring
        -- the engine's decimal(38,0) sum; doubles appear only at the
        -- final division, so parity stays bit-exact.
        WITH g AS (
          SELECT source, CAST(count(*) AS HUGEINT) AS c
            FROM documents GROUP BY source
        ),
        s AS (
          SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_groups,
                 sum(c * c) AS ss,
                 CAST(max(c) AS BIGINT) AS top
            FROM g
        )
        SELECT n_rows, n_groups,
               CAST(ss AS DOUBLE)
                 / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)) AS hhi,
               1.0 - CAST(ss AS DOUBLE)
                 / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)) AS simpson,
               CAST(top AS DOUBLE) / n_rows AS top_share
          FROM s
    """
    d["zipf_table"] = _vocab_cte + """,
        tot AS (SELECT CAST(sum(freq) AS BIGINT) AS t FROM g),
        h AS (
          SELECT token, freq,
                 row_number() OVER (ORDER BY freq DESC, token ASC) AS rnk
            FROM g ORDER BY freq DESC, token ASC LIMIT 20
        )
        SELECT CAST(rnk AS INTEGER) AS rank, token, freq,
               CAST(freq AS DOUBLE) / tot.t AS share,
               CAST(sum(freq) OVER (ORDER BY rnk) AS DOUBLE) / tot.t
                 AS cum_share
          FROM h, tot
    """
    # composed oracle: recall@10 of the LSH result vs the exact top-10,
    # reusing both verified pipelines as CTE bodies (nested WITH)
    d["ann_recall"] = f"""
        WITH approx AS ({d["lsh_topk"]}),
             exact AS (
               SELECT vec_id FROM ({d["cosine_topk"]}) q
                ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
             )
        SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
               CAST((SELECT count(*) FROM approx a
                       JOIN exact e USING (vec_id)) AS BIGINT) AS n_hits,
               CAST((SELECT count(*) FROM approx a
                       JOIN exact e USING (vec_id)) AS DOUBLE)
                 / (SELECT count(*) FROM exact) AS recall
    """
    d["preference_pairs"] = """
        WITH s AS (
          SELECT user_id % 211 AS prompt_id, event_id AS response_id,
                 value AS score
            FROM events WHERE value IS NOT NULL
        ),
        hi AS (
          SELECT prompt_id, response_id, score,
                 row_number() OVER (PARTITION BY prompt_id
                                    ORDER BY score DESC, response_id DESC) AS rn
            FROM s
        ),
        lo AS (
          SELECT prompt_id, response_id, score,
                 row_number() OVER (PARTITION BY prompt_id
                                    ORDER BY score ASC, response_id ASC) AS rn
            FROM s
        ),
        a AS (
          SELECT prompt_id, CAST(count(*) AS BIGINT) AS n_responses
            FROM s GROUP BY prompt_id
        )
        SELECT a.prompt_id,
               hi.response_id AS chosen,
               round(hi.score, 6) AS chosen_score,
               lo.response_id AS rejected,
               round(lo.score, 6) AS rejected_score,
               round(hi.score - lo.score, 6) AS margin,
               a.n_responses
          FROM a
          JOIN hi ON hi.prompt_id = a.prompt_id AND hi.rn = 1
          JOIN lo ON lo.prompt_id = a.prompt_id AND lo.rn = 1
         WHERE a.n_responses >= 2 AND hi.score - lo.score > 0
         ORDER BY a.prompt_id
    """
    d["bm25_topk"] = """
        WITH tok AS (
          SELECT doc_id,
                 unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
            FROM documents
        ), tk AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tk GROUP BY doc_id),
        st AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
        ad AS (SELECT avg(dl) AS avgdl FROM dl),
        qt AS (SELECT doc_id, term FROM tk
                WHERE term IN ('sort', 'spark', 'window')),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                 FROM qt GROUP BY doc_id, term),
        dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        part AS (
          SELECT tf.doc_id,
                 CAST(round(
                   ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / ad.avgdl)), 9)
                 AS DECIMAL(38,9)) AS p
            FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), st, ad
        ),
        agg AS (
          SELECT doc_id, CAST(sum(p) AS DOUBLE) AS bm25,
                 CAST(count(*) AS BIGINT) AS n_query_terms_hit
            FROM part GROUP BY doc_id
        )
        SELECT doc_id, round(bm25, 6) AS bm25, n_query_terms_hit
          FROM agg ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """
    d["best_of_n"] = """
        WITH s AS (
          SELECT event_id % 89 AS problem_id, event_id AS sample_id,
                 value AS reward
            FROM events WHERE value IS NOT NULL
        ),
        a AS (
          SELECT problem_id, CAST(count(*) AS BIGINT) AS n_samples,
                 sum(reward) AS sr, min(reward) AS lo, max(reward) AS hi
            FROM s GROUP BY problem_id
        ),
        w AS (
          SELECT problem_id, sample_id, reward,
                 row_number() OVER (PARTITION BY problem_id
                                    ORDER BY reward DESC, sample_id DESC)
                   AS rn
            FROM s
        )
        SELECT a.problem_id, a.n_samples, w.sample_id AS best_sample,
               w.reward AS best_reward,
               round(a.sr / a.n_samples, 6) AS mean_reward,
               round(a.hi - a.lo, 6) AS reward_range
          FROM a JOIN w ON a.problem_id = w.problem_id AND w.rn = 1
    """
    # the OR-chain replays evals.REFUSAL_PHRASES in list order
    _refusal_flag = " OR ".join(
        f"strpos(lower(coalesce(text, '')), '{p.replace(chr(39), chr(39) * 2)}') > 0"
        for p in (
            "i cannot", "i can't", "i am unable", "i'm unable",
            "as an ai", "i'm sorry, but", "i am sorry, but", "i won't",
        )
    )
    d["refusal_rate"] = f"""
        WITH r AS (
          SELECT 'm' || CAST(user_id % 5 AS VARCHAR) AS model,
                 CASE WHEN value < 2 THEN 'Sorry, I cannot do that.'
                      WHEN value IS NOT NULL THEN event_type END AS text
            FROM events
        )
        SELECT model, CAST(count(*) AS BIGINT) AS n_replies,
               CAST(sum(CASE WHEN {_refusal_flag} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_refusals,
               CAST(sum(CASE WHEN {_refusal_flag} THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*) AS refusal_rate
          FROM r GROUP BY model
    """
    d["discounted_return"] = _TRANSCRIPT_CTE + """,
        r AS (
          SELECT conv_id, turn_idx,
                 CAST(length(text) AS DOUBLE) AS reward
            FROM transcript
        ),
        p AS (
          SELECT conv_id, turn_idx,
                 list(reward) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                    ROWS UNBOUNDED PRECEDING) AS pre
            FROM r
        )
        SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE), pre),
                           (acc, x) -> acc * 0.9 + x) AS discounted_return
          FROM p
    """
    d["prefix_sharing"] = _TRANSCRIPT_CTE + """,
        head AS (
          SELECT conv_id, turn_idx, text,
                 CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END AS BIGINT) AS toks
            FROM transcript WHERE turn_idx < 2
        ),
        pc AS (
          SELECT conv_id,
                 md5(coalesce(string_agg(text, chr(31) ORDER BY turn_idx),
                              '')) AS prefix_hash,
                 CAST(sum(toks) AS BIGINT) AS tok
            FROM head GROUP BY conv_id
        )
        SELECT prefix_hash, CAST(count(*) AS BIGINT) AS n_convs,
               min(tok) AS prefix_tokens, min(conv_id) AS example_conv,
               CAST((count(*) - 1) * min(tok) AS BIGINT) AS saved_tokens
          FROM pc GROUP BY prefix_hash
    """
    d["branch_points"] = _TRANSCRIPT_CTE + """,
        m AS (
          SELECT conv_id, CAST(turn_idx AS BIGINT) AS depth, text AS nxt,
                 md5(coalesce(
                   string_agg(text, chr(31)) OVER (
                     PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   '')) AS prefix_hash
            FROM transcript
        ),
        g AS (
          SELECT prefix_hash, min(depth) AS depth,
                 CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
                 CAST(count(DISTINCT nxt) AS BIGINT) AS n_branches
            FROM m GROUP BY prefix_hash
        )
        SELECT depth, prefix_hash, n_convs, n_branches
          FROM g WHERE n_convs >= 2 AND n_branches >= 2
    """
    d["memorization_scan"] = """
        WITH tok AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(lower(coalesce(text, '')),
                                                  '\\s+', ' ', 'g')),
                              ' ') AS toks
            FROM documents
        ),
        g AS (
          SELECT doc_id,
                 unnest(range(0, greatest(len(toks) - 2, 1))) AS pos,
                 unnest(list_transform(range(0, greatest(len(toks) - 2, 1)),
                                       i -> array_to_string(toks[i+1:i+3],
                                                            ' '))) AS gram
            FROM tok
        ),
        gen AS (SELECT doc_id, pos, gram FROM g WHERE doc_id % 3 = 0),
        corp AS (SELECT DISTINCT gram FROM g WHERE doc_id % 3 <> 0),
        pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
                 FROM gen GROUP BY doc_id),
        mt AS (SELECT gen.doc_id, gen.pos FROM gen JOIN corp USING (gram)),
        isl AS (SELECT doc_id, pos,
                       pos - row_number() OVER (PARTITION BY doc_id
                                                ORDER BY pos) AS grp
                  FROM mt),
        runs AS (SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS l
                   FROM isl GROUP BY doc_id, grp),
        pm AS (SELECT doc_id, CAST(sum(l) AS BIGINT) AS n_matched,
                      CAST(max(l) AS BIGINT) AS longest_run
                 FROM runs GROUP BY doc_id)
        SELECT pd.doc_id, pd.n_grams,
               coalesce(pm.n_matched, 0) AS n_matched,
               coalesce(pm.longest_run, 0) AS longest_run,
               CAST(CASE WHEN pm.longest_run IS NOT NULL
                         THEN pm.longest_run + 2 ELSE 0 END
                    AS BIGINT) AS longest_overlap_tokens
          FROM pd LEFT JOIN pm ON pd.doc_id = pm.doc_id
    """
    d["tool_transitions"] = """
        WITH calls AS (
          SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn,
                 event_type AS tool
            FROM events
        ),
        e AS (
          SELECT coalesce(lag(tool) OVER (PARTITION BY conv_id ORDER BY rn),
                          '<start>') AS src_tool,
                 tool AS dst_tool
            FROM calls
        ),
        c AS (SELECT src_tool, dst_tool,
                     CAST(count(*) AS BIGINT) AS n_transitions
                FROM e GROUP BY src_tool, dst_tool),
        t AS (SELECT src_tool, sum(n_transitions) AS tot
                FROM c GROUP BY src_tool)
        SELECT c.src_tool, c.dst_tool, c.n_transitions,
               CAST(c.n_transitions AS DOUBLE) / t.tot AS p_transition
          FROM c JOIN t USING (src_tool)
    """
    d["calibration_bins"] = """
        WITH s AS (
          SELECT value - floor(value) AS score, user_id % 2 AS label
            FROM events WHERE value IS NOT NULL
        ),
        b AS (
          SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bin,
                 score, label
            FROM s
        )
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               round(sum(score) / count(*), 6) AS mean_score,
               CAST(sum(label) AS DOUBLE) / count(*) AS frac_pos
          FROM b GROUP BY bin
    """
    d["corpus_diff"] = """
        WITH an AS (
          SELECT DISTINCT source,
                 trim(regexp_replace(lower(coalesce(text, '')),
                                     '\s+', ' ', 'g')) AS t
            FROM documents WHERE doc_id % 4 <> 0
        ),
        bn AS (
          SELECT DISTINCT source,
                 trim(regexp_replace(lower(coalesce(text, '')),
                                     '\s+', ' ', 'g')) AS t
            FROM documents WHERE doc_id % 4 <> 1
        ),
        j AS (
          SELECT coalesce(an.source, bn.source) AS source,
                 an.t IS NOT NULL AS ia, bn.t IS NOT NULL AS ib
            FROM an FULL OUTER JOIN bn
              ON an.source = bn.source AND an.t = bn.t
        ),
        g AS (
          SELECT source,
                 CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(sum(CASE WHEN ib AND NOT ia THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_added,
                 CAST(sum(CASE WHEN ia AND NOT ib THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_removed,
                 CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_kept
            FROM j GROUP BY source
        )
        SELECT source, n_a, n_b, n_added, n_removed, n_kept,
               CAST(n_kept AS DOUBLE) / (n_a + n_b - n_kept) AS jaccard
          FROM g
    """
    d["rows_since_event"] = _TRANSCRIPT_CTE + """,
        r AS (
          SELECT conv_id, turn_idx, text,
                 row_number() OVER (PARTITION BY conv_id
                                    ORDER BY turn_idx) AS rn
            FROM transcript
        ),
        s AS (
          SELECT conv_id, turn_idx, rn,
                 max(CASE WHEN text = 'error' THEN rn END)
                   OVER (PARTITION BY conv_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS pr
            FROM r
        )
        SELECT conv_id, turn_idx,
               CAST(rn - pr AS BIGINT) AS rows_since_event
          FROM s
    """
    _thanks = " OR ".join(
        f"strpos(lower(coalesce(text, '')), '{p}') > 0"
        for p in ("thank", "thanks", "perfect", "great, ")
    )
    d["conversation_outcome"] = _TRANSCRIPT_CTE + f""",
        t2 AS (
          SELECT conv_id, CAST(turn_idx AS BIGINT) AS i, role,
                 CASE WHEN text = 'signup' THEN 'Thanks, that worked!'
                      ELSE text END AS text
            FROM transcript
        ),
        flags AS (
          SELECT conv_id, i, role,
                 ({_thanks}) AS th,
                 trim(lower(coalesce(text, ''))) AS tx
            FROM t2
        ),
        lastr AS (
          SELECT conv_id, role AS last_role, i AS last_i
            FROM (SELECT *, row_number() OVER (PARTITION BY conv_id
                                               ORDER BY i DESC) AS rd
                    FROM flags)
           WHERE rd = 1
        ),
        lu AS (
          SELECT conv_id, i AS last_user_turn, th
            FROM (SELECT *, row_number() OVER (PARTITION BY conv_id
                                               ORDER BY i DESC) AS rn
                    FROM flags WHERE role = 'user')
           WHERE rn = 1
        ),
        la AS (
          SELECT conv_id, i AS last_assistant_turn, tx
            FROM (SELECT *, row_number() OVER (PARTITION BY conv_id
                                               ORDER BY i DESC) AS rn
                    FROM flags WHERE role = 'assistant')
           WHERE rn = 1
        ),
        base AS (
          SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns
            FROM flags GROUP BY conv_id
        )
        SELECT base.conv_id, base.n_turns, lastr.last_role,
               (lastr.last_role = 'assistant'
                AND coalesce(la.tx <> '', FALSE)
                AND la.last_assistant_turn = lastr.last_i) AS ended_answered,
               coalesce(lu.th, FALSE) AS user_thanked,
               lu.last_user_turn, la.last_assistant_turn
          FROM base
          JOIN lastr ON base.conv_id = lastr.conv_id
          LEFT JOIN lu ON base.conv_id = lu.conv_id
          LEFT JOIN la ON base.conv_id = la.conv_id
    """
    d["embedding_shift"] = """
        WITH ea AS (
          SELECT u.i AS p, round(avg(u.v), 6) AS ma,
                 CAST(count(*) AS BIGINT) AS na
            FROM (SELECT unnest(list_transform(range(0, len(embedding)),
                            i -> {'i': i, 'v': CAST(embedding[i+1] AS DOUBLE)})) AS u
                    FROM embeddings WHERE vec_id % 2 = 0)
           GROUP BY u.i
        ),
        eb AS (
          SELECT u.i AS p, round(avg(u.v), 6) AS mb,
                 CAST(count(*) AS BIGINT) AS nb
            FROM (SELECT unnest(list_transform(range(0, len(embedding)),
                            i -> {'i': i, 'v': CAST(embedding[i+1] AS DOUBLE)})) AS u
                    FROM embeddings WHERE vec_id % 2 <> 0)
           GROUP BY u.i
        )
        SELECT CAST(count(*) AS BIGINT) AS dim,
               max(na) AS n_a, max(nb) AS n_b,
               round(sqrt(sum(power(ma - mb, 2))), 6) AS mean_l2_shift,
               CASE WHEN sum(ma * ma) > 0 AND sum(mb * mb) > 0
                    THEN round(sum(ma * mb)
                               / (sqrt(sum(ma * ma)) * sqrt(sum(mb * mb))), 6)
               END AS mean_cosine
          FROM ea JOIN eb USING (p)
    """
    d["adjacent_similarity"] = """
        WITH w AS (
          SELECT vec_id, label, embedding,
                 lag(embedding) OVER (PARTITION BY label
                                      ORDER BY vec_id) AS prev
            FROM embeddings
        ),
        s AS (
          SELECT vec_id, label,
                 CASE WHEN prev IS NOT NULL THEN
                   list_sum(list_transform(list_zip(embedding, prev),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 END AS dp,
                 sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nc,
                 CASE WHEN prev IS NOT NULL THEN
                   sqrt(list_sum(list_transform(prev,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 END AS np
            FROM w
        ),
        c AS (
          SELECT vec_id, label,
                 CASE WHEN np IS NOT NULL AND nc * np > 0
                      THEN round(dp / (nc * np), 6)
                 END AS prev_cosine
            FROM s
        )
        SELECT vec_id, label, prev_cosine,
               coalesce(prev_cosine < 0.1, false) AS is_boundary
          FROM c
    """
    # Topic segments: the adjacent_similarity replay plus a per-label
    # running boundary count.
    d["topic_segments"] = d["adjacent_similarity"].replace(
        """SELECT vec_id, label, prev_cosine,
               coalesce(prev_cosine < 0.1, false) AS is_boundary
          FROM c""",
        """SELECT vec_id, label, prev_cosine,
               coalesce(prev_cosine < 0.1, false) AS is_boundary,
               CAST(sum(CASE WHEN coalesce(prev_cosine < 0.1, false)
                             THEN 1 ELSE 0 END)
                 OVER (PARTITION BY label ORDER BY vec_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS segment_id
          FROM c""",
    )
    d["dedup_best"] = """
        WITH src AS (
          SELECT doc_id, substr(text, 1, 20) AS k, length(text) AS quality
            FROM documents
        ),
        g AS (
          SELECT doc_id, quality,
                 trim(regexp_replace(lower(k), '\\s+', ' ', 'g')) AS nk,
                 length(k) AS lk
            FROM src
        ),
        r AS (
          SELECT doc_id,
                 CAST(count(*) OVER (PARTITION BY nk, lk) AS BIGINT) AS n_copies,
                 row_number() OVER (PARTITION BY nk, lk
                                    ORDER BY quality DESC NULLS LAST, doc_id ASC) AS rn
            FROM g
        )
        SELECT doc_id, n_copies FROM r WHERE rn = 1 ORDER BY doc_id
    """
    d["dataset_fingerprint"] = (
        """
        WITH h AS (
          SELECT """
        + _h60_sql(
            "concat_ws(chr(31), "
            "coalesce(CAST(o_orderkey AS VARCHAR), chr(0)), "
            "coalesce(CAST(o_orderstatus AS VARCHAR), chr(0)), "
            "coalesce(CAST(o_orderpriority AS VARCHAR), chr(0)))"
        )
        + """ AS hv
            FROM orders
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(coalesce(
                 ((sum(CAST(hv AS HUGEINT)) % 2305843009213693951)
                   + 2305843009213693951) % 2305843009213693951,
                 0) AS BIGINT) AS fingerprint
          FROM h
    """
    )
    d["position_bias"] = _battles_cte + """
        , g AS (
          SELECT CAST(count(*) AS BIGINT) AS n_battles,
                 CAST(sum(CASE WHEN winner = model_a THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_a_wins,
                 CAST(sum(CASE WHEN winner = model_b THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_b_wins
            FROM battles
        )
        SELECT n_battles, n_a_wins, n_b_wins,
               n_battles - n_a_wins - n_b_wins AS n_draws,
               CAST(n_a_wins AS DOUBLE) / n_battles AS a_win_share,
               CAST(n_b_wins AS DOUBLE) / n_battles AS b_win_share,
               CAST(n_battles - n_a_wins - n_b_wins AS DOUBLE) / n_battles
                 AS draw_share,
               CAST(n_a_wins AS DOUBLE) / n_battles
                 - CAST(n_b_wins AS DOUBLE) / n_battles AS position_gap
          FROM g
    """
    d["length_bias"] = """
        WITH p AS (
          SELECT text AS ct, substr(text, 1, length(text) // 2) AS rt
            FROM documents
        ),
        t AS (
          SELECT CAST(CASE WHEN trim(coalesce(ct, '')) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(ct), '\s+'))
                      END AS BIGINT)
               - CAST(CASE WHEN trim(coalesce(rt, '')) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(rt), '\s+'))
                      END AS BIGINT) AS d
            FROM p
        ),
        g AS (
          SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_chosen_longer,
                 CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rejected_longer,
                 CAST(sum(d) AS BIGINT) AS dsum
            FROM t
        )
        SELECT n_pairs, n_chosen_longer, n_rejected_longer,
               n_pairs - n_chosen_longer - n_rejected_longer AS n_equal,
               CASE WHEN n_chosen_longer + n_rejected_longer > 0
                    THEN CAST(n_chosen_longer AS DOUBLE)
                         / (n_chosen_longer + n_rejected_longer)
               END AS longer_share,
               round(CAST(dsum AS DOUBLE) / n_pairs, 6) AS mean_token_delta,
               CASE WHEN n_chosen_longer + n_rejected_longer > 0
                    THEN round((2 * n_chosen_longer
                                - (n_chosen_longer + n_rejected_longer))
                               / sqrt(CAST(n_chosen_longer + n_rejected_longer
                                           AS DOUBLE)), 6)
               END AS sign_z
          FROM g
    """
    d["repair_timestamps"] = _TRANSCRIPT_CTE + """,
        c AS (
          SELECT conv_id, turn_idx,
                 CASE WHEN turn_idx % 7 = 3 THEN ts - INTERVAL 1 HOUR
                      ELSE ts END AS ts
            FROM transcript
        ),
        r AS (
          SELECT conv_id, turn_idx, ts,
                 max(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx
                               ROWS UNBOUNDED PRECEDING) AS ts2
            FROM c
        )
        SELECT conv_id, turn_idx, epoch_us(ts2) AS ts_us,
               (ts2 > ts) AS ts_was_repaired
          FROM r
    """
    d["dialog_act_mix"] = _TRANSCRIPT_CTE + """,
        t2 AS (
          SELECT role,
                 CASE WHEN text = 'view' THEN 'what is this?'
                      WHEN text = 'click' THEN 'run the report'
                      WHEN text = 'error' THEN ''
                      ELSE text END AS text
            FROM transcript
        ),
        a AS (
          SELECT role,
                 CASE WHEN trim(coalesce(text, '')) = '' THEN 'other'
                      WHEN lower(trim(text)) LIKE '%?'
                        OR regexp_split_to_array(lower(trim(text)),
                                                 '\\s+')[1]
                           IN ('what','why','how','when','where','who','which','can','could','would','should','do','does','is','are')
                        THEN 'question'
                      WHEN regexp_split_to_array(lower(trim(text)),
                                                 '\\s+')[1]
                           IN ('write','make','run','show','give','list','find','create','generate','add','remove','fix','explain','summarize','translate')
                        THEN 'command'
                      ELSE 'statement' END AS dialog_act
            FROM t2
        ),
        c AS (
          SELECT role, dialog_act, CAST(count(*) AS BIGINT) AS n
            FROM a GROUP BY role, dialog_act
        )
        SELECT role, dialog_act, n,
               CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY role) AS share
          FROM c
    """
    d["contrastive_triplets"] = """
        WITH v AS (
          SELECT vec_id, vec_id % 7 AS g, embedding FROM embeddings
        ),
        p AS (
          SELECT a.vec_id AS aid, a.g AS ag, b.vec_id AS cid, b.g AS cg,
                 round(
                   list_sum(list_transform(list_zip(a.embedding, b.embedding),
                              q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(a.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(b.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                   6) AS cos
            FROM v a JOIN v b ON a.vec_id <> b.vec_id
        ),
        pos AS (
          SELECT aid, cid AS pos_id, cos AS pos_cos
            FROM (SELECT *, row_number() OVER (PARTITION BY aid
                            ORDER BY cos DESC, cid ASC) AS rn
                    FROM p WHERE ag = cg)
           WHERE rn = 1
        ),
        neg AS (
          SELECT aid, cid AS neg_id, cos AS neg_cos
            FROM (SELECT *, row_number() OVER (PARTITION BY aid
                            ORDER BY cos DESC, cid ASC) AS rn
                    FROM p WHERE ag <> cg)
           WHERE rn = 1
        )
        SELECT pos.aid AS id, pos.pos_id, pos.pos_cos,
               neg.neg_id, neg.neg_cos
          FROM pos LEFT JOIN neg ON pos.aid = neg.aid
    """
    d["special_token_rate"] = """
        WITH t AS (
          SELECT source,
                 CASE WHEN doc_id % 11 = 0 THEN text || ' </s>'
                      ELSE text END AS text2
            FROM documents
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN strpos(lower(coalesce(text2, '')), '<|endoftext|>') > 0 OR strpos(lower(coalesce(text2, '')), '<|im_start|>') > 0 OR strpos(lower(coalesce(text2, '')), '<|im_end|>') > 0 OR strpos(lower(coalesce(text2, '')), '[inst]') > 0 OR strpos(lower(coalesce(text2, '')), '</s>') > 0 OR strpos(lower(coalesce(text2, '')), '<pad>') > 0 OR strpos(lower(coalesce(text2, '')), '<|assistant|>') > 0 OR strpos(lower(coalesce(text2, '')), '<|user|>') > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated,
               CAST(sum(CASE WHEN strpos(lower(coalesce(text2, '')), '<|endoftext|>') > 0 OR strpos(lower(coalesce(text2, '')), '<|im_start|>') > 0 OR strpos(lower(coalesce(text2, '')), '<|im_end|>') > 0 OR strpos(lower(coalesce(text2, '')), '[inst]') > 0 OR strpos(lower(coalesce(text2, '')), '</s>') > 0 OR strpos(lower(coalesce(text2, '')), '<pad>') > 0 OR strpos(lower(coalesce(text2, '')), '<|assistant|>') > 0 OR strpos(lower(coalesce(text2, '')), '<|user|>') > 0 THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*) AS contamination_rate
          FROM t GROUP BY source
    """
    d["tool_cooccurrence"] = """
        WITH calls AS (
          SELECT DISTINCT 'c' || CAST(user_id AS VARCHAR) AS c,
                 event_type AS t
            FROM events
        ),
        pairs AS (
          SELECT a.t AS tool_a, b.t AS tool_b
            FROM calls a JOIN calls b ON a.c = b.c AND a.t < b.t
        ),
        bt AS (
          SELECT tool_a, tool_b, CAST(count(*) AS BIGINT) AS n_convs_both
            FROM pairs GROUP BY tool_a, tool_b
        ),
        tot AS (
          SELECT t, CAST(count(*) AS BIGINT) AS n FROM calls GROUP BY t
        )
        SELECT bt.tool_a, bt.tool_b, bt.n_convs_both,
               ta.n AS n_convs_a, tb.n AS n_convs_b
          FROM bt
          JOIN tot ta ON bt.tool_a = ta.t
          JOIN tot tb ON bt.tool_b = tb.t
    """
    d["count_encode"] = """
        WITH c AS (
          SELECT event_type, count(*) AS cnt FROM events
          WHERE event_type IS NOT NULL GROUP BY 1
        ), n AS (SELECT sum(cnt) AS n FROM c)
        SELECT e.event_id, round(c.cnt * 1.0 / n.n, 6) AS et_freq
        FROM events e CROSS JOIN n LEFT JOIN c USING (event_type)
    """
    d["target_encode"] = """
        WITH s AS (
          SELECT event_type, count(value) AS n, sum(value) AS s FROM events
          WHERE event_type IS NOT NULL AND value IS NOT NULL GROUP BY 1
        ), p AS (SELECT sum(s) / sum(n) AS prior FROM s)
        SELECT e.event_id,
               round((coalesce(s.s, 0) + 10.0 * p.prior)
                     / (coalesce(s.n, 0) + 10.0), 6) AS et_tenc
        FROM events e CROSS JOIN p LEFT JOIN s USING (event_type)
    """
    d["pit_target_encode"] = """
        WITH t AS (
          SELECT event_id,
                 sum(CAST(value AS DECIMAL(28,3))) OVER w AS s,
                 count(value) OVER w AS c
          FROM events
          WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id,
               round(CASE WHEN c > 0 THEN CAST(s AS DOUBLE) / c END, 6) AS et_pit
        FROM t
    """
    d["rare_categories"] = """
        WITH c AS (
          SELECT CAST(user_id AS VARCHAR) AS u, count(*) AS cnt
          FROM events GROUP BY 1
        )
        SELECT e.event_id,
               CASE WHEN c.cnt >= 25 THEN c.u ELSE '__other__' END AS user_grouped
        FROM events e JOIN c ON CAST(e.user_id AS VARCHAR) = c.u
    """
    d["cyclical_encode"] = """
        SELECT event_id,
               round(sin(2 * pi() * hour(ts) / 24.0), 6) AS hour_sin,
               round(cos(2 * pi() * hour(ts) / 24.0), 6) AS hour_cos,
               round(sin(2 * pi() * month(ts) / 12.0), 6) AS month_sin,
               round(cos(2 * pi() * month(ts) / 12.0), 6) AS month_cos
        FROM events
    """
    d["feature_cross"] = """
        SELECT doc_id,
               CASE WHEN lang IS NULL OR source IS NULL THEN NULL
                    ELSE lang || '|' || source END AS lang_x_source
        FROM documents
    """
    d["rank_uniform"] = """
        WITH r AS (
          SELECT event_id,
                 rank() OVER (ORDER BY value)
                   + (count(*) OVER (PARTITION BY value) - 1) / 2.0 AS mr,
                 count(*) OVER () AS n
          FROM events WHERE value IS NOT NULL
        )
        SELECT event_id, round((mr - 1.0) / (n - 1.0), 6) AS value_rank_uniform
        FROM r
    """
    d["ewma"] = """
        WITH t AS (
          SELECT event_id, user_id, value, ts,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS k
          FROM events
        )
        SELECT event_id,
               round(sum(value * pow(1.0 / 0.7, k)) OVER w
                     / sum(CASE WHEN value IS NOT NULL
                                THEN pow(1.0 / 0.7, k) END) OVER w, 6) AS value_ewma
        FROM t
        WINDOW w AS (PARTITION BY user_id ORDER BY k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """
    d["pct_change"] = """
        WITH t AS (
          SELECT event_id, value,
                 lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events
        )
        SELECT event_id,
               round(CASE WHEN prev IS NOT NULL AND prev <> 0
                          THEN (value - prev) / prev END, 6) AS value_pct
        FROM t
    """
    d["yeojohnson"] = """
        SELECT event_id,
               round(CASE WHEN value >= 0
                          THEN (pow(value + 1.0, 0.5) - 1.0) / 0.5
                          ELSE -((pow(1.0 - value, 1.5) - 1.0) / 1.5)
                     END, 6) AS value_yj
        FROM events
    """
    d["woe_encode"] = """
        WITH base AS (
          SELECT event_id, event_type,
                 CASE WHEN value IS NULL THEN NULL
                      WHEN value > 50 THEN 1 ELSE 0 END AS t
          FROM events
        ), s AS (
          SELECT event_type, sum(t) AS pos, count(*) AS n FROM base
          WHERE event_type IS NOT NULL AND t IS NOT NULL GROUP BY 1
        ), tot AS (
          SELECT sum(pos) AS pt, sum(n - pos) AS nt, count(*) AS k FROM s
        ), w AS (
          SELECT event_type,
                 ln(((pos + 0.5) / (pt + 0.5 * k))
                    / ((n - pos + 0.5) / (nt + 0.5 * k))) AS woe
          FROM s CROSS JOIN tot
        )
        SELECT b.event_id, round(coalesce(w.woe, 0.0), 6) AS et_woe
        FROM base b LEFT JOIN w USING (event_type)
    """
    d["hashing_encode"] = f"""
        SELECT event_id,
               CASE WHEN event_type IS NOT NULL THEN
                 {_h60_sql("concat('v1', chr(31), 'event_type', chr(31), event_type)")} % 997
               END AS event_type_hash,
               CASE WHEN user_id IS NOT NULL THEN
                 {_h60_sql("concat('v1', chr(31), 'user_id', chr(31), CAST(user_id AS VARCHAR))")} % 997
               END AS user_id_hash
        FROM events
    """
    _scored = """
          SELECT value - floor(value) AS score,
                 CAST(user_id % 2 AS INT) AS label
            FROM events
           WHERE value IS NOT NULL AND user_id IS NOT NULL
    """
    d["roc_auc"] = f"""
        WITH s AS ({_scored}),
        r AS (
          SELECT label,
                 2 * rank() OVER (ORDER BY score)
                 + count(*) OVER (PARTITION BY score) - 1 AS mr2
            FROM s
        ),
        a AS (
          SELECT sum(CASE WHEN label = 1 THEN mr2 END) AS rp2,
                 CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                 CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
            FROM r
        )
        SELECT n_pos, n_neg,
               CAST(rp2 - n_pos * (n_pos + 1) AS DOUBLE)
               / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
          FROM a
    """
    d["roc_curve"] = f"""
        WITH s AS ({_scored}),
        g AS (
          SELECT score,
                 CAST(count(*) FILTER (WHERE label = 1) AS BIGINT) AS cp,
                 CAST(count(*) FILTER (WHERE label = 0) AS BIGINT) AS cn
            FROM s GROUP BY score
        ),
        c AS (
          SELECT score,
                 CAST(sum(cp) OVER (ORDER BY score DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
                 CAST(sum(cn) OVER (ORDER BY score DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
            FROM g
        ),
        t AS (SELECT sum(cp) AS p, sum(cn) AS nn FROM g)
        SELECT round(score, 9) AS threshold, tp, fp,
               CAST(tp AS DOUBLE) / p AS tpr,
               CAST(fp AS DOUBLE) / nn AS fpr,
               CAST(tp AS DOUBLE) / (tp + fp) AS "precision"
          FROM c, t
    """
    d["average_precision"] = f"""
        WITH s AS ({_scored}),
        g AS (
          SELECT score,
                 CAST(count(*) FILTER (WHERE label = 1) AS BIGINT) AS cp,
                 CAST(count(*) AS BIGINT) AS c
            FROM s GROUP BY score
        ),
        c AS (
          SELECT cp,
                 CAST(sum(cp) OVER (ORDER BY score DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
                 CAST(sum(c) OVER (ORDER BY score DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pp
            FROM g
        ),
        t AS (SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
                     CAST(sum(c - cp) AS BIGINT) AS n_neg FROM g)
        SELECT n_pos, n_neg,
               round(sum(CAST(cp AS DOUBLE) * CAST(tp AS DOUBLE)
                         / CAST(pp AS DOUBLE)) / n_pos, 6) AS average_precision
          FROM c, t GROUP BY n_pos, n_neg
    """
    d["confusion_threshold"] = f"""
        WITH s AS ({_scored}),
        a AS (
          SELECT CAST(sum(CASE WHEN score >= 0.5 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                 CAST(sum(CASE WHEN score >= 0.5 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                 CAST(sum(CASE WHEN score < 0.5 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                 CAST(sum(CASE WHEN score < 0.5 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM s
        ),
        m AS (
          SELECT tp, fp, fn, tn,
                 sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
                      * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)) AS den
            FROM a
        )
        SELECT tp, fp, fn, tn,
               CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) AS accuracy,
               CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END AS "precision",
               CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
               CASE WHEN 2 * tp + fp + fn > 0
                    THEN CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END AS f1,
               CASE WHEN den > 0
                    THEN (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
                          - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE)) / den END AS mcc
          FROM m
    """
    d["log_loss"] = f"""
        WITH s AS ({_scored}),
        p AS (
          SELECT least(greatest(score, 1e-15), 1.0 - 1e-15) AS pr,
                 CAST(label AS DOUBLE) AS y, score
            FROM s
        )
        SELECT CAST(count(*) AS BIGINT) AS n,
               round(sum(-(y * ln(pr) + (1.0 - y) * ln(1.0 - pr))) / count(*), 6) AS log_loss,
               round(sum((score - y) * (score - y)) / count(*), 6) AS brier
          FROM p
    """
    d["gains_lift"] = f"""
        WITH s AS ({_scored}),
        e AS (
          SELECT quantile_cont(score, 0.1) AS e1, quantile_cont(score, 0.2) AS e2,
                 quantile_cont(score, 0.3) AS e3, quantile_cont(score, 0.4) AS e4,
                 quantile_cont(score, 0.5) AS e5, quantile_cont(score, 0.6) AS e6,
                 quantile_cont(score, 0.7) AS e7, quantile_cont(score, 0.8) AS e8,
                 quantile_cont(score, 0.9) AS e9
            FROM s
        ),
        b AS (
          SELECT 10 - (CAST(score > e1 AS INT) + CAST(score > e2 AS INT)
                     + CAST(score > e3 AS INT) + CAST(score > e4 AS INT)
                     + CAST(score > e5 AS INT) + CAST(score > e6 AS INT)
                     + CAST(score > e7 AS INT) + CAST(score > e8 AS INT)
                     + CAST(score > e9 AS INT)) AS bucket,
                 label
            FROM s, e
        ),
        g AS (
          SELECT bucket, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(label) AS BIGINT) AS n_pos
            FROM b GROUP BY bucket
        ),
        t AS (SELECT sum(n) AS tot_n, sum(n_pos) AS tot_p FROM g),
        c AS (
          SELECT g.bucket, g.n, g.n_pos,
                 CAST(sum(g2.n) AS BIGINT) AS cum_n,
                 CAST(sum(g2.n_pos) AS BIGINT) AS cum_pos
            FROM g JOIN g AS g2 ON g2.bucket <= g.bucket
           GROUP BY g.bucket, g.n, g.n_pos
        )
        SELECT bucket, n, n_pos,
               CAST(n_pos AS DOUBLE) / n AS pos_rate,
               cum_n, cum_pos,
               CAST(cum_pos AS DOUBLE) / tot_p AS cum_capture,
               (CAST(cum_pos AS DOUBLE) / cum_n)
               / (CAST(tot_p AS DOUBLE) / tot_n) AS lift
          FROM c, t
    """
    _tokens = """
          SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
            FROM documents
           WHERE text IS NOT NULL
    """
    d["heavy_hitters"] = f"""
        WITH tok AS ({_tokens}),
        c AS (
          SELECT token AS value, CAST(count(*) AS BIGINT) AS n_rows
            FROM tok WHERE token <> '' GROUP BY token
        ),
        t AS (SELECT sum(n_rows) AS tot FROM c),
        k AS (SELECT value, n_rows FROM c ORDER BY n_rows DESC, value ASC LIMIT 20)
        SELECT value, n_rows, CAST(n_rows AS DOUBLE) / tot AS share FROM k, t
    """
    d["mg_heavy_hitters"] = """
        SELECT event_type AS value, CAST(count(*) AS BIGINT) AS weight
          FROM events GROUP BY event_type
         ORDER BY weight DESC, value ASC
    """
    # Count-Min: replay every hash (60-bit md5 fold), cell sum, and
    # min-over-rows lookup.  Merge across shards is a lossless cell-wise
    # sum, so the oracle computes the cells globally — identical by the
    # merge guarantee the pytest pins.
    _cms_h = _h60_sql("'v1' || chr(31) || p.j || chr(31) || event_type")
    _cms_q = _h60_sql("'v1' || chr(31) || p.j || chr(31) || q.value")
    d["cms_point_freq"] = f"""
        WITH probes(j) AS (VALUES ('0'), ('1'), ('2')),
        cells AS (
          SELECT CAST(p.j AS INT) AS row,
                 CAST(({_cms_h}) % 256 AS INT) AS col,
                 count(*) AS weight
            FROM events, probes p
           WHERE event_type IS NOT NULL
           GROUP BY 1, 2
        ),
        q(value) AS (VALUES ('click'), ('view'), ('purchase'),
                            ('signup'), ('error'), ('absent-probe')),
        qp AS (
          SELECT q.value, CAST(p.j AS INT) AS row,
                 CAST(({_cms_q}) % 256 AS INT) AS col
            FROM q, probes p
        )
        SELECT qp.value,
               CAST(min(coalesce(c.weight, 0)) AS BIGINT) AS estimate
          FROM qp LEFT JOIN cells c ON c.row = qp.row AND c.col = qp.col
         GROUP BY qp.value ORDER BY qp.value
    """
    # Bloom gate: replay the bit array (word_idx = pos // 63, mask =
    # 1 << pos % 63, bit_or per word) and the k probes per distinct
    # per-doc gram — flagged iff ALL probed bits are set.
    _bl_b = _h60_sql("'v1' || chr(31) || p.j || chr(31) || b.gram")
    _bl_t = _h60_sql("'v1' || chr(31) || p.j || chr(31) || g.gram")
    d["bloom_decontaminate"] = f"""
        WITH src AS (
          SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
            FROM documents
        ),
        tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM src),
        sh AS (SELECT doc_id,
                      list_transform(range(0, greatest(len(toks) - 2, 1)),
                                     i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) AS shingles
               FROM tk),
        grams AS (SELECT DISTINCT doc_id, u.s AS gram
                  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) u),
        probes(j) AS (VALUES ('0'), ('1'), ('2')),
        bpos AS (
          SELECT ({_bl_b}) % 65536 AS pos
            FROM (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0) b, probes p
        ),
        words AS (
          SELECT pos // 63 AS word_idx,
                 bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER)) AS bits
            FROM bpos GROUP BY 1
        ),
        tp AS (
          SELECT g.doc_id, g.gram, ({_bl_t}) % 65536 AS pos
            FROM grams g, probes p
           WHERE g.doc_id % 50 != 0
        ),
        hit AS (
          SELECT tp.doc_id, tp.gram,
                 min(CASE WHEN (coalesce(w.bits, 0)
                                & (CAST(1 AS BIGINT) << CAST(tp.pos % 63 AS INTEGER)))
                               = (CAST(1 AS BIGINT) << CAST(tp.pos % 63 AS INTEGER))
                          THEN 1 ELSE 0 END) AS all_set
            FROM tp LEFT JOIN words w ON w.word_idx = tp.pos // 63
           GROUP BY tp.doc_id, tp.gram
        )
        SELECT doc_id,
               count(*) AS n_grams,
               CAST(sum(all_set) AS BIGINT) AS flagged_grams,
               CASE WHEN count(*) > 0
                    THEN CAST(sum(all_set) AS BIGINT) / count(*)
                    ELSE 0.0 END AS flagged_share,
               CAST(sum(all_set) AS BIGINT) > 0 AS contaminated
          FROM hit GROUP BY doc_id ORDER BY doc_id
    """
    # RBO: replay the left-to-right weighted fold — accumulator [sum, w]
    # prepended (the _h60_sql list_reduce convention), elements [ratio, 0],
    # w multiplied by p each step so both engines run the identical IEEE
    # multiply sequence.
    d["rank_overlap"] = """
        WITH base AS (
          SELECT user_id % 50 AS q, event_id, value, ts
            FROM events
           WHERE user_id IS NOT NULL AND value IS NOT NULL
        ),
        ra AS (SELECT q, row_number() OVER (PARTITION BY q ORDER BY value DESC, event_id) AS r,
                      CAST(event_id AS VARCHAR) AS it
                 FROM base),
        rb AS (SELECT q, row_number() OVER (PARTITION BY q ORDER BY ts, event_id) AS r,
                      CAST(event_id AS VARCHAR) AS it
                 FROM base),
        la AS (SELECT q, list(it ORDER BY r) AS a FROM ra WHERE r <= 10 GROUP BY q),
        lb AS (SELECT q, list(it ORDER BY r) AS b FROM rb WHERE r <= 10 GROUP BY q),
        ov AS (
          SELECT q, a, b,
                 list_transform(range(1, 11),
                                i -> CAST(len(list_intersect(list_slice(a, 1, i), list_slice(b, 1, i))) AS DOUBLE)
                                     / CAST(i AS DOUBLE)) AS ratios
            FROM la JOIN lb USING (q)
        )
        SELECT q AS query_id,
               CAST(len(a) AS INT) AS n_a,
               CAST(len(b) AS INT) AS n_b,
               round((1.0 - 0.9) * list_reduce(
                       list_prepend([0.0, 1.0],
                                    list_transform(ratios, x -> [x, 0.0])),
                       (acc, e) -> [acc[1] + acc[2] * e[1], acc[2] * 0.9])[1],
                     9) AS rbo
          FROM ov ORDER BY query_id
    """
    # Tool-arg schema: replay parse (TRY_CAST to JSON = from_json null
    # on malformed), json_keys explode, value type regexes, shares.
    d["tool_arg_schema"] = """
        WITH calls AS (
          SELECT event_type AS tool,
                 CASE WHEN user_id % 7 = 0 THEN 'broken'
                      WHEN user_id % 3 = 0 THEN props
                      ELSE '{"k": ' || CAST(user_id AS VARCHAR) || ', "flag": true}'
                 END AS args
            FROM events WHERE user_id IS NOT NULL
        ),
        parsed AS (SELECT tool, TRY_CAST(args AS JSON) AS j FROM calls),
        totals AS (
          SELECT tool, CAST(sum(CASE WHEN j IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed
            FROM parsed GROUP BY tool
        ),
        kv AS (
          SELECT tool, unnest(json_keys(j)) AS key, j
            FROM parsed WHERE j IS NOT NULL
        ),
        vals AS (
          SELECT tool, key,
                 json_extract_string(j, '$."' || key || '"') AS v
            FROM kv
        ),
        typed AS (
          SELECT tool, key,
                 CAST(count(*) AS BIGINT) AS n_occurrences,
                 CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                 CAST(sum(CASE WHEN v IS NOT NULL AND regexp_matches(v, '^-?[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
                 CAST(sum(CASE WHEN v IS NOT NULL AND NOT regexp_matches(v, '^-?[0-9]+$')
                                AND regexp_matches(v, '^-?[0-9]+\\.[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_float,
                 CAST(sum(CASE WHEN v IS NOT NULL AND NOT regexp_matches(v, '^-?[0-9]+$')
                                AND NOT regexp_matches(v, '^-?[0-9]+\\.[0-9]+$')
                                AND v IN ('true', 'false') THEN 1 ELSE 0 END) AS BIGINT) AS n_bool,
                 CAST(sum(CASE WHEN v IS NOT NULL AND NOT regexp_matches(v, '^-?[0-9]+$')
                                AND NOT regexp_matches(v, '^-?[0-9]+\\.[0-9]+$')
                                AND v NOT IN ('true', 'false') THEN 1 ELSE 0 END) AS BIGINT) AS n_str
            FROM vals GROUP BY tool, key
        )
        SELECT t.tool, t.key, t.n_occurrences,
               CAST(t.n_occurrences AS DOUBLE) / tt.n_parsed AS share,
               t.n_int, t.n_float, t.n_bool, t.n_null, t.n_str
          FROM typed t JOIN totals tt USING (tool)
         ORDER BY t.tool, t.key
    """
    # McNemar: exact integer discordant counts + one division; verdict
    # against the chi2(1) critical value, no p-value machinery.
    d["mcnemar"] = """
        WITH paired AS (
          SELECT event_id AS item_id,
                 (value >= 10) AS a,
                 ((user_id + event_id) % 5 > 0) AS b
            FROM events
           WHERE value IS NOT NULL AND user_id IS NOT NULL
        ),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_items,
                 CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both_correct,
                 CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
                 CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b,
                 CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_both_wrong
            FROM paired
        )
        SELECT n_items, n_both_correct, n_only_a, n_only_b, n_both_wrong,
               CASE WHEN n_only_a + n_only_b > 0 THEN
                 round(greatest(CAST(abs(n_only_a - n_only_b) AS DOUBLE) - 1.0, 0.0)
                       * greatest(CAST(abs(n_only_a - n_only_b) AS DOUBLE) - 1.0, 0.0)
                       / CAST(n_only_a + n_only_b AS DOUBLE), 9) END AS statistic,
               CASE WHEN n_only_a + n_only_b > 0 THEN
                 round(greatest(CAST(abs(n_only_a - n_only_b) AS DOUBLE) - 1.0, 0.0)
                       * greatest(CAST(abs(n_only_a - n_only_b) AS DOUBLE) - 1.0, 0.0)
                       / CAST(n_only_a + n_only_b AS DOUBLE), 9) > 3.841458820694124
               END AS significant_95
          FROM agg
    """
    # Truncation audit: replay the rtrim/last-char regex flags.
    d["truncation_audit"] = """
        WITH src AS (
          SELECT doc_id, text, rtrim(coalesce(text, '')) AS t FROM documents
        ),
        flags AS (
          SELECT doc_id, text, length(t) AS n_chars,
                 regexp_matches(right(t, 1), '[.!?…;"'')\\]}]') AS es,
                 regexp_matches(right(t, 1), '[\\p{L}\\p{Nd}]') AS em,
                 (text IS NOT NULL AND length(t) > 0) AS ok
            FROM src
        )
        SELECT doc_id, n_chars,
               CASE WHEN ok THEN es END AS ends_sentence,
               CASE WHEN ok THEN em END AS ends_midword,
               CASE WHEN ok THEN NOT es END AS truncated
          FROM flags ORDER BY doc_id
    """
    # Near-loops: replay the role filter, Levenshtein similarity (both
    # engines implement the same unit-cost edit distance), and the
    # gaps-and-islands chain numbering.
    d["near_loops"] = """
        WITH tr AS (
          SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id,
                 CAST(row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
                 CASE WHEN event_type IN ('view','signup') THEN 'user'
                      WHEN event_type IN ('click','purchase') THEN 'assistant'
                      ELSE 'tool' END AS role,
                 concat_ws(' ', event_type, props) AS text
            FROM events
        ),
        src AS (
          SELECT conv_id, turn_idx, substr(coalesce(text, ''), 1, 500) AS t
            FROM tr WHERE role IN ('assistant')
        ),
        lagd AS (
          SELECT conv_id, turn_idx, t,
                 lag(t) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS pt
            FROM src
        ),
        simt AS (
          SELECT conv_id, turn_idx,
                 CASE WHEN pt IS NOT NULL
                      THEN 1.0 - CAST(levenshtein(pt, t) AS DOUBLE)
                                 / CAST(greatest(length(pt), length(t), 1) AS DOUBLE)
                 END AS sim
            FROM lagd
        ),
        marked AS (
          SELECT conv_id, turn_idx, sim,
                 (sim IS NOT NULL AND sim >= 0.8) AS near,
                 sum(CASE WHEN sim IS NOT NULL AND sim >= 0.8 THEN 0 ELSE 1 END)
                   OVER (PARTITION BY conv_id ORDER BY turn_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
            FROM simt
        ),
        chains AS (
          SELECT conv_id, max(pairs) AS max_pairs FROM (
            SELECT conv_id, run, count(*) AS pairs
              FROM marked WHERE near GROUP BY conv_id, run
          ) GROUP BY conv_id
        ),
        per AS (
          SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns_scored,
                 CAST(sum(CASE WHEN near THEN 1 ELSE 0 END) AS BIGINT) AS n_near_repeat_pairs,
                 round(max(sim), 9) AS max_similarity
            FROM marked GROUP BY conv_id
        )
        SELECT p.conv_id, p.n_turns_scored, p.n_near_repeat_pairs,
               CAST(coalesce(c.max_pairs, 0) + 1 AS BIGINT) AS max_consecutive_near,
               p.max_similarity,
               (coalesce(c.max_pairs, 0) + 1) >= 3 AS has_near_loop
          FROM per p LEFT JOIN chains c USING (conv_id)
         ORDER BY p.conv_id
    """
    # Skip-gram PMI: replay the row-local window pair generation, the
    # unordered-pair identity, unigram marginals, and the rounded-PMI
    # ordered limit.
    d["skipgram_pmi"] = """
        WITH tk AS (
          SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '') AS t
            FROM documents WHERE text IS NOT NULL
        ),
        tk2 AS (SELECT t, len(t) AS n FROM tk WHERE len(t) > 0),
        pairs AS (
          SELECT unnest(list_filter(flatten(
                   list_transform(range(1, n + 1), i ->
                     list_transform(range(1, 3), o ->
                       CASE WHEN i + o <= n
                            THEN {'a': least(t[i], t[i + o]),
                                  'b': greatest(t[i], t[i + o])} END))),
                   p -> p IS NOT NULL)) AS p
            FROM tk2
        ),
        co AS (
          SELECT p.a AS w_a, p.b AS w_b, CAST(count(*) AS BIGINT) AS n_cooccur
            FROM pairs GROUP BY p.a, p.b HAVING count(*) >= 5
        ),
        uni AS (
          SELECT u.w, CAST(count(*) AS BIGINT) AS cw
            FROM (SELECT unnest(t) AS w FROM tk2) u GROUP BY u.w
        ),
        tot AS (SELECT CAST(sum(cw) AS DOUBLE) AS nt FROM uni)
        SELECT co.w_a, co.w_b, co.n_cooccur,
               ua.cw AS c_a, ub.cw AS c_b,
               round(ln((tot.nt * co.n_cooccur) / CAST(ua.cw * ub.cw AS DOUBLE)), 9) AS pmi
          FROM co
          JOIN uni ua ON ua.w = co.w_a
          JOIN uni ub ON ub.w = co.w_b
          CROSS JOIN tot
         ORDER BY pmi DESC, co.w_a, co.w_b
         LIMIT 30
    """
    # Burst scores: the decayed_counts replay with two horizons in one
    # aggregation and the normalized ratio on the materialized doubles.
    d["burst_scores"] = """
        WITH src AS (
          SELECT event_type, ts FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
        ),
        anchor AS (SELECT max(ts) AS a FROM src),
        agg AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(
                     1.0 * pow(2.0,
                         -(CAST(epoch_us(anchor.a) - epoch_us(ts) AS DOUBLE) / 1000000.0)
                          / 86400.0),
                     12) AS DECIMAL(38,12))) AS DOUBLE) AS fast_count,
                 CAST(sum(CAST(round(
                     1.0 * pow(2.0,
                         -(CAST(epoch_us(anchor.a) - epoch_us(ts) AS DOUBLE) / 1000000.0)
                          / 604800.0),
                     12) AS DECIMAL(38,12))) AS DOUBLE) AS slow_count
            FROM src, anchor GROUP BY event_type
        )
        SELECT event_type, n_rows, fast_count, slow_count,
               CASE WHEN slow_count > 0
                    THEN round((fast_count / slow_count) * 7.0, 12) END AS burst_ratio
          FROM agg ORDER BY event_type
    """
    # Char entropy: replay the bounded char histogram and the sorted-
    # distinct fold term for term (prepend-0 list_reduce = Spark's
    # aggregate with 0.0 init); ratio divides the RAW entropy.
    d["char_entropy"] = """
        WITH src AS (
          SELECT doc_id, text, substr(text, 1, 2000) AS t,
                 length(substr(text, 1, 2000)) AS n
            FROM documents
        ),
        hist AS (
          SELECT doc_id, text, n,
                 list_sort(list_distinct(
                   list_transform(range(1, n + 1), i -> substr(t, i, 1)))) AS uniq,
                 list_transform(range(1, n + 1), i -> substr(t, i, 1)) AS chars
            FROM src
        ),
        ent AS (
          SELECT doc_id, text, n, uniq,
                 -(list_reduce(list_prepend(0.0,
                     list_transform(uniq,
                       c -> (CAST(len(list_filter(chars, x -> x = c)) AS DOUBLE)
                             / CAST(n AS DOUBLE))
                            * log2(CAST(len(list_filter(chars, x -> x = c)) AS DOUBLE)
                                   / CAST(n AS DOUBLE)))),
                     (a, x) -> a + x)) AS e
            FROM hist
        )
        SELECT doc_id,
               coalesce(n, 0) AS n_chars,
               CASE WHEN text IS NOT NULL AND n > 0 THEN len(uniq) ELSE 0 END AS n_distinct_chars,
               CASE WHEN text IS NOT NULL AND n > 0 THEN round(e, 9) END AS entropy_bits,
               CASE WHEN text IS NOT NULL AND n > 0 AND len(uniq) > 1
                    THEN round(e / log2(CAST(len(uniq) AS DOUBLE)), 9)
                    WHEN text IS NOT NULL AND n > 0 THEN 0.0 END AS entropy_ratio
          FROM ent ORDER BY doc_id
    """
    d["topk_per_group"] = """
        WITH ranked AS (
          SELECT user_id % 100 AS bucket, event_id, value,
                 CAST(row_number() OVER (
                   PARTITION BY user_id % 100
                   ORDER BY value DESC NULLS LAST, event_id ASC
                 ) AS INT) AS rk
            FROM events
        )
        SELECT bucket, event_id, value, rk
          FROM ranked WHERE rk <= 3 ORDER BY bucket, rk
    """
    # Decayed counts: integer-µs delta, one pow per row, round-12 term,
    # exact DECIMAL sum — the identical expression tree.
    d["decayed_counts"] = """
        WITH src AS (
          SELECT event_type, ts FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
        ),
        anchor AS (SELECT max(ts) AS a FROM src)
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(
                   1.0 * pow(2.0,
                       -(CAST(epoch_us(anchor.a) - epoch_us(ts) AS DOUBLE) / 1000000.0)
                        / 604800.0),
                   12) AS DECIMAL(38,12))) AS DOUBLE) AS decayed_count
          FROM src, anchor
         GROUP BY event_type ORDER BY event_type
    """
    # Trigram stupid backoff: replay tokenization, the padded trigram
    # stream with 60-bit md5 window hashes, the groupBy-sum count
    # identities, the backoff coalesce, and the DECIMAL round-12 mean.
    _tg = {
        "h123": _h60_sql("t.w1 || chr(31) || t.w2 || chr(31) || t.w3"),
        "h12": _h60_sql("t.w1 || chr(31) || t.w2"),
        "h23": _h60_sql("t.w2 || chr(31) || t.w3"),
        "h2": _h60_sql("t.w2"),
        "h3": _h60_sql("t.w3"),
    }
    d["trigram_lm"] = f"""
        WITH tk AS (
          SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                             x -> x <> '') AS toks
            FROM documents
        ),
        pd AS (SELECT doc_id, ['<s>', '<s>'] || toks AS padded, len(toks) AS n FROM tk),
        tri AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, n + 1),
                        i -> {{'w1': padded[i], 'w2': padded[i + 1], 'w3': padded[i + 2]}})) AS t
            FROM pd
        ),
        hs AS (
          SELECT doc_id,
                 {_tg['h123']} AS h123, {_tg['h12']} AS h12, {_tg['h23']} AS h23,
                 {_tg['h2']} AS h2, {_tg['h3']} AS h3
            FROM tri
        ),
        g AS (
          SELECT h123, CAST(count(*) AS BIGINT) AS c123,
                 min(h12) AS h12, min(h23) AS h23, min(h2) AS h2, min(h3) AS h3
            FROM hs WHERE doc_id % 2 = 0 GROUP BY h123
        ),
        c12 AS (SELECT h12, CAST(sum(c123) AS BIGINT) AS c12 FROM g GROUP BY h12),
        p23 AS (SELECT h23, CAST(sum(c123) AS BIGINT) AS c23, min(h2) AS h2 FROM g GROUP BY h23),
        c2t AS (SELECT h2, CAST(sum(c123) AS BIGINT) AS c2 FROM g GROUP BY h2),
        c3t AS (SELECT h3, CAST(sum(c123) AS BIGINT) AS c3 FROM g GROUP BY h3),
        tot AS (SELECT CAST(sum(c123) AS DOUBLE) AS nn FROM g),
        t3 AS (SELECT g.h123, ln(g.c123 / c12.c12) AS ls3 FROM g JOIN c12 USING (h12)),
        t2 AS (SELECT p23.h23, ln((0.4 * p23.c23) / c2t.c2) AS ls2 FROM p23 JOIN c2t USING (h2)),
        t1 AS (SELECT c3t.h3, ln(((0.4 * 0.4) * c3t.c3) / tot.nn) AS ls1 FROM c3t, tot),
        scored AS (
          SELECT hs.doc_id,
                 coalesce(t3.ls3, t2.ls2, t1.ls1, ln((0.4 * 0.4) / tot.nn)) AS ls
            FROM hs
            LEFT JOIN t3 USING (h123)
            LEFT JOIN t2 USING (h23)
            LEFT JOIN t1 USING (h3)
            CROSS JOIN tot
           WHERE hs.doc_id % 2 = 1
        ),
        per_doc AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
                 CAST(sum(CAST(round(ls, 12) AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS avg_logscore
            FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(p.n_trigrams, 0) AS n_trigrams,
               p.avg_logscore,
               -(p.avg_logscore) AS logppl
          FROM documents d LEFT JOIN per_doc p USING (doc_id)
         WHERE d.doc_id % 2 = 1
         ORDER BY d.doc_id
    """
    # Wilson interval: identical expression tree (one sqrt, IEEE-exact),
    # z² precomputed in Python so both engines see the same literal.
    _z = 1.959963984540054
    _z2 = repr(_z * _z)
    d["winrate_ci"] = _battles_cte + f"""
        , wr AS (
          SELECT model, CAST(count(*) AS BIGINT) AS n_games,
                 CAST(sum(win) AS BIGINT) AS n_wins,
                 CAST(sum(win) AS DOUBLE) / count(*) AS winrate
            FROM sides GROUP BY model
        ),
        ci AS (
          SELECT model, n_games, n_wins, winrate,
                 CAST(n_wins AS DOUBLE) / CAST(n_games AS DOUBLE) AS phat,
                 CAST(n_games AS DOUBLE) AS nd
            FROM wr
        )
        SELECT model, n_games, n_wins, winrate,
               round(greatest((phat + {_z2} / (2.0 * nd)) / (1.0 + {_z2} / nd)
                              - {_z} * sqrt(phat * (1.0 - phat) / nd + {_z2} / (4.0 * nd * nd))
                                / (1.0 + {_z2} / nd), 0.0), 9) AS ci_lower,
               round(least((phat + {_z2} / (2.0 * nd)) / (1.0 + {_z2} / nd)
                           + {_z} * sqrt(phat * (1.0 - phat) / nd + {_z2} / (4.0 * nd * nd))
                             / (1.0 + {_z2} / nd), 1.0), 9) AS ci_upper
          FROM ci ORDER BY model
    """
    d["frequency_spectrum"] = f"""
        WITH tok AS ({_tokens}),
        c AS (
          SELECT token, count(*) AS f
            FROM tok WHERE token <> '' GROUP BY token
        )
        SELECT CAST(f AS BIGINT) AS frequency,
               CAST(count(*) AS BIGINT) AS n_values
          FROM c GROUP BY f
    """
    _pred = """
          SELECT value * 0.9 + 3 AS pred, value AS y
            FROM events WHERE value IS NOT NULL
    """
    d["regression_eval"] = f"""
        WITH s AS ({_pred}),
        a AS (
          SELECT count(*) AS n,
                 sum(abs(pred - y)) AS sae,
                 sum((pred - y) * (pred - y)) AS sse,
                 sum(pred - y) AS se,
                 sum(y) AS sy,
                 sum(y * y) AS syy,
                 sum(CASE WHEN y <> 0 THEN abs(pred - y) / abs(y) END) AS sape,
                 sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END) AS nm
            FROM s
        )
        SELECT CAST(n AS BIGINT) AS n,
               round(sae / n, 6) AS mae,
               round(sqrt(sse / n), 6) AS rmse,
               round(1 - sse / (syy - sy * sy / n), 6) AS r2,
               round(se / n, 6) AS mean_error,
               round(sape / nm, 6) AS mape,
               CAST(nm AS BIGINT) AS n_mape
          FROM a
    """
    d["residual_quantiles"] = f"""
        WITH s AS ({_pred}),
        e AS (SELECT pred - y AS err FROM s),
        q AS (
          SELECT quantile_cont(err, 0.05) AS q05, quantile_cont(err, 0.25) AS q25,
                 quantile_cont(err, 0.5) AS q50, quantile_cont(err, 0.75) AS q75,
                 quantile_cont(err, 0.95) AS q95
            FROM e
        )
        SELECT 0.05 AS p, round(q05, 6) AS error_q FROM q
        UNION ALL SELECT 0.25, round(q25, 6) FROM q
        UNION ALL SELECT 0.5, round(q50, 6) FROM q
        UNION ALL SELECT 0.75, round(q75, 6) FROM q
        UNION ALL SELECT 0.95, round(q95, 6) FROM q
    """
    d["krippendorff"] = """
        WITH ann AS (
          SELECT user_id AS item, event_type AS rater,
                 CASE WHEN value < 20 THEN 'low'
                      WHEN value < 60 THEN 'mid'
                      ELSE 'high' END AS lab
            FROM events
           WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             AND value IS NOT NULL
        ),
        one AS (SELECT item, rater, min(lab) AS l FROM ann GROUP BY 1, 2),
        cnt AS (SELECT item, l, count(*) AS c FROM one GROUP BY 1, 2),
        per AS (SELECT item, sum(c) AS m, sum(c * c) AS s2 FROM cnt GROUP BY 1),
        kept AS (SELECT * FROM per WHERE m >= 2),
        bym AS (SELECT m, sum(m * m - s2) AS num FROM kept GROUP BY m),
        do_ AS (SELECT sum(CAST(num AS DOUBLE) / (m - 1)) AS a FROM bym),
        lbl AS (
          SELECT l, sum(c) AS cl
            FROM cnt JOIN kept USING (item) GROUP BY l
        ),
        tot AS (SELECT sum(cl) AS n, sum(cl * cl) AS s FROM lbl),
        ni AS (SELECT count(*) AS n_items FROM kept)
        SELECT CAST(n AS BIGINT) AS n_pairable,
               CAST(n_items AS BIGINT) AS n_items,
               round(a / n, 6) AS d_o,
               round((n * n - s) / (n * (n - 1.0)), 6) AS d_e,
               round(1 - (n - 1) * a / (n * n - s), 6) AS alpha
          FROM do_, tot, ni
    """
    d["mad_outliers"] = """
        WITH med AS (SELECT quantile_cont(value, 0.5) AS m FROM events),
        mad AS (
          SELECT quantile_cont(abs(value - m), 0.5) AS d FROM events, med
        ),
        b AS (
          SELECT round(m - 3 * 1.4826 * d, 6) AS lo,
                 round(m + 3 * 1.4826 * d, 6) AS hi,
                 m - 3 * 1.4826 * d AS rlo,
                 m + 3 * 1.4826 * d AS rhi
            FROM med, mad
        )
        SELECT lo, hi,
               CAST(sum(CASE WHEN value < rlo OR value > rhi THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers,
               CAST(count(value) AS BIGINT) AS n_rows
          FROM events, b GROUP BY lo, hi
    """
    d["temporal_split"] = """
        SELECT CASE WHEN ts IS NULL THEN 'unknown'
                    WHEN ts >= TIMESTAMP '2024-01-26' THEN 'test'
                    WHEN ts >= TIMESTAMP '2024-01-24' THEN 'embargo'
                    WHEN ts >= TIMESTAMP '2024-01-20' THEN 'val'
                    WHEN ts >= TIMESTAMP '2024-01-18' THEN 'embargo'
                    ELSE 'train' END AS split,
               CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY split
    """
    _mc = """
          SELECT event_type AS y,
                 CASE WHEN user_id % 7 = 0 THEN 'error' ELSE event_type END AS p
            FROM events
           WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    """
    d["multiclass_confusion"] = f"""
        WITH s AS ({_mc})
        SELECT y AS label, p AS predicted, CAST(count(*) AS BIGINT) AS n
          FROM s GROUP BY 1, 2
    """
    d["multiclass_metrics"] = f"""
        WITH s AS ({_mc}),
        cm AS (SELECT y AS label, p AS predicted, count(*) AS n FROM s GROUP BY 1, 2),
        cls AS (SELECT label AS c FROM cm UNION SELECT predicted FROM cm),
        per AS (
          SELECT c,
                 coalesce((SELECT sum(n) FROM cm WHERE label = c AND predicted = c), 0) AS tp,
                 coalesce((SELECT sum(n) FROM cm WHERE predicted = c), 0) AS colt,
                 coalesce((SELECT sum(n) FROM cm WHERE label = c), 0) AS rowt
            FROM cls
        ),
        pc AS (
          SELECT c,
                 CASE WHEN colt > 0 THEN CAST(tp AS DOUBLE) / colt ELSE 0 END AS pr,
                 CASE WHEN rowt > 0 THEN CAST(tp AS DOUBLE) / rowt ELSE 0 END AS rc
            FROM per
        ),
        f AS (
          SELECT c, pr, rc,
                 CASE WHEN pr + rc > 0 THEN 2 * pr * rc / (pr + rc) ELSE 0 END AS f1
            FROM pc
        ),
        tot AS (SELECT sum(n) AS n FROM cm),
        acc AS (SELECT coalesce(sum(n), 0) AS a FROM cm WHERE label = predicted)
        SELECT CAST(tot.n AS BIGINT) AS n,
               CAST((SELECT count(*) FROM cls) AS INT) AS n_classes,
               round(CAST(acc.a AS DOUBLE) / tot.n, 6) AS accuracy,
               round((SELECT avg(pr) FROM f), 6) AS macro_precision,
               round((SELECT avg(rc) FROM f), 6) AS macro_recall,
               round((SELECT avg(f1) FROM f), 6) AS macro_f1
          FROM tot, acc
    """
    d["approx_distinct"] = """
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_exact,
               1 AS within_tol
          FROM events
         WHERE event_type IS NOT NULL AND user_id IS NOT NULL
         GROUP BY event_type
    """
    _ranking_per_query_cte = """
        WITH base AS (
          SELECT event_id % 211 AS query_id,
                 row_number() OVER (PARTITION BY event_id % 211 ORDER BY event_id) AS r,
                 CASE WHEN value IS NULL THEN 0.0
                      WHEN value >= 150 THEN 2.0
                      WHEN value >= 100 THEN 1.0
                      ELSE 0.0 END AS rel
            FROM events
        ), s AS (
          SELECT query_id, r, rel,
                 CASE WHEN rel > 0 THEN 1 ELSE 0 END AS hit,
                 sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) OVER
                   (PARTITION BY query_id ORDER BY r
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumhit,
                 row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, r) AS ipos
            FROM base
        ), t AS (
          SELECT query_id, r, rel, hit, cumhit, ipos,
                 CASE WHEN r <= 10
                      THEN (pow(2.0, rel) - 1.0) / (ln(r + 1) / ln(2.0))
                      ELSE 0.0 END AS dcg_term,
                 CASE WHEN ipos <= 10
                      THEN (pow(2.0, rel) - 1.0) / (ln(ipos + 1) / ln(2.0))
                      ELSE 0.0 END AS idcg_term,
                 CASE WHEN r <= 10 AND hit = 1
                      THEN CAST(cumhit AS DOUBLE) / r
                      ELSE 0.0 END AS prec_term
            FROM s
        ), w AS (
          SELECT query_id, r, rel, hit,
                 sum(dcg_term) OVER
                   (PARTITION BY query_id ORDER BY r
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dcg_run,
                 sum(prec_term) OVER
                   (PARTITION BY query_id ORDER BY r
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ap_run,
                 sum(idcg_term) OVER
                   (PARTITION BY query_id ORDER BY rel DESC, r
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS idcg_run
            FROM t
        ), agg AS (
          SELECT query_id,
                 CAST(count(*) AS BIGINT) AS n_retrieved,
                 CAST(sum(hit) AS BIGINT) AS n_relevant,
                 CAST(sum(CASE WHEN r <= 10 THEN hit ELSE 0 END) AS BIGINT) AS hits_at_k,
                 min(CASE WHEN hit = 1 THEN r END) AS first_hit,
                 max(dcg_run) AS dcg,
                 max(idcg_run) AS idcg,
                 max(ap_run) AS ap_num
            FROM w
           GROUP BY query_id
        ), per_q AS (
          SELECT query_id, n_retrieved, n_relevant, hits_at_k,
                 coalesce(1.0 / first_hit, 0.0) AS rr,
                 CAST(hits_at_k AS DOUBLE) / 10.0 AS p_at_k,
                 CASE WHEN n_relevant > 0
                      THEN CAST(hits_at_k AS DOUBLE) / n_relevant
                      ELSE 0.0 END AS r_at_k,
                 CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END AS ndcg_at_k,
                 CASE WHEN n_relevant > 0
                      THEN ap_num / CAST(least(n_relevant, 10) AS DOUBLE)
                      ELSE 0.0 END AS ap_at_k
            FROM agg
        )
    """
    d["ranking_per_query"] = (
        _ranking_per_query_cte
        + """
        SELECT query_id, n_retrieved, n_relevant, hits_at_k,
               round(rr, 6) AS rr,
               round(p_at_k, 6) AS p_at_k,
               round(r_at_k, 6) AS r_at_k,
               round(ndcg_at_k, 6) AS ndcg_at_k,
               round(ap_at_k, 6) AS ap_at_k
          FROM per_q
    """
    )
    d["ranking_summary"] = (
        _ranking_per_query_cte
        + """
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               round(CAST(sum(CAST(round(rr, 6) AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 6) AS mrr,
               round(CAST(sum(CAST(round(ndcg_at_k, 6) AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 6) AS mean_ndcg,
               round(CAST(sum(CAST(round(ap_at_k, 6) AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 6) AS map_at_k,
               round(CAST(sum(CAST(round(p_at_k, 6) AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 6) AS mean_p,
               round(CAST(sum(CAST(round(r_at_k, 6) AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 6) AS mean_r
          FROM per_q
    """
    )
    d["logreg_score"] = """
        SELECT event_id,
               round(1.0 / (1.0 + exp(-((-0.5 + (value / 100.0) * 0.8)
                     + CAST(event_id % 7 AS DOUBLE) * (-0.3)))), 6) AS p
          FROM events WHERE value IS NOT NULL
    """
    d["rolling_zscore"] = """
        WITH w AS (
          SELECT event_id, user_id, value,
                 CAST(sum(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END)
                      OVER fr AS DOUBLE) AS n,
                 sum(value) OVER fr AS sx,
                 sum(value * value) OVER fr AS sxx
            FROM events
          WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id, user_id,
               round(CASE WHEN n >= 3 AND ((sxx - sx * sx / n) / (n - 1.0)) > 0
                          THEN (value - sx / n)
                               / sqrt((sxx - sx * sx / n) / (n - 1.0))
                     END, 6) AS z
          FROM w
    """
    d["kfold_assign"] = f"""
        WITH t AS (
          SELECT doc_id,
                 CAST({_h60_sql("concat('fold-v1', chr(31), CAST(doc_id AS VARCHAR))")}
                      % 5 AS INT) AS fold
            FROM documents
        )
        SELECT fold, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
          FROM t GROUP BY fold
    """
    d["rolling_corr"] = """
        WITH s AS (
          SELECT event_id, user_id,
                 CASE WHEN value IS NOT NULL THEN value END AS xv,
                 CASE WHEN value IS NOT NULL
                      THEN CAST(event_id % 17 AS DOUBLE) END AS yv,
                 CASE WHEN value IS NOT NULL AND event_id % 17 IS NOT NULL
                      THEN 1 ELSE 0 END AS both_ok,
                 ts
            FROM events
        ), w AS (
          SELECT event_id, user_id,
                 CAST(sum(both_ok) OVER fr AS DOUBLE) AS n,
                 sum(xv) OVER fr AS sx,
                 sum(yv) OVER fr AS sy,
                 sum(xv * yv) OVER fr AS sxy,
                 sum(xv * xv) OVER fr AS sxx,
                 sum(yv * yv) OVER fr AS syy
            FROM s
          WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, user_id,
               round(CASE WHEN n >= 5
                           AND (n * sxx - sx * sx) > 0
                           AND (n * syy - sy * sy) > 0
                          THEN (n * sxy - sx * sy)
                               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                     END, 6) AS rcorr
          FROM w
    """
    d["melt_reshape"] = """
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable,
               CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice',
               CAST(l_extendedprice AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount',
               CAST(l_discount AS DOUBLE) FROM lineitem
    """
    d["pivot_events"] = """
        SELECT user_id,
               coalesce(CAST(sum(CASE WHEN event_type = 'click'
                 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
                 AS value_sum_click,
               coalesce(CAST(sum(CASE WHEN event_type = 'error'
                 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
                 AS value_sum_error,
               coalesce(CAST(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
                 AS value_sum_purchase,
               coalesce(CAST(sum(CASE WHEN event_type = 'signup'
                 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
                 AS value_sum_signup,
               coalesce(CAST(sum(CASE WHEN event_type = 'view'
                 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
                 AS value_sum_view
          FROM events GROUP BY user_id
    """
    d["snapshot_diff"] = """
        WITH old_s AS (
          SELECT o_orderkey, o_totalprice, o_orderstatus
            FROM orders WHERE o_orderkey % 19 <> 3
        ), new_s AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                      ELSE o_totalprice END AS o_totalprice,
                 o_orderstatus
            FROM orders WHERE o_orderkey % 13 <> 5
        ), j AS (
          SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
                 CASE WHEN o.o_orderkey IS NULL THEN 'added'
                      WHEN n.o_orderkey IS NULL THEN 'removed'
                      WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                       AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                      THEN 'unchanged'
                      ELSE 'changed' END AS status
            FROM old_s o FULL OUTER JOIN new_s n ON o.o_orderkey = n.o_orderkey
        )
        SELECT status, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k) AS BIGINT) AS key_checksum
          FROM j GROUP BY status ORDER BY status
    """
    d["apply_diff"] = """
        SELECT o_orderkey,
               round(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                          ELSE o_totalprice END, 6) AS o_totalprice,
               o_orderstatus
          FROM orders WHERE o_orderkey % 13 <> 5
         ORDER BY o_orderkey
    """
    d["strip_markup"] = """
        WITH m AS (
          SELECT doc_id,
                 '<html><body><p class="x">' || text ||
                 '</p><script type="text/javascript">var x = 1 < 2;</script>' ||
                 '<!-- note --><div>&amp; &lt;tag&gt;&nbsp;ok</div></body></html>' AS c
            FROM documents
        ), s AS (
          SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(regexp_replace(c,
                   '(?si)<script[^>]*>.*?</script>', ' ', 'g'),
                   '(?si)<style[^>]*>.*?</style>', ' ', 'g'),
                   '(?s)<!--.*?-->', ' ', 'g'),
                   '<[^>]*>', ' ', 'g') AS c
            FROM m
        ), e AS (
          SELECT doc_id,
                 replace(replace(replace(replace(replace(replace(c,
                   '&lt;', '<'), '&gt;', '>'), '&quot;', chr(34)),
                   '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS c
            FROM s
        ), w AS (
          SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(c,
                   '[ \\t]+', ' ', 'g'),
                   ' ?\\n ?', e'\\n', 'g'),
                   '\\n{3,}', e'\\n\\n', 'g') AS c
            FROM e
        )
        SELECT doc_id, trim(c) AS clean FROM w
    """
    d["hist_quantiles"] = """
        WITH r AS (SELECT value AS v FROM events WHERE value IS NOT NULL),
        e AS (SELECT quantile_cont(v, (CAST(1 AS DOUBLE)/10*100)/100) AS e1, quantile_cont(v, (CAST(2 AS DOUBLE)/10*100)/100) AS e2, quantile_cont(v, (CAST(3 AS DOUBLE)/10*100)/100) AS e3, quantile_cont(v, (CAST(4 AS DOUBLE)/10*100)/100) AS e4, quantile_cont(v, (CAST(5 AS DOUBLE)/10*100)/100) AS e5, quantile_cont(v, (CAST(6 AS DOUBLE)/10*100)/100) AS e6, quantile_cont(v, (CAST(7 AS DOUBLE)/10*100)/100) AS e7, quantile_cont(v, (CAST(8 AS DOUBLE)/10*100)/100) AS e8, quantile_cont(v, (CAST(9 AS DOUBLE)/10*100)/100) AS e9 FROM r),
        coded AS (SELECT CAST((v > e.e1) AS INT) + CAST((v > e.e2) AS INT) + CAST((v > e.e3) AS INT) + CAST((v > e.e4) AS INT) + CAST((v > e.e5) AS INT) + CAST((v > e.e6) AS INT) + CAST((v > e.e7) AS INT) + CAST((v > e.e8) AS INT) + CAST((v > e.e9) AS INT) AS bin FROM r, e),
        cnt AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM coded GROUP BY bin),
        tot AS (SELECT sum(n) AS t FROM cnt),
        cum AS (SELECT bin, sum(n) OVER (ORDER BY bin) AS c FROM cnt),
        probs(p) AS (VALUES (0.25), (0.5), (0.75), (0.95)),
        chosen AS (
          SELECT p, min(bin) AS b FROM probs, cum, tot WHERE c >= p * t GROUP BY p
        )
        SELECT CAST(p AS DOUBLE) AS prob,
               round(CASE b WHEN 1 THEN e.e1 WHEN 2 THEN e.e2 WHEN 3 THEN e.e3 WHEN 4 THEN e.e4 WHEN 5 THEN e.e5 WHEN 6 THEN e.e6 WHEN 7 THEN e.e7 WHEN 8 THEN e.e8 WHEN 9 THEN e.e9 END, 6) AS lo,
               round(CASE b WHEN 0 THEN e.e1 WHEN 1 THEN e.e2 WHEN 2 THEN e.e3 WHEN 3 THEN e.e4 WHEN 4 THEN e.e5 WHEN 5 THEN e.e6 WHEN 6 THEN e.e7 WHEN 7 THEN e.e8 WHEN 8 THEN e.e9 END, 6) AS hi
          FROM chosen, e ORDER BY prob
    """
    d.update(_trio_oracles())
    return d
