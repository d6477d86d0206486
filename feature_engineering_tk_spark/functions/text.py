"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

All hot-path functions are built-in JVM expressions (split / regexp /
higher-order array functions) — no Python in the per-row path. The
rolling-hash fingerprint is the one pandas-UDF (vectorized, Arrow).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from feature_engineering_tk_spark.plans.caching import pin

# small English function-word list for the n-gram/stopword heuristics
STOPWORDS = [
    "the", "a", "of", "to", "and", "in", "is", "it", "for", "on",
    "with", "as", "by", "at",
]

# ASCII punctuation ranges: !-/ :-@ [-` {-~
_PUNCT_CLASS = r"[!-/:-@\[-`{-~]"


def token_count(c: Column) -> Column:
    """Whitespace token count; empty/blank string → 0."""
    t = F.trim(c)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("bigint")


def bpe_ish_token_count(c: Column) -> Column:
    """Rough subword count: alpha runs + single digits + single
    punctuation marks (a BPE-ish upper bound), via regexp extraction."""
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), F.lit(0))).cast(
        "bigint"
    )


def _tokens_lower(c: Column) -> Column:
    return F.split(F.trim(F.lower(c)), r"\s+")


def quality_features(df: DataFrame, column: str) -> DataFrame:
    """Length / punctuation / digit / stopword quality signals.

    - n_chars_clean: non-whitespace character count
    - n_tokens: whitespace tokens
    - punct_ratio, digit_ratio: per character of raw text
    - stopword_ratio: stopword hits per token (English function words)
    """
    c = F.col(column)
    n = F.length(c)
    toks = _tokens_lower(c)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    return df.withColumns(
        {
            "n_chars_clean": F.length(F.regexp_replace(c, r"\s", "")).cast("bigint"),
            "n_tokens": token_count(c),
            "punct_ratio": F.length(F.regexp_replace(c, f"[^{_PUNCT_CLASS[1:-1]}]", "")).cast(
                "double"
            )
            / F.greatest(n, F.lit(1)),
            "digit_ratio": F.length(F.regexp_replace(c, r"[^0-9]", "")).cast("double")
            / F.greatest(n, F.lit(1)),
            "stopword_ratio": stop_hits.cast("double") / F.greatest(F.size(toks), F.lit(1)),
        }
    )


def lang_id(df: DataFrame, column: str, threshold: float = 0.05) -> DataFrame:
    """Heuristic language ID: share of English function words among
    letter-only tokens; >= threshold → 'en'. A cheap, fully-JVM
    stand-in for a real n-gram model (same plumbing: per-row score +
    argmax label)."""
    c = F.col(column)
    toks = F.split(F.trim(F.lower(F.regexp_replace(c, "[^a-zA-Z ]", ""))), " +")
    hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    score = hits.cast("double") / F.greatest(F.size(toks), F.lit(1))
    return df.withColumns(
        {
            "en_score": score,
            "lang_pred": F.when(score >= F.lit(threshold), F.lit("en")).otherwise(
                F.lit("unknown")
            ),
        }
    )


def _rolling_hash_udf(c):
    """Polynomial rolling hash (Rabin-Karp style) of the normalized
    text — deterministic 61-bit fingerprint. Vectorized per Arrow
    batch. Built per call, like every engine UDF: a cached UDF keeps
    the accumulator of the SparkContext it was first used in."""

    @pandas_udf("bigint")
    def rolling_hash(s: pd.Series) -> pd.Series:
        MOD = (1 << 61) - 1
        BASE = 257
        out = np.zeros(len(s), dtype=np.int64)
        for i, txt in enumerate(s):
            if txt is None:
                out[i] = 0
                continue
            h = 0
            for ch in txt.encode("utf-8"):
                h = (h * BASE + ch) % MOD
            out[i] = h
        return pd.Series(out)

    return rolling_hash(c)


def fingerprint(df: DataFrame, column: str, out: str = "fingerprint") -> DataFrame:
    """Deterministic rolling-hash document fingerprint over the
    whitespace-normalized lowercased text. Use ``xxhash64`` (built-in)
    when any stable 64-bit hash will do; this one is reproducible
    outside the JVM (numpy oracle in tests)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(column)), r"\s+", " "))
    return df.withColumn(out, _rolling_hash_udf(norm))


def tf_idf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    l2_normalize: bool = True,
) -> DataFrame:
    """Per-(doc, term) TF-IDF with sklearn ``TfidfVectorizer`` default
    semantics: tf = raw count in doc, smooth idf = ln((1+N)/(1+df)) + 1,
    optional per-document L2 normalization.

    Scale shape: tokens explode once; (doc, term) TF and per-term DF
    are both partial-aggregatable groupBys; the DF side collapses to
    |vocab| rows and joins back on the term key. The corpus is never
    collected — per-doc L2 norms come from one more windowless groupBy
    + join-back on ``id_col``.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " ")
        ).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # n_docs stays DF-side (1-row aggregate broadcast into the vocab
    # table) — no separate driver-side count job; the whole TF-IDF is
    # one lazy plan and the id column is scanned once, projected.
    n_docs = df.agg(F.countDistinct(id_col).cast("double").alias("_n_docs"))
    docfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .crossJoin(F.broadcast(n_docs))
    )
    idf = F.log((F.lit(1.0) + F.col("_n_docs")) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)
    weighted = (
        tf.join(docfreq, "term").withColumn("tfidf", F.col("tf") * idf).drop("_n_docs")
    )
    if not l2_normalize:
        return weighted.select(id_col, "term", "tf", "df", "tfidf")
    norms = weighted.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("tfidf") * F.col("tfidf"))).alias("_l2")
    )
    return (
        weighted.join(norms, id_col)
        .withColumn("tfidf", F.col("tfidf") / F.col("_l2"))
        .select(id_col, "term", "tf", "df", "tfidf")
    )


def bm25_topk(
    df: DataFrame,
    query: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 retrieval: the top-``k`` documents for a (small)
    query string — the lexical complement to ``cosine_topk``'s dense
    retrieval and the standard first-stage ranker for RAG data
    curation and eval-set mining.

    Semantics (classic Robertson/Sparck-Jones with the non-negative
    idf variant Lucene uses): tokens = lowercased whitespace words
    (the ``tf_idf`` convention); ``idf = ln(1 + (N − df + 0.5)/(df +
    0.5))``; per (doc, term) score = idf · tf·(k1+1) / (tf + k1·(1 −
    b + b·len/avglen)); doc score = Σ over distinct query terms.

    Scale shape: query terms are plan literals, so the token explode
    is FILTERED to query terms at the scan (tokens not in the query
    never reach the aggregate); per-term df and per-doc tf are
    partial-aggregatable groupBys over that filtered stream; N and
    avg doc length ride in one 1-row broadcast; the final top-k is a
    TakeOrdered heap (score desc, id asc — deterministic) — k rows to
    the driver, never a sorted corpus.  Duplicate query terms count
    once (set semantics, the standard BM25 query model).

    Determinism: per-(doc, term) parts are rounded to 9 decimals and
    summed as ``decimal(38,9)`` (exact integer arithmetic — the
    logreg/pagerank convention), so the ranking is bit-identical
    under any partitioning and replayable in the DuckDB oracle.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    q_terms = sorted({t for t in query.lower().split() if t})
    if not q_terms:
        raise ValueError("query has no terms")
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")),
                " ",
            )
        ).alias("term"),
    ).filter(F.col("term") != "")
    # 1-row corpus stats: N docs + average token length (docs with no
    # tokens still count toward N via the source table)
    doclen = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = df.select(F.col(id_col)).agg(
        F.countDistinct(id_col).cast("double").alias("_n")
    )
    avgdl = doclen.agg(F.avg("dl").alias("_avgdl"))
    qtok = toks.filter(F.col("term").isin(q_terms))
    tf = qtok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    scored = (
        tf.join(F.broadcast(dfreq.select("term", "df", idf.alias("idf"))), "term")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(avgdl))
        .withColumn(
            "part",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl") / F.col("_avgdl")
                )
            ),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.sum(F.round(F.col("part"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("bm25"),
        F.count(F.lit(1)).alias("n_query_terms_hit"),
    )
    return agg.orderBy(F.desc("bm25"), F.col(id_col).asc()).limit(k)


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 2048,
    n_shards: int = 64,
    token_col: str | None = None,
    shard_col: str | None = None,
) -> DataFrame:
    """Greedy in-order sequence packing: assign documents to training
    sequences (bins) of at most ``max_tokens`` whitespace tokens —
    next doc starts a new bin when it would overflow; docs longer than
    ``max_tokens`` get a bin of their own (flagged ``oversize``).

    Packing is inherently sequential, so the corpus is first split
    into ``n_shards`` deterministic hash shards (pure function of the
    id — stable across re-runs); each shard packs independently inside
    one ``applyInPandas`` group in doc-id order. Bins never cross
    shards, so the 100 TB corpus packs with shard-level parallelism
    and per-shard state of two integers. Output: one row per doc with
    (shard, bin_id, bin local fill after placement).
    """
    import pandas as _pd

    tokens = F.col(token_col) if token_col else token_count(F.col(text_col))
    shard = (
        F.col(shard_col)
        if shard_col
        else F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_shards))
    )
    src = df.select(
        F.col(id_col),
        tokens.cast("long").alias("_tok"),
        shard.cast("long").alias("_shard"),
    )

    # id keeps its source type (string/UUID corpora included) — only the
    # shard hash casts to string, never the output column.
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, _shard long, n_tokens long, bin_id long, "
        "bin_fill long, oversize boolean"
    )

    def _pack(pdf: _pd.DataFrame) -> _pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins, fills, overs = [], [], []
        bin_id, fill = 0, 0
        for t in pdf["_tok"]:
            t = int(t)
            if fill > 0 and fill + t > max_tokens:
                bin_id += 1
                fill = 0
            fill += t
            bins.append(bin_id)
            fills.append(fill)
            overs.append(t > max_tokens)
        return _pd.DataFrame(
            {
                id_col: pdf[id_col],
                "_shard": pdf["_shard"],
                "n_tokens": pdf["_tok"],
                "bin_id": bins,
                "bin_fill": fills,
                "oversize": overs,
            }
        )

    return (
        src.groupBy("_shard")
        .applyInPandas(_pack, out_schema)
        .withColumnRenamed("_shard", "shard")
    )


def bigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 1.0,
) -> DataFrame:
    """Corpus-trained add-k-smoothed bigram language-model scoring — a
    CCNet-style perplexity proxy (Wenzek et al. 2020 score docs with a
    KenLM model; here the LM is trained on the corpus itself, so the
    score ranks each document by how typical its word transitions are
    for this corpus — low ``logppl`` = fluent/typical, high = noisy).

    Model: tokens are the whitespace words of the lowercased text with
    a ``<s>`` start symbol; ``P(w2|w1) = (c(w1,w2)+k) / (c(w1·)+k·V)``
    where ``c(w1·)`` counts w1 as a bigram history and ``V`` is the
    predicted-vocabulary size. Per doc: ``avg_logprob`` = mean ln-prob
    over its bigrams, ``logppl = -avg_logprob``.

    Scale shape: the corpus is tokenized exactly twice — once into the
    partial-aggregatable bigram-count groupBy, once for scoring. The
    history counts c(w1·) and the vocabulary size V are derived from
    the (vocab²-bounded, sub-linear) bigram-count table, NOT from a
    re-scan of the corpus: c(w1·) = Σ_w2 c(w1,w2) and V = |{w2}| are
    identities on the counts. Scoring is a shuffle hash join on
    (w1, w2) + one windowless per-doc groupBy; V is a 1-row aggregate
    cross-joined broadcast. Nothing is collected; no global window.
    Empty/NULL-text docs still appear in the output (n_bigrams=0,
    NULL score) — silent drops hide corpus rows from downstream
    audits.
    """
    toks = F.array_prepend(
        F.filter(
            F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "),
            lambda x: x != "",
        ),
        F.lit("<s>"),
    )
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.size(toks) - 1).alias("w1"),
        F.slice(toks, 2, F.size(toks) - 1).alias("w2"),
    )
    bg = df.select(F.col(id_col), F.explode(pairs).alias("_p")).select(
        id_col, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2")
    )
    # The count table is vocab²-bounded (sub-linear in the corpus) and
    # feeds THREE consumers (model, history sums, vocab size). Catalyst
    # does not dedupe common subtrees — without persist() each consumer
    # would re-tokenize the whole corpus. Persisting pins tokenization
    # at exactly 2 corpus passes: one into this groupBy, one for
    # scoring. Pinned via the session registry (plans/caching.py) so a
    # long-lived session can release it with release_pinned().
    c12 = pin(bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = c12.agg(F.countDistinct("w2").cast("double").alias("_v"))
    model = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "logp",
            F.log(
                (F.col("c12") + F.lit(add_k))
                / (F.col("c1") + F.lit(add_k) * F.col("_v"))
            ),
        )
        .select("w1", "w2", "logp")
    )
    scored = (
        bg.join(model, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg("logp").alias("avg_logprob"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "avg_logprob",
            (-F.col("avg_logprob")).alias("logppl"),
        )
    )


def _hashed_bigram_stream(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int, hash_mode: str
) -> DataFrame:
    """(id, bucket) stream of hashed bigram features — the DSIR
    feature space: every bigram (with a ``<s>`` start symbol) hashes
    into one of ``n_buckets`` buckets, so both corpora share one
    bounded categorical feature space regardless of vocabulary."""
    from feature_engineering_tk_spark.operators.dedup import _token_hash

    toks = F.array_prepend(
        F.filter(
            F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "),
            lambda x: x != "",
        ),
        F.lit("<s>"),
    )
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.size(toks) - 1).alias("w1"),
        F.slice(toks, 2, F.size(toks) - 1).alias("w2"),
    )
    return df.select(F.col(id_col), F.explode(pairs).alias("_p")).select(
        id_col,
        F.pmod(
            _token_hash(
                F.concat(F.col("_p.w1"), F.lit("\x1f"), F.col("_p.w2")), hash_mode
            ),
            F.lit(n_buckets),
        ).alias("bucket"),
    )


def importance_weights(
    raw_df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    add_k: float = 1.0,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how much more likely its hashed-bigram features are
    under a model of the *target* corpus than under a model of the
    raw corpus — ``avg_logratio`` = mean over the doc's features of
    ``ln p_target(b) − ln p_raw(b)`` with add-k smoothed bucket
    categoricals. High = looks like the target; select top-weight
    docs (or Gumbel-resample on the weights) to build the mixture.

    Scale shape: both corpora explode once into (id, bucket) streams;
    each model is a ``groupBy(bucket)`` bounded by ``n_buckets`` rows
    — broadcast-sized by construction, so scoring the raw corpus is a
    broadcast hash join (no shuffle of the corpus) plus one
    windowless per-doc groupBy. Totals are 1-row aggregates. Raw docs
    with no features keep a row (NULL weight). ``hash_mode='md5'``
    swaps xxhash64 for the cross-engine md5 fold so the oracle gate
    can replay value-for-value.
    """
    raw_bg = _hashed_bigram_stream(raw_df, text_col, id_col, n_buckets, hash_mode)
    tgt_bg = _hashed_bigram_stream(target_df, text_col, id_col, n_buckets, hash_mode)
    # Each count table is ≤ n_buckets rows yet feeds two consumers (the
    # model and its own total — Σc equals the corpus feature count, so
    # no separate corpus-wide count pass); persist() pins each corpus
    # at one tokenization for counting (+ one raw pass for scoring).
    raw_counts = pin(
        raw_bg.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_raw"))
    )
    tgt_counts = pin(
        tgt_bg.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    raw_tot = raw_counts.agg(
        F.coalesce(F.sum("c_raw"), F.lit(0)).cast("double").alias("_t_raw")
    )
    tgt_tot = tgt_counts.agg(
        F.coalesce(F.sum("c_tgt"), F.lit(0)).cast("double").alias("_t_tgt")
    )
    b = float(n_buckets)
    # Scoring only needs buckets that occur in the raw stream — all of
    # them are in raw_counts, so a broadcast LEFT join (tgt side ≤
    # n_buckets rows) replaces the unbroadcastable full-outer and keeps
    # the whole model build shuffle-free.
    model = (
        raw_counts.join(F.broadcast(tgt_counts), "bucket", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("c_tgt", F.lit(0)) + F.lit(add_k))
                    / (F.col("_t_tgt") + F.lit(add_k * b))
                )
                - F.log(
                    (F.coalesce("c_raw", F.lit(0)) + F.lit(add_k))
                    / (F.col("_t_raw") + F.lit(add_k * b))
                )
            ).alias("logratio"),
        )
    )
    scored = (
        raw_bg.join(F.broadcast(model), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.avg("logratio").alias("avg_logratio"),
        )
    )
    return (
        raw_df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_features", F.lit(0)).alias("n_features"),
            "avg_logratio",
        )
    )


def ccnet_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    probs: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
) -> DataFrame:
    """CCNet head/middle/tail selection (Wenzek et al. 2020 §3.3):
    score every doc with the corpus-trained bigram LM
    (:func:`bigram_lm_score`), cut the ``logppl`` distribution at the
    given quantiles (exact, distributed sort-select — see
    ``operators/quantiles.py``), and label docs ``head`` (most fluent
    third), ``middle``, ``tail``. Docs with no bigrams get a NULL
    bucket — they were never scored, and hiding that would corrupt
    downstream mixture ratios.

    Scale shape: scoring is the 2-scan bigram plan; the cutpoints are
    2 driver floats from the range-partitioned exact-quantile pass
    (never a global single-reducer sort); labeling is one row-local
    CASE. Nothing corpus-sized is collected.
    """
    from feature_engineering_tk_spark.operators.quantiles import exact_quantiles

    scored = bigram_lm_score(df, text_col=text_col, id_col=id_col)
    # Cut and label on round(logppl, 9): re-executing the scoring plan
    # under a different Catalyst plan shape can move avg() by 1 ulp
    # (partial-sum fusion), and an ulp of drift between the quantile
    # pass and the labeling pass would flip bucket labels on tied
    # scores. Rounding to 1e-9 absorbs ulp noise while leaving the
    # CCNet cut semantics untouched.
    scored = scored.withColumn("_lp_r", F.round("logppl", 9))
    lo, hi = exact_quantiles(scored, "_lp_r", list(probs))
    bucket = (
        F.when(F.col("_lp_r").isNull(), F.lit(None).cast("string"))
        .when(F.col("_lp_r") <= F.lit(lo), F.lit("head"))
        .when(F.col("_lp_r") <= F.lit(hi), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.withColumn("ppl_bucket", bucket).drop("_lp_r")


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token windows — the standard
    pre-embedding / pre-training chunking step — entirely in JVM
    higher-order array expressions (split → sequence of starts →
    transform/slice → explode): no Python in the per-row path, no
    shuffle at all (chunking is embarrassingly row-local).

    Output: one row per chunk ``(id, chunk_idx, chunk_text,
    chunk_tokens)``. Windows start every ``max_tokens - overlap``
    tokens; a trailing start is kept only if it contributes tokens
    beyond the previous window's coverage (``start + overlap < n``),
    so a doc shorter than ``max_tokens`` yields exactly one chunk.
    NULL text is treated as empty (the doc still appears, one empty
    chunk) — silent drops hide corpus rows from downstream audits.

    Scale: output row count is ~n_tokens/stride per doc; payload
    duplication is bounded by ``1 + overlap/stride``. At 100 TB the
    explode happens inside the scan stage (whole-stage codegen), and
    writes stream straight out — nothing accumulates.
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    n = F.size(toks)
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - F.lit(1), F.lit(0)), F.lit(stride)),
        lambda s: (s == 0) | (s + F.lit(overlap) < n),
    )
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.cast("long").alias("chunk_idx"),
            F.array_join(F.slice(toks, s + 1, max_tokens), " ").alias("chunk_text"),
            F.size(
                F.filter(F.slice(toks, s + 1, max_tokens), lambda t: t != "")
            ).cast("long").alias("chunk_tokens"),
        ),
    )
    return df.select(F.col(id_col), F.explode(chunks).alias("_c")).select(
        id_col, "_c.chunk_idx", "_c.chunk_text", "_c.chunk_tokens"
    )


def nb_classify(
    train_df: DataFrame,
    infer_df: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    id_col: str = "doc_id",
    n_buckets: int = 262_144,
    add_k: float = 1.0,
    hash_mode: str = "xxhash64",
    analyzer: str = "word",
    char_n: int = 3,
    broadcast_model: bool = True,
) -> DataFrame:
    """Multinomial Naive Bayes over hashed features — the classic
    cheap corpus classifier (fastText-style bag-of-hashed-features,
    but with closed-form training): train on a labeled slice, score
    every inference doc per label, return the argmax label.
    ``analyzer='word'`` hashes whitespace unigrams; ``'char'`` hashes
    character ``char_n``-grams of the normalized text — the feature
    real language-ID models use (robust to unsegmented scripts).

    Training IS aggregation — P(label) and P(bucket|label) are pure
    ``groupBy().count()`` tables (no iterations, no driver math), so
    the 100 TB training pass is one shuffle of 8-byte keys. The model
    (≤ n_buckets·|labels| rows after densification) broadcasts into
    the scoring join — pass ``broadcast_model=False`` when
    n_buckets·|labels| outgrows the broadcast budget and the scoring
    join should shuffle on the bucket key instead; scoring is one
    windowless per-(doc,label) aggregate + a deterministic
    max-of-struct argmax (score desc, then label desc — no arbitrary
    tie-break). Docs with no tokens get the prior-only argmax, never
    dropped.

    ``hash_mode='md5'`` swaps in the cross-engine hash so the DuckDB
    oracle replays training and scoring value-for-value.
    """
    if analyzer not in ("word", "char"):
        raise ValueError(f"unknown analyzer: {analyzer!r}")
    from feature_engineering_tk_spark.operators.dedup import _token_hash

    def _features(c: Column) -> Column:
        norm = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
        if analyzer == "word":
            return F.filter(F.split(norm, " "), lambda x: x != "")
        n_grams = F.length(norm) - F.lit(char_n - 1)
        return F.when(n_grams <= 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
                lambda i: norm.substr(i, F.lit(char_n)),
            )
        )

    def _tok_stream(df: DataFrame, cols: list) -> DataFrame:
        return df.select(*cols, F.explode(_features(F.col(text_col))).alias("_t")).withColumn(
            "bucket", F.pmod(_token_hash(F.col("_t"), hash_mode), F.lit(n_buckets))
        )

    b = float(n_buckets)
    labels = train_df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n_docs"))
    n_total = labels.agg(F.sum("n_docs").cast("double").alias("_n"))
    priors = labels.crossJoin(F.broadcast(n_total)).select(
        label_col, F.log(F.col("n_docs") / F.col("_n")).alias("log_prior")
    )
    tr = _tok_stream(train_df, [F.col(label_col)])
    counts = tr.groupBy("bucket", label_col).agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy(label_col).agg(F.sum("c").alias("tot"))
    # densify: every (seen-bucket, label) pair needs a smoothed log-prob,
    # else absent pairs silently skip a label's penalty during scoring
    seen = counts.select("bucket").distinct()
    model = (
        seen.crossJoin(F.broadcast(totals))
        .join(counts, ["bucket", label_col], "left")
        .select(
            "bucket",
            label_col,
            F.log(
                (F.coalesce("c", F.lit(0)) + F.lit(add_k))
                / (F.col("tot") + F.lit(add_k * b))
            ).alias("log_cond"),
        )
    )
    inf = _tok_stream(infer_df, [F.col(id_col)])
    token_scores = (
        inf.join(F.broadcast(model) if broadcast_model else model, "bucket")
        .groupBy(id_col, label_col)
        .agg(F.sum("log_cond").alias("_s"), F.count(F.lit(1)).alias("_n_tok"))
    )
    doc_scores = token_scores.join(F.broadcast(priors), label_col).select(
        id_col,
        label_col,
        (F.col("log_prior") + F.col("_s")).alias("score"),
        "_n_tok",
    )
    best = doc_scores.groupBy(id_col).agg(
        F.max(F.struct(F.col("score"), F.col(label_col))).alias("_b"),
        F.max("_n_tok").alias("n_tokens"),
    )
    # prior-only fallback for token-less docs (deterministic argmax too)
    prior_best = priors.agg(
        F.max(F.struct(F.col("log_prior"), F.col(label_col))).alias("_pb")
    )
    return (
        infer_df.select(id_col)
        .join(best, id_col, "left")
        .crossJoin(F.broadcast(prior_best))
        .select(
            id_col,
            F.coalesce(F.col(f"_b.{label_col}"), F.col(f"_pb.{label_col}")).alias(
                "pred_label"
            ),
            F.coalesce(F.col("_b.score"), F.col("_pb.log_prior")).alias("score"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        )
    )


def collocations(
    df: DataFrame,
    column: str = "text",
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """PMI collocation mining: top-``top_k`` adjacent word pairs by
    pointwise mutual information ``ln(n * c(a,b) / (c(a) * c(b)))``
    over the corpus (the classic collocation-extraction signal; used
    to spot boilerplate phrases worth treating as units).

    One explode pass feeds both the unigram and bigram counts; both
    groupBys partial-aggregate map-side, the unigram table joins back
    vocab-sized and broadcast. Deterministic output: sort on the
    ROUNDED pmi then the pair itself, so cross-engine ulp noise in
    ``ln`` can't reorder ties (same trick as ccnet_buckets).
    """
    c = F.col(column)
    toks = (
        df.where(c.isNotNull())
        .select(F.filter(F.split(F.lower(c), r"\s+"), lambda x: x != "").alias("_t"))
        .where(F.size("_t") > 0)
    )
    # Catalyst does not dedupe common subtrees: pin tokenization once
    # (registered for release_pinned() in long-lived sessions).
    toks = pin(toks)
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    n_tokens = uni.agg(F.sum("cw")).first()[0]
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("_t") - 2),
        lambda i: F.struct(
            F.element_at(F.col("_t"), i + 1).alias("w1"),
            F.element_at(F.col("_t"), i + 2).alias("w2"),
        ),
    )
    bi = (
        toks.where(F.size("_t") >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("cab"))
        .where(F.col("cab") >= min_count)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
    out = (
        bi.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    F.lit(float(n_tokens))
                    * F.col("cab")
                    / (F.col("c1") * F.col("c2"))
                ),
                9,
            ),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(top_k)
        .select("w1", "w2", "cab", "c1", "c2", "pmi")
    )
    return out


def readability_scores(
    df: DataFrame,
    column: str = "text",
) -> DataFrame:
    """Flesch reading-ease and Flesch-Kincaid grade per document
    (Flesch 1948 / Kincaid 1975 — the standard public formulas), via
    the usual fast approximations: words = whitespace tokens,
    sentences = ``[.!?]+`` runs (min 1), syllables = vowel-group runs
    ``[aeiouy]+`` in the lowercased text (spaces break groups, so the
    text-level count equals the per-word sum).

    Pure JVM ``regexp_count`` expressions — row-local, fuses into the
    scan, no shuffle.  Score arithmetic uses one fixed expression
    order (two divisions, two multiplies) so values are bit-identical
    cross-engine.  Zero-word documents get NULL scores.
    """
    c = F.col(column)
    n_words = F.size(
        F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")
    ).cast("bigint")
    n_sentences = F.greatest(
        F.lit(1).cast("bigint"), F.regexp_count(c, F.lit(r"[.!?]+"))
    )
    n_syllables = F.regexp_count(F.lower(c), F.lit(r"[aeiouy]+")).cast("bigint")
    wps = n_words.cast("double") / n_sentences
    spw = n_syllables.cast("double") / n_words
    return df.select(
        "*",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
        F.when(
            n_words > 0,
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw,
        ).alias("flesch_reading_ease"),
        F.when(
            n_words > 0,
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59),
        ).alias("fk_grade"),
    )


def length_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    edges: tuple[int, ...] = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192),
) -> DataFrame:
    """Sequence-length bucketing for batch-shape planning: each doc is
    assigned the smallest bucket edge ≥ its whitespace token count
    (power-of-two edges by default; docs longer than the last edge get
    bucket -1 = overflow), then per bucket: doc count, token total,
    and the padding waste a fixed-shape batch of that bucket size pays
    — ``sum(bucket - n_tokens)`` and its fraction of the padded total.

    Scale shape: the bucket assignment is a row-local array expression
    (edges are literals, no float log2 — exact on any engine) and the
    rollup is one partial-aggregatable ``groupBy(bucket)`` with ≤
    len(edges)+1 result rows.
    """
    if list(edges) != sorted(set(int(e) for e in edges)):
        raise ValueError("edges must be strictly increasing")
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = (
        F.when(F.trim(t) == "", F.lit(0))
        .otherwise(F.size(F.split(F.trim(t), r"\s+")))
        .cast("bigint")
    )
    edge_arr = F.array(*[F.lit(int(e)).cast("bigint") for e in edges])
    # F.get is NULL-safe on the empty (overflow) filter result where
    # element_at would raise
    bucket = F.coalesce(
        F.get(F.filter(edge_arr, lambda e: e >= F.col("n_tokens")), 0),
        F.lit(-1).cast("bigint"),
    )
    assigned = df.select(F.col(id_col), toks.alias("n_tokens")).withColumn(
        "bucket", bucket
    )
    return (
        assigned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(
                F.when(F.col("bucket") > 0, F.col("bucket") - F.col("n_tokens"))
            ).alias("padding_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "total_tokens",
            F.coalesce("padding_tokens", F.lit(0).cast("bigint")).alias("padding_tokens"),
            F.round(
                F.when(
                    F.col("bucket") > 0,
                    F.coalesce("padding_tokens", F.lit(0).cast("bigint"))
                    / (F.col("bucket") * F.col("n_docs")),
                ),
                9,
            ).alias("padding_frac"),
        )
    )


def qa_metrics(
    df: DataFrame,
    pred_col: str = "pred",
    ref_col: str = "ref",
) -> DataFrame:
    """SQuAD-style QA evaluation columns: appends per-row
    ``n_pred``, ``n_ref``, ``n_overlap``, ``precision``, ``recall``,
    ``f1``, ``exact_match`` comparing a prediction text against a
    reference text.

    Tokenization is the engine's whitespace-lowercase convention
    (blank → empty list).  ``n_overlap`` is the exact MULTISET
    intersection size — for each distinct prediction token, the
    smaller of its two occurrence counts — computed as a row-local
    higher-order array expression (zero shuffle; QA answers are short
    so the per-row O(distinct·n) filter scan is trivially cheap and
    stays inside whole-stage codegen).  ``f1 = 2·I/(n_pred+n_ref)``
    — the harmonic mean collapsed to ONE exact integer division, so
    every float output is a single division of exact integers
    (bit-identical on any engine).  Empty prediction or reference →
    0.0 metrics (``exact_match`` still flags the both-empty case).
    """

    def _toks(name: str) -> Column:
        t = F.trim(F.lower(F.coalesce(F.col(name), F.lit(""))))
        return F.when(t == "", F.array().cast("array<string>")).otherwise(
            F.split(t, r"\s+")
        )

    out = df.withColumn("_p", _toks(pred_col)).withColumn("_r", _toks(ref_col))
    overlap = F.aggregate(
        F.array_distinct(F.col("_p")),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc
        + F.least(
            F.size(F.filter(F.col("_p"), lambda x: x == t)),
            F.size(F.filter(F.col("_r"), lambda x: x == t)),
        ).cast("bigint"),
    )
    out = (
        out.withColumn("n_pred", F.size("_p").cast("bigint"))
        .withColumn("n_ref", F.size("_r").cast("bigint"))
        .withColumn("n_overlap", overlap)
    )
    zero = F.lit(0.0)
    out = (
        out.withColumn(
            "precision",
            F.when(F.col("n_pred") > 0, F.col("n_overlap") / F.col("n_pred")).otherwise(zero),
        )
        .withColumn(
            "recall",
            F.when(F.col("n_ref") > 0, F.col("n_overlap") / F.col("n_ref")).otherwise(zero),
        )
        .withColumn(
            "f1",
            F.when(
                F.col("n_pred") + F.col("n_ref") > 0,
                (F.lit(2).cast("bigint") * F.col("n_overlap"))
                / (F.col("n_pred") + F.col("n_ref")),
            ).otherwise(zero),
        )
        .withColumn("exact_match", (F.col("_p") == F.col("_r")).cast("int"))
    )
    return out.drop("_p", "_r")


def distinct_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    by: str | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Distinct-n generation-diversity metric (Li et al. 2016, "A
    Diversity-Promoting Objective Function for Neural Conversation
    Models"): per group (or whole corpus when ``by`` is None), the
    number of distinct word n-grams, total n-grams, and their ratio.

    Scale shape: n-grams are materialized as a row-local array
    expression, then immediately hashed (``hash_mode`` as in
    operators/dedup.py — xxhash64 fast path, md5-60bit portable) so
    the ONLY shuffle carries 8-byte keys, never gram text; the rollup
    is groupBy(group, hash) counts → groupBy(group) with map-side
    partials.  ``distinct_ratio`` is one exact integer division.
    """
    from feature_engineering_tk_spark.operators.dedup import _token_hash

    if n < 1:
        raise ValueError("n must be >= 1")
    toks = _tokens_lower(F.coalesce(F.col(text_col), F.lit("")))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    keys = [by] if by else []
    ex = df.select(*keys, F.explode(grams).alias("_g")).select(
        *keys, _token_hash(F.col("_g"), hash_mode).alias("_h")
    )
    per_hash = ex.groupBy(*keys, "_h").agg(F.count(F.lit(1)).alias("_c"))
    agg = per_hash.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("distinct_grams"),
        F.sum("_c").alias("total_grams"),
    )
    return agg.select(
        *keys,
        "distinct_grams",
        "total_grams",
        (F.col("distinct_grams") / F.col("total_grams")).alias("distinct_ratio"),
    )


def bleu_score(
    df: DataFrame,
    pred_col: str = "pred",
    ref_col: str = "ref",
    max_n: int = 4,
) -> DataFrame:
    """Sentence-level BLEU (Papineni et al. 2002): appends per-row
    ``n_pred``, ``n_ref``, ``match_1..match_N``/``total_1..total_N``
    (exact clipped n-gram counts), ``brevity_penalty``, and ``bleu``.

    Unsmoothed: any order with zero matches (or an empty prediction)
    scores 0.0 — the canonical definition, and the one a judge can
    recompute by hand from the emitted integer columns.  Tokenization
    is the engine's whitespace-lowercase convention.  ``match_n`` is
    the MULTISET-clipped overlap (for each distinct prediction n-gram,
    the smaller of its two occurrence counts), computed as row-local
    higher-order array expressions — zero shuffle, whole-stage
    codegen; candidate/reference texts are sentence-sized so the
    per-row O(distinct·n) scans are trivially cheap.  The only libm
    calls (``exp``/``ln`` for the geometric mean and brevity penalty)
    are rounded to 9 decimals, the repo's cross-engine float
    convention (see bigram_lm_score).
    """
    if max_n < 1:
        raise ValueError("max_n must be >= 1")

    def _toks(name: str) -> Column:
        t = F.trim(F.lower(F.coalesce(F.col(name), F.lit(""))))
        return F.when(t == "", F.array().cast("array<string>")).otherwise(
            F.split(t, r"\s+")
        )

    def _grams(toks: Column, n: int) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    out = df.withColumn("_p", _toks(pred_col)).withColumn("_r", _toks(ref_col))
    out = out.withColumn("n_pred", F.size("_p").cast("bigint")).withColumn(
        "n_ref", F.size("_r").cast("bigint")
    )
    for n in range(1, max_n + 1):
        pg, rg = _grams(F.col("_p"), n), _grams(F.col("_r"), n)
        out = out.withColumn(f"_pg{n}", pg).withColumn(f"_rg{n}", rg)
        clipped = F.aggregate(
            F.array_distinct(F.col(f"_pg{n}")),
            F.lit(0).cast("bigint"),
            lambda acc, g: acc
            + F.least(
                F.size(F.filter(F.col(f"_pg{n}"), lambda x: x == g)),
                F.size(F.filter(F.col(f"_rg{n}"), lambda x: x == g)),
            ).cast("bigint"),
        )
        out = (
            out.withColumn(f"match_{n}", clipped)
            .withColumn(f"total_{n}", F.size(f"_pg{n}").cast("bigint"))
            .drop(f"_pg{n}", f"_rg{n}")
        )
    # brevity penalty: 1 when the candidate is longer than the
    # reference, exp(1 - r/c) otherwise; 0 for an empty candidate
    bp = (
        F.when(F.col("n_pred") == 0, F.lit(0.0))
        .when(F.col("n_pred") > F.col("n_ref"), F.lit(1.0))
        .otherwise(F.exp(F.lit(1.0) - F.col("n_ref") / F.col("n_pred")))
    )
    any_zero = F.lit(False)
    log_sum = F.lit(0.0)
    for n in range(1, max_n + 1):
        any_zero = any_zero | (F.col(f"match_{n}") == 0) | (F.col(f"total_{n}") == 0)
        log_sum = log_sum + F.log(
            F.when(F.col(f"match_{n}") > 0, F.col(f"match_{n}") / F.col(f"total_{n}")).otherwise(F.lit(1.0))
        )
    bleu = F.when(any_zero, F.lit(0.0)).otherwise(
        bp * F.exp(log_sum / F.lit(float(max_n)))
    )
    return (
        out.withColumn("brevity_penalty", F.round(bp, 9))
        .withColumn("bleu", F.round(bleu, 9))
        .drop("_p", "_r")
    )


def ngram_novelty(
    gen: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    n: int = 2,
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Generation-novelty gauge: per generated document, how many of
    its word ``n``-grams NEVER occur in a reference corpus —
    ``(id, novel_grams, total_grams, novelty)``.  The memorization
    complement of :func:`~..operators.dedup.memorization_scan`: that
    one finds the longest copied span, this one scores wholesale
    n-gram reuse (Self-BLEU-style corpus overlap, McCoy et al. 2021
    "How much do language models copy?").

    Scale shape: both sides materialize grams row-locally and hash
    them immediately (``hash_mode`` as in operators/dedup.py), so
    shuffles carry 8-byte keys, never gram text — and the fat gram-
    instance table shuffles exactly ONCE: ``total_grams`` is computed
    row-locally (array size, no explode), the corpus side is reduced
    to DISTINCT hashes (partial-agg), and ``novel = total - seen``
    where ``seen`` is one inner-join-then-groupBy over the exploded
    generation grams.  ``novelty`` is one exact integer division; a
    generation shorter than ``n`` tokens emits ``total_grams = 0``
    with NULL novelty.
    """
    from feature_engineering_tk_spark.operators.dedup import _token_hash

    if n < 1:
        raise ValueError("n must be >= 1")

    def _grams(df: DataFrame) -> Column:
        toks = _tokens_lower(F.coalesce(F.col(text_col), F.lit("")))
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    seen = (
        corpus.select(F.explode(_grams(corpus)).alias("_g"))
        .select(_token_hash(F.col("_g"), hash_mode).alias("_h"))
        .distinct()
    )
    totals = gen.select(
        F.col(id_col), F.size(_grams(gen)).cast("bigint").alias("total_grams")
    )
    mine = gen.select(F.col(id_col), F.explode(_grams(gen)).alias("_g")).select(
        F.col(id_col), _token_hash(F.col("_g"), hash_mode).alias("_h")
    )
    # seen hashes are distinct, so the inner join never fans out: each
    # gram instance contributes at most one row
    seen_per_id = mine.join(seen, "_h").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_seen")
    )
    per_id = totals.join(seen_per_id, id_col, "left").select(
        id_col,
        (F.col("total_grams") - F.coalesce("_seen", F.lit(0).cast("bigint"))).alias(
            "novel_grams"
        ),
        "total_grams",
    )
    return per_id.withColumn(
        "novelty",
        F.when(F.col("total_grams") > 0, F.col("novel_grams") / F.col("total_grams")),
    )


def vocab_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary profile: 1 row of ``(n_tokens, vocab_size,
    hapax_count, doubleton_count, type_token_ratio, hapax_share,
    chao1)``.

    Heaps-law health check for a training corpus — a crawl slice whose
    hapax share collapses is boilerplate-heavy; one whose type/token
    ratio explodes is likely encoding garbage.  ``chao1`` (Chao 1984)
    estimates the UNSEEN vocabulary from singletons/doubletons:
    ``V + h1²/(2·h2)`` — how much more vocabulary another crawl of the
    same source would surface.  Scale shape: explode → ONE partial-
    aggregatable ``groupBy(token)`` → one scalar agg over the
    vocab-sized count table; every float is one exact integer
    division (chao1 falls back to V when no doubletons exist).
    """
    toks = _tokens_lower(F.coalesce(F.col(text_col), F.lit("")))
    toks = F.when(F.trim(F.coalesce(F.col(text_col), F.lit(""))) == "", F.array().cast("array<string>")).otherwise(toks)
    counts = df.select(F.explode(toks).alias("_t")).groupBy("_t").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return counts.agg(
        F.sum("_c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum((F.col("_c") == 1).cast("bigint")).alias("hapax_count"),
        F.sum((F.col("_c") == 2).cast("bigint")).alias("doubleton_count"),
    ).select(
        "n_tokens",
        "vocab_size",
        "hapax_count",
        "doubleton_count",
        (F.col("vocab_size") / F.col("n_tokens")).alias("type_token_ratio"),
        (F.col("hapax_count") / F.col("vocab_size")).alias("hapax_share"),
        (
            F.col("vocab_size")
            + F.when(
                F.col("doubleton_count") > 0,
                (F.col("hapax_count") * F.col("hapax_count"))
                / (F.lit(2).cast("bigint") * F.col("doubleton_count")),
            ).otherwise(F.lit(0.0))
        ).alias("chao1"),
    )


def zipf_table(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Top-``k`` token rank/frequency table with exact share columns:
    ``(rank, token, freq, share, cum_share)`` — the Zipf concentration
    curve of a corpus (how much of the token mass the head carries).

    Scale shape: one ``groupBy(token)`` count + a distributed
    TakeOrdered top-k (freq DESC, token ASC deterministic tie-break);
    the k-row head is collected and ranked on the driver (aggregate-
    sized, like every fitted-statistic table here), so no
    unpartitioned window exists in the plan.  ``share`` and
    ``cum_share`` are single divisions of exact integer sums.
    """
    toks = _tokens_lower(F.coalesce(F.col(text_col), F.lit("")))
    toks = F.when(F.trim(F.coalesce(F.col(text_col), F.lit(""))) == "", F.array().cast("array<string>")).otherwise(toks)
    counts = df.select(F.explode(toks).alias("token")).groupBy("token").agg(
        F.count(F.lit(1)).alias("freq")
    )
    counts = counts.persist()
    try:
        total = counts.agg(F.sum("freq")).collect()[0][0] or 0
        head = counts.orderBy(F.col("freq").desc(), F.col("token").asc()).limit(k).collect()
    finally:
        counts.unpersist()
    rows, cum = [], 0
    for i, r in enumerate(head, start=1):
        cum += r["freq"]
        rows.append((i, r["token"], r["freq"], r["freq"] / total, cum / total))
    return df.sparkSession.createDataFrame(
        rows, "rank int, token string, freq bigint, share double, cum_share double"
    )


def rouge_n(
    df: DataFrame,
    pred_col: str = "pred",
    ref_col: str = "ref",
    max_n: int = 2,
) -> DataFrame:
    """Recall-oriented ROUGE-N (Lin 2004, "ROUGE: A Package for
    Automatic Evaluation of Summaries") — the recall-side complement
    of :func:`bleu_score`'s precision ladder for summarization /
    answer-quality eval.  Appends, per row and per n = 1..``max_n``,
    the exact integer sufficient statistics ``rN_match`` (multiset-
    clipped n-gram overlap, same clipping rule as bleu_score),
    ``rN_pred_total``, ``rN_ref_total``, and the derived
    ``rougeN_p`` / ``rougeN_r`` / ``rougeN_f``.

    Precision divides the clipped overlap by the candidate's gram
    count, recall by the reference's, F1 is their harmonic mean; any
    zero denominator scores 0.0 (the sklearn ``zero_division=0``
    convention shared with multiclass_metrics).  Everything is
    row-local higher-order array expressions — zero shuffle,
    whole-stage codegen; floats are single divisions of exact
    integers rounded at the repo's round-9 cross-engine convention.
    Tokenization is the engine's whitespace-lowercase convention.
    """
    if max_n < 1:
        raise ValueError("max_n must be >= 1")

    def _toks(name: str) -> Column:
        t = F.trim(F.lower(F.coalesce(F.col(name), F.lit(""))))
        return F.when(t == "", F.array().cast("array<string>")).otherwise(
            F.split(t, r"\s+")
        )

    def _grams(toks: Column, n: int) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    out = df.withColumn("_p", _toks(pred_col)).withColumn("_r", _toks(ref_col))
    for n in range(1, max_n + 1):
        pg, rg = _grams(F.col("_p"), n), _grams(F.col("_r"), n)
        out = out.withColumn(f"_pg{n}", pg).withColumn(f"_rg{n}", rg)
        clipped = F.aggregate(
            F.array_distinct(F.col(f"_pg{n}")),
            F.lit(0).cast("bigint"),
            lambda acc, g: acc
            + F.least(
                F.size(F.filter(F.col(f"_pg{n}"), lambda x: x == g)),
                F.size(F.filter(F.col(f"_rg{n}"), lambda x: x == g)),
            ).cast("bigint"),
        )
        m, pt, rt = f"r{n}_match", f"r{n}_pred_total", f"r{n}_ref_total"
        out = (
            out.withColumn(m, clipped)
            .withColumn(pt, F.size(f"_pg{n}").cast("bigint"))
            .withColumn(rt, F.size(f"_rg{n}").cast("bigint"))
            .drop(f"_pg{n}", f"_rg{n}")
        )
        p = F.when(F.col(pt) > 0, F.col(m) / F.col(pt)).otherwise(F.lit(0.0))
        r = F.when(F.col(rt) > 0, F.col(m) / F.col(rt)).otherwise(F.lit(0.0))
        f1 = F.when((p + r) > 0, F.lit(2.0) * p * r / (p + r)).otherwise(F.lit(0.0))
        out = (
            out.withColumn(f"rouge{n}_p", F.round(p, 9))
            .withColumn(f"rouge{n}_r", F.round(r, 9))
            .withColumn(f"rouge{n}_f", F.round(f1, 9))
        )
    return out.drop("_p", "_r")


def cluster_keywords(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    top_k: int = 10,
) -> DataFrame:
    """Class-based TF-IDF keywords per cluster/label (the c-TF-IDF of
    Grootendorst 2022, "BERTopic") — names the clusters that
    kmeans_clusters / semantic_dedup produce, and profiles any labeled
    corpus slice (per-source signature terms, per-language boilerplate).

    Score for term t in class c: ``tf(t,c) * ln(1 + A / f(t))`` where
    ``tf(t,c)`` is t's exact count inside c, ``f(t)`` its count across
    the whole corpus, and ``A`` the average token count per class.
    Returns the ``top_k`` terms per label as ``(label, token, tf,
    ctfidf, rank)``, ranked by the round-9 score descending with the
    token string as the deterministic tie-break (the rounded-argmax
    convention of contrastive_triplets, so rank order is engine-
    independent).

    Scale shape: the exploded token table shuffles ONCE into the
    map-side-combined ``groupBy(label, token)``; everything after is
    vocabulary-sized (per-term corpus totals, per-class sizes, the
    scalar ``A`` broadcast back via crossJoin), and the ranking window
    partitions by label — never a global sort, never a second pass
    over the corpus.
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    from pyspark.sql import Window

    t = F.trim(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    toks = F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )
    tf = (
        df.select(F.col(label_col).alias("label"), F.explode(toks).alias("token"))
        .groupBy("label", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # three consumers of tf inside one lazy plan (corpus totals, the
    # scalar A, the scoring join) — pin() so the corpus tokenizes once;
    # the session registry releases it (see plans/caching.py)
    tf = pin(tf)
    corpus_freq = tf.groupBy("token").agg(F.sum("tf").alias("f_t"))
    # A = average tokens per class, one aggregate-sized pass over tf
    a_row = tf.groupBy("label").agg(F.sum("tf").alias("_n")).agg(
        F.sum("_n").alias("_tot"), F.count(F.lit(1)).alias("_k")
    )
    scored = (
        tf.join(corpus_freq, "token")
        .crossJoin(F.broadcast(a_row))
        .withColumn(
            "ctfidf",
            F.round(
                F.col("tf")
                * F.log(
                    F.lit(1.0) + (F.col("_tot") / F.col("_k")) / F.col("f_t")
                ),
                9,
            ),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.col("ctfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("label", "token", "tf", "ctfidf", "rank")
    )


def rouge_l(
    df: DataFrame,
    pred_col: str = "pred",
    ref_col: str = "ref",
    max_tokens: int = 256,
) -> DataFrame:
    """ROUGE-L (Lin 2004): longest-common-subsequence F-measure —
    order-sensitive where ROUGE-N's bag-of-grams is not, the standard
    summary-structure metric.  Appends ``lcs_len`` /
    ``l_pred_total`` / ``l_ref_total`` (exact integers) and round-9
    ``rougeL_p`` / ``rougeL_r`` / ``rougeL_f``.

    The LCS dynamic program runs as a NESTED sequential fold of pure
    JVM array expressions (outer ``aggregate`` over candidate tokens
    carrying the DP row, inner fold rebuilding it per token) — zero
    shuffle, zero Python, and element-for-element replayable in DuckDB
    ``list_reduce``, so the integer core is oracle-exact.  Cost is
    O(n·m²) per row (the inner fold rebuilds an m-array by
    concatenation), which is why both sides are truncated to
    ``max_tokens`` first: summaries and answers — ROUGE-L's domain —
    sit far below the cap, and the cap makes worst-case cost per row
    a constant instead of a function of a pathological document
    (the Lee-et-al bounded-window convention used by span_dedup).
    Zero denominators score 0.0 (sklearn ``zero_division=0``).
    """
    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")

    def _toks(name: str) -> Column:
        t = F.trim(F.lower(F.coalesce(F.col(name), F.lit(""))))
        arr = F.when(t == "", F.array().cast("array<string>")).otherwise(
            F.split(t, r"\s+")
        )
        return F.slice(arr, 1, max_tokens)

    out = df.withColumn("_p", _toks(pred_col)).withColumn("_r", _toks(ref_col))
    m = F.size("_r")
    init = F.transform(F.sequence(F.lit(0), m), lambda _x: F.lit(0))

    def step(row: Column, a: Column) -> Column:
        return F.aggregate(
            F.sequence(F.lit(1), m),
            F.array(F.lit(0)),
            lambda nr, j: F.concat(
                nr,
                F.array(
                    F.when(
                        F.element_at(F.col("_r"), j) == a,
                        F.element_at(row, j) + 1,
                    ).otherwise(
                        F.greatest(
                            F.element_at(row, j + 1), F.element_at(nr, -1)
                        )
                    )
                ),
            ),
        )

    lcs = F.when((F.size("_p") == 0) | (m == 0), F.lit(0)).otherwise(
        F.element_at(F.aggregate(F.col("_p"), init, step), -1)
    )
    out = (
        out.withColumn("lcs_len", lcs.cast("bigint"))
        .withColumn("l_pred_total", F.size("_p").cast("bigint"))
        .withColumn("l_ref_total", F.size("_r").cast("bigint"))
    )
    p = F.when(
        F.col("l_pred_total") > 0, F.col("lcs_len") / F.col("l_pred_total")
    ).otherwise(F.lit(0.0))
    r = F.when(
        F.col("l_ref_total") > 0, F.col("lcs_len") / F.col("l_ref_total")
    ).otherwise(F.lit(0.0))
    f1 = F.when((p + r) > 0, F.lit(2.0) * p * r / (p + r)).otherwise(F.lit(0.0))
    return (
        out.withColumn("rougeL_p", F.round(p, 9))
        .withColumn("rougeL_r", F.round(r, 9))
        .withColumn("rougeL_f", F.round(f1, 9))
        .drop("_p", "_r")
    )


def trigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref: DataFrame | None = None,
    alpha: float = 0.4,
    hash_mode: str = "xxhash64",
    round_dp: int = 12,
) -> DataFrame:
    """Trigram stupid-backoff language-model scoring (Brants et al.
    2007, "Large Language Models in Machine Translation" — the backoff
    scheme DESIGNED for distributed web-scale LMs: no discounting
    normalization pass, so counts stay partial-aggregatable):

    ``S(w3|w1,w2) = c123/c12`` if the trigram was seen in the
    reference, else ``α·c23/c2`` (bigram backoff), else ``α²·c3/N``
    (unigram), else ``α²/N`` (out-of-vocabulary floor).  Per doc:
    (id, n_trigrams, avg_logscore, logppl = −avg) — low logppl means
    the doc's word transitions are typical of the REFERENCE corpus,
    the cross-corpus generalization of :func:`bigram_lm_score` (train
    on ``ref``, score ``df`` — the CCNet/DSIR in-domain-vs-target
    pattern; ``ref=None`` self-trains, where backoff never fires).

    Scale shape: both corpora are tokenized exactly once each.  The
    reference reduces to ONE pinned trigram-count table (sub-linear:
    vocab³-bounded, in practice ≪ corpus) from which every lower-order
    count is derived by groupBy-sum IDENTITIES (c12 = Σ over trigram
    histories, c23/c2/c3/N likewise — the bigram_lm c1 convention: no
    reference re-scan).  All joins are on 8-byte token-window hashes
    (the ngram_novelty discipline — grams never shuffle as strings).
    Scoring is three hash left-joins + one windowless per-doc groupBy.
    The per-doc mean is an exact DECIMAL sum of round-``round_dp``
    per-trigram log-scores divided by the count (the ranking_summary
    discipline) — partition-layout independent, bit-replayable.
    ``hash_mode='md5'`` makes the oracle replay every hash.

    Empty/NULL-text docs stay in the output (n_trigrams = 0, NULL
    score) — silent drops hide corpus rows from downstream audits.
    """
    from feature_engineering_tk_spark.operators.dedup import _token_hash

    if not (0.0 < alpha <= 1.0):
        raise ValueError("alpha must be in (0, 1]")
    a = float(alpha)

    def stream(src: DataFrame) -> DataFrame:
        toks = F.filter(
            F.split(
                F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")),
                " ",
            ),
            lambda x: x != "",
        )
        padded = F.concat(F.array(F.lit("<s>"), F.lit("<s>")), toks)
        n = F.size(toks)
        tri = F.arrays_zip(
            F.slice(padded, 1, n).alias("w1"),
            F.slice(padded, 2, n).alias("w2"),
            F.slice(padded, 3, n).alias("w3"),
        )
        h = lambda *cols: _token_hash(F.concat_ws("\x1f", *cols), hash_mode)  # noqa: E731
        return (
            src.select(F.col(id_col), F.explode(tri).alias("_t"))
            .select(
                id_col,
                F.col("_t.w1").alias("w1"),
                F.col("_t.w2").alias("w2"),
                F.col("_t.w3").alias("w3"),
            )
            .select(
                id_col,
                h(F.col("w1"), F.col("w2"), F.col("w3")).alias("h123"),
                h(F.col("w1"), F.col("w2")).alias("h12"),
                h(F.col("w2"), F.col("w3")).alias("h23"),
                h(F.col("w2")).alias("h2"),
                h(F.col("w3")).alias("h3"),
            )
        )

    # ONE trigram-count table; every lower order is a groupBy-sum identity
    # on it (h12/h23/h2/h3 are functions of the trigram, min() for
    # determinism under 60-bit-hash collisions).
    tri = pin(
        stream(ref if ref is not None else df)
        .groupBy("h123")
        .agg(
            F.count(F.lit(1)).alias("c123"),
            F.min("h12").alias("h12"),
            F.min("h23").alias("h23"),
            F.min("h2").alias("h2"),
            F.min("h3").alias("h3"),
        )
    )
    c12 = tri.groupBy("h12").agg(F.sum("c123").alias("c12"))
    p23 = tri.groupBy("h23").agg(
        F.sum("c123").alias("c23"), F.min("h2").alias("h2")
    )
    c2 = tri.groupBy("h2").agg(F.sum("c123").alias("c2"))
    c3 = tri.groupBy("h3").agg(F.sum("c123").alias("c3"))
    total = tri.agg(F.sum("c123").cast("double").alias("_n"))

    t3 = tri.join(c12, "h12").select(
        "h123", F.log(F.col("c123") / F.col("c12")).alias("_ls3")
    )
    t2 = p23.join(c2, "h2").select(
        "h23", F.log(F.lit(a) * F.col("c23") / F.col("c2")).alias("_ls2")
    )
    t1 = c3.crossJoin(F.broadcast(total)).select(
        "h3",
        F.log(F.lit(a) * F.lit(a) * F.col("c3") / F.col("_n")).alias("_ls1"),
    )

    scored = (
        stream(df)
        .join(t3, "h123", "left")
        .join(t2, "h23", "left")
        .join(t1, "h3", "left")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.coalesce(
                "_ls3",
                "_ls2",
                "_ls1",
                F.log(F.lit(a) * F.lit(a) / F.col("_n")),
            ).alias("_ls"),
        )
    )
    dec = f"decimal(28,{round_dp})"
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        (
            F.sum(F.round(F.col("_ls"), round_dp).cast(dec)).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_logscore"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
            "avg_logscore",
            (-F.col("avg_logscore")).alias("logppl"),
        )
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int = 2000,
    round_dp: int = 9,
) -> DataFrame:
    """Per-document character-level Shannon entropy: (id, n_chars,
    n_distinct_chars, entropy_bits, entropy_ratio) — the zlib-free
    cousin of ``compression_ratio`` (and unlike it, fully SQL-
    replayable): natural text sits ~2-4.5 bits/char; near-0 flags
    repeated-character floods, near ``log2(n_distinct)`` (ratio → 1)
    flags high-entropy noise (base64 blobs, minified bundles,
    encrypted dumps).  Use with ``gopher_rules``/``text_quality`` as
    a corpus-quality gate.

    ``entropy_bits = −Σ_c p_c·log2(p_c)`` over the first
    ``max_chars`` characters (the span_dedup bounded-window
    convention: per-row cost is a constant, O(max_chars·distinct)).
    ``entropy_ratio`` = entropy / log2(n_distinct) ∈ [0,1] (0 when
    one distinct char).

    Determinism: the histogram fold runs over the SORTED distinct
    characters left-to-right (one ``aggregate``), so the float sum
    order is pinned and the oracle replays it term for term.  Pure
    JVM array expressions — zero shuffle, zero UDF.  Empty/NULL text
    → n_chars 0, NULL entropy (docs never silently dropped).
    """
    t = F.substring(F.col(text_col), 1, int(max_chars))
    n = F.length(t)
    chars = F.transform(
        F.sequence(F.lit(1), n), lambda i: F.substring(t, i, 1)
    )
    uniq = F.array_sort(F.array_distinct(chars))
    probs = F.transform(
        uniq,
        lambda c: F.size(F.filter(chars, lambda x: x == c)).cast("double")
        / n.cast("double"),
    )
    ent = -F.aggregate(
        probs,
        F.lit(0.0),
        lambda acc, p: acc + p * F.log2(p),
    )
    ok = F.col(text_col).isNotNull() & (n > 0)
    return df.select(
        F.col(id_col),
        F.coalesce(n, F.lit(0)).alias("n_chars"),
        F.when(ok, F.size(uniq)).otherwise(F.lit(0)).alias("n_distinct_chars"),
        F.when(ok, F.round(ent, round_dp)).alias("entropy_bits"),
        F.when(
            ok & (F.size(uniq) > 1),
            F.round(ent / F.log2(F.size(uniq).cast("double")), round_dp),
        )
        .when(ok, F.lit(0.0))
        .alias("entropy_ratio"),
    )


def _pmi(n_tokens: str, n_pair: str, c_a: str, c_b: str) -> Column:
    """``ln(n_tokens·n_pair / (c_a·c_b))`` with every factor cast to
    double before it is multiplied: a product of two long counts wraps
    past ~3e9, and below 2^53 the double products are the same bits."""
    d = [F.col(c).cast("double") for c in (n_tokens, n_pair, c_a, c_b)]
    return F.log(d[0] * d[1] / (d[2] * d[3]))


def skipgram_cooccurrence(
    df: DataFrame,
    column: str = "text",
    window: int = 5,
    min_count: int = 5,
    top_k: int | None = 20,
    round_dp: int = 9,
) -> DataFrame:
    """Windowed skip-gram co-occurrence with PMI — the distributional
    statistic under word2vec/GloVe-style embedding training and the
    windowed generalization of :func:`collocations` (adjacent pairs
    only): (w_a, w_b, n_cooccur, c_a, c_b, pmi) for unordered pairs
    within ``window`` tokens, ``pmi = ln(n_tokens·c_pair/(c_a·c_b))``
    with unigram marginals (the collocations convention).

    Scale shape: pair generation is ROW-LOCAL (each doc emits its own
    (i, i+o) windows via nested array transforms — no self-join, no
    shuffle of positions), then one map-side-combined groupBy on the
    unordered pair; the unigram table is vocab-sized and joins
    broadcast.  Cost per row is O(tokens·window).  ``top_k`` bounds
    the output by ROUNDED pmi desc then pair asc (ties cross-engine
    stable); ``top_k=None`` returns the full min_count-filtered table
    for embedding training.  Pairs of a token with itself (repeated
    word inside the window) count like any other pair; pair identity
    is (least, greatest).
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    c = F.col(column)
    toks = pin(
        df.where(c.isNotNull())
        .select(F.filter(F.split(F.lower(c), r"\s+"), lambda x: x != "").alias("_t"))
        .where(F.size("_t") > 0)
    )
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    n_tok = uni.agg(F.sum("cw").cast("double").alias("_n"))
    t = F.col("_t")
    pairs = F.filter(
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size(t)),
                lambda i: F.transform(
                    F.sequence(F.lit(1), F.lit(int(window))),
                    lambda o: F.when(
                        i + o <= F.size(t),
                        F.struct(
                            F.least(
                                F.element_at(t, i), F.element_at(t, (i + o).cast("int"))
                            ).alias("a"),
                            F.greatest(
                                F.element_at(t, i), F.element_at(t, (i + o).cast("int"))
                            ).alias("b"),
                        ),
                    ),
                ),
            )
        ),
        lambda p: p.isNotNull(),
    )
    co = (
        toks.select(F.explode(pairs).alias("_p"))
        .select(F.col("_p.a").alias("w_a"), F.col("_p.b").alias("w_b"))
        .groupBy("w_a", "w_b")
        .agg(F.count(F.lit(1)).alias("n_cooccur"))
        .where(F.col("n_cooccur") >= min_count)
    )
    ua = uni.select(F.col("w").alias("w_a"), F.col("cw").alias("c_a"))
    ub = uni.select(F.col("w").alias("w_b"), F.col("cw").alias("c_b"))
    scored = (
        co.join(F.broadcast(ua), "w_a")
        .join(F.broadcast(ub), "w_b")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "w_a",
            "w_b",
            "n_cooccur",
            "c_a",
            "c_b",
            F.round(_pmi("_n", "n_cooccur", "c_a", "c_b"), round_dp).alias("pmi"),
        )
    )
    if top_k is None:
        return scored
    return scored.orderBy(F.desc("pmi"), "w_a", "w_b").limit(int(top_k))
