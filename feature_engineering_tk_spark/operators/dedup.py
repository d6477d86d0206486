"""Document deduplication at training-data scale.

All strategies shuffle-disciplined; the core families:

- :func:`exact_dedup` — hash-groupBy on normalized text: one shuffle
  on a 64-bit hash (not the full text), keep min-id per group.
- :func:`minhash_signatures` / :func:`minhash_lsh_candidates` /
  :func:`minhash_lsh_dedup` — MinHash over token n-gram shingles with
  banded LSH: shingle→hash entirely in JVM array expressions
  (``transform``/``array_min``/``xxhash64``), candidates from a
  band-bucket self-join (shuffle on small bucket keys), exact Jaccard
  verification only on candidate pairs.
- :func:`simhash` — 64-bit SimHash from token hashes (JVM bit
  arithmetic); near-dups = equal simhash (or banded by prefix).
- :func:`ngram_jaccard` — exact n-gram Jaccard for a candidate pair
  set (verification primitive).
- :func:`embedding_neardup_pairs` / :func:`semantic_dedup` — cosine
  near-dup over an embedding column via LSH-bucketed self-join
  (brute-force cross join only within buckets); SemDeDup-style
  cluster-then-prune on top.
- :func:`minhash_index` / :func:`dedup_against_index` — the
  INCREMENTAL path: a persisted append-only MinHash band index; new
  batches gate against it without re-shingling the corpus (see also
  :func:`compact_index` / :func:`remove_from_index` for takedowns).
- structural variants: :func:`dedup_paragraphs` (paragraph-level),
  :func:`exact_span_dedup` (repeated-span suppression),
  :func:`fuzzy_dedup` (edit-distance pairs), :func:`source_overlap` /
  :func:`ngram_contamination` / :func:`memorization_scan` /
  :func:`corpus_diff` (decontamination & governance), and
  :func:`connected_components` (two-star union of candidate pairs
  into duplicate clusters).

Scale notes: MinHash permutations use the universal-hash family
``(a·x + b) mod p`` over ``xxhash64`` shingle hashes; a, b are derived
from a seed — signatures are deterministic and persistable. The
band-bucket join is the classic sub-quadratic path: at 100 TB the
cross join never materializes, only same-bucket pairs do.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feature_engineering_tk_spark.operators.rows import unused_name
from feature_engineering_tk_spark.plans.caching import pin

# 31-bit Mersenne prime: keeps a*x + b within int64 under ANSI mode
_MERSENNE_P = (1 << 31) - 1


def _norm_text(c: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def _hash60(c: Column) -> Column:
    """Cross-engine 60-bit hash: first 15 hex chars of md5, parsed as
    an integer — exactly replayable in DuckDB/pandas (unlike
    ``xxhash64``, which only exists in Spark). Used by ``hash_mode=
    'md5'`` so the oracle gate can verify minhash/simhash pipelines
    value-for-value; the xxhash64 default stays the fast path."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def _token_hash(c: Column, hash_mode: str) -> Column:
    if hash_mode == "xxhash64":
        return F.xxhash64(c)
    if hash_mode == "md5":
        return _hash60(c)
    raise ValueError(f"unknown hash_mode: {hash_mode!r}")


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: str | None = None,
) -> DataFrame:
    """Exact dedup on normalized text. Groups by ``xxhash64(text)``
    so the shuffle carries 8-byte keys, not documents; survivors =
    min id per hash group. (Hash collision risk 2^-64·n² — acceptable;
    add length to the key to tighten.)

    ``score_col`` switches survivor selection from min-id to
    QUALITY-PRIORITY: keep the highest-scoring copy (min id breaks
    ties; NULL scores lose to any scored copy) — the right policy
    when duplicates differ in metadata quality (the cleanest crawl of
    a mirrored page, the best-OCR scan).  Same single hash-key
    exchange: the rank window and the copy count share one partition.
    """
    h = F.xxhash64(_norm_text(F.col(text_col)), F.length(F.col(text_col)))
    hc = unused_name(df.columns, "_h")
    if score_col is None:
        return (
            df.withColumn(hc, h)
            .groupBy(hc)
            .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
            .drop(hc)
        )
    w = Window.partitionBy(hc).orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col).asc()
    )
    rn = unused_name([*df.columns, hc], "_rn")
    return (
        df.withColumn(hc, h)
        .withColumn(rn, F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy(hc)))
        .where(F.col(rn) == 1)
        .select(id_col, "n_copies")
    )


def _shingles(c: Column, n: int = 3) -> Column:
    """Token n-gram shingles as an array of strings — pure JVM:
    split → slice windows via ``transform`` over an index sequence."""
    toks = F.split(_norm_text(c), " ")
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(0), k - F.lit(1))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
    out: str = "minhash",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash signature column (array<bigint>, length num_hashes).

    Shingle hashes once via ``xxhash64`` (or the oracle-replayable md5
    mode); each permutation h_i(x) = (a_i·x + b_i) mod p applied with
    ``transform`` + ``array_min`` — no shuffle, no Python."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE_P, num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE_P, num_hashes, dtype=np.int64)
    sh = _shingles(F.col(text_col), shingle_n)
    hashes = F.transform(sh, lambda s: F.pmod(_token_hash(s, hash_mode), F.lit(_MERSENNE_P)))

    def _perm(ai: int, bi: int):
        # closure factory: PySpark inspects lambda arity, so defaults
        # can't be used to capture loop variables
        return lambda x: F.pmod(x * F.lit(ai) + F.lit(bi), F.lit(_MERSENNE_P))

    sig = F.array(
        *[
            F.array_min(F.transform(hashes, _perm(int(a[i]), int(b[i]))))
            for i in range(num_hashes)
        ]
    )
    return df.withColumn(out, sig)


def _band_keys(sig: Column, bands: int, rows_per_band: int, hash_mode: str) -> Column:
    """array<bigint> of banded-LSH bucket keys for a signature column."""

    def _one(b: int) -> Column:
        band_str = F.concat_ws(",", F.slice(sig, b * rows_per_band + 1, rows_per_band))
        if hash_mode == "xxhash64":
            return F.xxhash64(F.lit(b), band_str)
        return _hash60(F.concat_ws("|", F.lit(b), band_str))

    return F.array(*[_one(b) for b in range(bands)])


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 8,
    rows_per_band: int = 4,
    hash_mode: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs from banded LSH: explode each signature into
    ``bands`` bucket keys (hash of the band slice), self-join per
    bucket, emit distinct (id_a < id_b) pairs.

    Shuffle profile: explode multiplies rows by ``bands`` but each row
    is (bucket_key, id) — tiny; the self-join shuffles on bucket_key.
    Hot buckets (boilerplate/spam corpora) are the skew risk: a bucket
    of s members emits s(s-1)/2 pairs, so one 10-million-doc
    boilerplate cluster would explode into 5·10¹³ candidates no AQE
    skew split can absorb. ``max_bucket_size`` is the backstop: buckets
    over the cap emit only a spanning chain (salted two-level chain,
    s-1 pairs, no single-task sort — see inline comment)
    instead of all pairs — linear, and a clique of true duplicates
    stays fully connected through the chain, so group-level dedup
    (min-id survivor / connected components) is unchanged. The chain
    can miss near-dup pairs BETWEEN distinct sub-groups that share a
    hot bucket; that residual recall loss is the documented price of
    boundedness (the other bands still get independent chances)."""
    band_keys = _band_keys(F.col(sig_col), bands, rows_per_band, hash_mode)
    buckets = df.select(F.col(id_col), F.explode(band_keys).alias("bucket"))
    if max_bucket_size is not None:
        # exact bucket sizes: 8-byte keys, map-side partial agg — cheap
        counts = buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bc"))
        sized = buckets.join(counts, "bucket")
        buckets = sized.filter(F.col("_bc") <= max_bucket_size).drop("_bc")
        hot = sized.filter(F.col("_bc") > max_bucket_size).drop("_bc")
        # Two-level salted chain: a single Window.partitionBy("bucket")
        # would land each hot bucket on ONE sort task — the very skew
        # the cap exists to relieve. Instead each member salts into one
        # of `n_salts` sub-segments (chained independently, s-g pairs),
        # and the per-segment min ids are chained across segments
        # (g-1 pairs, aggregate-sized). Total s-1 edges — a duplicate
        # clique stays fully connected, max task ≈ s/n_salts rows.
        n_salts = 32
        hot = hot.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)))
        w = Window.partitionBy("bucket", "_salt").orderBy(id_col)
        within = (
            hot.withColumn("_prev", F.lag(id_col).over(w))
            .filter(F.col("_prev").isNotNull())
            .select(F.col("_prev").alias("id_a"), F.col(id_col).alias("id_b"))
        )
        reps = hot.groupBy("bucket", "_salt").agg(F.min(id_col).alias("_rep"))
        w_rep = Window.partitionBy("bucket").orderBy("_rep")
        across = (
            reps.withColumn("_prev", F.lag("_rep").over(w_rep))
            .filter(F.col("_prev").isNotNull())
            .select(F.col("_prev").alias("id_a"), F.col("_rep").alias("id_b"))
        )
        chain = within.unionByName(across)
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )
    if max_bucket_size is not None:
        pairs = pairs.unionByName(chain)
    return pairs.distinct()


def ngram_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: join texts back (two
    shuffles on ids), set ops in JVM array functions."""
    sh = docs.select(
        F.col(id_col), F.array_distinct(_shingles(F.col(text_col), shingle_n)).alias("_sh")
    )
    j = (
        pairs.join(sh.withColumnsRenamed({id_col: "id_a", "_sh": "_sha"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "_sh": "_shb"}), "id_b")
    )
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size(F.array_union("_sha", "_shb"))
    return j.withColumn(
        "jaccard", inter.cast("double") / F.greatest(union, F.lit(1))
    ).select("id_a", "id_b", "jaccard")


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
    hash_mode: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end near-dup removal: signatures → banded candidates →
    exact Jaccard ≥ threshold → drop the larger id of each dup pair
    (connected-component-free approximation: a doc survives unless it
    duplicates a smaller-id doc — deterministic, one pass).

    Chain-capped hot buckets (``max_bucket_size``) keep the survivor
    set identical for identical-duplicate cliques: the chain pairs
    (id₁,id₂),(id₂,id₃)… drop every member except the minimum id,
    exactly like the all-pairs bucket would."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, num_hashes, shingle_n, seed, hash_mode=hash_mode)
    cands = minhash_lsh_candidates(
        sigs, id_col, "minhash", bands, rows_per_band,
        hash_mode=hash_mode, max_bucket_size=max_bucket_size,
    )
    dups = (
        ngram_jaccard(cands, df, id_col, text_col, shingle_n)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(dups, id_col, "left_anti")


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Persistable LSH index of a corpus: one row per doc —
    (id, minhash array<bigint>, buckets array<bigint>).

    This is the incremental-ingest primitive: write this table once
    per corpus snapshot (~(num_hashes + bands)·8 bytes per doc — a
    10^12-doc index is ~0.3 TB, vs re-hosting the corpus text), and
    every future crawl shard dedups against it via
    :func:`dedup_against_index` without re-shingling a byte of the
    existing corpus.  Zero shuffle to build: signatures and band keys
    are row-local column expressions over the scan.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, text_col, num_hashes, shingle_n, seed, hash_mode=hash_mode
    )
    return sigs.select(
        F.col(id_col),
        F.col("minhash"),
        _band_keys(F.col("minhash"), bands, rows_per_band, hash_mode).alias("buckets"),
    )


def dedup_against_index(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup gate: drop new-shard docs that near-match
    the EXISTING corpus index, without touching the corpus text.

    Returns ``(survivors, additions)``: the new docs that matched no
    indexed doc, and their index rows — APPEND ``additions`` to the
    persisted index (the corpus-sized index is never rewritten) so the
    next shard gates against corpus ∪ survivors.

    Match verification uses the SIGNATURE-estimated Jaccard (matching
    minhash components / num_hashes ≥ threshold) rather than exact
    shingle Jaccard — deliberate: the index stores 8-byte signatures,
    not text, so verification never rescans the 100 TB corpus.  The
    estimate is unbiased with σ = √(J(1−J)/num_hashes) (≈0.08 at
    J=0.7, 32 hashes); raise ``num_hashes`` for a tighter gate.  The
    shard should be self-deduped first (``minhash_lsh_dedup``) — this
    operator intentionally checks new-vs-index only, so the two
    concerns compose and stay individually testable.

    Shuffle profile: the bucket join moves (8-byte bucket, id) pairs;
    signature arrays join only for candidate ids (candidate-sized,
    not shard-sized); the corpus index is never re-bucketed — its
    persisted ``buckets`` column is exploded in place.  Seed,
    num_hashes, bands, and hash_mode must match the index's build
    parameters; mismatched geometry yields silent recall loss, so
    pipelines should persist those alongside the index.
    """
    new_idx = minhash_index(
        new_df, text_col, id_col, num_hashes, bands, shingle_n, seed, hash_mode
    )
    # new_idx feeds three plan branches (bucket explode, signature join,
    # additions) and Catalyst does not dedupe common subtrees — without
    # this the shard would re-shingle + re-hash once per branch
    new_idx = new_idx.localCheckpoint(eager=True)
    nb = new_idx.select(F.col(id_col).alias("_nid"), F.explode("buckets").alias("bucket"))
    ob = index.select(F.col(id_col).alias("_oid"), F.explode("buckets").alias("bucket"))
    cands = nb.join(ob, "bucket").select("_nid", "_oid").distinct()
    ns = new_idx.select(F.col(id_col).alias("_nid"), F.col("minhash").alias("_nsig"))
    os_ = index.select(F.col(id_col).alias("_oid"), F.col("minhash").alias("_osig"))
    matches = (
        cands.join(ns, "_nid")
        .join(os_, "_oid")
        .select(
            "_nid",
            (
                F.aggregate(
                    F.zip_with("_nsig", "_osig", lambda a, b: (a == b).cast("int")),
                    F.lit(0),
                    lambda acc, x: acc + x,
                ).cast("double")
                / F.lit(float(num_hashes))
            ).alias("_est"),
        )
        .where(F.col("_est") >= threshold)
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )
    # matches feeds both returned branches (survivors anti-join AND
    # additions anti-join); without this, consuming each branch re-runs
    # the corpus-index bucket explode + candidate + signature joins —
    # the dominant cost.  matches is a dup-id list, tiny by definition.
    matches = matches.localCheckpoint(eager=True)
    survivors = new_df.join(matches, id_col, "left_anti")
    additions = new_idx.join(matches, id_col, "left_anti")
    return survivors, additions


def split_leakage_audit(
    df: DataFrame,
    side_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
    hash_mode: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate LEAKAGE across a train/test split: every pair of
    docs on OPPOSITE sides of ``side_col`` whose exact n-gram Jaccard
    reaches ``threshold`` — the contamination a group-hash split
    (sampling.group_split) prevents within groups but cannot see
    between independently-collected documents (mirror crawls, quoted
    text, boilerplate).  A non-empty result means eval metrics are
    inflated: route ``id_b`` (or the whole pair's test side) through
    the dedup/removal path before training.

    Returns (id_a, side_a, id_b, side_b, jaccard), id_a < id_b.

    Scale shape: one MinHash/banded-LSH candidate pass over the WHOLE
    table (same sub-quadratic machinery as minhash_lsh_dedup, same
    hot-bucket chain cap); candidates are filtered to CROSS-side pairs
    before the exact-Jaccard verification, so the expensive shingle
    comparison runs only on potential leaks.  Sides join as 8-byte
    (id, side) rows.
    """
    sigs = minhash_signatures(
        df, text_col, num_hashes, shingle_n, seed, hash_mode=hash_mode
    )
    cands = minhash_lsh_candidates(
        sigs, id_col, "minhash", bands, num_hashes // bands,
        hash_mode=hash_mode, max_bucket_size=max_bucket_size,
    )
    sa = df.select(F.col(id_col).alias("id_a"), F.col(side_col).alias("side_a"))
    sb = df.select(F.col(id_col).alias("id_b"), F.col(side_col).alias("side_b"))
    cross = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("side_a") != F.col("side_b"))
    )
    verified = ngram_jaccard(
        cross.select("id_a", "id_b"), df, id_col, text_col, shingle_n
    ).filter(F.col("jaccard") >= threshold)
    return verified.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "side_a", "id_b", "side_b", "jaccard"
    )


def remove_from_index(
    index: DataFrame,
    doc_ids: DataFrame | list,
    id_col: str = "doc_id",
) -> DataFrame:
    """Takedown path for the persisted MinHash index: drop the rows of
    ``doc_ids`` (a tombstone DataFrame — first column is the id — or a
    plain list) by ANTI-JOIN on the 8-byte doc key.

    This is how legal takedowns and re-filtered documents leave the
    index WITHOUT a corpus rescan: the corpus text is never touched,
    no signature is recomputed — one join between the index and an
    id list.  At 100 TB the tombstone side is tiny (AQE broadcasts
    it); the index side shuffles nothing (broadcast anti-join).

    Note the gate semantics: a removed doc no longer suppresses
    near-duplicates in future shards — exactly the takedown intent
    (its content must become ingestible again only if genuinely
    re-collected, in which case the new copy re-indexes itself).
    """
    if not isinstance(doc_ids, DataFrame):
        spark = index.sparkSession
        doc_ids = spark.createDataFrame(
            [(i,) for i in doc_ids], f"{id_col} long"
        )
    tomb = doc_ids.select(F.col(doc_ids.columns[0]).alias(id_col)).distinct()
    return index.join(tomb, id_col, "left_anti")


def compact_index(
    index: DataFrame,
    tombstones: DataFrame | list | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Periodic rewrite of the append-only MinHash index: apply
    ``tombstones`` (see :func:`remove_from_index`) and collapse
    duplicate id rows (a doc re-appended by overlapping snapshot
    builds — its rows are bit-identical by construction, signatures
    being pure functions of (text, seed, geometry)), keeping one row
    per id.

    The CONTRACT, proven by the ``dedup_index_compact`` oracle and
    ``tests/test_dedup_index.py``: gate decisions of
    :func:`dedup_against_index` against the compacted index equal
    those against a FRESH ``minhash_index`` build of the surviving
    corpus — compaction is invisible to the gate, so it can run on
    the index alone (index-sized job, no corpus rescan, no
    re-shingling).

    Scale shape: one hash-partition shuffle of the index on the id
    (the dropDuplicates exchange) + a broadcast anti-join for the
    tombstones; rows stay (num_hashes + bands)·8 bytes.  Write the
    result with ``sources.tables.write_table`` to replace the
    accumulated segment pile.
    """
    out = index
    if tombstones is not None:
        out = remove_from_index(out, tombstones, id_col)
    return out.dropDuplicates([id_col])


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 13,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Benchmark decontamination: flag training docs that share ANY
    token n-gram with an eval/benchmark set (the GPT-3-style 13-gram
    rule). Per doc: count of distinct contaminated n-grams, total
    distinct n-grams, and a boolean flag.

    Scale shape: both sides reduce to distinct 8-byte n-gram hashes
    before the join — document text never crosses a shuffle. The
    benchmark side (eval suites: thousands of docs) collapses to a
    distinct-hash set small enough to broadcast, so the scan of the
    100 TB training corpus is join-side stationary: one pass, no
    shuffle of the corpus at all.
    """
    # coalesce NULL text to '' so the explode of a null shingle array
    # can't silently drop the doc from the contamination report
    d_sh = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(
                    _shingles(F.coalesce(F.col(text_col), F.lit("")), shingle_n),
                    lambda s: _token_hash(s, hash_mode),
                )
            )
        ).alias("_h"),
    )
    b_sh = (
        benchmark.select(
            F.explode(
                F.transform(
                    _shingles(F.col(text_col), shingle_n),
                    lambda s: _token_hash(s, hash_mode),
                )
            ).alias("_h")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = d_sh.join(F.broadcast(b_sh), "_h", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated_ngrams"),
            F.count(F.lit(1)).alias("n_ngrams"),
        )
        .withColumn("contaminated", F.col("n_contaminated_ngrams") > 0)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "star",
) -> DataFrame:
    """Duplicate-cluster assignment: undirected (id_a, id_b) edges →
    one row per node with ``component_id`` = the smallest id reachable
    from it. Turns pairwise near-dup output into GROUP-level dedup
    (keep one doc per cluster), the step between
    :func:`minhash_lsh_candidates` and a corpus-level survivor list.

    ``algorithm='star'`` (default) is the alternating
    large-star/small-star algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round rewires
    every node's larger neighbors (large-star) then its smaller
    neighbors (small-star) onto the local minimum, converging in
    O(log n) rounds even on chain/path-shaped components — the
    worst case for propagation. Each round is two bounded
    groupBy+join passes over the edge set, ``localCheckpoint``-ed so
    the plan doesn't grow unboundedly.

    ``algorithm='label'`` is min-label propagation (min of self +
    neighbor labels per round) — one fewer pass per round, but rounds
    scale with component DIAMETER, so only right for the dense-blob
    components typical of near-dup clusters.

    Either way, hitting ``max_iter`` while still making progress
    raises :class:`~feature_engineering_tk_spark.exceptions.ConvergenceError`
    instead of returning silently-unmerged labels.
    """
    if algorithm not in ("star", "label"):
        raise ValueError("algorithm must be star|label")
    edges = pairs.select(
        F.col(a_col).alias("_src"), F.col(b_col).alias("_dst")
    ).distinct()
    if algorithm == "star":
        return _cc_two_star(edges, max_iter)
    # undirected: keep both directions so one join propagates each way
    sym = edges.unionByName(
        edges.select(F.col("_dst").alias("_src"), F.col("_src").alias("_dst"))
    )
    labels = (
        sym.select(F.col("_src").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["_dst"] == labels["id"])
            .groupBy(F.col("_src").alias("id"))
            .agg(F.min("label").alias("_nmin"))
        )
        updated = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("_nmin"), F.col("label"))).alias(
                    "new_label"
                ),
                "label",
            )
            .localCheckpoint()  # materialize once; cut the iterative lineage
        )
        changed = updated.filter(F.col("new_label") < F.col("label")).limit(1).count()
        labels = updated.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            converged = True
            break
    if not converged:
        from feature_engineering_tk_spark.exceptions import ConvergenceError

        raise ConvergenceError(
            "connected_components(label)",
            max_iter,
            "labels still changing — chain-shaped components? use algorithm='star'",
        )
    return labels.select(F.col("id"), F.col("label").alias("component_id"))


def _cc_two_star(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star rounds over a canonical
    (larger → smaller) edge set; converges when a round leaves the
    edge set a star forest (every edge already points at its node's
    minimum). Returns (id, component_id) for every endpoint of the
    input edges, roots included."""
    all_nodes = (
        edges.select(F.col("_src").alias("id"))
        .unionByName(edges.select(F.col("_dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    # canonical orientation: _src > _dst, self-loops dropped
    cur = (
        edges.filter(F.col("_src") != F.col("_dst"))
        .select(
            F.greatest("_src", "_dst").alias("_src"),
            F.least("_src", "_dst").alias("_dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        # --- large-star: for every node u, attach each strictly larger
        # neighbor v to m(u) = min(Γ(u) ∪ {u})
        sym = cur.unionByName(
            cur.select(F.col("_dst").alias("_src"), F.col("_src").alias("_dst"))
        )
        m = (
            sym.groupBy("_src")
            .agg(F.min("_dst").alias("_mn"))
            .select("_src", F.least("_src", "_mn").alias("_m"))
        )
        big = (
            sym.join(m, "_src")
            .filter(F.col("_dst") > F.col("_src"))
            .select(F.col("_dst").alias("_src"), F.col("_m").alias("_dst"))
            .filter(F.col("_src") != F.col("_dst"))
            .distinct()
        )
        # --- small-star: neighbors here are all smaller (canonical
        # direction), m = min(N(u) ∪ {u}) = min(N(u)); rewire every
        # non-min smaller neighbor and u itself onto m
        m2 = big.groupBy("_src").agg(F.min("_dst").alias("_m"))
        nxt = (
            big.join(m2, "_src")
            .filter(F.col("_dst") != F.col("_m"))
            .select(F.col("_dst").alias("_src"), F.col("_m").alias("_dst"))
            .unionByName(m2.select("_src", F.col("_m").alias("_dst")))
            .filter(F.col("_src") != F.col("_dst"))
            .distinct()
            .localCheckpoint()  # cut the iterative lineage each round
        )
        # converged iff the round was a no-op (star forest reached):
        # symmetric difference empty — two bounded anti-join probes
        diff = nxt.exceptAll(cur).limit(1).count() or cur.exceptAll(nxt).limit(1).count()
        cur = nxt
        if diff == 0:
            converged = True
            break
    if not converged:
        from feature_engineering_tk_spark.exceptions import ConvergenceError

        raise ConvergenceError("connected_components(star)", max_iter)
    labels = all_nodes.join(
        cur.select(F.col("_src").alias("id"), F.col("_dst").alias("_root")), "id", "left"
    ).select("id", F.coalesce(F.col("_root"), F.col("id")).alias("component_id"))
    return labels


def simhash(
    df: DataFrame,
    text_col: str = "text",
    out: str = "simhash",
    n_bits: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per-bit majority vote of
    token-hash bits, all in JVM expressions (aggregate over the token
    array; per-bit sign sum). Equal simhash → near-duplicate. md5
    hash_mode yields 60 usable bits (top 4 always vote negative)."""
    toks = F.split(_norm_text(F.col(text_col)), " ")
    th = F.transform(toks, lambda t: _token_hash(t, hash_mode))
    def _vote(i: int):
        # sum over tokens of (+1 if bit set else -1), majority → bit
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    # assemble bits with shiftleft + bitwise OR (no arithmetic overflow
    # at bit 63 under ANSI mode)
    word = F.lit(0).cast("long")
    for i in range(n_bits):
        vote = F.aggregate(th, F.lit(0), _vote(i))
        bit = F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        word = word.bitwiseOR(F.shiftleft(bit, i))
    return df.withColumn(out, word)


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes via bit_count."""
    return F.bit_count(a.bitwiseXOR(b))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_bits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicates: random-hyperplane bucket self-join,
    exact cosine only within buckets. n_bits tunes bucket count
    (recall vs cost); at high thresholds near-dups almost always share
    all hyperplane signs."""
    from feature_engineering_tk_spark.functions.similarity import dot, l2_norm, lsh_assign_buckets

    b = lsh_assign_buckets(df, vec_col, dim, n_bits, seed).select(
        F.col(id_col), F.col(vec_col), F.col("lsh_bucket")
    )
    a = b.alias("a")
    c = b.alias("c")
    pairs = a.join(
        c,
        (F.col("a.lsh_bucket") == F.col("c.lsh_bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"c.{id_col}")),
    )
    cos = dot(F.col(f"a.{vec_col}"), F.col(f"c.{vec_col}")) / (
        l2_norm(F.col(f"a.{vec_col}")) * l2_norm(F.col(f"c.{vec_col}"))
    )
    return (
        pairs.withColumn("cosine_sim", cos)
        .filter(F.col("cosine_sim") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
            "cosine_sim",
        )
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 8,
    threshold: float = 0.9,
    refine_iters: int = 0,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public):
    semantic near-duplicate removal over an embedding column. Cluster
    vectors (IVF coarse assignment — deterministic centroids here,
    ``pyspark.ml.clustering.KMeans`` in production, identical plan),
    then WITHIN each cluster drop every vector that has a more-senior
    (smaller-id) neighbor at cosine ≥ ``threshold``. Keeps one
    representative per epsilon-ball, the curriculum-quality dedup step
    LLM corpora run after exact/MinHash dedup.

    Scale shape: pairwise similarity is confined to same-cluster
    pairs — the cross join never materializes globally. Cluster sizes
    are bounded by construction at n/k on average; for web-scale runs
    raise ``n_centroids`` (SemDeDup uses ~100k clusters at 5B docs) so
    the per-cluster quadratic term stays tiny, and let AQE's skew
    split handle any hot cluster. The anti join back to ``df`` carries
    only ids — embeddings never shuffle twice.
    """
    from feature_engineering_tk_spark.functions.similarity import (
        dot,
        ivf_assign,
        l2_norm,
    )

    if refine_iters > 0:
        # Lloyd-refined cells (functions/clustering.py): balances the
        # per-cluster quadratic term when the corpus is clumpy, which
        # is exactly when SemDeDup matters
        from feature_engineering_tk_spark.functions.clustering import kmeans

        clustered, _cent = kmeans(
            df, vec_col, id_col, k=n_centroids, n_iter=refine_iters
        )
        assigned = df.join(
            clustered.select(id_col, F.col("cluster_id").alias("centroid_id")), id_col
        )
    else:
        assigned, _ = ivf_assign(df, vec_col, id_col, n_centroids)
    a = assigned.select(
        F.col("centroid_id"), F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va")
    )
    b = assigned.select(
        F.col("centroid_id"), F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb")
    )
    sim = dot(F.col("_va"), F.col("_vb")) / (
        l2_norm(F.col("_va")) * l2_norm(F.col("_vb"))
    )
    losers = (
        a.join(b, "centroid_id")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(sim >= F.lit(float(threshold)))
        .select(F.col("_idb").alias(id_col))
        .distinct()
    )
    return df.join(losers, id_col, "left_anti")


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_chars: int = 15,
) -> DataFrame:
    """Cross-document exact paragraph dedup (RefinedWeb / C4 style):
    split every document on ``sep``, keep only the globally FIRST
    occurrence (lexicographic min of (doc_id, position)) of each
    paragraph of at least ``min_chars`` characters, and reassemble
    each document from its surviving paragraphs in original order.
    Short paragraphs are kept verbatim — deduping one-word lines or
    blank separators would eat legitimate structure corpus-wide.

    Scale shape: the shuffle for the keep-decision carries only
    ``(xxhash64, doc_id, pos)`` triples — 8-byte keys, never the
    paragraph text (same stance as :func:`exact_dedup`; collision
    risk 2^-64·n²). The winner per hash is a partial-aggregatable
    ``groupBy().min(struct)`` — boilerplate hot keys pre-merge
    map-side, so no window over a skewed partition. Reassembly is one
    ``groupBy(doc_id)`` with ``array_sort(collect_list(struct))`` —
    per-doc state only. Docs whose every paragraph was deduped away
    keep a row with empty text.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), sep)).alias(
            "pos", "para"
        ),
    )
    eligible = paras.filter(F.length("para") >= min_chars)
    winners = (
        eligible.select(
            F.xxhash64("para", F.length("para")).alias("_h"),
            F.struct(F.col(id_col), F.col("pos")).alias("_loc"),
        )
        .groupBy("_h")
        .agg(F.min("_loc").alias("_win"))
        .select("_h", F.col(f"_win.{id_col}").alias("_wid"), F.col("_win.pos").alias("_wpos"))
    )
    kept = (
        paras.withColumn("_h", F.xxhash64("para", F.length("para")))
        .join(winners, "_h", "left")
        .filter(
            (F.length("para") < min_chars)
            | ((F.col("_wid") == F.col(id_col)) & (F.col("_wpos") == F.col("pos")))
        )
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_paras_kept"),
    )
    return (
        df.select(id_col, F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), sep))
                  .cast("bigint").alias("n_paras"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_paras",
            F.coalesce("n_paras_kept", F.lit(0)).alias("n_paras_kept"),
        )
    )


def exact_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Exact-substring span dedup, the bounded-window analog of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", ExactSubstr): any ``window``-token span that occurs more
    than once in the corpus is removed everywhere except its first
    occurrence (min (doc_id, start) — keep-first, like the paper's
    keep-one policy). Overlapping duplicated spans union their token
    coverage, so a long duplicated passage is removed whole.

    Published ExactSubstr builds a corpus suffix array; the
    distributed equivalent here is rolling span hashing — every span's
    identity is an 8-byte hash of its ``window`` tokens, so the span
    table that shuffles is O(corpus tokens) hashes, never token text.
    Reassembly is confined to the (typically tiny) fraction of
    documents that actually lose a span: untouched documents keep
    their original text byte-for-byte and never reach the rebuild
    shuffle.

    Returns (id_col, clean_text, n_tokens, n_removed); NULL/blank text
    keeps a zero row. Rebuilt text is single-space joined (whitespace
    inside removed documents is normalized; the duplicate-detection
    tokenization already collapsed it).
    """
    w = int(window)
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"), lambda x: x != ""
    )
    base = df.select(
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias("_text"),
        toks.alias("_toks"),
    )

    span_hashes = F.transform(
        F.sequence(F.lit(0), F.size("_toks") - w),
        lambda s: _token_hash(F.concat_ws(" ", F.slice(F.col("_toks"), s + 1, F.lit(w))), hash_mode),
    )
    occ = (
        base.where(F.size("_toks") >= w)
        .select(id_col, F.posexplode(span_hashes).alias("_start", "_h"))
    )
    winners = occ.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("_start").alias("s"))).alias("_win"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    losing = (
        occ.join(winners, "_h")
        .where(
            (F.col("_cnt") > 1)
            & ~((F.col(id_col) == F.col("_win.d")) & (F.col("_start") == F.col("_win.s")))
        )
        .select(id_col, "_start")
    )
    removed = losing.select(
        id_col, F.explode(F.sequence(F.col("_start"), F.col("_start") + (w - 1))).alias("_idx")
    ).distinct()
    removed_counts = removed.groupBy(id_col).agg(F.count(F.lit(1)).alias("_nrem"))

    # only documents that lost a span are exploded and rebuilt
    touched = base.join(removed_counts, id_col, "left_semi")
    kept = (
        touched.select(id_col, F.posexplode("_toks").alias("_idx", "_tok"))
        .join(removed, [id_col, "_idx"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_idx", "_tok"))),
                    lambda s: s["_tok"],
                ),
                " ",
            ).alias("_rebuilt")
        )
    )
    return (
        base.join(removed_counts, id_col, "left")
        .join(kept, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("_nrem").isNotNull(), F.coalesce("_rebuilt", F.lit("")))
            .otherwise(F.col("_text"))
            .alias("clean_text"),
            F.size("_toks").cast("bigint").alias("n_tokens"),
            F.coalesce("_nrem", F.lit(0)).cast("bigint").alias("n_removed"),
        )
    )


def fuzzy_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block: Column | None = None,
    max_dist: int = 2,
) -> DataFrame:
    """Blocked fuzzy matching (record linkage / entity resolution):
    candidate pairs within an equality BLOCK, kept when Levenshtein
    distance ≤ ``max_dist``.  Returns (id_a, id_b, dist), id_a < id_b.

    The standard blocking trade: edit distance is quadratic, so it is
    never evaluated across blocks — the self-join shuffles on the
    block key (default: first 4 chars, case/space-folded) and the
    per-block candidate square stays tiny when the key is selective.
    For skew-prone keys compose a tighter block (add a length band,
    soundex, or an LSH bucket) or cap hot blocks the way
    minhash_lsh_candidates does; AQE's skew split is the backstop.
    Levenshtein runs in the JVM (built-in expression), no Python.
    """
    if block is None:
        block = F.substring(F.lower(F.trim(F.col(text_col))), 1, 4)
    side = df.select(
        block.alias("_blk"), F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")
    )
    a = side.select(
        "_blk", F.col("_id").alias("id_a"), F.col("_txt").alias("_ta")
    )
    b = side.select(
        "_blk", F.col("_id").alias("id_b"), F.col("_txt").alias("_tb")
    )
    return (
        a.join(b, "_blk")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("_ta", "_tb"))
        .where(F.col("dist") <= max_dist)
        .select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
    )


def fuzzy_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block: Column | None = None,
    max_dist: int = 2,
) -> DataFrame:
    """Keep-smallest-id fuzzy dedup over :func:`fuzzy_pairs` — every
    row with a more-senior fuzzy match inside its block is dropped
    (ids-only anti join; text never shuffles twice)."""
    losers = (
        fuzzy_pairs(df, text_col, id_col, block, max_dist)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(losers, id_col, "left_anti")


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    shingle_n: int = 5,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Pairwise n-gram overlap between corpus sources — the dataset-
    governance matrix ("how much of source A also appears in source
    B") used to catch mirrored crawls and benchmark bleed before
    mixing sources into a training set.

    Returns one row per unordered source pair (a < b):
    ``shared_ngrams`` (distinct n-gram hashes in both), ``frac_a`` /
    ``frac_b`` (share of each side's distinct n-grams that is
    shared).

    Scale shape: each side reduces to DISTINCT (source, 8-byte hash)
    pairs before any join — the corpus text never crosses a shuffle;
    the self-join key is the hash, whose fan-out is bounded by the
    number of sources; per-source totals partial-aggregate map-side.
    """
    grams = (
        df.select(
            F.col(source_col).alias("_src"),
            F.explode(_shingles(F.col(text_col), shingle_n)).alias("_g"),
        )
        .select("_src", _token_hash(F.col("_g"), hash_mode).alias("_h"))
        .distinct()
    )
    # feeds totals + the self-join: pin once, releasable via release_pinned()
    grams = pin(grams)
    totals = grams.groupBy("_src").agg(F.count(F.lit(1)).alias("_n"))
    shared = (
        grams.join(
            grams.select(F.col("_src").alias("_src_b"), "_h"),
            "_h",
        )
        .where(F.col("_src") < F.col("_src_b"))
        .groupBy(F.col("_src").alias("source_a"), F.col("_src_b").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )
    out = (
        shared.join(
            totals.select(F.col("_src").alias("source_a"), F.col("_n").alias("_na")),
            "source_a",
        )
        .join(
            totals.select(F.col("_src").alias("source_b"), F.col("_n").alias("_nb")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared_ngrams",
            (F.col("shared_ngrams").cast("double") / F.col("_na")).alias("frac_a"),
            (F.col("shared_ngrams").cast("double") / F.col("_nb")).alias("frac_b"),
        )
    )
    return out


def memorization_scan(
    gen: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Verbatim-memorization audit (Carlini et al. 2021/2023 extraction
    methodology, batch form): for each GENERATED document, the longest
    CONTIGUOUS run of token ``shingle_n``-grams that also appear
    anywhere in the training ``corpus``.  A long run means the model
    reproduced a training span verbatim — the per-doc signal is

    - ``n_grams`` — total n-gram positions in the generation,
    - ``n_matched`` — positions whose n-gram exists in the corpus,
    - ``longest_run`` — longest consecutive matched-position run,
    - ``longest_overlap_tokens`` — that run in tokens
      (``longest_run + shingle_n - 1``; 0 when nothing matched).

    Differs from ``ngram_contamination`` (ANY shared n-gram → flag):
    this measures the contiguous SPAN length, the quantity the
    memorization literature reports, via the gaps-and-islands trick on
    matched positions.

    Scale shape: both sides reduce to n-gram hashes before the join —
    generated docs explode to (doc, pos, 8-byte hash) rows, the corpus
    to a DISTINCT hash table; the join shuffles hashes only (or
    broadcasts, when the corpus-side distinct set is small).  The
    islands pass windows ``partitionBy(doc)`` over matched positions
    only — generation-length bounded.
    """
    toks_pos = gen.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                _shingles(F.coalesce(F.col(text_col), F.lit("")), shingle_n),
                lambda s: _token_hash(s, hash_mode),
            )
        ).alias("_pos", "_h"),
    )
    per_doc = toks_pos.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    c_sh = (
        corpus.select(
            F.explode(
                F.transform(
                    _shingles(F.col(text_col), shingle_n),
                    lambda s: _token_hash(s, hash_mode),
                )
            ).alias("_h")
        )
        .distinct()
    )
    matched = toks_pos.join(c_sh, "_h").select(id_col, "_pos")
    w = Window.partitionBy(id_col).orderBy("_pos")
    isl = matched.withColumn("_grp", F.col("_pos") - F.row_number().over(w))
    runs = isl.groupBy(id_col, "_grp").agg(F.count(F.lit(1)).alias("_len"))
    per_match = runs.groupBy(id_col).agg(
        F.sum("_len").alias("n_matched"), F.max("_len").alias("longest_run")
    )
    out = per_doc.join(per_match, id_col, "left")
    return out.select(
        id_col,
        "n_grams",
        F.coalesce(F.col("n_matched"), F.lit(0)).alias("n_matched"),
        F.coalesce(F.col("longest_run"), F.lit(0)).alias("longest_run"),
        F.when(
            F.col("longest_run").isNotNull(),
            F.col("longest_run") + F.lit(shingle_n - 1),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("longest_overlap_tokens"),
    )


def corpus_diff(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    by: str = "source",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Snapshot-to-snapshot corpus churn audit: per ``by`` group, how
    many DISTINCT normalized-content documents were added, removed, or
    kept between corpus version ``a`` and version ``b`` — the release
    gate that catches a crawler regression (mass removals) or a
    duplicate-injection bug (mass additions) before training.

    Returns ``(by, n_a, n_b, n_added, n_removed, n_kept, jaccard)``
    where the counts are distinct contents and ``jaccard =
    kept / (n_a + n_b − kept)`` is one exact integer division.

    Scale shape: both snapshots reduce to DISTINCT (group, 8-byte
    content hash) pairs before the only join — text never shuffles;
    the full-outer join keys on (group, hash) and the final groupBy
    rides the same partitioning.
    """
    def side(df: DataFrame, flag: str) -> DataFrame:
        h = _token_hash(_norm_text(F.coalesce(F.col(text_col), F.lit(""))), hash_mode)
        return (
            df.select(F.col(by), h.alias("_h"))
            .distinct()
            .withColumn(flag, F.lit(1))
        )

    joined = side(a, "_in_a").join(side(b, "_in_b"), [by, "_h"], "full_outer")
    in_a = F.col("_in_a").isNotNull()
    in_b = F.col("_in_b").isNotNull()
    agg = joined.groupBy(by).agg(
        F.sum(in_a.cast("bigint")).alias("n_a"),
        F.sum(in_b.cast("bigint")).alias("n_b"),
        F.sum((in_b & ~in_a).cast("bigint")).alias("n_added"),
        F.sum((in_a & ~in_b).cast("bigint")).alias("n_removed"),
        F.sum((in_a & in_b).cast("bigint")).alias("n_kept"),
    )
    return agg.select(
        by,
        "n_a",
        "n_b",
        "n_added",
        "n_removed",
        "n_kept",
        (F.col("n_kept") / (F.col("n_a") + F.col("n_b") - F.col("n_kept"))).alias(
            "jaccard"
        ),
    )
