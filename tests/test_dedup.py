"""Dedup operator tests: planted duplicates must be found; MinHash
approximates Jaccard; SimHash clusters identical texts."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feature_engineering_tk_spark.operators import dedup as D


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog and runs away fast",
        "spark makes distributed feature engineering pipelines run at scale",
        "a completely different document about query plans and shuffles",
        "yet another text with tokens words and more tokens for testing",
    ]
    rows = []
    i = 0
    for b in base:
        rows.append((i, b)); i += 1
        rows.append((i, b)); i += 1  # exact dup
        # near dup: one token changed
        toks = b.split()
        toks[2] = "XXX"
        rows.append((i, " ".join(toks))); i += 1
    # unique fillers
    for k in range(20):
        rows.append((i, f"unique filler document number {k} with payload {k*7} tail")); i += 1
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(docs):
    out = D.exact_dedup(docs).toPandas()
    # 4 texts had 1 exact copy each → 4 groups with n_copies=2
    assert (out["n_copies"] == 2).sum() == 4
    assert out["n_copies"].sum() == docs.count()


def test_minhash_estimates_jaccard(docs):
    sigs = D.minhash_signatures(docs, num_hashes=64).toPandas().set_index("doc_id")
    # exact dup pair: signatures identical
    assert list(sigs.loc[0, "minhash"]) == list(sigs.loc[1, "minhash"])
    # near dup pair: most hashes agree
    agree = np.mean(np.array(sigs.loc[0, "minhash"]) == np.array(sigs.loc[2, "minhash"]))
    assert agree > 0.5


def test_lsh_candidates_contain_planted_pairs(docs):
    sigs = D.minhash_signatures(docs, num_hashes=32)
    pairs = D.minhash_lsh_candidates(sigs, bands=8, rows_per_band=4).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    for base in range(0, 12, 3):
        assert (base, base + 1) in got  # exact dup always bucketed together


def test_ngram_jaccard_exact(spark, docs):
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [0], "id_b": [1]}))
    j = D.ngram_jaccard(pairs, docs).toPandas()
    assert j["jaccard"].iloc[0] == 1.0


def test_minhash_lsh_dedup_removes_planted(docs):
    out = D.minhash_lsh_dedup(docs, threshold=0.9)
    kept = set(r["doc_id"] for r in out.select("doc_id").collect())
    for base in range(0, 12, 3):
        assert base in kept and (base + 1) not in kept  # exact dups dropped
    # all fillers survive
    assert all(d in kept for d in range(12, 32))


def test_simhash_identical_for_dups(docs):
    out = D.simhash(docs).toPandas().set_index("doc_id")
    assert out.loc[0, "simhash"] == out.loc[1, "simhash"]
    # different docs differ
    assert out.loc[0, "simhash"] != out.loc[3, "simhash"]


def test_embedding_neardup(spark):
    rng = np.random.default_rng(0)
    base = rng.standard_normal((10, 16)).astype(np.float32)
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 2, v.tolist()))
        rows.append((i * 2 + 1, (v + rng.standard_normal(16).astype(np.float32) * 0.01).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = D.embedding_neardup_pairs(df, dim=16, threshold=0.99, n_bits=4).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    # most planted twin pairs found (LSH recall < 1 by construction)
    found = sum((2 * i, 2 * i + 1) in got for i in range(10))
    assert found >= 7


def test_connected_components_planted(spark):
    from feature_engineering_tk_spark.operators.dedup import connected_components

    # two clusters {1,2,3,9} (chain) and {5,7}, singleton edges absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 7)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["component_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 7: 5}


def test_connected_components_chain_diameter(spark):
    from feature_engineering_tk_spark.operators.dedup import connected_components

    # worst-case chain 0-1-2-...-12: propagation needs ~diameter iters
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    got = connected_components(pairs).collect()
    assert all(r["component_id"] == 0 for r in got)
    assert len(got) == 13


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """Degenerate corpus (boilerplate: 10%+ identical docs): the
    bucket-size cap must bound the candidate count linearly while the
    end-to-end dedup survivor set stays IDENTICAL (chain pairs keep
    duplicate cliques connected)."""
    boiler = "all work and no play makes a dull document " * 3
    rows = [(i, boiler) for i in range(20)]  # one giant identical clique
    rows += [(100 + k, f"unique doc {k} about topic {k * 13} with tail {k}") for k in range(40)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    sigs = D.minhash_signatures(df)
    uncapped = D.minhash_lsh_candidates(sigs).count()
    capped = D.minhash_lsh_candidates(sigs, max_bucket_size=5).count()
    # clique of 20 → 190 all-pairs; chain → 19
    assert uncapped >= 190
    assert capped <= uncapped - (190 - 19)

    out_full = {r["doc_id"] for r in D.minhash_lsh_dedup(df).collect()}
    out_capped = {
        r["doc_id"] for r in D.minhash_lsh_dedup(df, max_bucket_size=5).collect()
    }
    assert out_capped == out_full  # survivors unchanged
    assert 0 in out_capped and not any(1 <= d <= 19 for d in out_capped)


def test_connected_components_star_path_logn(spark):
    """Large-star/small-star converges in O(log n) rounds on a path
    graph — the worst case for label propagation (needs ~n rounds)."""
    import math

    from feature_engineering_tk_spark.operators.dedup import connected_components

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    # log2(64)=6; allow +3 rounds of slack. ConvergenceError would fail
    # the test if it needed more.
    got = {
        r["id"]: r["component_id"]
        for r in connected_components(
            pairs, max_iter=int(math.log2(n)) + 3, algorithm="star"
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_connected_components_star_matches_label(spark):
    """Both algorithms agree with a driver union-find on a random graph."""
    import random

    from feature_engineering_tk_spark.operators.dedup import connected_components

    rng = random.Random(11)
    edges = [(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(60)]
    parent = {x: x for e in edges for x in e}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    expected = {x: min(mem) for mem in comp.values() for x in mem}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    for algo in ("star", "label"):
        got = {
            r["id"]: r["component_id"]
            for r in connected_components(pairs, max_iter=60, algorithm=algo).collect()
        }
        assert got == expected, algo


def test_connected_components_label_raises_on_stall(spark):
    """Label propagation must raise, not return unmerged labels, when
    the iteration cap cuts it off mid-progress (ADVICE r2)."""
    import pytest as _pytest

    from feature_engineering_tk_spark.exceptions import ConvergenceError
    from feature_engineering_tk_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with _pytest.raises(ConvergenceError):
        connected_components(pairs, max_iter=3, algorithm="label")


def test_repetition_and_contamination_keep_null_text_docs(spark):
    """NULL-text docs must not silently vanish from quality outputs
    (ADVICE r2: explode of a null shingle array drops the doc)."""
    from feature_engineering_tk_spark.functions.cleaning import repetition_features
    from feature_engineering_tk_spark.operators.dedup import ngram_contamination

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, None)], "doc_id long, text string"
    )
    rep = repetition_features(docs, ns=(2,))
    assert rep.count() == 2
    row2 = rep.filter(F.col("doc_id") == 2).first()
    assert row2 is not None and row2["dup_line_frac"] == 0.0

    bench = spark.createDataFrame([(0, "x y z")], "doc_id long, text string")
    cont = ngram_contamination(docs, bench, shingle_n=2)
    assert cont.count() == 2
    assert cont.filter(F.col("doc_id") == 2).first()["contaminated"] is False


def test_ngram_contamination_planted(spark):
    from feature_engineering_tk_spark.operators.dedup import ngram_contamination

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "a totally unrelated sentence about spark plans"),
            (2, "he saw the quick brown fox run away"),     # shares 'the quick brown' etc.
            (3, "quick brown dogs are rare"),               # no shared 3-gram
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_contaminated_ngrams"], r["contaminated"])
        for r in ngram_contamination(train, bench, shingle_n=3).collect()
    }
    assert got[1] == (0, False)
    assert got[2][0] >= 2 and got[2][1] is True   # 'the quick brown', 'quick brown fox'
    assert got[3] == (0, False)


def test_ngram_contamination_13gram_default(spark):
    from feature_engineering_tk_spark.operators.dedup import ngram_contamination

    text = " ".join(f"w{i}" for i in range(20))
    bench = spark.createDataFrame([(0, text)], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, text), (2, " ".join(f"w{i}" for i in range(19, 39)))],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["contaminated"] for r in ngram_contamination(train, bench).collect()}
    assert got[1] is True      # identical text → 13-gram hit
    assert got[2] is False     # only 1 shared token, no shared 13-gram


def test_semantic_dedup_drops_epsilon_ball_juniors(spark):
    from feature_engineering_tk_spark.operators.dedup import semantic_dedup

    # two tight semantic groups + one loner; the two smallest ids are
    # the group exemplars (they become the IVF centroids), juniors
    # cluster onto them and are dropped by their senior neighbor
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.999, 0.04, 0.0]),   # ~0.9992 cosine to 0 -> dropped
        (3, [0.03, 0.999, 0.0]),   # near 1 -> dropped
        (4, [0.0, 0.0, 1.0]),      # loner survives
        (5, [1.0, 0.0, 0.0]),      # exact clone of 0 -> dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, n_centroids=2, threshold=0.98)
    assert sorted(r["vec_id"] for r in out.collect()) == [0, 1, 4]


def test_semantic_dedup_below_threshold_keeps_all(spark):
    from feature_engineering_tk_spark.operators.dedup import semantic_dedup

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, n_centroids=2, threshold=0.5)
    assert out.count() == 4  # orthogonal vectors: nothing is a near-dup


def test_dedup_paragraphs_keeps_global_first(spark):
    from feature_engineering_tk_spark.operators.dedup import dedup_paragraphs

    boiler = "Subscribe to our newsletter today."
    df = spark.createDataFrame(
        [
            (0, f"{boiler}\nunique paragraph alpha\nok"),
            (1, f"{boiler}\nunique paragraph beta"),
            (2, f"unique paragraph beta\n{boiler}\nok"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_paragraphs(df).collect()}
    # boilerplate survives only in its first (doc_id, pos) home
    assert out[0]["clean_text"] == f"{boiler}\nunique paragraph alpha\nok"
    assert out[1]["clean_text"] == "unique paragraph beta"
    # doc 2's copy of 'beta' loses to doc 1 (earlier doc_id); its short
    # 'ok' line is kept verbatim (below min_chars, never deduped)
    assert out[2]["clean_text"] == "ok"
    assert out[2]["n_paras"] == 3 and out[2]["n_paras_kept"] == 1
    # null text → one empty (short, kept-verbatim) paragraph, row present
    assert out[3]["clean_text"] == ""
    assert out[3]["n_paras"] == 1 and out[3]["n_paras_kept"] == 1


class TestFuzzyPairs:
    def test_blocked_levenshtein_pairs(self, spark):
        from feature_engineering_tk_spark.operators.dedup import fuzzy_dedup, fuzzy_pairs

        rows = [
            (1, "Acme Corporation"),
            (2, "Acme Corporation"),   # exact dup
            (3, "Acme Corporatian"),   # 1 substitution
            (4, "Acme Holdings"),      # same block, too far
            (5, "Zeta Widgets"),       # different block
            (6, "acme Corporatio"),    # case-folded block, 1 deletion vs 1
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {(r["id_a"], r["id_b"]): r["dist"] for r in fuzzy_pairs(df).collect()}
        assert pairs[(1, 2)] == 0
        assert pairs[(1, 3)] == 1
        assert (1, 4) not in pairs and (4, 5) not in pairs
        assert (1, 6) in pairs  # blocking is case-insensitive
        kept = {r["doc_id"] for r in fuzzy_dedup(df).select("doc_id").collect()}
        assert kept == {1, 4, 5}

    def test_distance_runs_in_jvm(self, spark):
        from feature_engineering_tk_spark.operators.dedup import fuzzy_pairs
        from feature_engineering_tk_spark.plans.inspect import inspect

        df = spark.createDataFrame([(1, "ab"), (2, "ac")], "doc_id long, text string")
        plan = inspect(fuzzy_pairs(df))
        assert "levenshtein" in plan.functions and plan.python == (), plan


class TestSourceOverlap:
    def test_pairwise_fractions(self, spark):
        from feature_engineering_tk_spark.operators.dedup import source_overlap

        # srcA: "a b c d" -> 3-grams {a b c, b c d}
        # srcB: "a b c"   -> {a b c}; shared with A = 1
        # srcC: "x y z"   -> {x y z}; shares nothing
        df = spark.createDataFrame(
            [("A", "a b c d"), ("B", "a b c"), ("C", "x y z")],
            "source string, text string",
        )
        out = {(r["source_a"], r["source_b"]): r
               for r in source_overlap(df, shingle_n=3).collect()}
        ab = out[("A", "B")]
        assert ab["shared_ngrams"] == 1
        assert ab["frac_a"] == pytest.approx(1 / 2)
        assert ab["frac_b"] == pytest.approx(1.0)
        assert ("A", "C") not in out and ("B", "C") not in out

    def test_duplicate_docs_count_distinct_grams_once(self, spark):
        from feature_engineering_tk_spark.operators.dedup import source_overlap

        df = spark.createDataFrame(
            [("A", "a b c"), ("A", "a b c"), ("B", "a b c")],
            "source string, text string",
        )
        r = source_overlap(df, shingle_n=3).first()
        assert r["shared_ngrams"] == 1 and r["frac_a"] == 1.0


# ---------------------------------------------------- memorization scan


def test_memorization_scan_longest_run(spark):
    from feature_engineering_tk_spark.operators.dedup import memorization_scan

    corpus = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id bigint, text string"
    )
    gen = spark.createDataFrame(
        [
            (1, "lazy the quick brown cat"),
            (2, "nothing shared here at all"),
            (3, None),
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in memorization_scan(gen, corpus, shingle_n=2).collect()}
    # doc 1 grams: [lazy the, the quick, quick brown, brown cat] —
    # positions 1,2 match the corpus → run of 2 grams = 3 tokens
    assert rows[1].n_grams == 4
    assert rows[1].n_matched == 2
    assert rows[1].longest_run == 2
    assert rows[1].longest_overlap_tokens == 3
    assert rows[2].n_matched == 0 and rows[2].longest_overlap_tokens == 0
    # NULL text still reported (coalesced to ''), nothing matched
    assert rows[3].n_matched == 0


def test_memorization_scan_non_contiguous_runs_split(spark):
    from feature_engineering_tk_spark.operators.dedup import memorization_scan

    corpus = spark.createDataFrame(
        [(100, "a b"), (101, "d e")], "doc_id bigint, text string"
    )
    gen = spark.createDataFrame(
        [(1, "a b x d e")], "doc_id bigint, text string"
    )
    r = memorization_scan(gen, corpus, shingle_n=2).collect()[0]
    # grams: [a b, b x, x d, d e] → matches at 0 and 3 — two runs of 1
    assert r.n_matched == 2
    assert r.longest_run == 1
    assert r.longest_overlap_tokens == 2


# ---------------------------------------------------------- corpus diff


def test_corpus_diff_counts_and_jaccard(spark):
    from feature_engineering_tk_spark.operators.dedup import corpus_diff

    a = spark.createDataFrame(
        [("s1", "Hello  world"), ("s1", "gone doc"), ("s2", "stable")],
        "source string, text string",
    )
    b = spark.createDataFrame(
        [("s1", "hello world"), ("s1", "new doc"), ("s2", "stable"), ("s2", "stable")],
        "source string, text string",
    )
    rows = {r.source: r for r in corpus_diff(a, b).collect()}
    s1 = rows["s1"]
    # 'Hello  world' ≡ 'hello world' after normalization → kept
    assert (s1.n_a, s1.n_b, s1.n_added, s1.n_removed, s1.n_kept) == (2, 2, 1, 1, 1)
    assert s1.jaccard == 1 / 3
    s2 = rows["s2"]  # duplicate 'stable' in b counts once (distinct contents)
    assert (s2.n_a, s2.n_b, s2.n_kept, s2.jaccard) == (1, 1, 1, 1.0)


def test_incremental_index_dedup(spark):
    from pyspark.sql import functions as F

    from feature_engineering_tk_spark.operators.dedup import (
        dedup_against_index,
        minhash_index,
    )

    base = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "pack my box with five dozen liquor jugs before the party"),
        (3, "completely different text about distributed systems and shuffles"),
    ]
    corpus = spark.createDataFrame(base, "doc_id bigint, text string")
    idx = minhash_index(corpus)
    assert set(idx.columns) == {"doc_id", "minhash", "buckets"}
    assert idx.count() == 3

    shard = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog again and again"),
            (11, "a genuinely novel document with entirely fresh vocabulary here"),
        ],
        "doc_id bigint, text string",
    )
    surv, additions = dedup_against_index(shard, idx, threshold=0.7)
    assert [r["doc_id"] for r in surv.collect()] == [11]  # exact copy of 1 dropped
    assert [r["doc_id"] for r in additions.collect()] == [11]  # append-ready rows
    updated = idx.unionByName(additions)
    assert updated.count() == 4  # corpus 3 + surviving 1
    # updated index is self-consistent: re-running the same shard drops BOTH
    surv2, _ = dedup_against_index(shard, updated, threshold=0.7)
    assert surv2.count() == 0
    # geometry must match: persisted buckets equal a rebuild
    rebuilt = minhash_index(corpus)
    a = {(r["doc_id"], tuple(r["buckets"])) for r in idx.collect()}
    b = {(r["doc_id"], tuple(r["buckets"])) for r in rebuilt.collect()}
    assert a == b


def test_index_lifecycle_tombstones_and_compaction(spark):
    """Takedowns + compaction are invisible to the gate: decisions
    against the compacted index equal decisions against a fresh index
    of the surviving corpus (the dedup_index_compact oracle contract,
    exercised here on the tombstone edge cases)."""
    from feature_engineering_tk_spark.operators.dedup import (
        compact_index,
        dedup_against_index,
        minhash_index,
        remove_from_index,
    )

    base = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "pack my box with five dozen liquor jugs before the party"),
        (3, "completely different text about distributed systems and shuffles"),
        (4, "yet another unrelated document on window functions and skew"),
    ]
    corpus = spark.createDataFrame(base, "doc_id bigint, text string")
    seg1 = minhash_index(corpus)
    # overlapping snapshot segment: docs 1-2 re-appended (bit-identical rows)
    seg2 = minhash_index(corpus.filter("doc_id <= 2"))
    pile = seg1.unionByName(seg2)
    assert pile.count() == 6

    # remove_from_index: list AND DataFrame tombstones, anti-join only
    assert remove_from_index(pile, [1]).filter("doc_id = 1").count() == 0
    tomb_df = spark.createDataFrame([(1,)], "doc_id bigint")
    assert remove_from_index(pile, tomb_df).filter("doc_id = 1").count() == 0
    # unknown ids are a no-op, not an error
    assert remove_from_index(pile, [999]).count() == 6

    compacted = compact_index(pile, tombstones=[1])
    assert compacted.count() == 3  # dup rows collapsed, doc 1 gone
    assert compacted.filter("doc_id = 1").count() == 0

    # gate equivalence vs fresh build on the surviving corpus: a shard
    # doc near-matching ONLY the tombstoned doc must now SURVIVE
    shard = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog again and again"),
            (11, "pack my box with five dozen liquor jugs before the party"),
        ],
        "doc_id bigint, text string",
    )
    surv_c, _ = dedup_against_index(shard, compacted, threshold=0.7)
    fresh = minhash_index(corpus.filter("doc_id != 1"))
    surv_f, _ = dedup_against_index(shard, fresh, threshold=0.7)
    got_c = sorted(r["doc_id"] for r in surv_c.collect())
    got_f = sorted(r["doc_id"] for r in surv_f.collect())
    assert got_c == got_f == [10]  # 10 freed by the takedown, 11 still gated


def test_split_leakage_audit_finds_cross_side_neardups(spark):
    from feature_engineering_tk_spark.operators.dedup import split_leakage_audit

    df = spark.createDataFrame(
        [
            (1, "train", "the quick brown fox jumps over the lazy dog again and again"),
            (2, "train", "pack my box with five dozen liquor jugs before the party"),
            (3, "test", "the quick brown fox jumps over the lazy dog again and again"),
            (4, "test", "a genuinely novel document with entirely fresh vocabulary here"),
            # same-side duplicate pair must NOT be reported
            (5, "train", "pack my box with five dozen liquor jugs before the party"),
        ],
        "doc_id bigint, side string, text string",
    )
    got = split_leakage_audit(df, "side", threshold=0.7).collect()
    pairs = {(r.id_a, r.id_b): (r.side_a, r.side_b, r.jaccard) for r in got}
    assert set(pairs) == {(1, 3)}  # only the cross-side leak
    side_a, side_b, j = pairs[(1, 3)]
    assert {side_a, side_b} == {"train", "test"} and j == 1.0


class TestExactDedupBest:
    def test_quality_priority_survivor(self, spark):
        from feature_engineering_tk_spark.operators.dedup import exact_dedup

        docs = [
            (1, "same content", 5),
            (2, "same content", 9),
            (3, "same content", 9),   # score tie -> min id among best
            (4, "unique", None),
        ]
        df = spark.createDataFrame(docs, "doc_id int, text string, quality int")
        got = {
            r["doc_id"]: r["n_copies"]
            for r in exact_dedup(df, "text", "doc_id", score_col="quality").collect()
        }
        assert got == {2: 3, 4: 1}
        # id and score columns named like the operator's temp columns
        df = df.withColumnsRenamed({"doc_id": "_rn", "quality": "_h"})
        got = {r["_rn"]: r["n_copies"] for r in exact_dedup(df, "text", "_rn", score_col="_h").collect()}
        assert got == {2: 3, 4: 1}

    def test_null_scores_lose(self, spark):
        from feature_engineering_tk_spark.operators.dedup import exact_dedup

        docs = [(1, "x", None), (2, "x", 1), (3, "x", None)]
        df = spark.createDataFrame(docs, "doc_id int, text string, quality int")
        got = {r["doc_id"] for r in exact_dedup(df, "text", "doc_id", score_col="quality").collect()}
        assert got == {2}

    def test_default_path_unchanged(self, spark):
        from feature_engineering_tk_spark.operators.dedup import exact_dedup

        docs = [(2, "x", 9), (1, "x", 1)]
        df = spark.createDataFrame(docs, "doc_id int, text string, quality int")
        got = {r["doc_id"] for r in exact_dedup(df, "text", "doc_id").collect()}
        assert got == {1}  # min id, score ignored
        got = {r["_h"] for r in exact_dedup(df.withColumnRenamed("doc_id", "_h"), "text", "_h").collect()}
        assert got == {1}
