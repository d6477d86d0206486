"""Golden-parity tests: string/datetime/numeric/text column functions
vs pandas semantics (SURVEY §2.7-2.8, §2.13 parity traps)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feature_engineering_tk_spark.functions import numeric as N
from feature_engineering_tk_spark.functions import text as TX
from feature_engineering_tk_spark.functions.datetime_features import datetime_features
from feature_engineering_tk_spark.functions.strings import (
    clean_strings,
    extract_string_length,
    handle_whitespace_variants,
)

KEY = ["conv_id", "turn_idx"]


def _sorted(df):
    return df.toPandas().sort_values(KEY).reset_index(drop=True)


# ---------------------------------------------------------------- strings
@pytest.fixture(scope="module")
def messy(spark):
    pdf = pd.DataFrame(
        {
            "i": range(6),
            "s": [
                "  Hello World  ",
                "foo-bar baz!",
                "UPPER lower 42",
                "a\tb\n c   d",
                "punct,.;:!?()[]",
                "tabs\t\tand  spaces",
            ],
        }
    )
    return spark.createDataFrame(pdf), pdf


def test_string_ops_match_pandas(messy):
    df, pdf = messy
    ops = ["strip", "lower", "remove_punctuation", "remove_extra_spaces"]
    out = clean_strings(df, ["s"], ops).toPandas().sort_values("i")["s"]
    exp = (
        pdf.sort_values("i")["s"]
        .str.strip()
        .str.lower()
        .str.replace(r"[^\w\s]", "", regex=True)
        .str.replace(r" +", " ", regex=True)
        .str.strip()
    )
    assert out.tolist() == exp.tolist()


def test_title_case_pandas_parity(messy):
    df, pdf = messy
    out = clean_strings(df, ["s"], ["title"]).toPandas().sort_values("i")["s"]
    exp = pdf.sort_values("i")["s"].str.title()
    # pandas titlecases after punctuation (e.g. 'Foo-Bar') — initcap wouldn't
    assert out.tolist() == exp.tolist()


_RESTART_SCRIPT = """
import json
from feature_engineering_tk_spark.functions.strings import clean_strings
from feature_engineering_tk_spark.session import get_spark

runs = []
for _ in range(2):
    spark = get_spark(master="local[1]", shuffle_partitions=1)
    df = spark.createDataFrame([(0, "a-b c"), (1, "o'neil x2y")], "i int, s string")
    runs.append([r.s for r in clean_strings(df, ["s"], ["title"]).orderBy("i").collect()])
    spark.stop()
print(json.dumps(runs))
"""


def test_title_udf_survives_context_restart(tmp_path):
    """The title UDF runs in a second SparkContext after the first one
    stops, and no task fails to report its accumulator update."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = os.environ | {"PYTHONPATH": repo}
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    expected = pd.Series(["a-b c", "o'neil x2y"]).str.title().tolist()
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == [expected, expected]
    assert "Failed to update accumulator" not in proc.stderr


def test_remove_digits(messy):
    df, pdf = messy
    out = clean_strings(df, ["s"], ["remove_digits"]).toPandas().sort_values("i")["s"]
    exp = pdf.sort_values("i")["s"].str.replace(r"\d+", "", regex=True)
    assert out.tolist() == exp.tolist()


def test_whitespace_variants(messy):
    df, pdf = messy
    out = handle_whitespace_variants(df, ["s"]).toPandas().sort_values("i")["s"]
    exp = pdf.sort_values("i")["s"].str.strip().str.replace(r"\s+", " ", regex=True)
    assert out.tolist() == exp.tolist()


def test_string_length(messy):
    df, pdf = messy
    out = extract_string_length(df, ["s"]).toPandas().sort_values("i")["s_length"]
    exp = pdf.sort_values("i")["s"].str.len()
    assert out.tolist() == exp.tolist()


def test_text_equality_contract(transcripts, transcripts_pdf):
    """Per-turn text byte-equality under stable (conv_id, turn_idx) order."""
    got = _sorted(
        clean_strings(transcripts, ["text"], ["strip", "lower", "remove_extra_spaces"])
    )["text"]
    exp = (
        transcripts_pdf.sort_values(KEY)["text"]
        .str.strip()
        .str.lower()
        .str.replace(r" +", " ", regex=True)
        .str.strip()
        .reset_index(drop=True)
    )
    assert (got == exp).all()


# ---------------------------------------------------------------- datetime
def test_datetime_features_match_pandas(transcripts, transcripts_pdf):
    feats = [
        "year", "month", "day", "hour", "minute", "second", "quarter",
        "dayofweek", "dayofyear", "weekofyear", "is_weekend",
        "is_month_start", "is_month_end",
    ]
    got = _sorted(datetime_features(transcripts, "ts", feats))
    ts = transcripts_pdf.sort_values(KEY)["ts"].dt
    exp = {
        "year": ts.year, "month": ts.month, "day": ts.day, "hour": ts.hour,
        "minute": ts.minute, "second": ts.second, "quarter": ts.quarter,
        "dayofweek": ts.dayofweek, "dayofyear": ts.dayofyear,
        "weekofyear": ts.isocalendar().week,
        "is_weekend": ts.dayofweek.isin([5, 6]).astype(int),
        "is_month_start": ts.is_month_start.astype(int),
        "is_month_end": ts.is_month_end.astype(int),
    }
    for f in feats:
        assert (
            got[f"ts_{f}"].to_numpy() == exp[f].to_numpy().astype(int)
        ).all(), f"datetime feature {f} mismatch"


# ---------------------------------------------------------------- numeric
def test_polynomial_features(transcripts, transcripts_pdf):
    got = _sorted(N.polynomial_features(transcripts, ["tokens", "score"], degree=2))
    exp = transcripts_pdf.sort_values(KEY)
    assert np.allclose(got["tokens_squared"], (exp["tokens"] ** 2))
    assert np.allclose(
        got["tokens_x_score"], (exp["tokens"] * exp["score"]), equal_nan=True
    )


def test_log_transform_offset(spark):
    pdf = pd.DataFrame({"x": [-2.0, 0.0, 3.0]})
    df = spark.createDataFrame(pdf)
    out = N.log_transform(df, ["x"]).toPandas()
    offset = abs(-2.0) + 1  # reference: abs(min)+1 when min <= 0
    assert np.allclose(out["x_log"], np.log(pdf["x"] + offset))


def test_sqrt_skips_negative(spark):
    pdf = pd.DataFrame({"x": [1.0, 4.0], "neg": [-1.0, 9.0]})
    df = spark.createDataFrame(pdf)
    with pytest.warns(UserWarning):
        out = N.sqrt_transform(df, ["x", "neg"])
    assert "x_sqrt" in out.columns and "neg_sqrt" not in out.columns


def test_ratio_and_flags(transcripts, transcripts_pdf):
    got = _sorted(
        N.flag_features(
            N.ratio_features(transcripts, [("tokens", "latency_ms")]),
            {"is_user": F.col("role") == "user"},
        )
    )
    exp = transcripts_pdf.sort_values(KEY)
    assert np.allclose(
        got["tokens_to_latency_ms_ratio"],
        exp["tokens"] / (exp["latency_ms"] + 1e-8),
        equal_nan=True,
    )
    assert (got["is_user"].to_numpy() == (exp["role"] == "user").astype(int).to_numpy()).all()


# ---------------------------------------------------------------- text
def test_token_count_matches_split(spark):
    pdf = pd.DataFrame({"i": [0, 1, 2], "t": ["a b  c", "  ", "one"]})
    df = spark.createDataFrame(pdf)
    out = df.select("i", TX.token_count(F.col("t")).alias("n")).toPandas().sort_values("i")
    assert out["n"].tolist() == [3, 0, 1]


def test_fingerprint_matches_numpy_oracle(spark):
    pdf = pd.DataFrame({"doc_id": [0, 1], "text": ["Hello   world", "hello world"]})
    df = spark.createDataFrame(pdf)
    out = TX.fingerprint(df, "text").toPandas().sort_values("doc_id")
    # both normalize to 'hello world' → identical fingerprints
    assert out["fingerprint"].iloc[0] == out["fingerprint"].iloc[1]
    MOD, BASE = (1 << 61) - 1, 257
    h = 0
    for ch in b"hello world":
        h = (h * BASE + ch) % MOD
    assert out["fingerprint"].iloc[0] == h


def test_quality_and_langid_run(spark):
    pdf = pd.DataFrame(
        {"doc_id": [0, 1], "text": ["the cat is on the mat!", "zzz qqq 123"]}
    )
    df = spark.createDataFrame(pdf)
    q = TX.quality_features(df, "text").toPandas().sort_values("doc_id")
    assert q["stopword_ratio"].iloc[0] > q["stopword_ratio"].iloc[1]
    l = TX.lang_id(df, "text").toPandas().sort_values("doc_id")
    assert l["lang_pred"].tolist() == ["en", "unknown"]


def test_apply_custom_function_vectorized(spark, transcripts):
    """Series→Series pandas UDF == equivalent column expression."""
    import numpy as np
    from pyspark.sql import functions as F

    from feature_engineering_tk_spark.operators.rows import apply_custom_function

    got = (
        apply_custom_function(
            transcripts, "tokens", lambda s: np.log1p(s) * 2.0, out="g"
        )
        .select("conv_id", "turn_idx", "g")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])["g"]
        .values
    )
    exp = (
        transcripts.select(
            "conv_id", "turn_idx", (F.log1p(F.col("tokens")) * 2.0).alias("e")
        )
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])["e"]
        .values
    )
    assert np.allclose(got, exp)


def test_tf_idf_sklearn_semantics(spark):
    """tf=raw count, idf=ln((1+N)/(1+df))+1, L2-normalized per doc."""
    import math as _math

    from feature_engineering_tk_spark.functions.text import tf_idf

    df = spark.createDataFrame(
        [(0, "apple banana apple"), (1, "banana cherry"), (2, "durian")],
        "doc_id long, text string",
    )
    rows = {(r["doc_id"], r["term"]): r for r in tf_idf(df, min_df=1).collect()}
    # doc 0: apple tf=2 df=1, banana tf=1 df=2; N=3
    idf_apple = _math.log(4 / 2) + 1.0
    idf_banana = _math.log(4 / 3) + 1.0
    raw_a, raw_b = 2 * idf_apple, 1 * idf_banana
    l2 = _math.sqrt(raw_a**2 + raw_b**2)
    assert rows[(0, "apple")]["tfidf"] == pytest.approx(raw_a / l2, rel=1e-12)
    assert rows[(0, "banana")]["tfidf"] == pytest.approx(raw_b / l2, rel=1e-12)
    # singleton doc: single term normalizes to exactly 1
    assert rows[(2, "durian")]["tfidf"] == pytest.approx(1.0, abs=1e-12)
    # min_df prunes hapax terms
    pruned = {r["term"] for r in tf_idf(df, min_df=2).collect()}
    assert pruned == {"banana"}


def test_knn_join_batch(spark):
    from feature_engineering_tk_spark.functions.similarity import knn_join

    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0] if i % 2 == 0 else [0.0, 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(100, [2.0, 0.0]), (200, [0.0, 3.0])],
        "q_id long, q_vec array<double>",
    )
    got = knn_join(q, corpus, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append(r)
    assert len(by_q[100]) == 3 and len(by_q[200]) == 3
    # query 100 is the x-axis: its top-3 are even ids in id order, sim 1
    top100 = sorted(by_q[100], key=lambda r: r["rank"])
    assert [r["vec_id"] for r in top100] == [0, 2, 4]
    assert all(abs(r["cosine_sim"] - 1.0) < 1e-12 for r in top100)
    top200 = sorted(by_q[200], key=lambda r: r["rank"])
    assert [r["vec_id"] for r in top200] == [1, 3, 5]


def test_bigram_lm_score_hand_model(spark):
    """Tiny corpus with a hand-computed add-1 bigram model.

    Corpus: "a b", "a b", "a c", plus a NULL-text doc.
    Bigrams (with <s>): (<s>,a) x3, (a,b) x2, (a,c) x1.
    Histories: c(<s>)=3, c(a)=3. Predicted vocab V = {a,b,c} = 3.
    """
    import math

    df = spark.createDataFrame(
        [(0, "a b"), (1, "A  b "), (2, "a c"), (3, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.bigram_lm_score(df).collect()}
    assert set(out) == {0, 1, 2, 3}  # null-text doc is never dropped
    p_sa = (3 + 1) / (3 + 3)  # P(a|<s>)
    p_ab = (2 + 1) / (3 + 3)  # P(b|a)
    p_ac = (1 + 1) / (3 + 3)  # P(c|a)
    exp_ab = (math.log(p_sa) + math.log(p_ab)) / 2
    exp_ac = (math.log(p_sa) + math.log(p_ac)) / 2
    assert out[0]["n_bigrams"] == 2
    assert out[0]["avg_logprob"] == pytest.approx(exp_ab, rel=1e-12)
    # case/whitespace normalization: doc 1 scores identically to doc 0
    assert out[1]["avg_logprob"] == pytest.approx(exp_ab, rel=1e-12)
    assert out[2]["avg_logprob"] == pytest.approx(exp_ac, rel=1e-12)
    assert out[2]["logppl"] == pytest.approx(-exp_ac, rel=1e-12)
    # noisier doc scores worse (higher perplexity proxy)
    assert out[2]["logppl"] > out[0]["logppl"]
    assert out[3]["n_bigrams"] == 0 and out[3]["avg_logprob"] is None


def test_importance_weights_rank_target_like_docs(spark):
    """DSIR sanity: docs that look like the target corpus get higher
    importance weights than off-target docs."""
    raw = spark.createDataFrame(
        [(i, "the cat sat on the mat and purred softly") for i in range(5)]
        + [(i + 10, "stock prices fell sharply amid rate fears") for i in range(5)]
        + [(99, None)],
        "doc_id long, text string",
    )
    target = raw.filter("doc_id < 5")
    out = {r["doc_id"]: r for r in TX.importance_weights(raw, target, n_buckets=256).collect()}
    assert set(out) == {0, 1, 2, 3, 4, 10, 11, 12, 13, 14, 99}
    cat_w = out[0]["avg_logratio"]
    fin_w = out[10]["avg_logratio"]
    assert cat_w > fin_w  # target-like docs rank higher
    # identical docs score identically
    assert out[1]["avg_logratio"] == cat_w and out[11]["avg_logratio"] == fin_w
    # null-text doc keeps a row with no features
    assert out[99]["n_features"] == 0 and out[99]["avg_logratio"] is None
    # md5 hash mode yields the same ordering (cross-engine path)
    out2 = {r["doc_id"]: r for r in
            TX.importance_weights(raw, target, n_buckets=256, hash_mode="md5").collect()}
    assert out2[0]["avg_logratio"] > out2[10]["avg_logratio"]


def test_bigram_lm_null_and_empty(spark):
    df = spark.createDataFrame([(0, ""), (1, "   ")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.bigram_lm_score(df).collect()}
    assert out[0]["n_bigrams"] == 0 and out[1]["n_bigrams"] == 0


def test_ccnet_buckets_terciles(spark):
    rep = lambda s, k: " ".join([s] * k)  # noqa: E731
    df = spark.createDataFrame(
        [(i, rep("the cat sat", 4)) for i in range(6)]          # typical → head
        + [(i + 10, rep("zig zag flux", 2)) for i in range(3)]  # rare → tail
        + [(99, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.ccnet_buckets(df).collect()}
    assert all(out[i]["ppl_bucket"] == "head" for i in range(6))
    assert all(out[i + 10]["ppl_bucket"] == "tail" for i in range(3))
    assert out[99]["ppl_bucket"] is None  # unscored, never silently dropped


def test_nb_classify_separable_labels(spark):
    train = spark.createDataFrame(
        [(i, "cat", "whiskers purr feline meow kitten") for i in range(6)]
        + [(i + 10, "dog", "bark fetch canine woof puppy") for i in range(4)],
        "doc_id long, label string, text string",
    )
    infer = spark.createDataFrame(
        [
            (100, "purr purr meow"),
            (101, "woof bark fetch"),
            (102, "quantum flux"),   # all tokens unseen → prior-only
            (103, None),             # no tokens → prior-only fallback
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           TX.nb_classify(train, infer, n_buckets=4096).collect()}
    assert out[100]["pred_label"] == "cat" and out[100]["n_tokens"] == 3
    assert out[101]["pred_label"] == "dog"
    # unseen/empty docs fall back to the majority-prior class (cat: 6 vs 4)
    assert out[102]["pred_label"] == "cat" and out[102]["n_tokens"] == 0
    assert out[103]["pred_label"] == "cat" and out[103]["n_tokens"] == 0
    # every inference row survives
    assert set(out) == {100, 101, 102, 103}


def test_nb_classify_char_analyzer(spark):
    """Char-trigram features separate scripts even with no shared
    words; shuffle-join scoring path agrees with broadcast path."""
    train = spark.createDataFrame(
        [(i, "greek", "αλφα βητα γαμμα δελτα") for i in range(3)]
        + [(i + 10, "latin", "alpha beta gamma delta") for i in range(3)],
        "doc_id long, label string, text string",
    )
    infer = spark.createDataFrame(
        [(100, "βητα αλφα"), (101, "beta alpha")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in
           TX.nb_classify(train, infer, analyzer="char", n_buckets=4096).collect()}
    assert got[100]["pred_label"] == "greek"
    assert got[101]["pred_label"] == "latin"
    nob = {r["doc_id"]: r for r in
           TX.nb_classify(train, infer, analyzer="char", n_buckets=4096,
                          broadcast_model=False).collect()}
    assert {k: v["pred_label"] for k, v in nob.items()} == {100: "greek", 101: "latin"}
    with pytest.raises(ValueError):
        TX.nb_classify(train, infer, analyzer="bigrams")


class TestCollocations:
    def test_pmi_ranks_fixed_phrase_first(self, spark):
        import math

        from feature_engineering_tk_spark.functions.text import collocations

        rows = [(i, "alpha beta") for i in range(10)] + [
            (10 + i, "x y z w") for i in range(30)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = collocations(df, min_count=10, top_k=5).collect()
        top = got[0]
        # alpha+beta co-occur exclusively → highest PMI despite fewer hits
        assert (top["w1"], top["w2"]) == ("alpha", "beta")
        n = 10 * 2 + 30 * 4
        expect = round(math.log(n * 10 / (10 * 10)), 9)
        assert abs(top["pmi"] - expect) < 1e-9

    def test_min_count_filters_rare_pairs(self, spark):
        from feature_engineering_tk_spark.functions.text import collocations

        df = spark.createDataFrame(
            [(0, "rare pair"), (1, "alpha beta"), (2, "alpha beta"),
             (3, "alpha beta"), (4, "alpha beta"), (5, "alpha beta")],
            "doc_id long, text string",
        )
        got = collocations(df, min_count=5, top_k=10).collect()
        assert [(r["w1"], r["w2"]) for r in got] == [("alpha", "beta")]


class TestReadability:
    def test_hand_computed_flesch(self, spark):
        from feature_engineering_tk_spark.functions.text import readability_scores

        # "The cat sat. It ran!" -> 5 words, 2 sentences, 5 syllable
        # groups (e/a/a/i/a).
        df = spark.createDataFrame(
            [(0, "The cat sat. It ran!")], "doc_id long, text string"
        )
        r = readability_scores(df).first()
        assert r["n_words"] == 5 and r["n_sentences"] == 2
        assert r["n_syllables"] == 5
        expected = 206.835 - 1.015 * (5 / 2) - 84.6 * (5 / 5)
        assert r["flesch_reading_ease"] == pytest.approx(expected)
        assert r["fk_grade"] == pytest.approx(0.39 * 2.5 + 11.8 * 1.0 - 15.59)

    def test_no_terminator_counts_one_sentence(self, spark):
        from feature_engineering_tk_spark.functions.text import readability_scores

        df = spark.createDataFrame([(0, "hello world")], "doc_id long, text string")
        r = readability_scores(df).first()
        assert r["n_sentences"] == 1 and r["n_words"] == 2

    def test_empty_text_null_scores(self, spark):
        from feature_engineering_tk_spark.functions.text import readability_scores

        df = spark.createDataFrame([(0, "")], "doc_id long, text string")
        r = readability_scores(df).first()
        assert r["n_words"] == 0
        assert r["flesch_reading_ease"] is None and r["fk_grade"] is None

    def test_multi_char_terminators_one_run(self, spark):
        from feature_engineering_tk_spark.functions.text import readability_scores

        df = spark.createDataFrame([(0, "wait... what?!")], "doc_id long, text string")
        r = readability_scores(df).first()
        assert r["n_sentences"] == 2  # '...' and '?!' are single runs


class TestTrigramLM:
    REF = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the rug"),
        (3, "a cat and a dog play"),
    ]
    TGT = [
        (10, "the cat sat on the rug"),
        (11, "purple elephants fly quietly"),
        (12, ""),
        (13, None),
    ]

    @staticmethod
    def _ref_scores(ref_rows, alpha=0.4):
        import math
        from collections import Counter

        def toks(t):
            return [w for w in " ".join((t or "").lower().split()).split(" ") if w]

        def trigrams(t):
            tk = ["<s>", "<s>"] + toks(t)
            return [(tk[i], tk[i + 1], tk[i + 2]) for i in range(len(toks(t)))]

        c123, c12, c23, c2, c3 = (Counter() for _ in range(5))
        n = 0
        for _, t in ref_rows:
            for w1, w2, w3 in trigrams(t):
                c123[(w1, w2, w3)] += 1
                c12[(w1, w2)] += 1
                c23[(w2, w3)] += 1
                c2[w2] += 1
                c3[w3] += 1
                n += 1

        def score(w1, w2, w3):
            if c123[(w1, w2, w3)]:
                return math.log(c123[(w1, w2, w3)] / c12[(w1, w2)])
            if c23[(w2, w3)]:
                return math.log(alpha * c23[(w2, w3)] / c2[w2])
            if c3[w3]:
                return math.log(alpha * alpha * c3[w3] / n)
            return math.log(alpha * alpha / n)

        return trigrams, score

    def test_matches_pure_python_backoff(self, spark):
        from feature_engineering_tk_spark.functions.text import trigram_lm_score

        ref = spark.createDataFrame(self.REF, "doc_id int, text string")
        tgt = spark.createDataFrame(self.TGT, "doc_id int, text string")
        trigrams, score = self._ref_scores(self.REF)
        got = {r["doc_id"]: r for r in trigram_lm_score(tgt, ref=ref).collect()}
        assert set(got) == {10, 11, 12, 13}  # empty/null docs not dropped
        for did, t in self.TGT:
            tris = trigrams(t) if t else []
            r = got[did]
            assert r["n_trigrams"] == len(tris)
            if not tris:
                assert r["avg_logscore"] is None and r["logppl"] is None
            else:
                want = sum(round(score(*x), 12) for x in tris) / len(tris)
                assert r["avg_logscore"] == pytest.approx(want, abs=1e-9)
                assert r["logppl"] == pytest.approx(-want, abs=1e-9)

    def test_backoff_ordering(self, spark):
        # a fully-seen doc must score better (lower logppl) than an OOV doc
        from feature_engineering_tk_spark.functions.text import trigram_lm_score

        ref = spark.createDataFrame(self.REF, "doc_id int, text string")
        tgt = spark.createDataFrame(self.TGT[:2], "doc_id int, text string")
        got = {r["doc_id"]: r["logppl"] for r in trigram_lm_score(tgt, ref=ref).collect()}
        assert got[10] < got[11]

    def test_self_train_no_backoff(self, spark):
        # scoring the training corpus itself: every trigram is seen, so
        # scores are genuine conditional frequencies in (0, 1]
        from feature_engineering_tk_spark.functions.text import trigram_lm_score

        ref = spark.createDataFrame(self.REF, "doc_id int, text string")
        for r in trigram_lm_score(ref).collect():
            assert r["avg_logscore"] <= 0.0
            assert r["n_trigrams"] > 0

    def test_partition_invariance(self, spark):
        from feature_engineering_tk_spark.functions.text import trigram_lm_score

        ref = spark.createDataFrame(self.REF, "doc_id int, text string")
        tgt = spark.createDataFrame(self.TGT, "doc_id int, text string")
        a = {r["doc_id"]: r["avg_logscore"] for r in trigram_lm_score(tgt.coalesce(1), ref=ref.coalesce(1)).collect()}
        b = {r["doc_id"]: r["avg_logscore"] for r in trigram_lm_score(tgt.repartition(7), ref=ref.repartition(5)).collect()}
        assert a == b  # DECIMAL mean: layout-independent

    def test_alpha_validation(self, spark):
        from feature_engineering_tk_spark.functions.text import trigram_lm_score

        df = spark.createDataFrame(self.REF, "doc_id int, text string")
        with pytest.raises(ValueError):
            trigram_lm_score(df, alpha=0.0)


class TestCharEntropy:
    def test_hand_values(self, spark):
        from feature_engineering_tk_spark.functions.text import char_entropy

        rows = [
            (1, "aaaa"),
            (2, "abab"),
            (3, "abcdefgh"),
            (4, ""),
            (5, None),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = {r["doc_id"]: r for r in char_entropy(df).collect()}
        assert got[1]["entropy_bits"] == 0.0 and got[1]["entropy_ratio"] == 0.0
        assert got[2]["entropy_bits"] == 1.0 and got[2]["entropy_ratio"] == 1.0
        assert got[3]["entropy_bits"] == 3.0 and got[3]["entropy_ratio"] == 1.0
        for d in (4, 5):  # empty/null kept, not scored
            assert got[d]["n_chars"] == 0 and got[d]["entropy_bits"] is None

    def test_matches_counter_reference(self, spark):
        import math
        from collections import Counter

        from feature_engineering_tk_spark.functions.text import char_entropy

        text = "hello world, this is natural text with Some Repeats!!"
        df = spark.createDataFrame([(0, text)], "doc_id int, text string")
        r = char_entropy(df).first()
        c = Counter(text)
        n = len(text)
        want = -sum((v / n) * math.log2(v / n) for v in c.values())
        assert r["entropy_bits"] == pytest.approx(want, abs=1e-8)
        assert r["n_distinct_chars"] == len(c)
        assert 0.0 < r["entropy_ratio"] < 1.0

    def test_truncation_bound(self, spark):
        from feature_engineering_tk_spark.functions.text import char_entropy

        df = spark.createDataFrame(
            [(0, "ab" * 5000)], "doc_id int, text string"
        )
        r = char_entropy(df, max_chars=100).first()
        assert r["n_chars"] == 100  # per-row cost capped
        assert r["entropy_bits"] == 1.0

    def test_noise_scores_higher_than_repetition(self, spark):
        from feature_engineering_tk_spark.functions.text import char_entropy

        rows = [(1, "spam spam spam spam spam"), (2, "q8Zk2mXv9Lp0Rt4Yw6Ba")]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = {r["doc_id"]: r["entropy_ratio"] for r in char_entropy(df).collect()}
        assert got[2] > got[1]


class TestSkipgramCooccurrence:
    DOCS = [
        (1, "the cat sat on the mat"),
        (2, "the cat ran to the mat"),
        (3, "dogs chase the cat around"),
    ]

    def test_matches_counter_reference(self, spark):
        import math
        from collections import Counter

        from feature_engineering_tk_spark.functions.text import skipgram_cooccurrence

        df = spark.createDataFrame(self.DOCS, "doc_id int, text string")
        got = {
            (r["w_a"], r["w_b"]): r
            for r in skipgram_cooccurrence(df, window=2, min_count=2, top_k=None).collect()
        }
        pair_counts, uni, n_tok = Counter(), Counter(), 0
        for _, t in self.DOCS:
            toks = t.lower().split()
            for w in toks:
                uni[w] += 1
                n_tok += 1
            for i in range(len(toks)):
                for o in (1, 2):
                    if i + o < len(toks):
                        a, b = sorted([toks[i], toks[i + o]])
                        pair_counts[(a, b)] += 1
        want = {p: c for p, c in pair_counts.items() if c >= 2}
        assert set(got) == set(want)
        for (a, b), r in got.items():
            assert r["n_cooccur"] == want[(a, b)]
            pmi = math.log(n_tok * want[(a, b)] / (uni[a] * uni[b]))
            assert r["pmi"] == pytest.approx(pmi, abs=1e-8)

    def test_pmi_survives_long_count_overflow(self, spark):
        """Counts of 4e9 make ``c_a * c_b`` (1.6e19) overflow a long;
        the PMI multiplies doubles instead and stays finite and exact."""
        import math

        from feature_engineering_tk_spark.functions.text import _pmi

        n, pair, c_a, c_b = 5_000_000_000, 4_000_000_000, 4_000_000_000, 4_000_000_000
        row = spark.createDataFrame(
            [(n, pair, c_a, c_b)], "_n long, n_cooccur long, c_a long, c_b long"
        ).select(_pmi("_n", "n_cooccur", "c_a", "c_b").alias("pmi")).first()
        want = math.log(float(n) * float(pair) / (float(c_a) * float(c_b)))
        assert math.isfinite(row["pmi"])
        assert row["pmi"] == pytest.approx(want, rel=1e-12)

    def test_topk_ordering_and_window_validation(self, spark):
        from feature_engineering_tk_spark.functions.text import skipgram_cooccurrence

        df = spark.createDataFrame(self.DOCS, "doc_id int, text string")
        top = skipgram_cooccurrence(df, window=2, min_count=1, top_k=4).collect()
        assert len(top) == 4
        assert [r["pmi"] for r in top] == sorted((r["pmi"] for r in top), reverse=True)
        with pytest.raises(ValueError):
            skipgram_cooccurrence(df, window=0)

    def test_window_1_equals_adjacent_pairs(self, spark):
        from collections import Counter

        from feature_engineering_tk_spark.functions.text import skipgram_cooccurrence

        df = spark.createDataFrame(self.DOCS, "doc_id int, text string")
        got = {
            (r["w_a"], r["w_b"]): r["n_cooccur"]
            for r in skipgram_cooccurrence(df, window=1, min_count=1, top_k=None).collect()
        }
        adj = Counter()
        for _, t in self.DOCS:
            toks = t.lower().split()
            for i in range(len(toks) - 1):
                adj[tuple(sorted(toks[i : i + 2]))] += 1
        assert got == dict(adj)
