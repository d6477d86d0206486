"""Evaluation & agreement family: Cohen/Fleiss kappa, arena winrates,
Bradley-Terry strengths, QA token-F1, distinct-n diversity."""

import pytest

from feature_engineering_tk_spark.analysis.agreement import cohen_kappa, fleiss_kappa
from feature_engineering_tk_spark.exceptions import InsufficientDataError
from feature_engineering_tk_spark.functions.text import distinct_ngrams, qa_metrics
from feature_engineering_tk_spark.operators.evals import (
    bradley_terry,
    head_to_head,
    model_winrates,
)


# ---------------------------------------------------------------- agreement


def _cohen_fixture(spark):
    rows = []
    for i in range(10):
        rows += [(i, 0, "a"), (i, 1, "a")]
    for i in range(10, 14):
        rows += [(i, 0, "b"), (i, 1, "b")]
    for i in range(14, 20):
        rows += [(i, 0, "a"), (i, 1, "b")]
    return spark.createDataFrame(rows, "item_id int, rater_id int, label string")


def test_cohen_kappa_hand_value(spark):
    # po = 14/20, pe = (16·10 + 4·10)/400 = 0.5 → kappa = 0.4 exactly
    row = cohen_kappa(_cohen_fixture(spark)).collect()[0]
    assert row.n_items == 20
    assert row.po == 14 / 20
    assert row.pe == 0.5
    assert row.kappa == 0.4


def test_cohen_kappa_drops_unpaired_items_and_dedupes_min(spark):
    df = _cohen_fixture(spark).unionByName(
        # item 99 has only rater 0 → dropped; item 0 gets a duplicate
        # rater-0 rating 'z' which loses to min('a','z')
        _cohen_fixture(spark).sparkSession.createDataFrame(
            [(99, 0, "a"), (0, 0, "z")], "item_id int, rater_id int, label string"
        )
    )
    row = cohen_kappa(df).collect()[0]
    assert row.n_items == 20 and row.kappa == 0.4


def test_cohen_kappa_empty_raises(spark):
    df = spark.createDataFrame([], "item_id int, rater_id int, label string")
    with pytest.raises(InsufficientDataError):
        cohen_kappa(df)


def test_fleiss_kappa_hand_value(spark):
    rows = [(1, "a"), (1, "a"), (2, "a"), (2, "b"), (3, "b"), (3, "b")]
    df = spark.createDataFrame(rows, "item_id int, label string")
    row = fleiss_kappa(df, n_raters=2).collect()[0]
    # A = 4+2+4 = 10, N=3, n=2 → p_bar = (10-6)/6; B = 9+9 → p_e = 0.5
    assert row.n_items == 3
    assert row.p_bar == (10 - 6) / 6
    assert row.p_e == 0.5
    assert row.kappa == (row.p_bar - 0.5) / 0.5


def test_fleiss_kappa_drops_incomplete_items(spark):
    rows = [(1, "a"), (1, "a"), (2, "a")]  # item 2 has 1 rating ≠ 2
    df = spark.createDataFrame(rows, "item_id int, label string")
    row = fleiss_kappa(df, n_raters=2).collect()[0]
    assert row.n_items == 1
    assert row.kappa == 0.0  # p_e == 1 degenerate convention


def test_fleiss_kappa_guards(spark):
    df = spark.createDataFrame([(1, "a")], "item_id int, label string")
    with pytest.raises(InsufficientDataError):
        fleiss_kappa(df, n_raters=1)
    with pytest.raises(InsufficientDataError):
        fleiss_kappa(df, n_raters=3)  # no complete item


# ---------------------------------------------------------------- battles


def _battles(spark):
    return spark.createDataFrame(
        [
            ("m1", "m2", "m1"),
            ("m1", "m2", "m1"),
            ("m1", "m2", "m2"),
            ("m2", "m3", "m2"),
            ("m1", "m3", "m1"),
            ("m3", "m1", "m3"),
            ("m2", "m3", "draw"),
        ],
        "model_a string, model_b string, winner string",
    )


def test_model_winrates_draws_count_as_games(spark):
    out = {r.model: r for r in model_winrates(_battles(spark)).collect()}
    assert out["m2"].n_games == 5 and out["m2"].n_wins == 2
    assert out["m2"].winrate == 2 / 5
    assert out["m3"].n_games == 4 and out["m3"].n_wins == 1


def test_head_to_head_both_orientations(spark):
    out = {(r.model, r.opponent): r for r in head_to_head(_battles(spark)).collect()}
    assert out[("m1", "m2")].n_games == 3 and out[("m1", "m2")].n_wins == 2
    assert out[("m2", "m1")].n_wins == 1
    assert out[("m2", "m3")].n_games == 2 and out[("m2", "m3")].n_wins == 1


def test_bradley_terry_orders_by_strength_and_sums_to_one(spark):
    out = {r.model: r for r in bradley_terry(_battles(spark), n_iter=8).collect()}
    assert out["m1"].rating > out["m2"].rating > out["m3"].rating
    total = sum(r.rating_fp for r in out.values())
    assert abs(total - 10**6) <= 3  # normalized, floor-division slack
    assert out["m1"].n_games == 5 and out["m1"].n_wins == 3


def test_bradley_terry_deterministic(spark):
    a = sorted(bradley_terry(_battles(spark), n_iter=5).collect())
    b = sorted(bradley_terry(_battles(spark), n_iter=5).collect())
    assert a == b


def test_bradley_terry_zero_win_model_floored(spark):
    df = spark.createDataFrame(
        [("w", "l", "w"), ("w", "l", "w")], "model_a string, model_b string, winner string"
    )
    out = {r.model: r for r in bradley_terry(df, n_iter=3).collect()}
    assert out["l"].rating_fp >= 1  # floor keeps the iterate finite
    assert out["w"].rating_fp > out["l"].rating_fp


def test_bradley_terry_single_model_raises(spark):
    df = spark.createDataFrame([], "model_a string, model_b string, winner string")
    with pytest.raises(InsufficientDataError):
        bradley_terry(df)


# ---------------------------------------------------------------- QA metrics


def test_qa_metrics_squad_style(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat", "the cat sat on the mat"),
            (2, "", "x"),
            (3, "A b", "a b"),
            (4, "", ""),
            (5, "a a b", "a c"),
        ],
        "id int, pred string, ref string",
    )
    out = {r.id: r for r in qa_metrics(df).collect()}
    assert out[1].n_overlap == 3 and out[1].precision == 1.0
    assert out[1].recall == 0.5 and out[1].f1 == 6 / 9
    assert out[2].f1 == 0.0 and out[2].exact_match == 0
    assert out[3].exact_match == 1 and out[3].f1 == 1.0  # case-folded
    assert out[4].exact_match == 1 and out[4].f1 == 0.0  # both empty
    # multiset: 'a' counted min(2,1)=1, 'b' min(1,0)=0
    assert out[5].n_overlap == 1 and out[5].f1 == 2 / 5


def test_qa_metrics_null_safe(spark):
    df = spark.createDataFrame([(1, None, "x")], "id int, pred string, ref string")
    row = qa_metrics(df).collect()[0]
    assert row.n_pred == 0 and row.f1 == 0.0


# ---------------------------------------------------------------- diversity


def test_distinct_ngrams_by_group(spark):
    df = spark.createDataFrame(
        [("s1", "a b a b"), ("s1", "a b c"), ("s2", "x x x"), ("s2", "y")],
        "source string, text string",
    )
    out = {r.source: r for r in distinct_ngrams(df, n=2, by="source").collect()}
    # s1 grams: (a b)x2, (b a), (a b), (b c) → 3 distinct / 5 total
    assert out["s1"].distinct_grams == 3 and out["s1"].total_grams == 5
    assert out["s1"].distinct_ratio == 3 / 5
    # s2: 'y' too short for bigrams; 'x x' twice → 1/2
    assert out["s2"].distinct_grams == 1 and out["s2"].total_grams == 2


def test_distinct_ngrams_corpus_level_unigram(spark):
    df = spark.createDataFrame([("a b",), ("b c",)], "text string")
    row = distinct_ngrams(df, n=1).collect()[0]
    assert row.distinct_grams == 3 and row.total_grams == 4


def test_distinct_ngrams_md5_mode_matches_xxhash_counts(spark):
    df = spark.createDataFrame([("a b a",), ("c d",)], "text string")
    a = distinct_ngrams(df, n=2, hash_mode="xxhash64").collect()[0]
    b = distinct_ngrams(df, n=2, hash_mode="md5").collect()[0]
    assert (a.distinct_grams, a.total_grams) == (b.distinct_grams, b.total_grams)


def test_distinct_ngrams_invalid_n(spark):
    df = spark.createDataFrame([("a",)], "text string")
    with pytest.raises(ValueError):
        distinct_ngrams(df, n=0)


# ---------------------------------------------------------------- BLEU


def test_bleu_hand_values(spark):
    import math

    from feature_engineering_tk_spark.functions.text import bleu_score

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "the cat sat on the mat"),
            (2, "the the the the", "the cat"),
            (3, "", "a b c"),
            (4, "a b c d", "w x y z"),
        ],
        "id int, pred string, ref string",
    )
    out = {r.id: r for r in bleu_score(df, max_n=4).collect()}
    # identical sentences: every precision 1, BP 1 → BLEU 1
    assert out[1].bleu == 1.0 and out[1].brevity_penalty == 1.0
    assert out[1].match_4 == 3 and out[1].total_4 == 3
    # degenerate repetition: clipping caps match_1 at ref count min(4,1)=1
    assert out[2].match_1 == 1 and out[2].total_1 == 4
    assert out[2].bleu == 0.0  # no bigram match → unsmoothed zero
    # empty prediction
    assert out[3].n_pred == 0 and out[3].bleu == 0.0 and out[3].brevity_penalty == 0.0
    # zero overlap
    assert out[4].match_1 == 0 and out[4].bleu == 0.0


def test_bleu_brevity_penalty_and_partial_overlap(spark):
    import math

    from feature_engineering_tk_spark.functions.text import bleu_score

    df = spark.createDataFrame(
        [(1, "a b c", "a b c d e f")], "id int, pred string, ref string"
    )
    r = bleu_score(df, max_n=2).collect()[0]
    # p1 = 3/3, p2 = 2/2, BP = exp(1 - 6/3)
    assert (r.match_1, r.total_1, r.match_2, r.total_2) == (3, 3, 2, 2)
    assert r.brevity_penalty == round(math.exp(1 - 6 / 3), 9)
    assert r.bleu == round(math.exp(1 - 6 / 3) * 1.0, 9)


def test_bleu_invalid_n(spark):
    from feature_engineering_tk_spark.functions.text import bleu_score

    with pytest.raises(ValueError):
        bleu_score(spark.createDataFrame([("a", "a")], "pred string, ref string"), max_n=0)


# ---------------------------------------------------------------- novelty


def test_ngram_novelty_hand_values(spark):
    from feature_engineering_tk_spark.functions.text import ngram_novelty

    gen = spark.createDataFrame(
        [(1, "a b c"), (2, "x y"), (3, "q")],
        "doc_id int, text string",
    )
    corpus = spark.createDataFrame([("a b e",), ("z z",)], "text string")
    out = {r.doc_id: r for r in ngram_novelty(gen, corpus, n=2).collect()}
    # doc 1: grams (a b) seen, (b c) novel → 1/2
    assert out[1].novel_grams == 1 and out[1].total_grams == 2
    assert out[1].novelty == 0.5
    # doc 2: (x y) never in corpus → fully novel
    assert out[2].novelty == 1.0
    # doc 3: shorter than n → 0 grams, NULL novelty (row preserved)
    assert out[3].total_grams == 0 and out[3].novelty is None


def test_ngram_novelty_duplicate_grams_count_multiset(spark):
    from feature_engineering_tk_spark.functions.text import ngram_novelty

    gen = spark.createDataFrame([(1, "a b a b a b")], "doc_id int, text string")
    corpus = spark.createDataFrame([("b a",)], "text string")
    r = ngram_novelty(gen, corpus, n=2).collect()[0]
    # grams: (a b)x3 novel, (b a)x2 seen → 3/5
    assert (r.novel_grams, r.total_grams) == (3, 5)
    assert r.novelty == 3 / 5


# ---------------------------------------------------------------- pass@k


def test_pass_at_k_hand_values(spark):
    from feature_engineering_tk_spark.operators.evals import pass_at_k

    rows = [("p1", c) for c in [1, 0, 0, 0]] + [("p2", 0), ("p2", 0)] + [("p3", 1)]
    df = spark.createDataFrame(rows, "problem_id string, correct int")
    out = {r.problem_id: r for r in pass_at_k(df, k=2).collect()}
    # p1: n=4 c=1 → 1 - (3/4)(2/3) = 0.5 ; p2: n=2 c=0 → 0
    assert out["p1"].pass_at_k == 0.5
    assert out["p2"].pass_at_k == 0.0
    assert "p3" not in out  # n=1 < k dropped


def test_pass_at_k_all_correct_and_k1(spark):
    from feature_engineering_tk_spark.operators.evals import pass_at_k

    df = spark.createDataFrame(
        [("p", True), ("p", True), ("q", False), ("q", True)],
        "problem_id string, correct boolean",
    )
    out = {r.problem_id: r for r in pass_at_k(df, k=1).collect()}
    assert out["p"].pass_at_k == 1.0  # n-c < k branch
    assert out["q"].pass_at_k == 0.5  # 1 - (1/2)
    import pytest as _pt

    with _pt.raises(ValueError):
        pass_at_k(df, k=0)


# ---------------------------------------------------------------- majority


def test_majority_vote_modal_and_ties(spark):
    from feature_engineering_tk_spark.operators.evals import majority_vote

    rows = [
        ("p1", "a", "a"), ("p1", "a", "a"), ("p1", "b", "a"),
        ("p2", "x", "y"), ("p2", "y", "y"),  # tie → lexically smallest 'x'
    ]
    df = spark.createDataFrame(rows, "problem_id string, answer string, reference string")
    out = {r.problem_id: r for r in majority_vote(df).collect()}
    assert out["p1"].modal_answer == "a" and out["p1"].modal_count == 2
    assert out["p1"].vote_share == 2 / 3 and out["p1"].is_correct == 1
    assert out["p2"].modal_answer == "x" and out["p2"].is_correct == 0


# ------------------------------------------------------- decontamination


def test_embedding_decontaminate_flags_planted_dup(spark):
    from feature_engineering_tk_spark.functions.similarity import (
        embedding_decontaminate,
    )

    train = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.6, 0.8, 0.0])],
        "vec_id int, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [(100, [2.0, 0.0, 0.0]), (101, [0.0, 0.0, 5.0])],
        "vec_id int, embedding array<float>",
    )
    out = {r.vec_id: r for r in embedding_decontaminate(train, bench, threshold=0.9).collect()}
    # vec 1 is colinear with bench 100 → sim 1.0, contaminated
    assert out[1].max_bench_sim == 1.0 and out[1].contaminated == 1
    assert out[1].matched_bench_id == 100
    assert out[2].max_bench_sim == 0.0 and out[2].contaminated == 0
    assert out[3].max_bench_sim == 0.6 and out[3].contaminated == 0


def test_embedding_decontaminate_tie_breaks_to_largest_bench_id(spark):
    from feature_engineering_tk_spark.functions.similarity import (
        embedding_decontaminate,
    )

    train = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id int, embedding array<float>")
    bench = spark.createDataFrame(
        [(7, [3.0, 0.0]), (9, [5.0, 0.0])], "vec_id int, embedding array<float>"
    )
    row = embedding_decontaminate(train, bench).collect()[0]
    assert row.matched_bench_id == 9  # both sim 1.0 → largest bid


# ---------------------------------------------------------------- best-of-n


def test_best_of_n_hand_values(spark):
    from feature_engineering_tk_spark.operators.evals import best_of_n

    df = spark.createDataFrame(
        [
            ("p1", "s1", 1.0),
            ("p1", "s2", 3.0),
            ("p1", "s3", 3.0),
            ("p1", "s4", None),
            ("p2", "s9", -1.0),
        ],
        "problem_id string, sample_id string, reward double",
    )
    rows = {r.problem_id: r for r in best_of_n(df).collect()}
    p1 = rows["p1"]
    assert p1.n_samples == 3  # NULL reward dropped
    assert p1.best_sample == "s3"  # tie on 3.0 → greatest sample id
    assert p1.best_reward == 3.0
    assert p1.mean_reward == 7.0 / 3.0
    assert p1.reward_range == 2.0
    p2 = rows["p2"]
    assert (p2.n_samples, p2.best_sample, p2.reward_range) == (1, "s9", 0.0)


def test_refusal_rate_case_folded_counts(spark):
    from feature_engineering_tk_spark.operators.evals import refusal_rate

    df = spark.createDataFrame(
        [
            ("m1", "I CANNOT comply with that"),
            ("m1", "sure thing"),
            ("m1", None),
            ("m2", "As an AI, I must decline"),
        ],
        "model string, text string",
    )
    rows = {r.model: r for r in refusal_rate(df).collect()}
    assert rows["m1"].n_replies == 3 and rows["m1"].n_refusals == 1
    assert rows["m1"].refusal_rate == 1 / 3
    assert rows["m2"].n_refusals == 1 and rows["m2"].refusal_rate == 1.0


def test_refusal_rate_rejects_empty_phrases(spark):
    from feature_engineering_tk_spark.operators.evals import refusal_rate

    df = spark.createDataFrame([("m", "x")], "model string, text string")
    with pytest.raises(ValueError):
        refusal_rate(df, phrases=())


def test_calibration_bins_hand_values(spark):
    from feature_engineering_tk_spark.operators.evals import (
        calibration_bins,
        expected_calibration_error,
    )

    df = spark.createDataFrame(
        [
            (0.05, 0), (0.05, 1),          # bin 0: mean .05, frac_pos .5
            (0.95, 1), (0.95, 1),          # bin 9
            (1.0, 1),                      # score 1.0 clamps into bin 9
            (None, 1), (0.5, None),        # dropped
        ],
        "score double, label int",
    )
    rows = {r.bin: r for r in calibration_bins(df, n_bins=10).collect()}
    assert set(rows) == {0, 9}
    assert rows[0].n == 2 and rows[0].frac_pos == 0.5 and rows[0].mean_score == 0.05
    assert rows[9].n == 3 and rows[9].frac_pos == 1.0
    ece = expected_calibration_error([r.asDict() for r in rows.values()])
    # bin0: (2/5)·|.5-.05| + bin9: (3/5)·|1-(.95+.95+1)/3|
    assert abs(ece - ((2 / 5) * 0.45 + (3 / 5) * abs(1 - 2.9 / 3))) < 1e-12


def test_calibration_bins_rejects_bad_bins(spark):
    from feature_engineering_tk_spark.operators.evals import calibration_bins

    df = spark.createDataFrame([(0.5, 1)], "score double, label int")
    with pytest.raises(ValueError):
        calibration_bins(df, n_bins=0)


def test_position_bias_shares(spark):
    from feature_engineering_tk_spark.operators.evals import position_bias

    df = spark.createDataFrame(
        [("x", "y", "x"), ("x", "y", "x"), ("x", "y", "y"), ("x", "y", "draw")],
        "model_a string, model_b string, winner string",
    )
    r = position_bias(df).first()
    assert (r.n_battles, r.n_a_wins, r.n_b_wins, r.n_draws) == (4, 2, 1, 1)
    assert r.a_win_share == 0.5 and r.b_win_share == 0.25 and r.draw_share == 0.25
    assert r.position_gap == 0.25


def test_length_bias_sign_test(spark):
    from feature_engineering_tk_spark.operators.evals import length_bias

    df = spark.createDataFrame(
        [
            ("one two three", "one"),        # chosen longer
            ("one two", "one"),              # chosen longer
            ("one", "one two"),              # rejected longer
            ("same same", "also two"),       # tie
            (None, "x"),                     # null chosen = 0 tokens
        ],
        "chosen_text string, rejected_text string",
    )
    r = length_bias(df).first()
    assert (r.n_pairs, r.n_chosen_longer, r.n_rejected_longer, r.n_equal) == (5, 2, 2, 1)
    assert r.longer_share == 0.5
    # deltas: +2, +1, -1, 0, -1 → mean 1/5
    assert r.mean_token_delta == 1 / 5
    assert r.sign_z == 0.0


def test_preference_pairs_argmax_margin_and_guards(spark):
    from feature_engineering_tk_spark.operators.evals import preference_pairs

    df = spark.createDataFrame(
        [
            ("p1", "r1", 0.9), ("p1", "r2", 0.2), ("p1", "r3", 0.9),
            ("p2", "r1", 0.5), ("p2", "r2", 0.5),          # tie: no signal
            ("p3", "r1", 0.4),                             # single response
            ("p4", "r1", None), ("p4", "r2", 0.8), ("p4", "r3", 0.1),
        ],
        "prompt_id string, response_id string, score double",
    )
    rows = {r.prompt_id: r for r in preference_pairs(df).collect()}
    assert set(rows) == {"p1", "p4"}  # tie and singleton dropped
    p1 = rows["p1"]
    # score tie on the chosen side breaks toward the GREATEST response id
    assert (p1.chosen, p1.rejected) == ("r3", "r2")
    assert p1.chosen_score == 0.9 and p1.rejected_score == 0.2
    assert p1.margin == pytest.approx(0.7)
    assert p1.n_responses == 3
    p4 = rows["p4"]  # null scores excluded from count and extrema
    assert (p4.chosen, p4.rejected, p4.n_responses) == ("r2", "r3", 2)
    # min_margin drops near-ties
    assert preference_pairs(df, min_margin=0.65).count() == 2
    assert preference_pairs(df, min_margin=0.75).count() == 0
    with pytest.raises(ValueError):
        preference_pairs(df, min_margin=-1)


def test_preference_pairs_single_exchange(spark):
    from feature_engineering_tk_spark.operators.evals import preference_pairs
    from feature_engineering_tk_spark.plans.inspect import inspect

    df = spark.createDataFrame(
        [("p", "r1", 0.1), ("p", "r2", 0.9)],
        "prompt_id string, response_id string, score double",
    )
    plan = inspect(preference_pairs(df))
    assert len(plan.shuffles) + plan.broadcasts <= 1, plan  # one groupBy shuffle, no window/join


class TestProportionCI:
    def test_wilson_bounds(self, spark):
        import math

        from feature_engineering_tk_spark.operators.evals import proportion_ci

        df = spark.createDataFrame(
            [(8, 10), (0, 5), (5, 5), (1, 1000)], "wins int, games int"
        )
        got = {
            (r["wins"], r["games"]): (r["ci_lower"], r["ci_upper"])
            for r in proportion_ci(df, "wins", "games").collect()
        }

        def wilson(x, n, z=1.959963984540054):
            ph, z2 = x / n, z * z
            den = 1 + z2 / n
            c = (ph + z2 / (2 * n)) / den
            h = z * math.sqrt(ph * (1 - ph) / n + z2 / (4 * n * n)) / den
            return max(c - h, 0.0), min(c + h, 1.0)

        for (x, n), (lo, hi) in got.items():
            rl, rh = wilson(x, n)
            assert lo == pytest.approx(rl, abs=1e-8)
            assert hi == pytest.approx(rh, abs=1e-8)
            assert 0.0 <= lo <= x / n <= hi <= 1.0  # brackets p̂, stays in [0,1]
        # degenerate p̂ ∈ {0, 1} never collapses to a point (the Wald failure)
        assert got[(0, 5)][1] > 0.0 and got[(5, 5)][0] < 1.0

    def test_zero_and_null_trials(self, spark):
        from feature_engineering_tk_spark.operators.evals import proportion_ci

        df = spark.createDataFrame([(0, 0), (None, None)], "wins int, games int")
        for r in proportion_ci(df, "wins", "games").collect():
            assert r["ci_lower"] is None and r["ci_upper"] is None

    def test_missing_column(self, spark):
        from feature_engineering_tk_spark.operators.evals import proportion_ci
        from feature_engineering_tk_spark.exceptions import ColumnNotFoundError

        df = spark.createDataFrame([(1, 2)], "wins int, games int")
        with pytest.raises(ColumnNotFoundError):
            proportion_ci(df, "wins", "nope")


class TestMcNemar:
    def test_classic_example(self, spark):
        from feature_engineering_tk_spark.operators.evals import mcnemar_test

        rows = (
            [(i, True, True) for i in range(20)]
            + [(100 + i, True, False) for i in range(10)]
            + [(200 + i, False, True) for i in range(2)]
            + [(300 + i, False, False) for i in range(5)]
            + [(400, None, True)]  # unscored item excluded
        )
        df = spark.createDataFrame(
            rows, "item_id int, a_correct boolean, b_correct boolean"
        )
        r = mcnemar_test(df).first()
        assert r["n_items"] == 37
        assert (r["n_only_a"], r["n_only_b"]) == (10, 2)
        # (|10-2|-1)^2 / 12
        assert r["statistic"] == pytest.approx(49 / 12, abs=1e-9)
        assert r["significant_95"] is True
        r2 = mcnemar_test(df, continuity=False).first()
        assert r2["statistic"] == pytest.approx(64 / 12, abs=1e-9)

    def test_no_discordance_is_null(self, spark):
        from feature_engineering_tk_spark.operators.evals import mcnemar_test

        df = spark.createDataFrame(
            [(1, True, True), (2, False, False)],
            "item_id int, a_correct boolean, b_correct boolean",
        )
        r = mcnemar_test(df).first()
        assert r["statistic"] is None and r["significant_95"] is None

    def test_continuity_clamp_at_zero(self, spark):
        from feature_engineering_tk_spark.operators.evals import mcnemar_test

        # b == c: |b-c|-1 would be negative; clamped to 0, never NaN
        df = spark.createDataFrame(
            [(1, True, False), (2, False, True)],
            "item_id int, a_correct boolean, b_correct boolean",
        )
        r = mcnemar_test(df).first()
        assert r["statistic"] == 0.0 and r["significant_95"] is False
