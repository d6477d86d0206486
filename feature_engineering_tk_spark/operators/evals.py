"""Pairwise model-evaluation analytics (arena-style comparisons).

LLM eval pipelines produce battle tables ``(prompt_id, model_a,
model_b, winner)`` — two models answer the same prompt, a judge picks
a winner.  This module turns battles into model-level signals:

- ``model_winrates`` — per-model games/wins/winrate plus a per
  ordered-pair head-to-head table; pure partial-aggregatable
  ``groupBy`` over a two-way unpivot (each battle contributes one row
  per side), so battles shuffle once as 3-column rows.
- ``bradley_terry`` — latent strength scores π_i under the
  Bradley-Terry model via the classic MM fixed-point
  ``π_i ← W_i / Σ_j n_ij/(π_i+π_j)`` (Hunter 2004, "MM algorithms
  for generalized Bradley-Terry models"), the order-free batch
  version of arena Elo.  Following this engine's iterative-graph
  convention (operators/graph.py pagerank), the iteration runs in
  EXACT fixed-point integers (parts-per-10^precision, ``div``
  floor-division) so results are bit-identical on any engine under
  any summation/partitioning order, replayable in DuckDB as chained
  CTEs.  Ratings are floored at 1 fixed-point part so zero-win models
  stay finite on weakly-connected comparison graphs (documented
  convention; the MM estimate is otherwise degenerate there).

Scale shape: the directed pair-count table ``(i, j, n_ij)`` is
models²-bounded and shuffles once at build; each iteration is one
broadcast join of the model-count-sized ratings table onto the pairs
plus one map-side-combined ``groupBy(i)`` — no row-data shuffle ever
recurs.  ``localCheckpoint`` every ``checkpoint_every`` iterations
bounds Catalyst re-analysis depth exactly as in pagerank.

Overflow audit (int64): terms are ``n_ij·scale²`` with the default
``scale = 10^6`` — safe to ~9×10^6 battles per pair; raise
``precision`` only with a correspondingly lower battle bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feature_engineering_tk_spark.exceptions import InsufficientDataError


def _sides(df: DataFrame, model_a: str, model_b: str, winner: str) -> DataFrame:
    """Two-way unpivot: one (model, opponent, win) row per battle side."""
    a = df.select(
        F.col(model_a).alias("model"),
        F.col(model_b).alias("opponent"),
        (F.col(winner) == F.col(model_a)).cast("bigint").alias("win"),
    )
    b = df.select(
        F.col(model_b).alias("model"),
        F.col(model_a).alias("opponent"),
        (F.col(winner) == F.col(model_b)).cast("bigint").alias("win"),
    )
    return a.unionByName(b)


def model_winrates(
    df: DataFrame,
    model_a: str = "model_a",
    model_b: str = "model_b",
    winner: str = "winner",
) -> DataFrame:
    """Per-model battle record: ``(model, n_games, n_wins, winrate)``.

    Draws (winner equals neither side) count as games without wins.
    ``winrate`` is the single exact division n_wins/n_games.
    """
    return (
        _sides(df, model_a, model_b, winner)
        .groupBy("model")
        .agg(F.count(F.lit(1)).alias("n_games"), F.sum("win").alias("n_wins"))
        .select(
            "model",
            "n_games",
            "n_wins",
            (F.col("n_wins") / F.col("n_games")).alias("winrate"),
        )
    )


def head_to_head(
    df: DataFrame,
    model_a: str = "model_a",
    model_b: str = "model_b",
    winner: str = "winner",
) -> DataFrame:
    """Ordered-pair head-to-head: ``(model, opponent, n_games, n_wins,
    winrate)`` — each battle appears under both orientations."""
    return (
        _sides(df, model_a, model_b, winner)
        .groupBy("model", "opponent")
        .agg(F.count(F.lit(1)).alias("n_games"), F.sum("win").alias("n_wins"))
        .select(
            "model",
            "opponent",
            "n_games",
            "n_wins",
            (F.col("n_wins") / F.col("n_games")).alias("winrate"),
        )
    )


def _mm_step(pairs: DataFrame, record: DataFrame, ratings: DataFrame, scale: int) -> DataFrame:
    """One exact-integer Hunter-MM update: ratings broadcast onto the
    pairs table twice, one map-side-combined ``groupBy(model)``, scalar
    total broadcast back."""
    ri = F.broadcast(ratings.withColumnRenamed("model", "_mi").withColumnRenamed("p", "_pi"))
    rj = F.broadcast(ratings.withColumnRenamed("model", "_mj").withColumnRenamed("p", "_pj"))
    denom = (
        pairs.join(ri, pairs["model"] == ri["_mi"])
        .join(rj, pairs["opponent"] == rj["_mj"])
        .select(
            "model",
            F.expr(f"(_nij * cast({scale * scale} as bigint)) div (_pi + _pj)").alias("_t"),
        )
        .groupBy("model")
        .agg(F.sum("_t").alias("_d"))
    )
    raw = record.join(denom, "model").select(
        "model",
        F.expr(f"(n_wins * cast({scale * scale} as bigint)) div _d").alias("_pr"),
    )
    total = raw.agg(F.sum("_pr").alias("_tot"))
    return raw.crossJoin(F.broadcast(total)).select(
        "model",
        F.greatest(F.expr(f"(_pr * cast({scale} as bigint)) div _tot"), F.lit(1))
        .cast("bigint")
        .alias("p"),
    )


def bradley_terry(
    df: DataFrame,
    model_a: str = "model_a",
    model_b: str = "model_b",
    winner: str = "winner",
    n_iter: int = 8,
    precision: int = 6,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Bradley-Terry strength scores from a battle table.

    Returns ``(model, rating_fp, rating, n_wins, n_games)`` with
    ``rating_fp`` the exact fixed-point integer (parts-per-
    10^precision, ratings normalized to sum ≈ 1 each iteration) and
    ``rating = rating_fp / 10^precision``.  Draws contribute games
    but no wins, exactly as in ``model_winrates``.

    MM update in integers (scale S = 10^precision):

    - ``t_ij = (n_ij · S²) div (p_i + p_j)`` summed over directed
      opponents → ``D_i`` (≈ S² · Σ n_ij/(π_i+π_j) / S)
    - ``p'_i = (W_i · S²) div D_i``; normalize ``p''_i =
      max((p'_i · S) div T, 1)`` with ``T = Σ p'``.
    """
    sides = _sides(df, model_a, model_b, winner).persist()
    record = pairs = None
    try:
        record = (
            sides.groupBy("model")
            .agg(F.count(F.lit(1)).alias("n_games"), F.sum("win").alias("n_wins"))
            .persist()
        )
        k = record.count()
        if k < 2:
            raise InsufficientDataError("bradley_terry", 2, k)
        pairs = (
            sides.groupBy("model", "opponent")
            .agg(F.count(F.lit(1)).alias("_nij"))
            .persist()
        )
        pairs.count()
    except BaseException:
        # the k<2 raise (or a failed count) must not strand the caches:
        # repeated probing calls in a long-lived session would otherwise
        # accumulate resident blocks the success path always releases
        if record is not None:
            record.unpersist()
        if pairs is not None:
            pairs.unpersist()
        raise
    finally:
        sides.unpersist()

    scale = 10**precision
    ratings = record.select("model", F.lit(scale // k).cast("bigint").alias("p"))
    try:
        for it in range(n_iter):
            ratings = _mm_step(pairs, record, ratings, scale)
            if (it + 1) % checkpoint_every == 0:
                ratings = ratings.localCheckpoint(eager=False)
        out = ratings.join(record, "model").select(
            "model",
            F.col("p").alias("rating_fp"),
            (F.col("p") / F.lit(float(scale))).alias("rating"),
            "n_wins",
            "n_games",
        )
        # materialization happens downstream; pinned inputs release here
        out = out.localCheckpoint(eager=True)
    finally:
        record.unpersist()
        pairs.unpersist()
    return out


def pass_at_k(
    df: DataFrame,
    problem: str = "problem_id",
    correct: str = "correct",
    k: int = 1,
) -> DataFrame:
    """Unbiased pass@k estimator (Chen et al. 2021, "Evaluating Large
    Language Models Trained on Code", eq. 1): per problem with n
    samples and c correct, ``pass@k = 1 − C(n−c,k)/C(n,k)`` computed
    as the telescoped product ``Π_{i<k} (n−c−i)/(n−i)`` — a FIXED-
    LENGTH sequential fold over exact integer terms, so the float
    result is bit-identical on any engine (the combinatorial form
    would overflow int64 at realistic n).  Problems with fewer than k
    samples are dropped (the estimator is undefined there).

    Returns ``(problem, n_samples, n_correct, pass_at_k)``.

    Scale shape: ONE partial-aggregatable ``groupBy(problem)``; the
    fold is a row-local expression over a k-length literal sequence.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    agg = df.groupBy(problem).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(F.col(correct).cast("bigint")).alias("n_correct"),
    )
    n, c = F.col("n_samples"), F.col("n_correct")
    ratio = F.when(n - c < k, F.lit(0.0)).otherwise(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(k - 1)),
            F.lit(1.0),
            lambda acc, i: acc * ((n - c - i) / (n - i)),
        )
    )
    return agg.where(n >= k).select(
        problem, "n_samples", "n_correct", (F.lit(1.0) - ratio).alias("pass_at_k")
    )


def majority_vote(
    df: DataFrame,
    problem: str = "problem_id",
    answer: str = "answer",
    reference: str = "reference",
) -> DataFrame:
    """Self-consistency scoring (Wang et al. 2023): per problem, the
    modal answer across samples (ties broken toward the LEXICALLY
    SMALLEST answer — deterministic), its vote share, and whether it
    matches the per-problem reference.

    Returns ``(problem, n_samples, modal_answer, modal_count,
    vote_share, is_correct)``; ``vote_share`` is one exact integer
    division.

    Scale shape: ``groupBy(problem, answer)`` counts then
    ``groupBy(problem)`` argmax as a struct min — both partial-
    aggregatable; answers shuffle once.
    """
    counts = df.groupBy(problem, answer).agg(
        F.count(F.lit(1)).alias("_c"), F.min(reference).alias("_ref")
    )
    top = counts.groupBy(problem).agg(
        F.sum("_c").alias("n_samples"),
        # min on (-count, answer): highest count, then smallest answer
        F.min(F.struct((-F.col("_c")).alias("nc"), F.col(answer).alias("a"))).alias("_m"),
        F.min("_ref").alias("_r"),
    )
    return top.select(
        problem,
        "n_samples",
        F.col("_m.a").alias("modal_answer"),
        (-F.col("_m.nc")).alias("modal_count"),
        ((-F.col("_m.nc")) / F.col("n_samples")).alias("vote_share"),
        (F.col("_m.a") == F.col("_r")).cast("int").alias("is_correct"),
    )


def best_of_n(
    df: DataFrame,
    problem: str = "problem_id",
    sample: str = "sample_id",
    reward: str = "reward",
) -> DataFrame:
    """Rejection-sampling / best-of-n selection (the batch form of
    BoN inference and the data-construction step of RFT, Yuan et al.
    2023 "Scaling Relationship on Learning Mathematical Reasoning"):
    per problem, the sample with the HIGHEST reward wins; reward ties
    break toward the GREATEST sample id (struct-max — deterministic
    under any partitioning).

    Returns ``(problem, n_samples, best_sample, best_reward,
    mean_reward, reward_range)``; ``mean_reward`` is one exact
    division of a sum by a count.

    Scale shape: ONE partial-aggregatable ``groupBy(problem)`` — the
    argmax is a struct max, never a window or a self-join; samples
    shuffle once as 3-column rows.  NULL rewards are dropped (they
    carry no preference signal).

    Reference parity: the reference toolkit's ``create_aggregations``
    idxmax-style group argmax (feature_engineering_tk
    ``feature_tools.py``) — here the tie rule is pinned instead of
    pandas' first-occurrence order, which has no distributed meaning.
    """
    live = df.where(F.col(reward).isNotNull())
    agg = live.groupBy(problem).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.max(F.struct(F.col(reward).alias("r"), F.col(sample).alias("s"))).alias("_m"),
        F.sum(reward).alias("_sum"),
        F.min(reward).alias("_lo"),
        F.max(reward).alias("_hi"),
    )
    return agg.select(
        problem,
        "n_samples",
        F.col("_m.s").alias("best_sample"),
        F.col("_m.r").alias("best_reward"),
        (F.col("_sum") / F.col("n_samples")).alias("mean_reward"),
        (F.col("_hi") - F.col("_lo")).alias("reward_range"),
    )


def preference_pairs(
    df: DataFrame,
    prompt: str = "prompt_id",
    response: str = "response_id",
    score: str = "score",
    min_margin: float = 0.0,
) -> DataFrame:
    """DPO / RLHF preference-pair construction: per prompt, CHOSEN =
    the highest-scored response, REJECTED = the lowest-scored, with
    the pair kept only when the score margin is strictly above
    ``min_margin`` (equal-score prompts carry no preference signal;
    a positive margin additionally drops near-ties, the standard
    noise filter when scores come from a reward model).

    Ties break toward the GREATEST response id on the chosen side and
    the SMALLEST on the rejected side (struct-max/-min — deterministic
    under any partitioning, the best_of_n convention).

    Returns ``(prompt, chosen, chosen_score, rejected,
    rejected_score, margin, n_responses)``.

    Scale shape: ONE partial-aggregatable ``groupBy(prompt)`` — both
    argmaxes are struct extrema, never a window or self-join; the
    response table shuffles once as 3-column rows.  NULL scores are
    dropped.  Join the returned ids back to the text table by key to
    materialize the training pairs (ids, not text, move through the
    shuffle).
    """
    if min_margin < 0:
        raise ValueError("min_margin must be >= 0")
    live = df.where(F.col(score).isNotNull())
    agg = live.groupBy(prompt).agg(
        F.count(F.lit(1)).alias("n_responses"),
        F.max(
            F.struct(F.col(score).alias("r"), F.col(response).alias("s"))
        ).alias("_hi"),
        F.min(
            F.struct(F.col(score).alias("r"), F.col(response).alias("s"))
        ).alias("_lo"),
    )
    out = agg.select(
        prompt,
        F.col("_hi.s").alias("chosen"),
        F.col("_hi.r").alias("chosen_score"),
        F.col("_lo.s").alias("rejected"),
        F.col("_lo.r").alias("rejected_score"),
        (F.col("_hi.r") - F.col("_lo.r")).alias("margin"),
        "n_responses",
    )
    return out.where(
        (F.col("n_responses") >= 2) & (F.col("margin") > F.lit(float(min_margin)))
    )


#: Case-folded substrings that mark a refusal/deflection reply.  The
#: standard public heuristic set (the "as an AI language model" family
#: used by e.g. the OpenAssistant and LMSYS cleaning scripts).
REFUSAL_PHRASES: tuple[str, ...] = (
    "i cannot",
    "i can't",
    "i am unable",
    "i'm unable",
    "as an ai",
    "i'm sorry, but",
    "i am sorry, but",
    "i won't",
)


def refusal_rate(
    df: DataFrame,
    text: str = "text",
    by: str = "model",
    phrases: tuple[str, ...] = REFUSAL_PHRASES,
) -> DataFrame:
    """Per-group refusal-rate gauge: share of replies whose text
    contains any of ``phrases`` (case-folded substring match — the
    row-local flag is ``functions/cleaning.py phrase_scan``, reused
    verbatim).  Returns ``(by, n_replies, n_refusals, refusal_rate)``
    with the rate one exact integer division.

    Scale shape: the flag is a row-local expression; ONE partial-
    aggregatable ``groupBy`` — text never shuffles.
    """
    from feature_engineering_tk_spark.functions.cleaning import phrase_scan

    scanned = phrase_scan(df, text_col=text, phrases=phrases, out_prefix="_refusal")
    return (
        scanned.groupBy(by)
        .agg(
            F.count(F.lit(1)).alias("n_replies"),
            F.sum(F.col("has__refusal").cast("bigint")).alias("n_refusals"),
        )
        .select(
            by,
            "n_replies",
            "n_refusals",
            (F.col("n_refusals") / F.col("n_replies")).alias("refusal_rate"),
        )
    )


def calibration_bins(
    df: DataFrame,
    score: str = "score",
    label: str = "label",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram table for a probabilistic classifier /
    reward model / quality filter: scores in [0, 1] bucketed into
    ``n_bins`` equal-width bins; per bin the sample count, the mean
    predicted score, and the observed positive rate.  The standard
    calibration audit before a model's scores gate corpus filtering.

    Returns ``(bin, n, mean_score, frac_pos)``; ``frac_pos`` is one
    exact integer division; ``mean_score`` is a float sum divided once
    (round it at the comparison boundary as usual).  Scores exactly
    1.0 land in the top bin (the half-open-bins convention).

    Scale shape: the bin id is a row-local expression; ONE
    partial-aggregatable ``groupBy(bin)`` over an (n_bins)-bounded
    result.  NULL scores/labels are dropped.
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    s = F.col(score).cast("double")
    live = df.where(s.isNotNull() & F.col(label).isNotNull())
    b = F.least(F.floor(s * n_bins), F.lit(n_bins - 1)).cast("int")
    return (
        live.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(s).alias("_ss"),
            F.sum(F.col(label).cast("bigint")).alias("_pos"),
        )
        .select(
            "bin",
            "n",
            (F.col("_ss") / F.col("n")).alias("mean_score"),
            (F.col("_pos") / F.col("n")).alias("frac_pos"),
        )
    )


def expected_calibration_error(bins: list) -> float:
    """ECE from a COLLECTED ``calibration_bins`` result (≤ n_bins rows
    — driver math on an aggregate-sized table, the kmeans/PCA
    convention): Σ (n_b / N) · |frac_pos_b − mean_score_b|, summed in
    bin order for determinism."""
    rows = sorted(bins, key=lambda r: r["bin"])
    total = sum(r["n"] for r in rows)
    if total == 0:
        raise InsufficientDataError("expected_calibration_error", required=1, actual=0)
    return sum(
        (r["n"] / total) * abs(r["frac_pos"] - r["mean_score"]) for r in rows
    )


def position_bias(
    df: DataFrame,
    model_a: str = "model_a",
    model_b: str = "model_b",
    winner: str = "winner",
) -> DataFrame:
    """Judge position-bias audit — the first sanity check on any
    pairwise-judged eval set: how often the FIRST-position (A-side)
    answer wins vs the second, with draws broken out.  A calibrated
    judge sits near 0.5/0.5 on position-swapped data; a strong
    first-position share means the battles need swap-averaging before
    any rating model (Bradley-Terry, winrates) is trusted.

    Returns ONE row ``(n_battles, n_a_wins, n_b_wins, n_draws,
    a_win_share, b_win_share, draw_share, position_gap)`` — every
    share an exact integer division, ``position_gap =
    a_win_share − b_win_share``.

    Scale shape: one scalar aggregation, fully map-side; nothing
    shuffles but partials.
    """
    a_win = (F.col(winner) == F.col(model_a)).cast("bigint")
    b_win = (F.col(winner) == F.col(model_b)).cast("bigint")
    agg = df.agg(
        F.count(F.lit(1)).alias("n_battles"),
        F.sum(a_win).alias("n_a_wins"),
        F.sum(b_win).alias("n_b_wins"),
    )
    n = F.col("n_battles")
    return agg.select(
        "n_battles",
        "n_a_wins",
        "n_b_wins",
        (n - F.col("n_a_wins") - F.col("n_b_wins")).alias("n_draws"),
        (F.col("n_a_wins") / n).alias("a_win_share"),
        (F.col("n_b_wins") / n).alias("b_win_share"),
        ((n - F.col("n_a_wins") - F.col("n_b_wins")) / n).alias("draw_share"),
        (F.col("n_a_wins") / n - F.col("n_b_wins") / n).alias("position_gap"),
    )


def length_bias(
    df: DataFrame,
    chosen_text: str = "chosen_text",
    rejected_text: str = "rejected_text",
) -> DataFrame:
    """Verbosity-bias audit for preference data (the classic RLHF
    artifact: judges and reward models over-prefer longer answers):
    per corpus, how often the CHOSEN answer is the longer one, the
    mean token-length delta, and a sign-test z against the fair coin.

    Returns ONE row ``(n_pairs, n_chosen_longer, n_rejected_longer,
    n_equal, longer_share, mean_token_delta, sign_z)`` where
    ``longer_share = n_chosen_longer / (n_chosen_longer +
    n_rejected_longer)`` (ties excluded, the sign-test convention) and
    ``sign_z = (2·n_chosen_longer − m) / sqrt(m)`` over the m untied
    pairs.  Token counts are whitespace tokens; every float is a
    fixed-order expression over integer sums.

    Scale shape: row-local length algebra, one scalar aggregation —
    text never shuffles.
    """

    def toks(c: str) -> Column:
        t = F.trim(F.coalesce(F.col(c), F.lit("")))
        return F.when(t == "", F.lit(0)).otherwise(
            F.size(F.split(t, r"\s+"))
        ).cast("bigint")

    d = toks(chosen_text) - toks(rejected_text)
    agg = df.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((d > 0).cast("bigint")).alias("n_chosen_longer"),
        F.sum((d < 0).cast("bigint")).alias("n_rejected_longer"),
        F.sum(d).alias("_dsum"),
    )
    m = F.col("n_chosen_longer") + F.col("n_rejected_longer")
    return agg.select(
        "n_pairs",
        "n_chosen_longer",
        "n_rejected_longer",
        (F.col("n_pairs") - m).alias("n_equal"),
        F.when(m > 0, F.col("n_chosen_longer") / m).alias("longer_share"),
        (F.col("_dsum") / F.col("n_pairs")).alias("mean_token_delta"),
        F.when(
            m > 0,
            (2 * F.col("n_chosen_longer") - m) / F.sqrt(m.cast("double")),
        ).alias("sign_z"),
    )


def proportion_ci(
    df: DataFrame,
    successes: str,
    trials: str,
    z: float = 1.959963984540054,
    prefix: str = "ci_",
    round_dp: int = 9,
) -> DataFrame:
    """Wilson score interval for any (successes, trials) count table —
    adds ``{prefix}lower`` / ``{prefix}upper`` columns.

    The error bar every arena/refusal/pass-rate table needs before a
    ship decision: composes directly with ``model_winrates``
    (n_wins/n_games), ``refusal_rate``, ``pass_at_k`` inputs, or any
    groupBy count pair.  Wilson (not Wald): the interval stays inside
    [0, 1], never collapses to a point at p̂ ∈ {0, 1}, and is accurate
    at the small per-slice counts a 10^12-row corpus still produces
    after slicing.  z defaults to the two-sided 95% normal quantile.

    Row-local closed-form double arithmetic (one sqrt — correctly
    rounded per IEEE 754, so cross-engine bit-stable); rows with
    trials = 0 or null get null bounds.  Zero shuffle, zero UDF;
    ``round_dp`` pins the boundary (the round-9 convention).
    """
    for c in (successes, trials):
        if c not in df.columns:
            from feature_engineering_tk_spark.exceptions import ColumnNotFoundError

            raise ColumnNotFoundError(c, df.columns)
    n = F.col(trials).cast("double")
    x = F.col(successes).cast("double")
    phat = x / n
    z2 = float(z) * float(z)
    denom = F.lit(1.0) + F.lit(z2) / n
    center = (phat + F.lit(z2) / (F.lit(2.0) * n)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(phat * (F.lit(1.0) - phat) / n + F.lit(z2) / (F.lit(4.0) * n * n))
        / denom
    )
    ok = F.col(trials).isNotNull() & (F.col(trials) > 0)
    lower = F.round(F.greatest(center - half, F.lit(0.0)), round_dp)
    upper = F.round(F.least(center + half, F.lit(1.0)), round_dp)
    return df.withColumn(
        prefix + "lower", F.when(ok, lower)
    ).withColumn(prefix + "upper", F.when(ok, upper))


def mcnemar_test(
    df: DataFrame,
    item_col: str = "item_id",
    a_correct: str = "a_correct",
    b_correct: str = "b_correct",
    continuity: bool = True,
    round_dp: int = 9,
) -> DataFrame:
    """McNemar's test on PAIRED per-item outcomes of two models — the
    right significance test for "is model B actually better than A on
    this eval?", because both models answered the SAME items and the
    information is entirely in the discordant pairs (marginal-rate
    z-tests throw away the pairing and overstate uncertainty).

    One row: (n_items, n_both_correct, n_only_a, n_only_b,
    n_both_wrong, statistic, significant_95) with
    ``statistic = (|b−c|−1)²/(b+c)`` (continuity-corrected; drop the
    −1 with ``continuity=False``) over the discordant counts
    b = only-A-correct, c = only-B-correct, compared to the χ²₁ 95%
    critical value 3.8414588… — the verdict needs no p-value
    machinery, so the whole test is exact-integer + one division and
    replays bit-for-bit in the oracle.  NULL statistic when b+c = 0
    (models never disagree — no evidence either way).

    ONE map-side-combined aggregation over boolean columns; rows with
    a NULL on either side are excluded (unscored items).
    """
    for c in (item_col, a_correct, b_correct):
        if c not in df.columns:
            from feature_engineering_tk_spark.exceptions import ColumnNotFoundError

            raise ColumnNotFoundError(c, df.columns)
    a = F.col(a_correct).cast("boolean")
    b = F.col(b_correct).cast("boolean")
    src = df.where(a.isNotNull() & b.isNotNull())
    cnt = lambda cond: F.sum(cond.cast("int")).alias  # noqa: E731
    agg = src.agg(
        F.count(F.lit(1)).alias("n_items"),
        cnt(a & b)("n_both_correct"),
        cnt(a & ~b)("n_only_a"),
        cnt(~a & b)("n_only_b"),
        cnt(~a & ~b)("n_both_wrong"),
    )
    disc = F.col("n_only_a") + F.col("n_only_b")
    diff = F.abs(F.col("n_only_a") - F.col("n_only_b")).cast("double")
    num = (diff - F.lit(1.0)) if continuity else diff
    # clamp at 0 so |b-c|=0 with continuity doesn't go negative
    num = F.greatest(num, F.lit(0.0))
    stat = F.round(num * num / disc.cast("double"), round_dp)
    crit = 3.841458820694124  # chi2(1) at 95%
    return agg.select(
        "n_items",
        "n_both_correct",
        "n_only_a",
        "n_only_b",
        "n_both_wrong",
        F.when(disc > 0, stat).alias("statistic"),
        F.when(disc > 0, stat > F.lit(crit)).alias("significant_95"),
    )
