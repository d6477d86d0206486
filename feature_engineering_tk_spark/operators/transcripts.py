"""Transcript-native operators over the canonical conversation table.

The engine's primary payload is a multi-turn conversation / agent
transcript table ``(conv_id, turn_idx, role, text, tool, ts)``
(`datagen.TRANSCRIPT_SCHEMA`).  The generic window machinery
(`operators/window_features.py`) gives lag/rolling/sessionize over any
entity; this module adds the operations that only make sense on the
transcript shape itself:

- ``validate_transcripts`` — per-conversation structural QA: role
  alternation, tool-call pairing, timestamp monotonicity.  SFT corpus
  builders run this as the first gate on raw transcript dumps.
- ``conversation_stats`` — one-shuffle per-conversation profile
  (turn/role counts, duration, mean gap, assistant share of text).
- ``response_latency`` — per assistant turn, seconds since the most
  recent prior user turn; the core serving-quality signal.
- ``loss_mask`` — per-turn training weight (assistant-only loss is
  the standard SFT recipe), a pure row-local projection.

Scale shape: every window below is ``partitionBy(conv_id)`` — never a
global window — and the per-conversation reductions are single
``groupBy(conv_id)`` aggregations over window-derived row flags, so
one conversation-key shuffle serves the whole family (conversations
are bounded; a 10^12-turn corpus shuffles conv-sized groups, and the
heavy-tailed hot conversations are exactly what AQE skew-split
handles).  All time arithmetic is integer epoch-microseconds
(`functions/timeutil.py`) — no float subtraction of epoch seconds.

Float outputs are derived from integer sums with a fixed division
order so results are bit-identical across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feature_engineering_tk_spark.functions.timeutil import epoch_micros

_CHAT_ROLES = ("user", "assistant")


def _conv_window(conv_id: str, turn_idx: str) -> Window:
    return Window.partitionBy(conv_id).orderBy(turn_idx)


def validate_transcripts(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    role: str = "role",
    ts: str = "ts",
    tool_role: str = "tool",
) -> DataFrame:
    """Per-conversation structural validation.

    Returns one row per conversation:

    - ``n_turns``
    - ``starts_with_user`` — first turn (min ``turn_idx``) has role
      ``user``.
    - ``alternation_violations`` — count of IMMEDIATELY consecutive
      same-role chat turns (``user``/``assistant``).  An assistant
      turn followed by a tool turn and then another assistant turn is
      the normal agent pattern and does NOT count; ``assistant``
      directly followed by ``assistant`` (the "double reply") does.
    - ``orphan_tool_turns`` — tool-role turns whose immediately
      preceding turn is neither ``assistant`` nor another tool turn
      (a tool call must be initiated by an assistant turn).
    - ``ts_monotonic`` — ``ts`` strictly increases with ``turn_idx``.
    - ``is_valid`` — the conjunction.

    One ``conv_id`` shuffle: the lag flags come from a
    ``partitionBy(conv_id)`` window and the reduction reuses that
    partitioning for its ``groupBy``.
    """
    w = _conv_window(conv_id, turn_idx)
    prev_role = F.lag(role).over(w)
    us = epoch_micros(F.col(ts))
    prev_us = F.lag(us).over(w)

    flagged = df.select(
        F.col(conv_id),
        F.col(role).alias("_r"),
        prev_role.alias("_pr"),
        (prev_us.isNotNull() & (us <= prev_us)).cast("int").alias("_ts_bad"),
        F.row_number().over(w).alias("_rn"),
    )
    # coalesce: the first turn's _pr is NULL, and a single-turn
    # conversation would otherwise sum only NULLs → NULL violations
    alt_bad = F.coalesce(
        (F.col("_r").isin(*_CHAT_ROLES) & (F.col("_pr") == F.col("_r"))).cast("int"),
        F.lit(0),
    )
    orphan = (
        (F.col("_r") == tool_role)
        & (~F.coalesce(F.col("_pr").isin("assistant", tool_role), F.lit(False)))
    ).cast("int")
    first_user = F.max(
        F.when(F.col("_rn") == 1, (F.col("_r") == "user").cast("int"))
    )
    return (
        flagged.groupBy(conv_id)
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            (first_user == 1).alias("starts_with_user"),
            F.sum(alt_bad).alias("alternation_violations"),
            F.sum(orphan).alias("orphan_tool_turns"),
            (F.sum("_ts_bad") == 0).alias("ts_monotonic"),
        )
        .withColumn(
            "is_valid",
            F.col("starts_with_user")
            & (F.col("alternation_violations") == 0)
            & (F.col("orphan_tool_turns") == 0)
            & F.col("ts_monotonic"),
        )
    )


def conversation_stats(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    role: str = "role",
    text: str = "text",
    ts: str = "ts",
    tool: str = "tool",
) -> DataFrame:
    """One-shuffle per-conversation profile — and no window: the sum
    of consecutive turn-order gaps telescopes to (last − first) by
    ``turn_idx``, so ``mean_gap_s`` comes from ``min_by``/``max_by``
    inside the same ``groupBy`` (a plain hash aggregation; the lag
    formulation would add a per-partition sort for nothing).

    ``duration_s`` and ``mean_gap_s`` are integer-µs differences
    divided once at the end (fixed order: ``µs → /n → /1e6``), so
    they are bit-identical on any engine.  ``assistant_char_share``
    is an integer-char ratio, one division.  ``turn_idx`` must be
    unique within a conversation (the table contract).
    """
    us = epoch_micros(F.col(ts))
    rows = df.select(
        F.col(conv_id),
        F.col(role).alias("_r"),
        F.col(tool).alias("_tool"),
        F.col(turn_idx).alias("_i"),
        F.length(F.col(text)).cast("bigint").alias("_chars"),
        us.alias("_us"),
    )
    n_turns = F.count(F.lit(1))
    # telescoping: sum of (us_k - us_{k-1}) over turn order
    gap_sum = F.max_by("_us", "_i") - F.min_by("_us", "_i")
    return rows.groupBy(conv_id).agg(
        n_turns.alias("n_turns"),
        F.sum((F.col("_r") == "user").cast("bigint")).alias("n_user"),
        F.sum((F.col("_r") == "assistant").cast("bigint")).alias("n_assistant"),
        F.sum(F.col("_tool").isNotNull().cast("bigint")).alias("n_tool_calls"),
        ((F.max("_us") - F.min("_us")) / F.lit(1e6)).alias("duration_s"),
        F.when(
            n_turns > 1,
            (gap_sum.cast("double") / (n_turns - 1)) / F.lit(1e6),
        ).alias("mean_gap_s"),
        (
            F.sum(F.when(F.col("_r") == "assistant", F.col("_chars")).otherwise(F.lit(0)))
            .cast("double")
            / F.sum("_chars")
        ).alias("assistant_char_share"),
    )


def response_latency(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    role: str = "role",
    ts: str = "ts",
    out: str = "latency_s",
) -> DataFrame:
    """Seconds from the most recent prior ``user`` turn to each
    ``assistant`` turn (NULL for non-assistant turns and for
    assistant turns with no prior user turn).

    Point-in-time by construction: the frame ends at the previous
    row, so a turn never reads its own or later timestamps.  One
    ``partitionBy(conv_id)`` window — no self-join.
    """
    w = _conv_window(conv_id, turn_idx)
    us = epoch_micros(F.col(ts))
    last_user_us = F.last(
        F.when(F.col(role) == "user", us), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    return df.withColumn(
        out,
        F.when(
            (F.col(role) == "assistant") & last_user_us.isNotNull(),
            (us - last_user_us) / F.lit(1e6),
        ),
    )


def conversation_fingerprint(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    role: str = "role",
    text: str = "text",
    hash_mode: str = "xxhash64",
    out: str = "conv_fp",
) -> DataFrame:
    """One row per conversation with a fingerprint of its ordered
    ``(role, text)`` turn sequence.

    Two conversations get the same fingerprint iff they have the same
    turns with the same roles in the same order (timestamps and ids
    excluded — the standard sequence-level dedup key for SFT corpora).

    Scale shape: one ``groupBy(conv_id)`` whose partial aggregation
    assembles the per-conversation turn list map-side; downstream
    consumers see an 8-byte key per conversation, never the text.
    """
    from feature_engineering_tk_spark.operators.dedup import _token_hash

    turn_str = F.concat_ws("\x1f", F.col(role), F.col(text))
    arr = F.sort_array(
        F.collect_list(F.struct(F.col(turn_idx).alias("i"), turn_str.alias("s")))
    )
    joined = F.array_join(F.transform(arr, lambda x: x["s"]), "\x1e")
    return df.groupBy(conv_id).agg(_token_hash(joined, hash_mode).alias(out))


def dedup_conversations(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    role: str = "role",
    text: str = "text",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Sequence-level exact dedup: one row per conversation with its
    fingerprint, the winning ``kept_conv_id`` (minimum ``conv_id``
    among conversations sharing the fingerprint — deterministic under
    any partitioning), and ``is_duplicate``.

    The duplicate-group reduction runs on the fingerprint table (one
    8-byte row per conversation), so a 10^12-turn corpus dedups on a
    conversations-sized intermediate; the join back is on the same
    8-byte key and AQE broadcast-sizes it when the winner table is
    small.
    """
    fps = conversation_fingerprint(
        df, conv_id, turn_idx, role, text, hash_mode=hash_mode
    )
    winners = fps.groupBy("conv_fp").agg(F.min(conv_id).alias("kept_conv_id"))
    return fps.join(winners, "conv_fp").select(
        conv_id,
        "conv_fp",
        "kept_conv_id",
        (F.col(conv_id) != F.col("kept_conv_id")).alias("is_duplicate"),
    )


def echo_rate(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    role: str = "role",
    text: str = "text",
    out: str = "echo_rate",
) -> DataFrame:
    """Per assistant turn: fraction of its distinct whitespace tokens
    that already appear in the most recent prior ``user`` turn —
    the standard parroting / copy-rate quality signal for SFT data.

    NULL for non-assistant turns, assistant turns with no prior user
    turn, and empty assistant texts.  Point-in-time: the user-turn
    lookup frame ends at the previous row.  Pure JVM array exprs over
    one ``partitionBy(conv_id)`` window — no UDF, no self-join.
    """
    w = _conv_window(conv_id, turn_idx).rowsBetween(Window.unboundedPreceding, -1)
    toks = F.array_distinct(
        F.filter(F.split(F.trim(F.col(text)), r"\s+"), lambda x: x != "")
    )
    prev_user = F.last(
        F.when(F.col(role) == "user", toks), ignorenulls=True
    ).over(w)
    return df.withColumn(
        out,
        F.when(
            (F.col(role) == "assistant")
            & prev_user.isNotNull()
            & (F.size(toks) > 0),
            F.size(F.array_intersect(toks, prev_user)).cast("double")
            / F.size(toks),
        ),
    )


def loss_mask(
    df: DataFrame,
    role: str = "role",
    train_roles: tuple[str, ...] = ("assistant",),
    out: str = "loss_weight",
    weight: float = 1.0,
) -> DataFrame:
    """Per-turn SFT loss weight: ``weight`` for turns whose role is in
    ``train_roles``, else 0.0.  Pure row-local projection — no
    shuffle, fused into whatever scan precedes it."""
    return df.withColumn(
        out,
        F.when(F.col(role).isin(*train_roles), F.lit(float(weight))).otherwise(
            F.lit(0.0)
        ),
    )


def tool_roundtrip(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    role: str = "role",
    ts: str = "ts",
    tool_role: str = "tool",
    out: str = "roundtrip_s",
) -> DataFrame:
    """Seconds from each tool turn to the NEXT assistant turn in the
    conversation (NULL for non-tool turns and for tool turns never
    followed by an assistant turn).

    This reads FORWARD in time — it is an offline serving-quality
    analytic, NOT a point-in-time training feature; never join it
    onto feature vectors at the tool turn's own timestamp.  One
    ``partitionBy(conv_id)`` window, integer-µs difference, one
    division.
    """
    w = _conv_window(conv_id, turn_idx).rowsBetween(1, Window.unboundedFollowing)
    us = epoch_micros(F.col(ts))
    next_assist = F.first(
        F.when(F.col(role) == "assistant", us), ignorenulls=True
    ).over(w)
    return df.withColumn(
        out,
        F.when(
            (F.col(role) == tool_role) & next_assist.isNotNull(),
            (next_assist - us) / F.lit(1e6),
        ),
    )


def tool_stats(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    role: str = "role",
    ts: str = "ts",
    tool: str = "tool",
    tool_role: str = "tool",
) -> DataFrame:
    """Per-tool usage profile: call counts, distinct conversations,
    and mean roundtrip to the next assistant turn.

    The roundtrip window reuses the ``conv_id`` partitioning; the
    final reduction is a tiny ``groupBy(tool)`` over integer-µs sums
    divided once at the end (bit-identical cross-engine).
    """
    us = epoch_micros(F.col(ts))
    w = _conv_window(conv_id, turn_idx).rowsBetween(1, Window.unboundedFollowing)
    next_assist = F.first(
        F.when(F.col(role) == "assistant", us), ignorenulls=True
    ).over(w)
    # annotate BEFORE filtering — the window must see the assistant
    # turns, which the tool-turn filter would remove
    annotated = df.select(
        F.col(tool).alias("_tool"),
        F.col(conv_id).alias("_c"),
        F.col(role).alias("_role"),
        (next_assist - us).alias("_rt_us"),
    )
    calls = annotated.filter(
        (F.col("_role") == tool_role) & F.col("_tool").isNotNull()
    )
    n_rt = F.sum(F.col("_rt_us").isNotNull().cast("bigint"))
    return calls.groupBy(F.col("_tool").alias("tool")).agg(
        F.count(F.lit(1)).alias("n_calls"),
        F.countDistinct("_c").alias("n_conversations"),
        F.when(
            n_rt > 0, (F.sum("_rt_us").cast("double") / n_rt) / F.lit(1e6)
        ).alias("mean_roundtrip_s"),
    )


def _json_escape(c: Column) -> Column:
    """JSON string escaping via literal replaces (backslash, quote,
    newline, tab, carriage return) — identical byte-for-byte on any
    engine, unlike engine-native ``to_json`` implementations which
    differ in key ordering and unicode escaping.  Remaining C0
    control characters (which JSON forbids raw and real corpora
    shouldn't contain) are STRIPPED so the output line is always
    valid JSON."""
    out = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    out = F.replace(out, F.lit("\t"), F.lit("\\t"))
    return F.regexp_replace(out, "[\x00-\x08\x0b\x0c\x0e-\x1f]", "")


def sft_export(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    role: str = "role",
    text: str = "text",
    out: str = "json_line",
) -> DataFrame:
    """One JSONL training record per conversation:
    ``{"conv_id":"...","messages":[{"role":"...","content":"..."},...]}``
    with messages in turn order — the standard chat-SFT interchange
    format (write the result with ``df.write.text`` for a JSONL
    corpus sink).

    The JSON is assembled from explicit concatenation + minimal
    escaping rather than ``to_json`` so the bytes are deterministic
    and engine-independent (oracle-verifiable).  One ``groupBy
    (conv_id)`` with map-side list assembly — same shuffle shape as
    ``conversation_fingerprint``.
    """
    msg = F.concat(
        F.lit('{"role":"'),
        _json_escape(F.col(role)),
        F.lit('","content":"'),
        _json_escape(F.col(text)),
        F.lit('"}'),
    )
    arr = F.sort_array(
        F.collect_list(F.struct(F.col(turn_idx).alias("i"), msg.alias("m")))
    )
    return df.groupBy(conv_id).agg(
        F.concat(
            F.lit('{"conv_id":"'),
            _json_escape(F.col(conv_id)),
            F.lit('","messages":['),
            F.array_join(F.transform(arr, lambda x: x["m"]), ","),
            F.lit("]}"),
        ).alias(out)
    )


def detect_loops(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    role: str = "role",
    text: str = "text",
    min_repeats: int = 3,
) -> DataFrame:
    """Agent-loop detection: per conversation, the longest run of
    consecutive identical ``(role, text)`` turns and the number of
    turns that repeat an earlier turn verbatim.  Stuck agents show up
    as runs (the same tool call or apology emitted over and over);
    ``has_loop`` flags runs of at least ``min_repeats``.

    Gaps-and-islands over one ``partitionBy(conv_id)`` sort: a lag
    comparison marks run starts, a cumulative sum numbers the runs,
    and the reduction reuses the same conversation partitioning.
    """
    w = _conv_window(conv_id, turn_idx)
    h = F.xxhash64(F.concat_ws("\x1f", F.col(role), F.col(text)))
    marked = df.select(
        F.col(conv_id),
        F.col(turn_idx),
        h.alias("_h"),
        F.coalesce((h != F.lag(h).over(w)).cast("int"), F.lit(1)).alias("_new"),
    ).withColumn("_run", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    runs = marked.groupBy(conv_id, "_run").agg(
        F.count(F.lit(1)).alias("_len")
    )
    per_run = runs.groupBy(conv_id).agg(
        F.max("_len").alias("max_consecutive_repeats"),
    )
    per_conv = marked.groupBy(conv_id).agg(
        F.count(F.lit(1)).alias("n_turns"),
        (F.count(F.lit(1)) - F.countDistinct("_h")).alias("n_repeated_turns"),
    )
    return per_conv.join(per_run, conv_id).select(
        conv_id,
        "n_turns",
        "n_repeated_turns",
        "max_consecutive_repeats",
        (F.col("max_consecutive_repeats") >= F.lit(int(min_repeats))).alias(
            "has_loop"
        ),
    )


def context_truncate(
    df: DataFrame,
    max_tokens: int,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    text: str = "text",
    keep_first: int = 1,
) -> DataFrame:
    """Context-budget truncation — the standard chat-training recipe:
    always keep the first ``keep_first`` turns (system prompt / task
    setup), then the longest SUFFIX of later turns whose token count
    plus the head's fits ``max_tokens``.  Returns the input plus
    ``n_tokens`` and ``kept`` (head turns are kept even when the head
    alone exceeds the budget — dropping the system prompt silently is
    the worse failure; filter on ``kept`` to materialize).

    Scale shape: one ``partitionBy(conv_id)`` window family — a
    DESCENDING-order running token sum marks the affordable suffix,
    and the head token total rides the same partition as an aggregate
    window (no join, no second shuffle).  Token counts are whitespace
    tokens (deterministic, engine-replayable).
    """
    toks = F.when(
        F.trim(F.coalesce(F.col(text), F.lit(""))) == "", F.lit(0)
    ).otherwise(
        F.size(F.split(F.trim(F.col(text)), r"\s+"))
    ).cast("bigint")
    base = df.withColumn("n_tokens", toks)
    is_head = F.col(turn_idx) < F.lit(int(keep_first))
    w_desc = (
        Window.partitionBy(conv_id)
        .orderBy(F.col(turn_idx).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(conv_id)
    head_tokens = F.sum(F.when(is_head, F.col("n_tokens")).otherwise(F.lit(0))).over(w_all)
    suffix_sum = F.sum(
        F.when(is_head, F.lit(0)).otherwise(F.col("n_tokens"))
    ).over(w_desc)
    kept = is_head | (suffix_sum + head_tokens <= F.lit(int(max_tokens)))
    return base.withColumn("kept", kept)


def preference_pairs(
    df: DataFrame,
    prompt_id: str = "prompt_id",
    response_id: str = "response_id",
    score: str = "score",
) -> DataFrame:
    """DPO/RLHF preference-pair construction: for every prompt with at
    least two scored responses, emit (prompt_id, chosen_id,
    rejected_id, chosen_score, rejected_score, margin) where chosen is
    the max-score response and rejected the min-score one.  Ties are
    broken deterministically toward the SMALLEST response id on both
    sides; prompts whose responses all tie (margin 0) are dropped —
    they carry no preference signal.

    Scale shape: ONE partial-aggregatable ``groupBy(prompt_id)`` — the
    argmax/argmin ride as struct max/min (order-free reductions), so
    response text/scores shuffle once as aggregate structs and skewed
    prompts combine map-side.
    """
    s = F.col(score).cast("double")
    rid = F.col(response_id).cast("bigint")
    agg = df.groupBy(prompt_id).agg(
        F.count(F.lit(1)).alias("_n"),
        # max on (score, -id): highest score, then smallest id
        F.max(F.struct(s.alias("s"), (-rid).alias("nid"))).alias("_c"),
        # min on (score, id): lowest score, then smallest id
        F.min(F.struct(s.alias("s"), rid.alias("pid"))).alias("_r"),
    )
    return (
        agg.where((F.col("_n") >= 2) & (F.col("_c.s") > F.col("_r.s")))
        .select(
            F.col(prompt_id),
            (-F.col("_c.nid")).alias("chosen_id"),
            F.col("_r.pid").alias("rejected_id"),
            F.col("_c.s").alias("chosen_score"),
            F.col("_r.s").alias("rejected_score"),
            (F.col("_c.s") - F.col("_r.s")).alias("margin"),
        )
    )


def validate_tool_args(
    df: DataFrame,
    args_col: str = "tool_args",
    required: tuple[str, ...] = (),
) -> DataFrame:
    """Tool-call argument QA: appends ``json_ok`` (the args string
    parses as a JSON object), ``n_keys`` (top-level key count, -1 when
    invalid), and ``missing_required`` (how many of ``required`` are
    absent, -1 when invalid).

    Agent transcripts carry tool arguments as JSON strings; malformed
    or incomplete calls are the highest-yield filter before SFT export
    (a truncated arg blob usually means the turn itself was cut).  The
    whole check is a row-local projection — ``from_json`` to a
    string map (null on parse failure), ``map_keys`` +
    ``array_except`` for the required-key audit — zero shuffle,
    streaming-safe.
    """
    parsed = F.from_json(F.col(args_col), "map<string,string>")
    req = F.array(*[F.lit(k) for k in required])
    out = df.withColumn("_pj", parsed)
    out = (
        out.withColumn("json_ok", F.col("_pj").isNotNull().cast("int"))
        .withColumn(
            "n_keys",
            F.when(F.col("_pj").isNotNull(), F.size(F.map_keys(F.col("_pj"))))
            .otherwise(F.lit(-1))
            .cast("int"),
        )
        .withColumn(
            "missing_required",
            F.when(
                F.col("_pj").isNotNull(),
                F.size(F.array_except(req, F.map_keys(F.col("_pj")))),
            )
            .otherwise(F.lit(-1))
            .cast("int"),
        )
    )
    return out.drop("_pj")


def discounted_return(
    df: DataFrame,
    reward: str = "reward",
    gamma: float = 0.9,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    out: str = "discounted_return",
    allow_future: bool = False,
) -> DataFrame:
    """Per-turn discounted reward trace over the conversation.

    Default (leakage-free) direction is PAST: the eligibility-trace
    recurrence ``G_i = gamma * G_{i-1} + r_i`` over turn order — the
    credit signal a point-in-time feature may legally carry (reference
    parity: feature_engineering_tk's expanding/ewm-style features, here
    pinned to the exact sequential recurrence).  ``allow_future=True``
    flips to the RL return ``G_i = r_i + gamma * G_{i+1}`` (reads
    future turns — same opt-in contract as ``with_lead``).

    Returns ``(conv_id, turn_idx, out)``.

    Determinism: the fold is the SAME sequential float recurrence on
    any engine (init 0.0, then ``acc*gamma + r`` in turn order), so
    values are bit-identical to a DuckDB ``list_reduce`` replay — no
    ``pow(gamma, -j)`` rescaling trick, which overflows for long
    conversations and breaks bit-parity.

    Scale shape: ONE ``groupBy(conv_id)`` shuffle (map-side partial
    ``collect_list``); the recurrence is a JVM ``aggregate`` fold over
    the conversation's time-sorted rewards, then one ``posexplode``
    back to rows.  Per-conversation state is turn-count bounded — the
    same boundedness assumption the rest of this family makes.
    """
    g = float(gamma)
    if not (0.0 <= g <= 1.0):
        raise ValueError("gamma must be in [0, 1]")
    ev = df.select(
        F.col(conv_id),
        F.struct(
            F.col(turn_idx).cast("bigint").alias("t"),
            F.col(reward).cast("double").alias("r"),
        ).alias("_e"),
    )
    grouped = ev.groupBy(conv_id).agg(F.array_sort(F.collect_list("_e")).alias("_evs"))
    evs = F.col("_evs") if not allow_future else F.reverse(F.col("_evs"))
    traces = F.aggregate(
        evs,
        F.array().cast("array<double>"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                # try_element_at: NULL on the first step (empty acc)
                # instead of an ANSI out-of-bounds error; 0.0 + r_0 is
                # an exact float identity, so the fold is bit-identical
                # to a list_reduce seeded with 0.0
                F.coalesce(F.try_element_at(acc, F.lit(-1)) * F.lit(g), F.lit(0.0))
                + x["r"]
            ),
        ),
    )
    rows = grouped.select(
        F.col(conv_id),
        F.posexplode(
            F.arrays_zip(
                F.transform(evs, lambda e: e["t"]).alias("t"),
                traces.alias("g"),
            )
        ).alias("_i", "_z"),
    )
    return rows.select(
        F.col(conv_id),
        F.col("_z.t").cast("int").alias(turn_idx),
        F.col("_z.g").alias(out),
    )


def prefix_sharing(
    df: DataFrame,
    k: int = 1,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    text: str = "text",
    hash_mode: str = "md5",
) -> DataFrame:
    """Shared-prefix groups across conversations: conversations whose
    first ``k`` turns are textually identical (system prompts, task
    templates) grouped by a prefix fingerprint — the batch audit
    behind KV-cache prefix reuse and system-prompt dedup in serving /
    training-cost accounting.

    Returns one row per prefix group: ``(prefix_hash, n_convs,
    prefix_tokens, example_conv, saved_tokens)`` where
    ``saved_tokens = (n_convs - 1) * prefix_tokens`` — whitespace
    tokens the corpus re-states beyond the first copy.

    ``hash_mode='md5'`` keeps the fingerprint engine-replayable (the
    oracle recomputes it in SQL); at corpus scale pass ``'xxhash64'``
    for an 8-byte shuffle key instead of a 32-char string.  NULL texts
    are skipped (collect_list drops them — the SQL ``string_agg``
    convention).

    Scale shape: turns filter to ``turn_idx < k`` BEFORE any shuffle,
    then two partial-aggregatable ``groupBy``s (conv, then prefix
    hash); full texts never shuffle — only the k-turn head does.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    head = df.where(F.col(turn_idx) < F.lit(int(k)))
    toks = F.when(
        F.trim(F.coalesce(F.col(text), F.lit(""))) == "", F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col(text)), r"\s+"))).cast("bigint")
    per_conv = head.groupBy(conv_id).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(turn_idx).alias("i"), F.col(text).alias("x")))
                ),
                lambda e: e["x"],
            ),
            "\x1f",
        ).alias("_p"),
        F.sum(toks).alias("_tok"),
    )
    fp = F.md5(F.col("_p")) if hash_mode == "md5" else F.xxhash64(F.col("_p")).cast("string")
    groups = per_conv.groupBy(fp.alias("prefix_hash")).agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.min("_tok").alias("prefix_tokens"),
        F.min(conv_id).alias("example_conv"),
    )
    return groups.select(
        "prefix_hash",
        "n_convs",
        "prefix_tokens",
        "example_conv",
        ((F.col("n_convs") - 1) * F.col("prefix_tokens")).alias("saved_tokens"),
    )


def branch_points(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    text: str = "text",
    min_convs: int = 2,
) -> DataFrame:
    """Conversation-fork detection: prefixes shared verbatim by at
    least ``min_convs`` conversations whose NEXT turn then diverges —
    regeneration/retry forks in chat logs, branching rollouts in agent
    trees.  One row per fork: ``(depth, prefix_hash, n_convs,
    n_branches)`` where ``depth`` is the shared-prefix length in turns
    and ``n_branches`` the number of distinct continuations.

    The prefix key at turn ``i`` is ``md5`` of the ``\\x1f``-joined
    texts of turns ``< i`` (empty string at depth 0, so conversation
    STARTS are comparable too); NULL texts are skipped on both engines
    (collect_list / string_agg convention).

    Scale shape: one ``partitionBy(conv_id)`` window builds the
    running prefix (per-row prefix strings are O(conversation) — the
    family's bounded-conversation assumption), then one
    ``groupBy(prefix_hash)``.  The two exact distinct counts share a
    single grouping via Spark's expand (2× aggregate rows, never 2×
    scans).
    """
    w = (
        Window.partitionBy(conv_id)
        .orderBy(turn_idx)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    parent = F.md5(F.array_join(F.collect_list(text).over(w), "\x1f"))
    marked = df.select(
        F.col(conv_id),
        F.col(turn_idx).cast("bigint").alias("_depth"),
        F.col(text).alias("_next"),
        parent.alias("prefix_hash"),
    )
    stats = marked.groupBy("prefix_hash").agg(
        F.min("_depth").alias("depth"),
        F.count_distinct(F.col(conv_id)).alias("n_convs"),
        F.count_distinct(F.col("_next")).alias("n_branches"),
    )
    return stats.where(
        (F.col("n_convs") >= F.lit(int(min_convs))) & (F.col("n_branches") >= 2)
    ).select("depth", "prefix_hash", "n_convs", "n_branches")


def tool_transitions(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    role: str = "role",
    tool: str = "tool",
    tool_role: str = "tool",
) -> DataFrame:
    """First-order tool-call transition table — the Markov profile of
    an agent's tool usage: for every ordered pair of consecutive tool
    CALLS within a conversation, ``(src_tool, dst_tool, n_transitions,
    p_transition)`` where ``p`` conditions on the source tool (one
    exact integer division).  Conversation starts contribute a
    ``<start>`` source row, so absorbing/entry behavior is visible;
    transitions never cross conversations.

    Loop diagnosis (A→A mass), tool-chain mining (dominant A→B edges),
    and policy drift between model versions (compare two transition
    tables) all read off this one table.

    Scale shape: filter to tool turns FIRST, then one
    ``partitionBy(conv_id)`` lag and one partial-aggregatable
    ``groupBy(src, dst)``; the per-source total is a window over the
    (tools × tools)-bounded aggregate table — a join-back would
    recompute the whole upstream subtree on both branches.
    """
    calls = df.where((F.col(role) == tool_role) & F.col(tool).isNotNull())
    w = _conv_window(conv_id, turn_idx)
    edges = calls.select(
        F.coalesce(F.lag(tool).over(w), F.lit("<start>")).alias("src_tool"),
        F.col(tool).alias("dst_tool"),
    )
    counts = edges.groupBy("src_tool", "dst_tool").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    tot = F.sum("n_transitions").over(Window.partitionBy("src_tool"))
    return counts.select(
        "src_tool",
        "dst_tool",
        "n_transitions",
        (F.col("n_transitions") / tot).alias("p_transition"),
    )


#: Case-folded substrings marking a satisfied closing user turn.
THANKS_PHRASES: tuple[str, ...] = ("thank", "thanks", "perfect", "great, ")


def conversation_outcome(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    role: str = "role",
    text: str = "text",
    thanks_phrases: tuple[str, ...] = THANKS_PHRASES,
) -> DataFrame:
    """Per-conversation outcome heuristics — the triage row a support /
    agent-quality dashboard keys on:

    - ``n_turns``,
    - ``last_role`` — who spoke last (a conversation ending on a user
      turn usually means an unanswered request),
    - ``ended_answered`` — the final turn is a non-empty assistant
      turn,
    - ``user_thanked`` — the LAST user turn contains a satisfaction
      phrase (case-folded substring, ``instr`` — no regex),
    - ``last_user_turn`` / ``last_assistant_turn`` — turn indexes
      (NULL when the role never speaks).

    Scale shape: ONE partial-aggregatable ``groupBy(conv_id)`` — the
    per-role "last turn" rides as ``max_by``-style struct maxes, so no
    window and no second shuffle; text never shuffles (only the
    row-local thanks flag and the struct-max text of the final turn).
    """
    lowered = F.lower(F.coalesce(F.col(text), F.lit("")))
    thanks = F.lit(False)
    for p in thanks_phrases:
        thanks = thanks | lowered.contains(p.lower())
    t = F.col(turn_idx).cast("bigint")
    is_user = F.col(role) == "user"
    is_assist = F.col(role) == "assistant"
    agg = df.groupBy(conv_id).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.max(F.struct(t.alias("i"), F.col(role).alias("r"))).alias("_last"),
        F.max(F.when(is_user, F.struct(t.alias("i"), thanks.alias("th")))).alias("_lu"),
        F.max(F.when(is_assist, F.struct(t.alias("i"), F.trim(lowered).alias("tx")))).alias("_la"),
    )
    return agg.select(
        conv_id,
        "n_turns",
        F.col("_last.r").alias("last_role"),
        (
            (F.col("_last.r") == "assistant")
            & F.coalesce(F.col("_la.tx") != "", F.lit(False))
            & (F.col("_la.i") == F.col("_last.i"))
        ).alias("ended_answered"),
        F.coalesce(F.col("_lu.th"), F.lit(False)).alias("user_thanked"),
        F.col("_lu.i").alias("last_user_turn"),
        F.col("_la.i").alias("last_assistant_turn"),
    )


def repair_timestamps(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    ts: str = "ts",
    out: str | None = None,
) -> DataFrame:
    """Ingestion cleanup for out-of-order clocks: clamp each turn's
    timestamp to the running maximum of its conversation so the
    repaired column is non-decreasing in turn order — the standard fix
    before any gap/sessionize/latency feature (a single backwards
    clock otherwise produces a negative gap that poisons session
    statistics).  Also appends ``ts_was_repaired`` so audits see every
    touched row; turn order itself (``turn_idx``) is trusted.

    NULL timestamps are a corrupted clock too: they repair to the
    running max when one exists (flag ``true``), stay NULL when the
    conversation has no prior clock to clamp to (flag ``false`` — the
    value was not changed). The flag is never NULL, so both
    ``filter(flag)`` and ``filter(~flag)`` together see every row.

    One ``partitionBy(conv_id)`` running-max window (rows unbounded
    preceding → current), integer-µs comparison — rides the same conv
    sort as the rest of the family.
    """
    w = _conv_window(conv_id, turn_idx).rowsBetween(Window.unboundedPreceding, 0)
    run_max = F.max(F.col(ts)).over(w)
    target = out or ts
    repaired = (
        F.when(F.col(ts).isNull(), run_max.isNotNull())
        .otherwise(run_max > F.col(ts))
    )
    return df.withColumn("ts_was_repaired", repaired).withColumn(target, run_max)


#: First-token imperatives marking a command-shaped turn (pinned list).
COMMAND_VERBS: tuple[str, ...] = (
    "write", "make", "run", "show", "give", "list", "find", "create",
    "generate", "add", "remove", "fix", "explain", "summarize", "translate",
)

#: First tokens marking an interrogative turn when no '?' is present.
QUESTION_WORDS: tuple[str, ...] = (
    "what", "why", "how", "when", "where", "who", "which",
    "can", "could", "would", "should", "do", "does", "is", "are",
)


def dialog_acts(
    df: DataFrame,
    text: str = "text",
    out: str = "dialog_act",
) -> DataFrame:
    """Per-turn dialog-act heuristic: ``question`` (ends with '?' or
    opens with an interrogative word), ``command`` (opens with a
    pinned imperative verb), ``statement`` (anything else non-empty),
    ``other`` (NULL/empty).  Precedence pinned in that order.  The
    act mix per role is the cheapest prompt-composition signal an SFT
    mix report keys on.

    Pure row-local string algebra (trim/lower/first-token compare —
    no regex), zero shuffle, streaming-safe.
    """
    t = F.trim(F.coalesce(F.col(text), F.lit("")))
    low = F.lower(t)
    first = F.element_at(F.split(low, r"\s+"), 1)
    is_q = low.endswith("?") | first.isin(*QUESTION_WORDS)
    is_cmd = first.isin(*COMMAND_VERBS)
    act = (
        F.when(t == "", F.lit("other"))
        .when(is_q, F.lit("question"))
        .when(is_cmd, F.lit("command"))
        .otherwise(F.lit("statement"))
    )
    return df.withColumn(out, act)


def dialog_act_mix(
    df: DataFrame,
    role: str = "role",
    text: str = "text",
) -> DataFrame:
    """Per-(role, act) composition table: ``(role, dialog_act, n,
    share)`` with ``share`` conditioned on the role (one exact integer
    division via a window over the roles×acts-bounded aggregate)."""
    acts = dialog_acts(df, text=text)
    counts = acts.groupBy(role, "dialog_act").agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy(role))
    return counts.select(role, "dialog_act", "n", (F.col("n") / tot).alias("share"))


def tool_cooccurrence(
    df: DataFrame,
    conv_id: str = "conv_id",
    role: str = "role",
    tool: str = "tool",
    tool_role: str = "tool",
) -> DataFrame:
    """Unordered tool-affinity table — the co-use complement of
    ``tool_transitions``: for every unordered tool pair, in how many
    conversations BOTH tools were called, plus each tool's own
    conversation count (the lift denominator).  Returns
    ``(tool_a, tool_b, n_convs_both, n_convs_a, n_convs_b)`` with
    ``tool_a < tool_b`` (pinned orientation).

    Scale shape: conversations first reduce to DISTINCT (conv, tool)
    pairs — 8-byte-ish rows, tools-bounded per conversation; the pair
    build is a self-join ON the conversation key (conv-bounded fanout,
    tools² per conversation at worst), then one partial-agg groupBy on
    the tools²-bounded pair space; per-tool totals broadcast back onto
    the aggregate-sized edge table.
    """
    calls = (
        df.where((F.col(role) == tool_role) & F.col(tool).isNotNull())
        .select(F.col(conv_id).alias("_c"), F.col(tool).alias("_t"))
        .distinct()
    )
    a = calls.select(F.col("_c"), F.col("_t").alias("tool_a"))
    b = calls.select(F.col("_c"), F.col("_t").alias("tool_b"))
    pairs = a.join(b, "_c").where(F.col("tool_a") < F.col("tool_b"))
    both = pairs.groupBy("tool_a", "tool_b").agg(
        F.count(F.lit(1)).alias("n_convs_both")
    )
    totals = calls.groupBy("_t").agg(F.count(F.lit(1)).alias("_n"))
    ta = F.broadcast(totals.select(F.col("_t").alias("tool_a"), F.col("_n").alias("n_convs_a")))
    tb = F.broadcast(totals.select(F.col("_t").alias("tool_b"), F.col("_n").alias("n_convs_b")))
    return both.join(ta, "tool_a").join(tb, "tool_b").select(
        "tool_a", "tool_b", "n_convs_both", "n_convs_a", "n_convs_b"
    )


def merge_adjacent_turns(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    role: str = "role",
    text: str = "text",
    tool: str = "tool",
    ts: str = "ts",
    sep: str = "\n",
) -> DataFrame:
    """Merge consecutive same-role turns into one turn — the standard
    repair for the role-alternation defects ``validate_transcripts``
    flags (double-user from client retries, assistant messages split
    by streaming chunk boundaries). Within each conversation, every
    maximal run of equal ``role`` collapses to a single turn: texts
    joined by ``sep`` in turn order, ``ts`` = the run's first
    timestamp, ``tool`` = the run's first non-null tool, turns
    re-indexed densely from 0. ``n_merged`` keeps the run length for
    QA. Chat templates require strict alternation, so this runs
    between validation and SFT export.

    Scale shape: ONE ``partitionBy(conv_id)`` window builds run ids
    (gaps-and-islands via a running sum of role-change flags); the
    follow-up ``groupBy(conv_id, run)`` clusters on a SUPERSET of the
    window's partition key, so Catalyst reuses the same exchange — one
    conversation-key shuffle total (``tests/test_transcripts.py``
    ``test_single_exchange_plan``).
    Texts concatenate inside per-run aggregation; whole conversations
    never assemble on one task beyond their own rows.
    """
    w = _conv_window(conv_id, turn_idx)
    brk = F.when(
        F.lag(role).over(w).isNull() | (F.lag(role).over(w) != F.col(role)),
        F.lit(1),
    ).otherwise(F.lit(0))
    runs = df.withColumn("__run", F.sum(brk).over(w))
    pieces = F.array_sort(
        F.collect_list(F.struct(F.col(turn_idx).alias("i"), F.col(text).alias("t")))
    )
    tools = F.array_sort(
        F.collect_list(
            F.when(
                F.col(tool).isNotNull(),
                F.struct(F.col(turn_idx).alias("i"), F.col(tool).alias("t")),
            )
        )
    )
    return (
        runs.groupBy(conv_id, "__run")
        .agg(
            F.first(role).alias(role),
            F.array_join(F.transform(pieces, lambda s: s["t"]), sep).alias(text),
            F.try_element_at(tools, F.lit(1))["t"].alias(tool),
            F.min(ts).alias(ts),
            F.count(F.lit(1)).alias("n_merged"),
        )
        .withColumn(turn_idx, (F.col("__run") - 1).cast("int"))
        .drop("__run")
        .select(conv_id, turn_idx, role, text, tool, ts, "n_merged")
    )


def near_loops(
    df: DataFrame,
    conv_id: str = "conv_id",
    turn_idx: str = "turn_idx",
    role: str = "role",
    text: str = "text",
    roles: tuple = ("assistant",),
    similarity: float = 0.9,
    min_repeats: int = 3,
    max_chars: int = 500,
) -> DataFrame:
    """FUZZY agent-loop detection — the edit-distance twin of
    :func:`detect_loops` (which needs VERBATIM repeats): per
    conversation, consecutive same-role turns are compared by
    normalized Levenshtein similarity ``1 − lev/max(len)``, so an
    agent stuck in a paraphrase loop ("I apologize, let me try
    again…" with varying suffixes) is caught even though no two turns
    hash equal.  Output per conversation: (conv, n_turns_scored,
    n_near_repeat_pairs, max_consecutive_near, max_similarity,
    has_near_loop) where ``max_consecutive_near`` counts TURNS in the
    longest chain of pairwise-similar consecutive turns (≥ 1) and
    ``has_near_loop`` flags chains of at least ``min_repeats`` turns.

    Scale shape: turns filtered to ``roles`` BEFORE the shuffle
    (filter pushdown), ONE conv-key exchange serves the lag window,
    the gaps-and-islands run numbering, and the final groupBy; the
    Levenshtein runs in the JVM on ``max_chars``-bounded prefixes
    (the span_dedup convention: worst-case per-row cost is a
    constant — edit distance is O(max_chars²)).  Conversations with
    no ``roles`` turns have nothing to score and are absent.
    DuckDB's ``levenshtein`` matches Spark's exactly, so the whole
    pipeline oracles bit-for-bit (similarity is integer-ratio
    doubles).
    """
    if not (0.0 < similarity <= 1.0):
        raise ValueError("similarity must be in (0, 1]")
    if min_repeats < 2:
        raise ValueError("min_repeats must be >= 2")
    w = _conv_window(conv_id, turn_idx)
    t1 = F.substring(F.coalesce(F.col(text), F.lit("")), 1, int(max_chars))
    src = df.where(F.col(role).isin(list(roles))).select(
        F.col(conv_id), F.col(turn_idx), t1.alias("_t")
    )
    prev = F.lag("_t").over(w)
    lev = F.levenshtein(prev, F.col("_t"))
    denom = F.greatest(F.length(prev), F.length("_t"), F.lit(1))
    sim = F.lit(1.0) - lev.cast("double") / denom.cast("double")
    marked = src.select(
        conv_id,
        turn_idx,
        sim.alias("_sim"),
        (sim.isNotNull() & (sim >= F.lit(float(similarity)))).alias("_near"),
    ).withColumn(
        "_run",
        F.sum(F.when(F.col("_near"), 0).otherwise(1)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    chains = (
        marked.where(F.col("_near"))
        .groupBy(conv_id, "_run")
        .agg(F.count(F.lit(1)).alias("_pairs"))
        .groupBy(conv_id)
        .agg(F.max("_pairs").alias("_max_pairs"))
    )
    per_conv = marked.groupBy(conv_id).agg(
        F.count(F.lit(1)).alias("n_turns_scored"),
        F.sum(F.col("_near").cast("int")).alias("n_near_repeat_pairs"),
        F.round(F.max("_sim"), 9).alias("max_similarity"),
    )
    joined = per_conv.join(chains, conv_id, "left")
    max_chain = F.coalesce(F.col("_max_pairs"), F.lit(0)) + F.lit(1)
    return joined.select(
        conv_id,
        "n_turns_scored",
        "n_near_repeat_pairs",
        max_chain.alias("max_consecutive_near"),
        "max_similarity",
        (max_chain >= F.lit(int(min_repeats))).alias("has_near_loop"),
    )


def tool_arg_schema(
    df: DataFrame,
    tool_col: str = "tool",
    args_col: str = "tool_args",
) -> DataFrame:
    """Infer the OBSERVED argument schema of every tool from its call
    record: one row per (tool, key) with occurrence counts and a
    value-type census — (tool, key, n_occurrences, share, n_int,
    n_float, n_bool, n_null, n_str).  ``share`` = key presence among
    the tool's PARSED calls, so a "required" argument shows share
    ≈ 1.0 and a sometimes-missing one < 1 — the contract drift audit
    for agent transcripts (a tool whose ``query`` share drops after a
    prompt change is the incident signal), and the schema you need
    before writing ``validate_tool_args(required=...)`` rules.

    Types are classified from the JSON-string values by anchored
    RE2-safe regex (integer / decimal float / true|false / null /
    everything-else string — JSON numbers arrive as strings through
    the ``from_json`` map cast, the validate_tool_args convention).
    Flat JSON objects assumed (nested args count as strings).

    Scale shape: parse + explode are row-local; ONE map-side-combined
    groupBy on (tool, key) — output is schema-sized; per-tool parsed
    totals are an aggregate-sized broadcast join.  Unparseable calls
    count in nothing but the denominator's complement (they have no
    keys); tools with zero parsed calls are absent.
    """
    for c in (tool_col, args_col):
        if c not in df.columns:
            from feature_engineering_tk_spark.exceptions import ColumnNotFoundError

            raise ColumnNotFoundError(c, df.columns)
    parsed = F.from_json(F.col(args_col), "map<string,string>")
    calls = df.where(F.col(tool_col).isNotNull()).select(
        F.col(tool_col).alias("tool"), parsed.alias("_pj")
    )
    totals = calls.groupBy("tool").agg(
        F.sum(F.col("_pj").isNotNull().cast("long")).alias("_n_parsed")
    )
    kv = calls.where(F.col("_pj").isNotNull()).select(
        "tool", F.explode("_pj").alias("key", "_v")
    )
    is_int = F.col("_v").rlike(r"^-?[0-9]+$")
    is_float = F.col("_v").rlike(r"^-?[0-9]+\.[0-9]+$")
    is_bool = F.col("_v").isin("true", "false")
    is_null = F.col("_v").isNull()
    flag = lambda c: F.sum(c.cast("long"))  # noqa: E731
    schema = kv.groupBy("tool", "key").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        flag(is_null).alias("n_null"),
        flag(~is_null & is_int).alias("n_int"),
        flag(~is_null & ~is_int & is_float).alias("n_float"),
        flag(~is_null & ~is_int & ~is_float & is_bool).alias("n_bool"),
        flag(~is_null & ~is_int & ~is_float & ~is_bool).alias("n_str"),
    )
    return schema.join(F.broadcast(totals), "tool").select(
        "tool",
        "key",
        "n_occurrences",
        (F.col("n_occurrences") / F.col("_n_parsed")).alias("share"),
        "n_int",
        "n_float",
        "n_bool",
        "n_null",
        "n_str",
    )
