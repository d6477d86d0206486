"""Transcript-native operators vs hand-computed expectations."""

import datetime as dt

import pytest

from feature_engineering_tk_spark.operators.transcripts import (
    conversation_stats,
    dedup_conversations,
    echo_rate,
    loss_mask,
    response_latency,
    validate_transcripts,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _tr(spark, rows):
    """rows: (conv_id, turn_idx, role, text, tool, offset_seconds)."""
    return spark.createDataFrame(
        [(c, i, r, x, tl, T0 + dt.timedelta(seconds=s)) for c, i, r, x, tl, s in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


class TestValidate:
    def test_clean_conversation_is_valid(self, spark):
        df = _tr(spark, [
            ("a", 0, "user", "hi", None, 0),
            ("a", 1, "assistant", "hello", None, 1),
            ("a", 2, "user", "do it", None, 2),
            ("a", 3, "assistant", "calling", "search", 3),
            ("a", 4, "tool", "result", "search", 4),
            ("a", 5, "assistant", "done", None, 5),
        ])
        r = validate_transcripts(df).first()
        assert r["is_valid"]
        assert r["n_turns"] == 6
        assert r["alternation_violations"] == 0
        assert r["orphan_tool_turns"] == 0

    def test_direct_double_reply_flagged(self, spark):
        df = _tr(spark, [
            ("a", 0, "user", "q", None, 0),
            ("a", 1, "assistant", "r1", None, 1),
            ("a", 2, "assistant", "r2", None, 2),   # double reply
        ])
        r = validate_transcripts(df).first()
        assert r["alternation_violations"] == 1 and not r["is_valid"]

    def test_tool_interleave_is_not_double_reply(self, spark):
        df = _tr(spark, [
            ("a", 0, "user", "q", None, 0),
            ("a", 1, "assistant", "calling", "search", 1),
            ("a", 2, "tool", "result", "search", 2),
            ("a", 3, "assistant", "answer", None, 3),
        ])
        r = validate_transcripts(df).first()
        assert r["alternation_violations"] == 0 and r["is_valid"]

    def test_orphan_tool_and_bad_start(self, spark):
        df = _tr(spark, [
            ("b", 0, "assistant", "x", None, 0),     # bad start
            ("b", 1, "tool", "y", "calc", 1),        # follows assistant: ok
            ("b", 2, "user", "z", None, 2),
            ("b", 3, "tool", "w", "calc", 3),        # follows user: orphan
        ])
        r = validate_transcripts(df).first()
        assert not r["starts_with_user"]
        assert r["orphan_tool_turns"] == 1
        assert not r["is_valid"]

    def test_first_turn_tool_is_orphan(self, spark):
        df = _tr(spark, [("c", 0, "tool", "t", "calc", 0)])
        r = validate_transcripts(df).first()
        assert r["orphan_tool_turns"] == 1

    def test_non_monotonic_ts(self, spark):
        df = _tr(spark, [
            ("d", 0, "user", "a", None, 10),
            ("d", 1, "assistant", "b", None, 5),     # goes backwards
        ])
        r = validate_transcripts(df).first()
        assert not r["ts_monotonic"] and not r["is_valid"]


class TestStats:
    def test_counts_and_time(self, spark):
        df = _tr(spark, [
            ("a", 0, "user", "hi", None, 0),          # 2 chars
            ("a", 1, "assistant", "hello!", None, 4),  # 6 chars
            ("a", 2, "user", "ok", None, 10),          # 2 chars
        ])
        r = conversation_stats(df).first()
        assert r["n_turns"] == 3 and r["n_user"] == 2 and r["n_assistant"] == 1
        assert r["n_tool_calls"] == 0
        assert r["duration_s"] == pytest.approx(10.0)
        assert r["mean_gap_s"] == pytest.approx(5.0)
        assert r["assistant_char_share"] == pytest.approx(6 / 10)

    def test_single_turn_has_null_gap(self, spark):
        df = _tr(spark, [("a", 0, "user", "hi", None, 0)])
        r = conversation_stats(df).first()
        assert r["mean_gap_s"] is None and r["duration_s"] == 0.0


class TestLatency:
    def test_latency_from_most_recent_prior_user(self, spark):
        df = _tr(spark, [
            ("a", 0, "user", "q1", None, 0),
            ("a", 1, "assistant", "r1", None, 3),
            ("a", 2, "user", "q2", None, 10),
            ("a", 3, "tool", "t", "calc", 11),
            ("a", 4, "assistant", "r2", None, 15),
        ])
        out = {r["turn_idx"]: r["latency_s"]
               for r in response_latency(df).collect()}
        assert out[1] == pytest.approx(3.0)
        assert out[4] == pytest.approx(5.0)     # from q2, through the tool turn
        assert out[0] is None and out[2] is None and out[3] is None

    def test_assistant_with_no_prior_user_is_null(self, spark):
        df = _tr(spark, [("a", 0, "assistant", "r", None, 0)])
        assert response_latency(df).first()["latency_s"] is None

    def test_point_in_time_never_reads_own_row(self, spark):
        # user and assistant at the SAME offset: frame ends at the
        # previous row, so latency is 0 only via the PRIOR user row.
        df = _tr(spark, [
            ("a", 0, "user", "q", None, 7),
            ("a", 1, "assistant", "r", None, 7),
        ])
        assert response_latency(df).collect()[1]["latency_s"] == 0.0


class TestDedupConversations:
    def test_same_sequence_different_times_dedups(self, spark):
        df = _tr(spark, [
            ("a", 0, "user", "hi", None, 0),
            ("a", 1, "assistant", "hello", None, 1),
            ("b", 0, "user", "hi", None, 100),      # same turns, later
            ("b", 1, "assistant", "hello", None, 200),
            ("c", 0, "user", "hi", None, 0),
            ("c", 1, "assistant", "different", None, 1),
        ])
        out = {r["conv_id"]: r for r in dedup_conversations(df).collect()}
        assert out["a"]["conv_fp"] == out["b"]["conv_fp"]
        assert out["b"]["is_duplicate"] and out["b"]["kept_conv_id"] == "a"
        assert not out["a"]["is_duplicate"]
        assert not out["c"]["is_duplicate"]
        assert out["c"]["conv_fp"] != out["a"]["conv_fp"]

    def test_role_swap_changes_fingerprint(self, spark):
        df = _tr(spark, [
            ("a", 0, "user", "x", None, 0),
            ("a", 1, "assistant", "y", None, 1),
            ("b", 0, "assistant", "x", None, 0),
            ("b", 1, "user", "y", None, 1),
        ])
        out = {r["conv_id"]: r["conv_fp"]
               for r in dedup_conversations(df).collect()}
        assert out["a"] != out["b"]

    def test_turn_order_matters(self, spark):
        df = _tr(spark, [
            ("a", 0, "user", "x", None, 0),
            ("a", 1, "user", "y", None, 1),
            ("b", 0, "user", "y", None, 0),
            ("b", 1, "user", "x", None, 1),
        ])
        out = {r["conv_id"]: r["conv_fp"]
               for r in dedup_conversations(df).collect()}
        assert out["a"] != out["b"]

    def test_md5_mode_matches_xxhash_grouping(self, spark):
        df = _tr(spark, [
            ("a", 0, "user", "hi", None, 0),
            ("b", 0, "user", "hi", None, 9),
        ])
        for mode in ("xxhash64", "md5"):
            out = dedup_conversations(df, hash_mode=mode).collect()
            assert sum(r["is_duplicate"] for r in out) == 1


class TestEchoRate:
    def test_full_and_partial_echo(self, spark):
        df = _tr(spark, [
            ("a", 0, "user", "alpha beta gamma", None, 0),
            ("a", 1, "assistant", "alpha beta", None, 1),      # 2/2 echoed
            ("a", 2, "user", "delta", None, 2),
            ("a", 3, "assistant", "delta epsilon zeta", None, 3),  # 1/3
        ])
        out = {r["turn_idx"]: r["echo_rate"] for r in echo_rate(df).collect()}
        assert out[1] == pytest.approx(1.0)
        assert out[3] == pytest.approx(1 / 3)
        assert out[0] is None and out[2] is None

    def test_duplicate_tokens_counted_once(self, spark):
        df = _tr(spark, [
            ("a", 0, "user", "go go go stop", None, 0),
            ("a", 1, "assistant", "go go never never", None, 1),
        ])
        # distinct assistant tokens {go, never}: 1 of 2 echoed
        assert echo_rate(df).collect()[1]["echo_rate"] == pytest.approx(0.5)

    def test_no_prior_user_is_null(self, spark):
        df = _tr(spark, [("a", 0, "assistant", "hi", None, 0)])
        assert echo_rate(df).first()["echo_rate"] is None

    def test_uses_most_recent_user_not_any(self, spark):
        df = _tr(spark, [
            ("a", 0, "user", "alpha", None, 0),
            ("a", 1, "assistant", "alpha", None, 1),
            ("a", 2, "user", "beta", None, 2),
            ("a", 3, "assistant", "alpha", None, 3),   # alpha not in 'beta'
        ])
        out = {r["turn_idx"]: r["echo_rate"] for r in echo_rate(df).collect()}
        assert out[1] == pytest.approx(1.0) and out[3] == pytest.approx(0.0)


class TestLossMask:
    def test_default_assistant_only(self, spark):
        df = _tr(spark, [
            ("a", 0, "user", "q", None, 0),
            ("a", 1, "assistant", "r", None, 1),
            ("a", 2, "tool", "t", "calc", 2),
        ])
        out = {r["turn_idx"]: r["loss_weight"] for r in loss_mask(df).collect()}
        assert out == {0: 0.0, 1: 1.0, 2: 0.0}

    def test_custom_roles_and_weight(self, spark):
        df = _tr(spark, [
            ("a", 0, "user", "q", None, 0),
            ("a", 1, "assistant", "r", None, 1),
        ])
        out = {r["turn_idx"]: r["loss_weight"]
               for r in loss_mask(df, train_roles=("user", "assistant"),
                                  weight=0.5).collect()}
        assert out == {0: 0.5, 1: 0.5}


class TestToolAnalytics:
    def test_roundtrip_to_next_assistant(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import (
            tool_roundtrip,
        )

        df = _tr(spark, [
            ("a", 0, "user", "q", None, 0),
            ("a", 1, "assistant", "calling", "search", 1),
            ("a", 2, "tool", "result", "search", 2),
            ("a", 3, "tool", "result2", "search", 4),
            ("a", 4, "assistant", "answer", None, 10),
        ])
        out = {r["turn_idx"]: r["roundtrip_s"]
               for r in tool_roundtrip(df).collect()}
        assert out[2] == pytest.approx(8.0)
        assert out[3] == pytest.approx(6.0)
        assert out[0] is None and out[1] is None and out[4] is None

    def test_trailing_tool_turn_is_null(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import (
            tool_roundtrip,
        )

        df = _tr(spark, [
            ("a", 0, "assistant", "calling", "calc", 0),
            ("a", 1, "tool", "result", "calc", 1),   # never answered
        ])
        assert tool_roundtrip(df).collect()[1]["roundtrip_s"] is None

    def test_tool_stats_grouping(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import tool_stats

        df = _tr(spark, [
            ("a", 0, "assistant", "c1", "search", 0),
            ("a", 1, "tool", "r1", "search", 1),
            ("a", 2, "assistant", "done", None, 5),     # rt 4s
            ("b", 0, "assistant", "c2", "search", 0),
            ("b", 1, "tool", "r2", "search", 2),
            ("b", 2, "assistant", "done", None, 4),     # rt 2s
            ("b", 3, "assistant", "c3", "calc", 6),
            ("b", 4, "tool", "r3", "calc", 7),          # trailing: no rt
        ])
        out = {r["tool"]: r for r in tool_stats(df).collect()}
        assert out["search"]["n_calls"] == 2
        assert out["search"]["n_conversations"] == 2
        assert out["search"]["mean_roundtrip_s"] == pytest.approx(3.0)
        assert out["calc"]["n_calls"] == 1
        assert out["calc"]["mean_roundtrip_s"] is None


class TestSftExport:
    def test_round_trips_through_json_parser(self, spark):
        import json

        from feature_engineering_tk_spark.operators.transcripts import sft_export

        df = _tr(spark, [
            ("a", 0, "user", 'say "hi"\nplease', None, 0),
            ("a", 1, "assistant", "back\\slash\ttab", None, 1),
        ])
        line = sft_export(df).first()["json_line"]
        doc = json.loads(line)
        assert doc["conv_id"] == "a"
        assert doc["messages"] == [
            {"role": "user", "content": 'say "hi"\nplease'},
            {"role": "assistant", "content": "back\\slash\ttab"},
        ]

    def test_messages_in_turn_order(self, spark):
        import json

        from feature_engineering_tk_spark.operators.transcripts import sft_export

        # insert out of order; export must sort by turn_idx
        df = _tr(spark, [
            ("a", 2, "user", "third", None, 2),
            ("a", 0, "user", "first", None, 0),
            ("a", 1, "assistant", "second", None, 1),
        ])
        doc = json.loads(sft_export(df).first()["json_line"])
        assert [m["content"] for m in doc["messages"]] == [
            "first", "second", "third",
        ]

    def test_one_line_per_conversation(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import sft_export

        df = _tr(spark, [
            ("a", 0, "user", "x", None, 0),
            ("b", 0, "user", "y", None, 0),
        ])
        out = sft_export(df).collect()
        assert len(out) == 2
        assert all("\n" not in r["json_line"] for r in out)


class TestValidateProperty:
    """validate_transcripts vs a brute-force Python simulator on
    arbitrary role sequences and (possibly non-monotonic) clocks."""

    def test_random_transcripts_match_simulator(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        roles = st.sampled_from(["user", "assistant", "tool"])
        conv = st.lists(
            st.tuples(roles, st.integers(min_value=0, max_value=30)),
            min_size=1, max_size=12,
        )

        @settings(max_examples=15, deadline=None,
                  suppress_health_check=[HealthCheck.function_scoped_fixture,
                                         HealthCheck.too_slow])
        @given(convs=st.lists(conv, min_size=1, max_size=4))
        def run(convs):
            rows = []
            expected = {}
            for ci, turns in enumerate(convs):
                cid = f"c{ci}"
                alt = orphan = ts_bad = 0
                for i, (r, s) in enumerate(turns):
                    rows.append((cid, i, r, "t", None, s))
                    if i > 0:
                        pr, ps = turns[i - 1][0], turns[i - 1][1]
                        if r in ("user", "assistant") and pr == r:
                            alt += 1
                        if r == "tool" and pr not in ("assistant", "tool"):
                            orphan += 1
                        if s <= ps:
                            ts_bad += 1
                    elif r == "tool":
                        orphan += 1
                expected[cid] = {
                    "n_turns": len(turns),
                    "starts_with_user": turns[0][0] == "user",
                    "alternation_violations": alt,
                    "orphan_tool_turns": orphan,
                    "ts_monotonic": ts_bad == 0,
                }
                expected[cid]["is_valid"] = (
                    expected[cid]["starts_with_user"]
                    and alt == 0 and orphan == 0 and ts_bad == 0
                )
            got = {r["conv_id"]: r.asDict()
                   for r in validate_transcripts(_tr(spark, rows)).collect()}
            for cid, exp in expected.items():
                g = got[cid]
                assert {k: g[k] for k in exp} == exp, (cid, g, exp)

        run()


class TestStreamingTranscripts:
    def test_loss_mask_stateless_on_stream(self, spark, tmp_path):
        """loss_mask is row-local, so the SAME call runs unchanged on
        a readStream; drained output must match batch row-for-row."""
        src = str(tmp_path / "tr_src")
        batch = _tr(spark, [
            ("a", 0, "user", "q", None, 0),
            ("a", 1, "assistant", "r", None, 1),
            ("b", 0, "tool", "t", "calc", 0),
        ])
        batch.write.mode("overwrite").parquet(src)
        schema = ("conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")
        stream = spark.readStream.schema(schema).parquet(src)
        assert stream.isStreaming
        q = (
            loss_mask(stream).select("conv_id", "turn_idx", "loss_weight")
            .writeStream.format("memory").queryName("lm_stream")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = sorted(map(tuple, spark.table("lm_stream").collect()))
        exp = sorted(map(tuple, loss_mask(spark.read.parquet(src))
                         .select("conv_id", "turn_idx", "loss_weight").collect()))
        assert got == exp

    def test_sft_export_streams_in_complete_mode(self, spark, tmp_path):
        """sft_export is one groupBy agg, so it streams with complete
        output mode; drained output must match the batch export."""
        from feature_engineering_tk_spark.operators.transcripts import sft_export

        src = str(tmp_path / "tr_sft_src")
        batch = _tr(spark, [
            ("a", 0, "user", "hello", None, 0),
            ("a", 1, "assistant", "world", None, 1),
            ("b", 0, "user", "bye", None, 0),
        ])
        batch.write.mode("overwrite").parquet(src)
        schema = ("conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            sft_export(stream)
            .writeStream.format("memory").queryName("sft_stream")
            .outputMode("complete")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = sorted(r["json_line"] for r in spark.table("sft_stream").collect())
        exp = sorted(r["json_line"]
                     for r in sft_export(spark.read.parquet(src)).collect())
        assert got == exp


class TestLatencyEchoProperty:
    """response_latency and echo_rate vs brute-force simulators on
    arbitrary role/text/clock sequences."""

    def test_random_conversations_match_simulators(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        word = st.sampled_from(["alpha", "beta", "gamma", "delta", ""])
        turn = st.tuples(
            st.sampled_from(["user", "assistant", "tool"]),
            st.lists(word, min_size=0, max_size=4).map(" ".join),
            st.integers(min_value=0, max_value=50),
        )

        @settings(max_examples=12, deadline=None,
                  suppress_health_check=[HealthCheck.function_scoped_fixture,
                                         HealthCheck.too_slow])
        @given(turns=st.lists(turn, min_size=1, max_size=10))
        def run(turns):
            rows = [("c", i, r, t, None, s) for i, (r, t, s) in enumerate(turns)]
            df = _tr(spark, rows)

            # simulator: latency
            exp_lat = {}
            last_user = None
            for i, (r, _t, s) in enumerate(turns):
                exp_lat[i] = float(s - last_user) if (
                    r == "assistant" and last_user is not None) else None
                if r == "user":
                    last_user = s
            got_lat = {r["turn_idx"]: r["latency_s"]
                       for r in response_latency(df).collect()}
            assert got_lat == exp_lat

            # simulator: echo rate (distinct whitespace tokens)
            exp_echo = {}
            last_user_toks = None
            for i, (r, t, _s) in enumerate(turns):
                toks = set(x for x in t.split() if x)
                if r == "assistant" and last_user_toks is not None and toks:
                    exp_echo[i] = len(toks & last_user_toks) / len(toks)
                else:
                    exp_echo[i] = None
                if r == "user":
                    last_user_toks = set(x for x in t.split() if x)
            got_echo = {r["turn_idx"]: r["echo_rate"]
                        for r in echo_rate(df).collect()}
            for i in exp_echo:
                if exp_echo[i] is None:
                    assert got_echo[i] is None, (i, turns)
                else:
                    assert got_echo[i] == pytest.approx(exp_echo[i]), (i, turns)

        run()


class TestDetectLoops:
    def test_run_lengths_and_flag(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import detect_loops

        df = _tr(spark, [
            ("a", 0, "assistant", "retry", "calc", 0),
            ("a", 1, "assistant", "retry", "calc", 1),
            ("a", 2, "assistant", "retry", "calc", 2),   # run of 3
            ("a", 3, "assistant", "done", None, 3),
            ("b", 0, "user", "q", None, 0),
            ("b", 1, "assistant", "r", None, 1),
        ])
        out = {r["conv_id"]: r for r in detect_loops(df).collect()}
        assert out["a"]["max_consecutive_repeats"] == 3
        assert out["a"]["has_loop"]
        assert out["a"]["n_repeated_turns"] == 2   # 4 turns, 2 distinct
        assert out["b"]["max_consecutive_repeats"] == 1
        assert not out["b"]["has_loop"]
        assert out["b"]["n_repeated_turns"] == 0

    def test_nonconsecutive_repeat_counts_but_no_run(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import detect_loops

        df = _tr(spark, [
            ("a", 0, "user", "x", None, 0),
            ("a", 1, "assistant", "y", None, 1),
            ("a", 2, "user", "x", None, 2),    # verbatim repeat, not a run
        ])
        r = detect_loops(df).first()
        assert r["n_repeated_turns"] == 1
        assert r["max_consecutive_repeats"] == 1 and not r["has_loop"]

    def test_role_distinguishes_identical_text(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import detect_loops

        df = _tr(spark, [
            ("a", 0, "user", "ok", None, 0),
            ("a", 1, "assistant", "ok", None, 1),   # same text, other role
        ])
        r = detect_loops(df).first()
        assert r["max_consecutive_repeats"] == 1 and r["n_repeated_turns"] == 0

    def test_min_repeats_threshold(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import detect_loops

        df = _tr(spark, [
            ("a", 0, "tool", "t", "calc", 0),
            ("a", 1, "tool", "t", "calc", 1),
        ])
        assert not detect_loops(df).first()["has_loop"]
        assert detect_loops(df, min_repeats=2).first()["has_loop"]


class TestSftExportProperty:
    def test_arbitrary_text_round_trips(self, spark):
        import json

        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from feature_engineering_tk_spark.operators.transcripts import sft_export

        text = st.text(
            alphabet=st.characters(min_codepoint=0, max_codepoint=0x2FF),
            max_size=30,
        )

        @settings(max_examples=15, deadline=None,
                  suppress_health_check=[HealthCheck.function_scoped_fixture,
                                         HealthCheck.too_slow])
        @given(texts=st.lists(text, min_size=1, max_size=4))
        def run(texts):
            rows = [("c", i, "user", t, None, i) for i, t in enumerate(texts)]
            line = sft_export(_tr(spark, rows)).first()["json_line"]
            doc = json.loads(line)          # must always be valid JSON
            expected = [
                "".join(ch for ch in t if ord(ch) >= 0x20 or ch in "\n\r\t")
                for t in texts
            ]
            assert [m["content"] for m in doc["messages"]] == expected

        run()


class TestDedupProperty:
    def test_fingerprint_partition_matches_sequence_partition(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        # small alphabets force collisions between conversations
        turn = st.tuples(st.sampled_from(["user", "assistant"]),
                         st.sampled_from(["a", "b"]))
        conv = st.lists(turn, min_size=1, max_size=3)

        @settings(max_examples=12, deadline=None,
                  suppress_health_check=[HealthCheck.function_scoped_fixture,
                                         HealthCheck.too_slow])
        @given(convs=st.lists(conv, min_size=2, max_size=6))
        def run(convs):
            rows = []
            for ci, turns in enumerate(convs):
                for i, (r, t) in enumerate(turns):
                    rows.append((f"c{ci}", i, r, t, None, i))
            out = {r["conv_id"]: r
                   for r in dedup_conversations(_tr(spark, rows)).collect()}
            # brute force: group by the exact (role, text) sequence
            seqs = {f"c{ci}": tuple(turns) for ci, turns in enumerate(convs)}
            for a in seqs:
                for b in seqs:
                    same_seq = seqs[a] == seqs[b]
                    same_fp = out[a]["conv_fp"] == out[b]["conv_fp"]
                    assert same_seq == same_fp, (a, b, seqs[a], seqs[b])
            # winner is the lexicographically smallest conv_id per group
            for cid, r in out.items():
                group = sorted(c for c in seqs if seqs[c] == seqs[cid])
                assert r["kept_conv_id"] == group[0]
                assert r["is_duplicate"] == (cid != group[0])

        run()


def test_context_truncate_keeps_head_and_longest_suffix(spark):
    from feature_engineering_tk_spark.operators.transcripts import context_truncate

    rows = [
        # conv A: head=4 tokens, turns of 3/2/2 tokens, budget 8 →
        # head + last two turns (4) fit; turn 1 (3 tokens) would make 11
        ("A", 0, "sys prompt here now"),
        ("A", 1, "one two three"),
        ("A", 2, "four five"),
        ("A", 3, "six seven"),
        # conv B: head alone (9) exceeds the budget but must stay
        ("B", 0, "a b c d e f g h i"),
        ("B", 1, "x"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {
        (r["conv_id"], r["turn_idx"]): (r["kept"], r["n_tokens"])
        for r in context_truncate(df, max_tokens=8, keep_first=1).collect()
    }
    assert got[("A", 0)] == (True, 4)
    assert got[("A", 1)] == (False, 3)
    assert got[("A", 2)] == (True, 2)
    assert got[("A", 3)] == (True, 2)
    assert got[("B", 0)] == (True, 9)  # head survives its own overflow
    assert got[("B", 1)] == (False, 1)
    # kept turns always form head + contiguous suffix
    for conv in ("A", "B"):
        kept_idx = sorted(i for (c, i), (k, _n) in got.items() if c == conv and k)
        tail = [i for i in kept_idx if i >= 1]
        assert tail == list(range(min(tail), max(tail) + 1)) if tail else True


def test_preference_pairs_tiebreak_and_degenerate_drop(spark):
    from feature_engineering_tk_spark.operators.transcripts import preference_pairs

    rows = [
        (1, 10, 0.5), (1, 11, 0.9), (1, 12, 0.9),   # chosen tie → min id 11
        (2, 20, 0.3), (2, 21, 0.3),                  # all tie → dropped
        (3, 30, 0.7),                                # singleton → dropped
        (4, 40, 0.1), (4, 41, 0.8), (4, 42, 0.1),   # rejected tie → min id 40
    ]
    df = spark.createDataFrame(rows, "prompt_id long, response_id long, score double")
    got = {r["prompt_id"]: r.asDict() for r in preference_pairs(df).collect()}
    assert set(got) == {1, 4}
    assert got[1]["chosen_id"] == 11 and got[1]["rejected_id"] == 10
    assert got[4]["chosen_id"] == 41 and got[4]["rejected_id"] == 40
    assert got[4]["margin"] == pytest.approx(0.7)


def test_length_buckets_edges_and_overflow(spark):
    from feature_engineering_tk_spark.functions.text import length_buckets

    rows = [
        (0, " ".join(["w"] * 16)),   # exactly at edge 16
        (1, " ".join(["w"] * 17)),   # → 32
        (2, ""),                     # 0 tokens → bucket 16
        (3, " ".join(["w"] * 9000)), # overflow → -1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["bucket"]: r.asDict() for r in length_buckets(df).collect()}
    assert got[16]["n_docs"] == 2 and got[16]["padding_tokens"] == 16
    assert got[32]["n_docs"] == 1 and got[32]["padding_tokens"] == 15
    assert got[-1]["n_docs"] == 1 and got[-1]["padding_tokens"] == 0
    assert got[-1]["padding_frac"] is None
    assert got[16]["padding_frac"] == pytest.approx(16 / 32.0)


# ------------------------------------------------------ discounted return


def _reward_fixture(spark):
    # deliberately unsorted turn order: the operator must sort
    return spark.createDataFrame(
        [("c1", 2, 4.0), ("c1", 0, 1.0), ("c1", 1, 2.0), ("c2", 0, 5.0)],
        "conv_id string, turn_idx int, reward double",
    )


def test_discounted_return_past_recurrence(spark):
    from feature_engineering_tk_spark.operators.transcripts import discounted_return

    out = discounted_return(_reward_fixture(spark), gamma=0.5)
    got = {(r.conv_id, r.turn_idx): r.discounted_return for r in out.collect()}
    # G = [1, 0.5·1+2, 0.5·2.5+4] — exact binary values
    assert got[("c1", 0)] == 1.0
    assert got[("c1", 1)] == 2.5
    assert got[("c1", 2)] == 5.25
    assert got[("c2", 0)] == 5.0


def test_discounted_return_future_direction_opt_in(spark):
    from feature_engineering_tk_spark.operators.transcripts import discounted_return

    out = discounted_return(_reward_fixture(spark), gamma=0.5, allow_future=True)
    got = {(r.conv_id, r.turn_idx): r.discounted_return for r in out.collect()}
    # G_i = r_i + 0.5·G_{i+1}: [1+0.5·4, 2+0.5·4, 4]
    assert got[("c1", 2)] == 4.0
    assert got[("c1", 1)] == 4.0
    assert got[("c1", 0)] == 3.0


def test_discounted_return_rejects_bad_gamma(spark):
    from feature_engineering_tk_spark.operators.transcripts import discounted_return

    with pytest.raises(ValueError):
        discounted_return(_reward_fixture(spark), gamma=1.5)


# -------------------------------------------------------- prefix sharing


def test_prefix_sharing_groups_and_savings(spark):
    from feature_engineering_tk_spark.operators.transcripts import prefix_sharing

    df = spark.createDataFrame(
        [
            ("c1", 0, "you are helpful"), ("c1", 1, "hi there"),
            ("c2", 0, "you are helpful"), ("c2", 1, "hi there"),
            ("c2", 2, "IGNORED: beyond k"),
            ("c3", 0, "different system"), ("c3", 1, "hi there"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    rows = prefix_sharing(df, k=2).collect()
    by_example = {r.example_conv: r for r in rows}
    shared = by_example["c1"]
    assert shared.n_convs == 2
    assert shared.prefix_tokens == 5  # 3 + 2 whitespace tokens
    assert shared.saved_tokens == 5  # (2-1)·5
    solo = by_example["c3"]
    assert solo.n_convs == 1 and solo.saved_tokens == 0


def test_prefix_sharing_rejects_bad_k(spark):
    from feature_engineering_tk_spark.operators.transcripts import prefix_sharing

    df = spark.createDataFrame([("c", 0, "x")], "conv_id string, turn_idx int, text string")
    with pytest.raises(ValueError):
        prefix_sharing(df, k=0)


# --------------------------------------------------------- branch points


def test_branch_points_finds_forks(spark):
    from feature_engineering_tk_spark.operators.transcripts import branch_points

    df = spark.createDataFrame(
        [
            ("c1", 0, "a"), ("c1", 1, "b"),
            ("c2", 0, "a"), ("c2", 1, "c"),
            ("c3", 0, "a"), ("c3", 1, "b"),
            ("c4", 0, "x"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    rows = sorted(branch_points(df).collect(), key=lambda r: r.depth)
    assert len(rows) == 2
    # depth 0: all four convs share the empty prefix, next ∈ {a, x}
    assert (rows[0].depth, rows[0].n_convs, rows[0].n_branches) == (0, 4, 2)
    # depth 1: c1/c2/c3 share prefix 'a', next ∈ {b, c}
    assert (rows[1].depth, rows[1].n_convs, rows[1].n_branches) == (1, 3, 2)


def test_branch_points_no_fork_when_continuations_agree(spark):
    from feature_engineering_tk_spark.operators.transcripts import branch_points

    df = spark.createDataFrame(
        [("c1", 0, "a"), ("c2", 0, "a")],
        "conv_id string, turn_idx int, text string",
    )
    # two convs share the empty prefix but both continue with 'a'
    assert branch_points(df).count() == 0


# ------------------------------------------------------- tool transitions


def test_tool_transitions_markov_table(spark):
    from feature_engineering_tk_spark.operators.transcripts import tool_transitions

    df = spark.createDataFrame(
        [
            ("c1", 0, "tool", "search"),
            ("c1", 1, "assistant", None),  # non-tool turn: ignored
            ("c1", 2, "tool", "search"),
            ("c1", 3, "tool", "fetch"),
            ("c2", 0, "tool", "search"),
        ],
        "conv_id string, turn_idx int, role string, tool string",
    )
    rows = {(r.src_tool, r.dst_tool): r for r in tool_transitions(df).collect()}
    # c1: <start>→search→search→fetch; c2: <start>→search
    assert rows[("<start>", "search")].n_transitions == 2
    assert rows[("<start>", "search")].p_transition == 1.0
    assert rows[("search", "search")].n_transitions == 1
    assert rows[("search", "fetch")].n_transitions == 1
    assert rows[("search", "search")].p_transition == 0.5
    # transitions never cross conversations
    assert ("fetch", "search") not in rows
    assert len(rows) == 3


# --------------------------------------------------- conversation outcome


def test_conversation_outcome_heuristics(spark):
    from feature_engineering_tk_spark.operators.transcripts import (
        conversation_outcome,
    )

    df = spark.createDataFrame(
        [
            ("good", 0, "user", "help me"),
            ("good", 1, "assistant", "done!"),
            ("good", 2, "user", "THANKS a lot"),
            ("good", 3, "assistant", "anytime"),
            ("hanging", 0, "user", "hello?"),
            ("empty_end", 0, "user", "hi"),
            ("empty_end", 1, "assistant", "   "),
        ],
        "conv_id string, turn_idx int, role string, text string",
    )
    rows = {r.conv_id: r for r in conversation_outcome(df).collect()}
    g = rows["good"]
    assert g.last_role == "assistant" and g.ended_answered
    assert g.user_thanked and g.last_user_turn == 2 and g.last_assistant_turn == 3
    h = rows["hanging"]
    assert h.last_role == "user" and not h.ended_answered
    assert not h.user_thanked and h.last_assistant_turn is None
    e = rows["empty_end"]  # whitespace-only final assistant turn ≠ answered
    assert e.last_role == "assistant" and not e.ended_answered


# --------------------------------------------------- timestamp repair


def test_repair_timestamps_running_max(spark):
    import datetime as dt

    from feature_engineering_tk_spark.operators.transcripts import repair_timestamps

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [
            ("c", 0, t0),
            ("c", 1, t0 - dt.timedelta(minutes=5)),  # clock went backwards
            ("c", 2, t0 + dt.timedelta(minutes=1)),
        ],
        "conv_id string, turn_idx int, ts timestamp",
    )
    rows = {r.turn_idx: r for r in repair_timestamps(df).collect()}
    assert rows[1].ts == t0 and rows[1].ts_was_repaired
    assert rows[0].ts == t0 and not rows[0].ts_was_repaired
    assert rows[2].ts == t0 + dt.timedelta(minutes=1) and not rows[2].ts_was_repaired


# ------------------------------------------------------- dialog acts


def test_dialog_acts_precedence(spark):
    from feature_engineering_tk_spark.operators.transcripts import dialog_acts

    df = spark.createDataFrame(
        [
            (0, "What time is it"),      # interrogative first word
            (1, "the answer is 4?"),     # trailing question mark
            (2, "run the tests"),        # imperative verb
            (3, "it works"),             # statement
            (4, ""),                     # empty → other
            (5, None),                   # null → other
            (6, "  Write it down  "),    # trims + case-folds
        ],
        "i int, text string",
    )
    got = {r.i: r.dialog_act for r in dialog_acts(df).collect()}
    assert got == {
        0: "question", 1: "question", 2: "command",
        3: "statement", 4: "other", 5: "other", 6: "command",
    }


def test_dialog_act_mix_shares(spark):
    from feature_engineering_tk_spark.operators.transcripts import dialog_act_mix

    df = spark.createDataFrame(
        [("user", "what?"), ("user", "hello there"), ("assistant", "done")],
        "role string, text string",
    )
    rows = {(r.role, r.dialog_act): r for r in dialog_act_mix(df).collect()}
    assert rows[("user", "question")].share == 0.5
    assert rows[("assistant", "statement")].share == 1.0


def test_tool_cooccurrence_pairs(spark):
    from feature_engineering_tk_spark.operators.transcripts import tool_cooccurrence

    df = spark.createDataFrame(
        [
            ("c1", "tool", "search"), ("c1", "tool", "fetch"),
            ("c1", "tool", "search"),            # duplicate call: distinct
            ("c2", "tool", "search"), ("c2", "tool", "fetch"),
            ("c3", "tool", "search"),
            ("c3", "assistant", None),           # non-tool: ignored
        ],
        "conv_id string, role string, tool string",
    )
    rows = {(r.tool_a, r.tool_b): r for r in tool_cooccurrence(df).collect()}
    pair = rows[("fetch", "search")]  # pinned orientation tool_a < tool_b
    assert pair.n_convs_both == 2
    assert pair.n_convs_a == 2 and pair.n_convs_b == 3
    assert len(rows) == 1


class TestMergeAdjacentTurns:
    def test_runs_collapse_and_reindex(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import (
            merge_adjacent_turns,
        )

        df = _tr(spark, [
            ("a", 0, "user", "hi", None, 0),
            ("a", 1, "user", "are you there?", None, 5),   # client retry
            ("a", 2, "assistant", "yes", None, 6),
            ("a", 3, "assistant", "how can I help", "search", 7),  # stream split
            ("a", 4, "assistant", "?", "browse", 8),
            ("a", 5, "user", "ok", None, 9),
            ("b", 0, "user", "solo", None, 0),
        ])
        out = {
            (r["conv_id"], r["turn_idx"]): r
            for r in merge_adjacent_turns(df).collect()
        }
        assert len(out) == 4
        a0, a1, a2 = out[("a", 0)], out[("a", 1)], out[("a", 2)]
        assert a0["role"] == "user" and a0["text"] == "hi\nare you there?"
        assert a0["n_merged"] == 2 and a0["ts"] == T0
        assert a1["role"] == "assistant"
        assert a1["text"] == "yes\nhow can I help\n?"
        assert a1["tool"] == "search" and a1["n_merged"] == 3  # first non-null
        assert a1["ts"] == T0 + dt.timedelta(seconds=6)
        assert a2["role"] == "user" and a2["text"] == "ok" and a2["tool"] is None
        assert out[("b", 0)]["n_merged"] == 1

    def test_alternation_repaired(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import (
            merge_adjacent_turns,
            validate_transcripts,
        )

        df = _tr(spark, [
            ("a", 0, "user", "q", None, 0),
            ("a", 1, "assistant", "r1", None, 1),
            ("a", 2, "assistant", "r2", None, 2),
        ])
        assert not validate_transcripts(df).first()["is_valid"]
        repaired = merge_adjacent_turns(df)
        assert validate_transcripts(repaired).first()["is_valid"]

    def test_single_exchange_plan(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import (
            merge_adjacent_turns,
        )

        from feature_engineering_tk_spark.plans.inspect import inspect

        df = _tr(spark, [("a", 0, "user", "x", None, 0)])
        plan = inspect(merge_adjacent_turns(df))
        # the groupBy clusters on a superset of the window key: the
        # window's single conv_id exchange must be the ONLY shuffle
        assert len(plan.shuffles) + plan.broadcasts <= 1, plan


class TestNearLoops:
    def _mk(self, spark, rows):
        return spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string"
        )

    def test_paraphrase_loop_caught(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import near_loops

        rows = [
            ("c1", 0, "user", "please fix the bug"),
            ("c1", 1, "assistant", "I apologize, let me try again with option A"),
            ("c1", 2, "assistant", "I apologize, let me try again with option B"),
            ("c1", 3, "assistant", "I apologize, let me try again with option C"),
            ("c2", 0, "assistant", "here is the summary you asked for"),
            ("c2", 1, "assistant", "now running the tests as requested"),
        ]
        got = {
            r["conv_id"]: r
            for r in near_loops(self._mk(spark, rows), similarity=0.85, min_repeats=3).collect()
        }
        assert got["c1"]["has_near_loop"] is True
        assert got["c1"]["max_consecutive_near"] == 3
        assert got["c1"]["n_near_repeat_pairs"] == 2
        assert got["c2"]["has_near_loop"] is False
        assert got["c2"]["max_consecutive_near"] == 1

    def test_verbatim_is_similarity_one_and_detect_loops_agreement(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import (
            detect_loops,
            near_loops,
        )

        rows = [("c", i, "assistant", "same text") for i in range(4)]
        df = self._mk(spark, rows)
        nl = near_loops(df, similarity=0.99, min_repeats=3).first()
        dl = detect_loops(df, min_repeats=3).first()
        assert nl["max_similarity"] == 1.0
        # a verbatim loop is a near loop at any threshold; chain lengths agree
        assert nl["max_consecutive_near"] == dl["max_consecutive_repeats"] == 4
        assert nl["has_near_loop"] is True and dl["has_loop"]

    def test_role_filter_and_absent_convs(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import near_loops

        rows = [
            ("c1", 0, "user", "a"), ("c1", 1, "user", "a"),
            ("c2", 0, "assistant", "x"),
        ]
        out = near_loops(self._mk(spark, rows), similarity=0.5)
        got = {r["conv_id"] for r in out.collect()}
        assert got == {"c2"}  # user-only conv absent under default roles

    def test_broken_chain_resets(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import near_loops

        rows = [
            ("c", 0, "assistant", "aaaa aaaa"),
            ("c", 1, "assistant", "aaaa aaab"),   # near
            ("c", 2, "assistant", "totally different content here"),  # break
            ("c", 3, "assistant", "totally different content here"),  # near
        ]
        r = near_loops(self._mk(spark, rows), similarity=0.85, min_repeats=3).first()
        assert r["n_near_repeat_pairs"] == 2
        assert r["max_consecutive_near"] == 2  # two chains of 2 turns, never 3
        assert r["has_near_loop"] is False

    def test_validation(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import near_loops

        df = self._mk(spark, [("c", 0, "assistant", "x")])
        with pytest.raises(ValueError):
            near_loops(df, similarity=0.0)
        with pytest.raises(ValueError):
            near_loops(df, min_repeats=1)


class TestToolArgSchema:
    def test_schema_census(self, spark):
        from feature_engineering_tk_spark.operators.transcripts import (
            tool_arg_schema,
        )

        rows = [
            ("search", '{"query": "spark", "limit": 10}'),
            ("search", '{"query": "duck", "limit": 20, "fuzzy": true}'),
            ("search", '{"query": "iceberg"}'),
            ("search", "not json at all"),
            ("calc", '{"x": 1.5, "y": -2}'),
            ("calc", '{"x": 2.5, "y": 3, "label": null}'),
            (None, '{"ignored": 1}'),
        ]
        df = spark.createDataFrame(rows, "tool string, tool_args string")
        got = {
            (r["tool"], r["key"]): r for r in tool_arg_schema(df).collect()
        }
        # share over PARSED calls (3 for search — the malformed one is
        # only the denominator's complement)
        q = got[("search", "query")]
        assert q["n_occurrences"] == 3 and q["share"] == pytest.approx(1.0)
        assert q["n_str"] == 3
        lim = got[("search", "limit")]
        assert lim["share"] == pytest.approx(2 / 3) and lim["n_int"] == 2
        assert got[("search", "fuzzy")]["n_bool"] == 1
        assert got[("calc", "x")]["n_float"] == 2
        assert got[("calc", "y")]["n_int"] == 2  # negative int classified
        assert got[("calc", "label")]["n_null"] == 1
        # null-tool rows excluded entirely
        assert all(t is not None for t, _ in got)

    def test_missing_column(self, spark):
        from feature_engineering_tk_spark.exceptions import ColumnNotFoundError
        from feature_engineering_tk_spark.operators.transcripts import (
            tool_arg_schema,
        )

        df = spark.createDataFrame([("t", "{}")], "tool string, tool_args string")
        with pytest.raises(ColumnNotFoundError):
            tool_arg_schema(df, args_col="nope")
