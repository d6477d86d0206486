"""Property-based parity tests (hypothesis) for the SURVEY §7 'hard
parts': pandas edge semantics that are easy to get almost-right —
qcut/cut edges, positional interpolation, titlecase, mode tie-breaks,
label-encode rank — checked against pandas on arbitrary generated
frames, not hand-picked examples.

One shared Spark round-trip helper keeps runtime sane (each property
runs a small number of examples; the point is edge discovery, not
volume)."""

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=32
)


@given(vals=st.lists(finite, min_size=8, max_size=40), bins=st.integers(2, 5))
@SET
def test_qcut_parity(spark, vals, bins):
    from feature_engineering_tk_spark.transforms.binning import QuantileBinner

    pdf = pd.DataFrame({"v": np.array(vals, dtype=float)})
    try:
        expected = pd.qcut(pdf["v"], bins, labels=False, duplicates="drop")
    except ValueError:
        return  # constant column — engine raises too (covered in unit tests)
    if expected.isna().all():
        return
    df = spark.createDataFrame(pdf)
    try:
        got = (
            QuantileBinner(bins=bins)
            .fit(df, "v")
            .transform(df, out="b")
            .toPandas()
            .sort_values("v")["b"]
        )
    except ValueError:
        assert pdf["v"].nunique() <= 1
        return
    exp = expected[pdf["v"].sort_values().index]
    assert [x if not pd.isna(x) else None for x in got] == [
        x if not pd.isna(x) else None for x in exp
    ]


@given(
    vals=st.lists(finite, min_size=4, max_size=30),
    bins=st.integers(2, 5),
)
@SET
def test_uniform_cut_parity(spark, vals, bins):
    from feature_engineering_tk_spark.transforms.binning import UniformBinner

    pdf = pd.DataFrame({"v": np.array(vals, dtype=float)})
    if pdf["v"].nunique() <= 1:
        return
    expected = pd.cut(pdf["v"], bins, labels=False)
    df = spark.createDataFrame(pdf)
    got = (
        UniformBinner(bins=bins)
        .fit(df, "v")
        .transform(df, out="b")
        .toPandas()
        .sort_values("v")["b"]
    )
    exp = expected[pdf["v"].sort_values().index]
    assert [x if not pd.isna(x) else None for x in got] == [
        x if not pd.isna(x) else None for x in exp
    ]


@given(
    vals=st.lists(st.one_of(st.none(), finite), min_size=3, max_size=25),
)
@SET
def test_interpolate_parity(spark, vals):
    from feature_engineering_tk_spark.operators.window_features import interpolate_linear

    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(vals),
            "turn_idx": range(len(vals)),
            "v": [float(x) if x is not None else np.nan for x in vals],
        }
    )
    expected = pdf["v"].interpolate(method="linear")
    df = spark.createDataFrame(pdf)
    got = (
        interpolate_linear(df, ["v"], entity="conv_id", order="turn_idx")
        .toPandas()
        .sort_values("turn_idx")["v"]
        .reset_index(drop=True)
    )
    for g, e in zip(got, expected):
        if pd.isna(e):
            assert pd.isna(g)
        else:
            assert math.isclose(g, e, rel_tol=1e-9, abs_tol=1e-12)


text_strategy = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd", "Zs"),
        whitelist_characters="-_'.,!?",
        max_codepoint=0x2FF,
    ),
    max_size=30,
)


@given(texts=st.lists(text_strategy, min_size=1, max_size=15))
@SET
def test_titlecase_parity(spark, texts):
    """pandas str.title() titlecases after ANY non-alpha — the initcap
    trap (SURVEY §2.13); exact string equality required."""
    from feature_engineering_tk_spark.functions.strings import clean_strings

    pdf = pd.DataFrame({"i": range(len(texts)), "t": texts})
    df = spark.createDataFrame(pdf)
    got = (
        clean_strings(df, ["t"], ["title"])
        .toPandas()
        .sort_values("i")["t"]
        .tolist()
    )
    assert got == pdf["t"].str.title().tolist()


@given(
    vals=st.lists(st.integers(0, 5), min_size=1, max_size=40),
)
@SET
def test_mode_impute_smallest_tie(spark, vals):
    """pandas mode()[0] = smallest among max-count ties."""
    from feature_engineering_tk_spark.transforms.impute import Imputer

    pdf = pd.DataFrame(
        {"i": range(len(vals) + 1), "v": [float(x) for x in vals] + [np.nan]}
    )
    df = spark.createDataFrame(pdf)
    out = Imputer(strategy="mode").fit(df, ["v"]).transform(df).toPandas()
    filled = out.sort_values("i")["v"].iloc[-1]
    assert filled == pdf["v"].mode().iloc[0]


@given(cats=st.lists(st.sampled_from(["a", "b", "c", "d", "E", "ß"]), min_size=1, max_size=30))
@SET
def test_label_encode_rank_parity(spark, cats):
    """codes = rank in lexicographically sorted uniques (sklearn
    LabelEncoder fit on str values)."""
    from feature_engineering_tk_spark.transforms.encode import LabelEncoder

    pdf = pd.DataFrame({"i": range(len(cats)), "c": cats})
    df = spark.createDataFrame(pdf)
    out = LabelEncoder().fit(df, "c").transform(df, out="code").toPandas()
    got = out.sort_values("i")["code"].tolist()
    vocab = {v: i for i, v in enumerate(sorted(set(cats)))}
    assert got == [vocab[c] for c in cats]


_ASOF_BASE_US = 1_900_000_000_000_000  # year-2030 epoch µs


def _merge_asof_oracle(left, right, direction, tol_us):
    """pandas ``merge_asof`` with the engine's tie rule made explicit:
    among right rows sharing (entity, ts) the greatest (ts, values) row
    wins, nulls ordered first as in Spark struct ordering. Sorting
    ascending puts that row last, which is pandas' backward pick; the
    forward pick is the first and nearest mixes both, so those see only
    each group's last row."""
    r = right.sort_values(["ts", "v", "s"], na_position="first", kind="mergesort")
    if direction != "backward":
        r = r.drop_duplicates(["conv_id", "ts"], keep="last")
    out = pd.merge_asof(
        left.sort_values("ts", kind="mergesort"),
        r,
        on="ts",
        by="conv_id",
        direction=direction,
        allow_exact_matches=True,
        tolerance=None if tol_us is None else pd.Timedelta(microseconds=tol_us),
    )
    return out.sort_values("aid")


@given(
    # "z" never appears on the right; None is a NULL entity on both sides
    left=st.lists(
        st.tuples(st.sampled_from(["a", "b", "z", None]), st.integers(0, 40)),
        min_size=1,
        max_size=12,
    ),
    # few distinct (entity, ts) pairs: duplicates and exact ties are common
    right=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", None]),
            st.integers(0, 40),
            st.one_of(st.none(), st.integers(0, 2)),
            st.one_of(st.none(), st.sampled_from(["x", "y"])),
        ),
        min_size=1,
        max_size=12,
    ),
    tol_us=st.one_of(st.none(), st.integers(0, 12)),
)
# the latest row's value is NULL: merge_asof keeps it null
@example(left=[("a", 10)], right=[("a", 5, 1, "x"), ("a", 8, None, "x")], tol_us=None)
@SET
def test_asof_join_matches_pandas_merge_asof(spark, left, right, tol_us):
    """Every as-of implementation == pandas.merge_asof, whole-row:
    asof_join in all three directions and asof_join_packed (backward)
    under both joins Spark picks for it (broadcast hash by default,
    sort-merge with broadcasting off), over nullable values, duplicate
    and exactly-tied right timestamps, anchors before an entity's first
    row, entities absent from the right side, NULL entities and
    integer-µs tolerance edges."""
    from functools import partial

    from feature_engineering_tk_spark.operators.asof import asof_join, asof_join_packed

    def ts(off):
        return pd.to_datetime([_ASOF_BASE_US + o for o in off], unit="us")

    left_pdf = pd.DataFrame(
        {
            "conv_id": pd.Series([e for e, _ in left], dtype=object),
            "aid": range(len(left)),
            "ts": ts([t for _, t in left]),
        }
    )
    right_pdf = pd.DataFrame(
        {
            "conv_id": pd.Series([r[0] for r in right], dtype=object),
            "ts": ts([r[1] for r in right]),
            "v": pd.Series([r[2] for r in right], dtype="float64"),
            "s": pd.Series([r[3] for r in right], dtype=object),
        }
    )
    lf = spark.createDataFrame(left_pdf, "conv_id string, aid long, ts timestamp")
    rf = spark.createDataFrame(right_pdf, "conv_id string, ts timestamp, v double, s string")
    tol_s = None if tol_us is None else tol_us / 1e6

    # name -> (direction, tolerance it runs with, implementation)
    runs = {
        f"asof_join[{d}]": (
            d,
            tol_us,
            partial(asof_join, direction=d, allow_future=True, tolerance_seconds=tol_s),
        )
        for d in ("backward", "forward", "nearest")
    }
    packed = partial(asof_join_packed, tolerance_seconds=tol_s)
    runs["asof_join_packed[broadcast]"] = ("backward", tol_us, packed)
    runs["asof_join_packed[sort-merge]"] = ("backward", tol_us, packed)

    def norm(xs):
        return [None if pd.isna(x) else x for x in xs]

    key = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(key)
    for name, (direction, tol, fn) in runs.items():
        spark.conf.set(key, "-1" if name.endswith("[sort-merge]") else default)
        try:
            got = fn(lf, rf, entity="conv_id", value_cols=["v", "s"], suffix="")
            got = got.orderBy("aid").toPandas()
        finally:
            spark.conf.set(key, default)
        exp = _merge_asof_oracle(left_pdf, right_pdf, direction, tol)
        for c in ("v", "s"):
            assert norm(got[c]) == norm(exp[c]), f"{name} {c} (tol_us={tol})"


@given(
    base=st.integers(1_900_000_000, 2_100_000_000),
    tol=st.integers(1, 600),
    # right-row offsets relative to each anchor, in seconds BEFORE it;
    # includes exactly-at-tolerance gaps, the boundary that flips under
    # epoch-second double subtraction (~2.4e-7 s cancellation at 2e9 s)
    offsets=st.lists(st.sampled_from([0, 1, -1]), min_size=1, max_size=8),
)
@SET
def test_asof_tolerance_boundary_large_epoch(spark, base, tol, offsets):
    """Gap == tolerance must MATCH (inclusive), gap == tolerance+1 must
    not, at year-2030+ epoch magnitudes — guards the integer-µs
    arithmetic in asof_join against the double-cancellation trap."""
    import pandas as pd

    from feature_engineering_tk_spark.operators.asof import asof_join

    # one anchor per offset, entities isolate the cases from each other
    anchors, rights = [], []
    for i, off in enumerate(offsets):
        eid = f"e{i}"
        at = base + i * 100_000
        anchors.append({"conv_id": eid, "aid": i, "ts": pd.Timestamp(at, unit="s")})
        rights.append(
            {"conv_id": eid, "ts": pd.Timestamp(at - (tol + off), unit="s"), "val": float(i)}
        )
    got = (
        asof_join(
            spark.createDataFrame(pd.DataFrame(anchors)),
            spark.createDataFrame(pd.DataFrame(rights)),
            entity="conv_id",
            value_cols=["val"],
            tolerance_seconds=float(tol),
            suffix="",
        )
        .orderBy("aid")
        .toPandas()
    )
    for i, off in enumerate(offsets):
        v = got["val"][i]
        if off <= 0:  # gap = tol or tol-1 → inside tolerance (inclusive)
            assert v == float(i), f"gap tol{'-1' if off < 0 else ''} must match (row {i})"
        else:  # gap = tol+1 → outside
            assert v is None or pd.isna(v), f"gap tol+1 must be nulled (row {i})"


@given(
    gaps=st.lists(st.integers(0, 4000), min_size=1, max_size=30),
    threshold=st.integers(1, 3600),
)
@SET
def test_sessionize_matches_pandas_cumsum(spark, gaps, threshold):
    """session_id == pandas (gap > threshold).cumsum() per entity."""
    import numpy as np
    import pandas as pd

    from feature_engineering_tk_spark.operators.window_features import sessionize

    ts = pd.to_datetime(np.cumsum([0] + gaps), unit="s")
    pdf = pd.DataFrame(
        {"conv_id": ["c"] * len(ts), "turn_idx": range(len(ts)), "ts": ts}
    )
    gap_s = pdf["ts"].diff().dt.total_seconds()
    expected = (gap_s > threshold).fillna(False).astype(int).cumsum().tolist()

    got = (
        sessionize(
            spark.createDataFrame(pdf),
            gap_seconds=float(threshold),
            entity="conv_id",
            ts="ts",
            order="turn_idx",
        )
        .orderBy("turn_idx")
        .toPandas()["session_id"]
        .tolist()
    )
    assert got == expected


@given(
    evs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 500), st.integers(0, 4)),
        min_size=0,
        max_size=40,
    ),
    within=st.one_of(st.none(), st.integers(1, 300)),
)
@SET
def test_funnel_matches_bruteforce(spark, evs, within):
    """funnel() fold vs a brute-force per-entity simulation: earliest
    strict-order completion of [e0, e1, e2] with optional budget from
    step 1, over arbitrary event soup (ties, repeats, off-funnel
    noise)."""
    import datetime as dt

    from feature_engineering_tk_spark.operators.funnel import funnel as spark_funnel

    t0 = dt.datetime(2024, 1, 1)
    steps = ["e0", "e1", "e2"]
    rows = [
        (u, t0 + dt.timedelta(seconds=s), f"e{e}") for u, s, e in evs
    ]
    if not rows:
        return
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["user_id"]: (r["steps_completed"], r["funnel_seconds"])
        for r in spark_funnel(
            df, steps, within_seconds=None if within is None else float(within)
        ).collect()
    }

    # brute force: replay events per user in (ts, step_idx) order
    by_user: dict[int, list[tuple[int, int]]] = {}
    for u, s, e in evs:
        idx = e if e < 3 else -1
        by_user.setdefault(u, []).append((s, idx))
    for u, seq in by_user.items():
        st_arr = [None, None, None]
        for s, idx in sorted(seq):
            for i in range(3):
                if st_arr[i] is None and idx == i:
                    prev_ok = i == 0 or (st_arr[i - 1] is not None and s > st_arr[i - 1])
                    if prev_ok and (
                        within is None or i == 0 or (s - st_arr[0]) <= within
                    ):
                        st_arr[i] = s
        done = 0
        for v in st_arr:
            if v is None:
                break
            done += 1
        span = float(st_arr[2] - st_arr[0]) if done == 3 else None
        assert got[u][0] == done, (u, seq, st_arr, got[u])
        assert got[u][1] == span, (u, seq, st_arr, got[u])
