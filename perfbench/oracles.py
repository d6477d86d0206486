"""pandas reference semantics the benchmark checks every op against.

These follow the reference toolkit's per-conversation pandas idioms:
groupby ``shift``, ``rolling(5, min_periods=1).mean``, ``cumsum``,
``ffill`` and ``merge_asof(by=conv_id, direction="backward",
allow_exact_matches=True)``, and its fitted statistics (median, mean,
population std, ``qcut`` quantile edges, sorted vocabularies, smoothed
target means). Each check raises ``CheckFailed`` with the
first difference it finds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

GAP_SECONDS = 1800.0
ORDER = ["conv_id", "ts", "turn_idx"]


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def backfill_features(turns: pd.DataFrame) -> pd.DataFrame:
    """The shipped feature job's columns, computed per conversation."""
    df = turns.sort_values(ORDER).reset_index(drop=True)
    g = df.groupby("conv_id", sort=False)
    gap = g["ts"].diff().dt.total_seconds()
    new_session = (gap.isna() | (gap > GAP_SECONDS)).astype(np.int64)
    df["session_id"] = new_session.groupby(df["conv_id"]).cumsum() - 1
    df["text_len_lag1"] = df["text"].str.len().groupby(df["conv_id"]).shift(1)
    df["turn_gap_s"] = gap
    df["tokens_roll_mean5"] = (
        g["tokens"].rolling(5, min_periods=1).mean().reset_index(level=0, drop=True)
    )
    df["tokens_cum_sum"] = g["tokens"].cumsum()
    df["score_ffill"] = g["score"].ffill()
    tools = df.loc[df["tool"].notna(), ["conv_id", "ts", "tool"]].rename(
        columns={"tool": "last_tool"}
    )
    out = pd.merge_asof(
        df.sort_values("ts"),
        tools.sort_values("ts"),
        on="ts",
        by="conv_id",
        direction="backward",
        allow_exact_matches=True,
    )
    out["ds"] = out["ts"].dt.date
    return out.sort_values(ORDER).reset_index(drop=True)


def fitted_state(turns: pd.DataFrame, impute_cols, scale_cols, bin_col, bins, smoothing) -> dict:
    """The facade chain's fitted statistics, from pandas."""
    df = turns.copy()
    medians = {c: float(df[c].median()) for c in impute_cols}
    for c in impute_cols:
        df[c] = df[c].fillna(medians[c])
    known = df[df["tool"].notna()]
    prior = known["label"].mean()
    per_tool = known.groupby("tool")["label"].agg(["count", "sum"])
    enc = {
        str(k): (r["sum"] + smoothing * prior) / (r["count"] + smoothing)
        for k, r in per_tool.iterrows()
    }
    scaled = {c: df[c].astype(float) for c in scale_cols}
    edges = df[bin_col].dropna().astype(float).quantile(np.linspace(0.0, 1.0, bins + 1)).tolist()
    return {
        "medians": medians,
        "role_vocab": sorted(df["role"].dropna().astype(str).unique().tolist()),
        "tool_vocab": sorted(df["tool"].dropna().astype(str).unique().tolist()),
        "target_prior": float(prior),
        "target_enc": enc,
        "center": {c: float(s.mean()) for c, s in scaled.items()},
        "scale": {c: float(s.std(ddof=0)) for c, s in scaled.items()},
        "edges": list(dict.fromkeys(edges)),
    }


def clean_text(text: pd.Series) -> pd.Series:
    """strip, lower, remove_punctuation, title — Python ``re``/``str``."""
    return (
        text.str.strip().str.lower().str.replace(r"[^\w\s]", "", regex=True).str.title()
    )


def same_values(name: str, got, want, rtol: float = 1e-9, atol: float = 1e-9) -> None:
    """Column equality: allclose (NaN == NaN) for numbers, exact otherwise."""
    got, want = pd.Series(got).reset_index(drop=True), pd.Series(want).reset_index(drop=True)
    expect(len(got) == len(want), f"{name}: {len(got)} rows, expected {len(want)}")
    if pd.api.types.is_numeric_dtype(want) and pd.api.types.is_numeric_dtype(got):
        ok = np.isclose(
            got.to_numpy(dtype=float), want.to_numpy(dtype=float), rtol=rtol, atol=atol, equal_nan=True
        )
    else:
        g = got.astype(object).where(got.notna(), None)
        w = want.astype(object).where(want.notna(), None)
        ok = np.array([a == b for a, b in zip(g, w)], dtype=bool)
    if not ok.all():
        i = int(np.argmin(ok))
        raise CheckFailed(f"{name}: row {i} is {got.iloc[i]!r}, expected {want.iloc[i]!r}")


def same_number(name: str, got, want, rtol: float = 1e-9) -> None:
    expect(
        got is not None and np.isclose(float(got), float(want), rtol=rtol, atol=1e-12, equal_nan=True),
        f"{name}: {got!r}, expected {want!r}",
    )
