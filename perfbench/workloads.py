"""The benchmark's workloads: their inputs, one op each, the check of
every op against the pandas oracle, and the layer isolations of the
traced run.

Each workload drives the engine only through its public entry points:
``jobs/feature_job.build_pipeline`` + ``Pipeline.run`` +
``sources.write_table`` (backfill) and the ``api`` facade +
``sources.write_table`` (fit_transform). Inputs come
from the transcript generator in ``datagen`` with the workload seed, are
written as parquet before anything is timed, and reach the engine
through ``sources.load_table``.

Why these two, and what each one bypasses:

- ``backfill``: the write-heavy, skewed batch job. Four conversations
  hold 1500 turns each (10% of the rows), so the window sort, the as-of
  exchange, the checkpoint write and the output write all see hot keys. It does not
  touch the transforms, the facade or the Arrow UDF.
- ``fit_transform``: the reference toolkit's per-column surface through
  the facade: many small fit jobs, driver round-trips and the Arrow
  ``title`` UDF, with no per-conversation shuffle, window or as-of join.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import oracles as O
from tracing import exchanges, stage_metrics, sum_stages, task_skew

from feature_engineering_tk_spark.api import DataPreprocessor, FeatureEngineer
from feature_engineering_tk_spark.datagen import TRANSCRIPT_SCHEMA, generate_transcripts_pandas
from feature_engineering_tk_spark.functions import strings
from feature_engineering_tk_spark.sources import load_table, write_table
from feature_engineering_tk_spark.transforms import state
from feature_engineering_tk_spark.transforms.binning import QuantileBinner
from feature_engineering_tk_spark.transforms.encode import LabelEncoder, OneHotEncoder, TargetEncoder
from feature_engineering_tk_spark.transforms.impute import Imputer
from feature_engineering_tk_spark.transforms.scale import Scaler
from feature_job import build_pipeline

GAP_SECONDS = O.GAP_SECONDS
# backfill's hot keys: HOT_CONVS conversations of HOT_TURNS turns, the
# first ones that reach it among HOT_POOL conversations of seed HOT_SEED.
# (Not 10^4 turns: beyond ~5000 turns the generator's float-second
# timestamps exceed 2**52 ns and Arrow refuses the lossy ns -> us cast.)
HOT_CONVS = 4
HOT_TURNS = 1500
HOT_POOL = 2000
HOT_SEED = 0
SAMPLE_CONVS = 20
STAGE_NAMES = ["sessionize", "lag_features", "rolling_features", "attach_last_tool"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


def write_transcripts(spark, path: str, seed: int, rows: int, hot_convs: int = 0) -> pd.DataFrame:
    """Write exactly ``rows`` generated turns to ``path`` and return them.

    ``hot_convs`` hot conversations of ``HOT_TURNS`` turns each come from
    one fixed generator seed, so every workload seed has the same hot
    keys and the same skew. The rest are conversations generated from
    ``seed`` in seeded random order, the last one cut to a prefix. A
    fixed row count and skew keep throughput comparable across seeds."""
    parts = []
    if hot_convs:
        pool = generate_transcripts_pandas(n_convs=HOT_POOL, seed=HOT_SEED, max_turns=HOT_TURNS)
        sizes = pool.groupby("conv_id").size()
        hot = sizes.index[sizes >= HOT_TURNS][:hot_convs]
        pool = pool[pool["conv_id"].isin(hot) & (pool["turn_idx"] < HOT_TURNS)]
        parts.append(pool.assign(conv_id="h" + pool["conv_id"]))
    body = generate_transcripts_pandas(n_convs=rows // 14, seed=seed)
    sizes = body.groupby("conv_id").size()
    order = sizes.index[np.random.default_rng(seed).permutation(len(sizes))]
    need = rows - hot_convs * HOT_TURNS
    cum = sizes[order].cumsum()
    n_keep = int(np.searchsorted(cum.to_numpy(), need)) + 1
    if n_keep > len(order):
        raise RuntimeError(f"seed {seed}: generator produced {int(cum.iloc[-1])} turns, {need} needed")
    take = sizes[order[:n_keep]].copy()
    take.iloc[-1] -= int(cum.iloc[n_keep - 1]) - need
    parts.append(body[body["turn_idx"] < body["conv_id"].map(take).fillna(0)])
    pdf = pd.concat(parts, ignore_index=True)
    spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).write.parquet(path)
    return pdf


def oracle_sample(turns: pd.DataFrame, seed: int) -> list[str]:
    """Seeded sample of conversations that always holds the longest."""
    sizes = turns.groupby("conv_id").size()
    hottest = sizes.idxmax()
    others = sizes.index.drop(hottest)
    rng = np.random.default_rng(seed + 1)
    picked = rng.choice(len(others), size=min(SAMPLE_CONVS, len(others)), replace=False)
    return [hottest, *others[np.sort(picked)]]


def in_sample(sample: list[str]):
    return F.col("conv_id").isin(sample)


class Workload:
    """``generate`` writes the inputs (untimed), ``register`` loads them
    into a session, ``op`` is one timed unit of work over ``rows`` input
    rows, ``check`` verifies the op's output against the oracle (untimed),
    ``layers`` gives the traced run's per-layer numbers."""

    name = ""
    rows = 0

    def __init__(self, base: str, seed: int):
        self.base = base
        self.seed = seed

    def path(self, name: str) -> str:
        return os.path.join(self.base, name)


class Backfill(Workload):
    name = "backfill"
    rows = 60_000

    def generate(self, spark) -> None:
        turns = write_transcripts(spark, self.path("turns"), self.seed, self.rows, HOT_CONVS)
        self.sample = oracle_sample(turns, self.seed)
        self.expected = O.backfill_features(turns[turns["conv_id"].isin(self.sample)])

    def register(self, spark) -> None:
        self.turns = load_table(spark, self.path("turns"), schema=TRANSCRIPT_SCHEMA)

    def op(self, spark, opdir: str, tr) -> dict:
        with tr.span("op") as span:
            pipe = build_pipeline(os.path.join(opdir, "work"), GAP_SECONDS)
            with tr.wrap(pipe, "_materialize", "pipeline.checkpoint"), tr.span("pipeline.run"):
                feat = pipe.run(spark, self.turns, resume=False)
            with tr.span("sources.write_table"):
                write_table(feat, os.path.join(opdir, "out"), partition_by=("ds",), mode="overwrite")
        return {"journal": pipe.journal_path, "out": os.path.join(opdir, "out"), "span": span}

    def check(self, spark, res: dict) -> None:
        with open(res["journal"]) as f:
            events = [json.loads(line) for line in f]
        O.expect(not any(e["event"] == "resume" for e in events), "journal shows a resume")
        ran = [e["stage"] for e in events if e["event"] == "stage"]
        O.expect(ran == STAGE_NAMES, f"journal stages {ran}, expected {STAGE_NAMES}")
        out = spark.read.parquet(res["out"])
        n = out.count()
        O.expect(n == self.rows, f"{n} output rows, expected {self.rows}")
        got = out.filter(in_sample(self.sample)).toPandas().sort_values(O.ORDER).reset_index(drop=True)
        want = self.expected
        for c in [
            "turn_idx", "text", "session_id", "text_len_lag1", "turn_gap_s",
            "tokens_roll_mean5", "tokens_cum_sum", "score_ffill", "last_tool", "ds",
        ]:
            O.same_values(c, got[c], want[c])

    def layers(self, spark, tr, res: dict) -> dict:
        stages = stage_metrics(spark)
        run = tr.named("pipeline.run")[-1]
        ckpt = [s for s in tr.descendants(run) if s["name"] == "pipeline.checkpoint"]
        write = tr.named("sources.write_table")[-1]
        out_bytes, out_files = dir_stats(res["out"])
        m = {
            "pipeline.checkpoint_s": sum(tr.duration(s) for s in ckpt),
            "pipeline.checkpoint_shuffle_bytes": sum(
                sum_stages(stages, tr.stages(s))["shuffleWriteBytes"] for s in ckpt
            ),
            "pipeline.metrics_s": tr.self_time(run),
            "pipeline.spark_jobs": len(tr.jobs(run)),
            "sources.write_s": tr.duration(write),
            "sources.output_bytes": out_bytes,
            "sources.output_files": out_files,
        }

        # the pipeline's builders are lazy: time the window stack and the
        # as-of join each on its own, to the noop sink, over a cached input
        fns = [s.fn for s in build_pipeline(self.path("unused"), GAP_SECONDS).stages]
        m["sources.scan_s"] = timed(lambda: noop(self.turns))
        cached = self.turns.persist()
        cached.count()
        base_s = timed(lambda: noop(cached))
        windowed = fns[2](fns[1](fns[0](cached)))
        with tr.span("window.isolated") as ws:
            noop(windowed)
        stages = stage_metrics(spark)
        wst = tr.stages(ws)
        agg = sum_stages(stages, wst)
        sort_stage = max(wst, key=lambda s: stages.get(s, {}).get("shuffleReadRecords", 0))
        m |= {
            "window.self_s": tr.duration(ws) - base_s,
            "window.shuffle_write_bytes": agg["shuffleWriteBytes"],
            "window.spill_bytes": agg["diskBytesSpilled"],
            "window.task_skew": task_skew(spark, sort_stage, stages[sort_stage]["attemptId"]),
        }
        win_cached = windowed.persist()
        win_cached.count()
        base_s = timed(lambda: noop(win_cached))
        joined = fns[3](win_cached)
        with tr.span("asof.isolated") as js:
            noop(joined)
        agg = sum_stages(stage_metrics(spark), tr.stages(js))
        m |= {
            "asof.self_s": tr.duration(js) - base_s,
            "asof.shuffle_write_bytes": agg["shuffleWriteBytes"],
            "asof.sorted_rows_per_output_row": agg["shuffleReadRecords"] / self.rows,
            # counted on the parquet input: a cached input's plan string
            # also lists the exchanges that built the cache
            "asof.exchanges": exchanges(fns[3](self.turns)),
        }
        win_cached.unpersist()
        cached.unpersist()
        return m


class FitTransform(Workload):
    name = "fit_transform"
    rows = 150_000
    impute_cols = ["latency_ms", "score"]
    scale_cols = ["score", "turn_idx"]
    text_ops = ["strip", "lower", "remove_punctuation", "title"]
    bins = 10
    smoothing = 10.0

    def generate(self, spark) -> None:
        full = write_transcripts(spark, self.path("turns"), self.seed, self.rows)
        self.expected = O.fitted_state(
            full, self.impute_cols, self.scale_cols, "tokens", self.bins, self.smoothing
        )
        self.sample = oracle_sample(full, self.seed)
        sample = full[full["conv_id"].isin(self.sample)].sort_values(["conv_id", "turn_idx"])
        self.expected_sample = {
            "text": O.clean_text(sample["text"]).reset_index(drop=True),
            "latency_ms": sample["latency_ms"].fillna(self.expected["medians"]["latency_ms"]),
        }

    def register(self, spark) -> None:
        self.turns = load_table(spark, self.path("turns"), schema=TRANSCRIPT_SCHEMA)

    def op(self, spark, opdir: str, tr) -> dict:
        with contextlib.ExitStack() as traced:
            for cls in (Imputer, LabelEncoder, TargetEncoder, OneHotEncoder, Scaler, QuantileBinner):
                traced.enter_context(tr.wrap(cls, "fit", "transforms.fit"))
            traced.enter_context(tr.wrap(strings, "clean_strings", "functions.clean_strings"))
            traced.enter_context(tr.wrap(state, "save_transformers", "transforms.state_io"))
            span = traced.enter_context(tr.span("op"))
            t0 = time.perf_counter()
            with tr.span("api.handle_missing_values"):
                dp = DataPreprocessor(self.turns).handle_missing_values("median", columns=self.impute_cols)
            with tr.span("api.clean_string_columns"):
                dp.clean_string_columns(["text"], self.text_ops)
            fe = FeatureEngineer(dp.df)
            with tr.span("api.encode_categorical_label"):
                fe.encode_categorical_label(["role"])
            with tr.span("api.encode_categorical_target"):
                fe.encode_categorical_target(["tool"], "label", smoothing=self.smoothing)
            with tr.span("api.encode_categorical_onehot"):
                fe.encode_categorical_onehot(["tool"])
            with tr.span("api.scale_features"):
                fe.scale_features(self.scale_cols, "standard")
            with tr.span("api.create_binning"):
                fe.create_binning("tokens", self.bins, "quantile")
            with tr.span("api.save_transformers"):
                fe.save_transformers(os.path.join(opdir, "transformers.json"))
            fit_s = time.perf_counter() - t0
            with tr.span("sources.write_table"):
                write_table(fe.df, os.path.join(opdir, "out"), mode="overwrite")
        return {"fe": fe, "fit_s": fit_s, "span": span}

    def check(self, spark, res: dict) -> None:
        fe, want = res["fe"], self.expected
        t = fe.transformers
        O.expect(t["label_encode_role"].state_["vocab"] == want["role_vocab"], "role vocabulary")
        O.expect(t["onehot_encode_tool"].state_["vocab"] == want["tool_vocab"], "tool vocabulary")
        te = t["target_encode_tool"].state_
        O.same_number("target prior", te["prior"], want["target_prior"])
        O.expect(sorted(te["enc"]) == sorted(want["target_enc"]), "target-encoded categories")
        for k, v in want["target_enc"].items():
            O.same_number(f"target encoding of {k}", te["enc"][k], v)
        sc = t["standard_scaler"].state_
        for c in self.scale_cols:
            O.same_number(f"mean of {c}", sc["center"][c], want["center"][c])
            O.same_number(f"std of {c}", sc["scale"][c], want["scale"][c])
        edges = t["binning_tokens"].state_["edges"]
        O.same_values("quantile edges", edges, want["edges"])

        loaded = state.load_transformers(os.path.join(res["opdir"], "transformers.json"))
        O.expect(sorted(loaded) == sorted(t), "round-trip transformer names")
        for k, tr in t.items():
            O.expect(loaded[k].to_json() == tr.to_json(), f"round-trip of {k}")

        out = spark.read.parquet(os.path.join(res["opdir"], "out"))
        n = out.count()
        O.expect(n == self.rows, f"{n} output rows, expected {self.rows}")
        got = out.filter(in_sample(self.sample)).select("conv_id", "turn_idx", "text", "latency_ms", "score")
        got = got.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        O.same_values("cleaned text", got["text"], self.expected_sample["text"])
        # the facade keeps no imputer: its fitted medians show in the output
        O.same_values("median-imputed latency_ms", got["latency_ms"], self.expected_sample["latency_ms"])

    def layers(self, spark, tr, res: dict) -> dict:
        op_span = res["span"]
        stages = stage_metrics(spark)
        fits = [s for s in tr.descendants(op_span) if s["name"] == "transforms.fit"]
        fit_stages = sorted({st for s in fits for st in tr.stages(s)})
        api = [s for s in tr.descendants(op_span) if s["name"].startswith("api.")]
        write = [s for s in tr.descendants(op_span) if s["name"] == "sources.write_table"][-1]
        out_bytes, out_files = dir_stats(os.path.join(res["opdir"], "out"))
        m = {
            "api.fit_s": res["fit_s"],
            "transforms.fit_s": sum(tr.duration(s) for s in fits),
            "transforms.fit_spark_jobs": len({j for s in fits for j in tr.jobs(s)}),
            "transforms.rows_scanned_per_input_row": sum_stages(stages, fit_stages)["inputRecords"]
            / self.rows,
            "transforms.state_io_s": sum(
                tr.duration(s) for s in tr.descendants(op_span) if s["name"] == "transforms.state_io"
            ),
            "api.self_s": sum(tr.self_time(s) for s in api),
            "sources.write_s": tr.duration(write),
            "sources.output_bytes": out_bytes,
            "sources.output_files": out_files,
            "sources.scan_s": timed(lambda: noop(self.turns)),
        }
        # the Arrow UDF's own cost: the cleaning chain with and without
        # 'title', each to the noop sink over a cached text column
        text = self.turns.select("text").persist()
        text.count()
        plain = [o for o in self.text_ops if o != "title"]
        with_udf = timed(lambda: noop(strings.clean_strings(text, ["text"], self.text_ops)))
        without = timed(lambda: noop(strings.clean_strings(text, ["text"], plain)))
        text.unpersist()
        m["functions.udf_self_s"] = with_udf - without
        return m


WORKLOADS = {w.name: w for w in (Backfill, FitTransform)}
