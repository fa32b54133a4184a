"""The workloads: set-up, one timed pipeline rep, and its output checks.

``fit_grouped`` runs by hand but is not listed in BENCHMARK.json: a third
workload does not fit the benchmark's time budget (perfbench/RECORD.md).

A rep runs the same calls with tracing on or off. With a tracer, each layer's
output is persisted and materialised inside that layer's span, so a span
holds only its own layer's work; without one the plan runs lazily into a noop
sink, as a user would run it. Checks are the benchmark's own queries (mostly
``DataFrame.observe`` aggregates over the sink's single pass), never the
engine's helpers.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

from monotonic_optimal_binning_spark import (
    BinningConstraints,
    Scorecard,
    SparkMonotonicBinner,
    collect_group_stats,
    fit_binners_per_group,
    fit_groups_from_stats,
)
from monotonic_optimal_binning_spark.operators.asof import asof_join
from monotonic_optimal_binning_spark.operators.calibration import (
    isotonic_calibrate,
)
from monotonic_optimal_binning_spark.operators.windows import (
    sessionize,
    with_lag_lead,
)
from monotonic_optimal_binning_spark.sources.tables import load_table

from . import inputs
from .tracing import python_nodes

# min_samples: without a minimum bin size the reference's additive WoE
# smoothing (0.5 per class) can order a bin of a few rows against its
# neighbour differently from the event rate PAVA made monotone, and the WoE
# check would trip on reference semantics rather than on a defect
CONSTRAINTS = dict(max_bins=6, min_bins=3, min_samples=0.05)


def _constraints() -> BinningConstraints:
    # a fresh object per fit: BinningConstraints resolves itself in place
    return BinningConstraints(**CONSTRAINTS)


def _monotone(v) -> bool:
    """Non-decreasing or non-increasing."""
    d = np.diff(np.asarray(v, dtype=float))
    return bool(np.all(d >= -1e-12) or np.all(d <= 1e-12))


def _numeric_bins(model):
    s = model.summary_df
    return s[~s["bucket"].str.contains("Missing|Excluded")]


class Rep:
    """One pipeline execution; ``tracer`` None means untraced."""

    def __init__(self, tracer, idx: int):
        self.tr = tracer
        self.idx = idx
        self.t_end = None  # end of the pipeline; checks run after it
        self._cached = []
        self._start = tracer.begin() if tracer is not None else None

    def layer(self, name: str, df):
        if self.tr is None:
            return df
        df = df.persist()
        self._cached.append(df)
        with self.tr.span(name, self.idx):
            df.count()
        return df

    def call(self, name: str):
        return self.tr.span(name, self.idx) if self.tr else nullcontext()

    def count(self, name: str, value: float) -> None:
        if self.tr is not None:
            self.tr.count(name, self.idx, float(value))

    def python_nodes(self, name: str, before, after) -> None:
        """Count the Python UDF operators a layer added to the plan."""
        if self.tr is not None:
            self.count(name, python_nodes(after) - python_nodes(before))

    def sink(self, name: str, df) -> None:
        with self.call(name):
            df.write.format("noop").mode("overwrite").save()
        self.finish()

    def finish(self) -> None:
        """Mark the end of the pipeline; what follows is checking."""
        self.t_end = time.perf_counter()
        if self.tr is not None:
            self.tr.end("rep", self.idx, self._start)

    def keep(self, df):
        """Persist a frame the untraced pipeline itself reuses."""
        df = df.persist()
        self._cached.append(df)
        return df

    def close(self) -> None:
        for df in self._cached:
            df.unpersist()


class Workload:
    """Inputs live as parquet under ``work_dir``; ``rows`` is the input row
    count of one rep, ``input_bytes`` their size on disk."""

    name = ""

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.dir = work_dir
        self.seed = seed
        self.rows = 0
        self.input_bytes = 0

    def _write(self, name: str, df) -> int:
        """Write a generated table; return its row count."""
        path = os.path.join(self.dir, f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        self.input_bytes += sum(
            os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
        )
        return df.count()  # spark.range(0, n) below: answered without a scan

    def _load(self, r: Rep, name: str):
        return r.layer("sources", load_table(self.spark, self.dir, name))

    def setup(self) -> None:
        raise NotImplementedError

    def rep(self, r: Rep) -> list:
        """Run one rep; return the list of failed checks (empty = correct)."""
        raise NotImplementedError


class PitFeatures(Workload):
    """lag/lead + sessionize on events, as-of join of each snapshot to its
    events, per-source fit on n_tok, WoE transform, noop sink."""

    name = "pit_features"
    DOCS = 200_000
    SAMPLE = 256

    def setup(self):
        n = self.DOCS
        self.n_snap = self._write("snapshots", inputs.snapshots(self.spark, n, self.seed))
        n_ev = self._write("events", inputs.events(self.spark, n, self.seed))
        self.rows = self.n_snap + n_ev
        snap = load_table(self.spark, self.dir, "snapshots")
        self.expect = snap.agg(*self._id_fingerprint()).first().asDict()
        # as-of answer for a seeded sample of docs, by a plain join: the
        # latest event at or before the snapshot (None when there is none)
        rng = np.random.default_rng(self.seed)
        self.sample_docs = [int(d) for d in rng.choice(n, self.SAMPLE, replace=False)]
        ev = load_table(self.spark, self.dir, "events").filter(
            F.col("doc_id").isin(self.sample_docs)
        )
        s = snap.filter(F.col("doc_id").isin(self.sample_docs)).alias("s")
        latest = (
            s.join(ev.alias("e"), (F.col("s.doc_id") == F.col("e.doc_id"))
                   & (F.col("e.ts") <= F.col("s.ts")), "left")
            .groupBy("s.doc_id").agg(F.max("e.ts").alias("ev_ts"))
        )
        self.expect_ts = {row["doc_id"]: row["ev_ts"] for row in latest.collect()}

    @staticmethod
    def _id_fingerprint():
        return [
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("id_sum"),
            F.bit_xor(F.xxhash64("doc_id")).alias("id_xor"),
        ]

    def rep(self, r):
        snap = self._load(r, "snapshots")
        ev = self._load(r, "events")
        r.count("sources.rows", self.rows)
        ev = with_lag_lead(ev, ["value"], "doc_id", "ts", lags=[1], leads=[1],
                           tiebreak=["event_id"])
        ev = sessionize(ev, "doc_id", "ts", gap_seconds=3600.0,
                        tiebreak=["event_id"])
        ev = r.layer("windows", ev)
        feat = asof_join(
            snap, ev, on="doc_id", left_ts="ts",
            value_cols=["value", "label", "value_lag1", "value_lead1",
                        "session_id"],
            right_prefix="ev_", include_matched_ts="ev_ts",
        ).withColumn("y", F.coalesce(F.col("ev_label"), F.lit(0)).cast("int"))
        if r.tr is None:
            # feeds both the fit scan and the transform: compute it once
            feat = r.keep(feat)
            gb = fit_binners_per_group(
                feat, "source", "n_tok", "y", prebins=128,
                constraints=_constraints(),
            )
        else:
            feat = r.layer("asof", feat)
            # the two public halves of fit_binners_per_group, so the scan
            # and the driver solve get a span each
            with r.call("binning.scan"):
                st = collect_group_stats(
                    feat, "source", "n_tok", "y", prebins=128,
                    constraints=_constraints(),
                )
            with r.call("core.solve"):
                gb = fit_groups_from_stats(
                    st, prebins=128, constraints=_constraints()
                )
            r.count("binning.stats_rows", len(st.rows))
        r.count("core.groups", len(gb.models))
        r.count("core.merge_steps",
                sum(len(h) for h in gb.merge_histories.values()))
        out = gb.transform(feat, assign="woe", input_col="n_tok",
                           output_col="n_tok_woe")
        r.python_nodes("binning.transform_python_nodes", feat, out)
        obs = Observation(f"pit{r.idx}")
        out = out.observe(
            obs,
            *self._id_fingerprint(),
            F.count("ev_ts").alias("matched"),
            F.sum(F.when(F.col("ev_ts") > F.col("ts"), 1).otherwise(0)).alias("leaks"),
            F.sum(F.when(F.isnull("n_tok_woe") | F.isnan("n_tok_woe"), 1)
                  .otherwise(0)).alias("no_woe"),
        )
        r.sink("binning.transform", out)
        got = obs.get
        r.count("asof.match_ratio", got["matched"] / self.n_snap)
        fails = []
        if {k: got[k] for k in self.expect} != self.expect:
            fails.append(f"snapshot rows in/out differ: {got} vs {self.expect}")
        if got["leaks"]:
            fails.append(f"{got['leaks']} matched events later than the snapshot")
        if got["no_woe"]:
            fails.append(f"{got['no_woe']} rows without a WoE")
        if sorted(gb.models) != sorted(inputs.SOURCES):
            fails.append(f"fitted sources {sorted(gb.models)}")
        for g, m in gb.models.items():
            if not _monotone(_numeric_bins(m)["woe"]):
                fails.append(f"WoE not monotone in source {g}")
        got_ts = {
            row["doc_id"]: row["ev_ts"]
            for row in feat.filter(F.col("doc_id").isin(self.sample_docs))
            .select("doc_id", "ev_ts").collect()
        }
        if got_ts != self.expect_ts:
            bad = [d for d in self.expect_ts if got_ts.get(d, -1) != self.expect_ts[d]]
            fails.append(f"as-of match differs from the join for docs {bad[:5]}")
        return fails


class ScoreEvents(Workload):
    """Serving path: 4-feature scorecard, isotonic calibration and an
    interval-label transform over one table, noop sink. Models are fitted
    in set-up."""

    name = "score_events"
    ROWS = 1_000_000
    FEATURES = ("f1", "f2", "f3", "f4")
    SAMPLE = 256

    def setup(self):
        n = self.ROWS
        self.rows = self._write("scored", inputs.scored_rows(self.spark, n, self.seed))
        df = load_table(self.spark, self.dir, "scored")
        fit_df = df.filter(F.col("id") % 64 == 0).persist()
        models = {
            f: SparkMonotonicBinner(
                f, "y", prebins=64, constraints=_constraints()
            ).fit(fit_df).model_
            for f in self.FEATURES
        }
        self.card = Scorecard(models)
        self.cal = isotonic_calibrate(fit_df, "model_score", "y", prebins=128)
        self.bins = models["f1"]
        fit_df.unpersist()

        rng = np.random.default_rng(self.seed)
        ids = sorted(int(i) for i in rng.choice(self.rows, self.SAMPLE, replace=False))
        self.sample_ids = ids
        raw = df.filter(F.col("id").isin(ids)).toPandas().set_index("id").loc[ids]
        self.expect_score, self.expect_bin = self._expected(raw)

    def _expected(self, raw):
        """Score and f1 interval label of the sample rows by numpy
        searchsorted on each model's interior cut points."""
        pts = self.card.points_table_()
        score = np.zeros(len(raw))
        for f, m in self.card.models.items():
            cuts = np.asarray(m.rights[:-1], dtype=float)
            idx = np.searchsorted(cuts, raw[f].to_numpy(dtype=float), side="right")
            fp = pts[(pts["feature"] == f) & (pts["bucket"] != "Missing/Excluded")]
            score += fp["points"].to_numpy()[idx]
        cuts = np.asarray(self.bins.rights[:-1], dtype=float)
        idx = np.searchsorted(cuts, raw["f1"].to_numpy(dtype=float), side="right")
        labels = np.asarray(self.bins.labels, dtype=object)[idx]
        return dict(zip(raw.index, score)), dict(zip(raw.index, labels))

    def rep(self, r):
        df = self._load(r, "scored")
        r.count("sources.rows", self.rows)
        scored = self.card.transform(df)
        r.python_nodes("scorecard.python_nodes", df, scored)
        scored = r.layer("scorecard", scored)
        cal = self.cal.transform(scored, input_col="model_score",
                                 output_col="pd_cal")
        r.python_nodes("calibration.python_nodes", scored, cal)
        cal = r.layer("calibration", cal)
        out = self.bins.transform(cal, assign="interval", input_col="f1",
                                  output_col="f1_bin")
        r.python_nodes("binning.transform_python_nodes", cal, out)
        obs = Observation(f"score{r.idx}")
        observed = out.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.count("score").alias("scored"),
            F.count("pd_cal").alias("calibrated"),
            F.count("f1_bin").alias("binned"),
        )
        r.sink("binning.transform", observed)
        got = obs.get
        fails = [
            f"{k}: {got[k]} of {self.rows} rows"
            for k in ("n", "scored", "calibrated", "binned")
            if got[k] != self.rows
        ]
        sample = out.filter(F.col("id").isin(self.sample_ids)).select(
            "id", "score", "f1_bin"
        ).collect()
        if len(sample) != self.SAMPLE:
            fails.append(f"sample: {len(sample)} of {self.SAMPLE} rows")
        for row in sample:
            if abs(row["score"] - self.expect_score[row["id"]]) > 1e-6:
                fails.append(f"id {row['id']}: score {row['score']} != "
                             f"{self.expect_score[row['id']]}")
            if row["f1_bin"] != self.expect_bin[row["id"]]:
                fails.append(f"id {row['id']}: f1 bin {row['f1_bin']} != "
                             f"{self.expect_bin[row['id']]}")
        return fails


class FitGrouped(Workload):
    """Per-group fit of two high-cardinality features over N_GROUPS groups:
    collect_group_stats (one scan) then fit_groups_from_stats (driver solve)
    for each feature."""

    name = "fit_grouped"
    ROWS = 600_000
    FEATURES = ("x1", "x2")
    PREBINS = 256

    def setup(self):
        n = self.ROWS
        self.rows = self._write("grouped", inputs.grouped_rows(self.spark, n, self.seed))
        df = load_table(self.spark, self.dir, "grouped")
        self.group_rows = {
            row["g"]: row["count"] for row in df.groupBy("g").count().collect()
        }

    def rep(self, r):
        df = self._load(r, "grouped")
        r.count("sources.rows", self.rows)
        fitted = []
        for x in self.FEATURES:
            with r.call("binning.scan"):
                st = collect_group_stats(
                    df, "g", x, "y", prebins=self.PREBINS,
                    constraints=_constraints(),
                )
            with r.call("core.solve"):
                gb = fit_groups_from_stats(
                    st, prebins=self.PREBINS, constraints=_constraints()
                )
            r.count("binning.stats_rows", len(st.rows))
            r.count("core.groups", len(gb.models))
            r.count("core.merge_steps",
                    sum(len(h) for h in gb.merge_histories.values()))
            fitted.append((x, gb))
        r.finish()
        return [f for x, gb in fitted for f in self._check(x, gb)]

    def _check(self, x, gb):
        fails = []
        if set(gb.models) != set(self.group_rows):
            fails.append(f"{x}: {len(gb.models)} of {len(self.group_rows)} groups fitted")
        lo, hi = CONSTRAINTS["min_bins"], CONSTRAINTS["max_bins"]
        for g, m in gb.models.items():
            bins = _numeric_bins(m)
            if not lo <= len(bins) <= hi:
                fails.append(f"{x} group {g}: {len(bins)} bins")
            if not _monotone(bins["woe"]):
                fails.append(f"{x} group {g}: WoE not monotone")
            if int(m.summary_df["count"].sum()) != self.group_rows.get(g):
                fails.append(f"{x} group {g}: bin counts sum to "
                             f"{m.summary_df['count'].sum()}, not {self.group_rows.get(g)}")
        return fails


WORKLOADS = {w.name: w for w in (PitFeatures, ScoreEvents, FitGrouped)}
