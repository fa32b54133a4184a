"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline; ``queries()`` exposes one
callable per implemented operator (SURVEY.md §2 + the north-rule layer);
``oracle_sql()`` gives DuckDB-checkable ANSI SQL for every query whose
semantics SQL can express (iterative fits are rows-only by design).
All computed columns are aliased identically on both sides; floats are
rounded to 6 dp on both sides so the value-hash compares stably.
"""

from __future__ import annotations

import sys
import os
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from monotonic_optimal_binning_spark import (
    BinningConstraints,
    FittedBins,
    SparkMonotonicBinner,
    fit_binners_per_group,
)
from monotonic_optimal_binning_spark.operators.asof import (
    asof_join,
    asof_join_bucketed,
    leakage_audit,
    range_join,
)
from monotonic_optimal_binning_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_banded_pairs,
    simhash_dedup,
    simhash_neardup_pairs,
)
from monotonic_optimal_binning_spark.operators.similarity import (
    IVFCodebook,
    brute_force_topk,
    fit_ivf_codebook,
    ivf_topk,
    lsh_topk,
)
from monotonic_optimal_binning_spark.operators.textstats import (
    bpe_ish_token_count,
    language_id,
    quality_features,
    tf_idf,
    token_count,
)
from monotonic_optimal_binning_spark.operators.windows import (
    backfill,
    rolling_stats,
    sessionize,
    sliding_window_agg,
    time_bucket,
    with_lag_lead,
)
from monotonic_optimal_binning_spark.sources.tables import load_table
from monotonic_optimal_binning_spark.sources.synthetic import tokenize_text
from monotonic_optimal_binning_spark.functions.timeutil import epoch_seconds, pin_utc

_R = 6  # float rounding for stable value-hash comparison
_EMBED_DIM = 64  # embeddings.parquet vector length at every sf (fixed by the
# testdata generator) — avoids a driver first() probe per LSH query
_MEDIA_ROWS = 2000  # synthetic media table size for the media_features query
_MEDIA_REAL_ROWS = 600  # real-bytes media table size (media_features_real)
_MEDIA_SEED = 42

from monotonic_optimal_binning_spark.operators.sampling import split_thresholds
from monotonic_optimal_binning_spark.operators.screening import iv_screen
from monotonic_optimal_binning_spark.operators.model_diff import (
    transform_churn,
)
from monotonic_optimal_binning_spark.operators.scaling import (
    clip,
    fit_feature_stats,
    impute,
    robust_scale,
    standardize,
)

# hex thresholds for the deterministic_split query + its oracle (single
# source of truth so the two sides can never drift)
_SPLIT_THRESH = split_thresholds({"train": 0.8, "val": 0.1, "test": 0.1})


def _round(df: DataFrame, cols) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c).cast("double"), _R))
    return df


# ---------------------------------------------------------------- entry ----


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tokenize documents -> per-source monotone-WoE binning of
    n_tok (binary target: is-English) -> stacked per-source summary table."""
    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, sf_dir, "documents")
    tok = tokenize_text(docs, "text", doc_id_col="doc_id", source_col="source")
    labeled = tok.join(
        docs.select("doc_id", (F.col("lang") == "en").cast("int").alias("y")),
        on=tok["doc_id"] == docs["doc_id"].cast("string"),
        how="inner",
    ).select(tok["doc_id"], "n_tok", "source", "y")

    binners = fit_binners_per_group(
        labeled,
        "source",
        "n_tok",
        "y",
        constraints=BinningConstraints(max_bins=4, min_bins=2),
    )
    rows = []
    for src, b in binners.items():
        s = b.summary_df
        for _, r in s.iterrows():
            rows.append(
                (
                    src,
                    r["bucket"],
                    int(r["count"]),
                    float(r["sum"]),
                    float(r["mean"]),
                    float(r["woe"]) if "woe" in s.columns and r["woe"] == r["woe"] else None,
                    float(r["iv"]) if "iv" in s.columns else None,
                )
            )
    return spark.createDataFrame(
        rows, "source string, bucket string, count long, sum double, mean double, woe double, iv double"
    )


# -------------------------------------------------------------- queries ----


def _li_xy(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_quantity").alias("x"),
        (F.col("l_discount") > 0.05).cast("int").alias("y"),
        "l_returnflag",
    )


def q_group_stats(spark, sf_dir):
    """MOB pre-binning aggregate (SURVEY.md §2.3 row 1)."""
    df = _li_xy(spark, sf_dir)
    out = df.groupBy("x").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sum_y"),
        F.sum(F.col("y") * F.col("y")).alias("sum_y2"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
    )
    return _round(out, ["x", "sum_y", "sum_y2"])


def q_cumulative_stats(spark, sf_dir):
    """Cumulative group stats (SURVEY.md §2.3 row 2)."""
    g = q_group_stats(spark, sf_dir)
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = g.select(
        "x",
        F.sum("n").over(w).alias("cum_count"),
        F.round(F.sum("sum_y").over(w), _R).alias("cum_sum"),
        F.round(F.sum("sum_y").over(w) / F.sum("n").over(w), _R).alias("cum_mean"),
    )
    return out


def q_sign_correlation(spark, sf_dir):
    """PAVA sign-resolution signal computed Spark-side: Pearson and
    Spearman (average-tie ranks) of x vs per-group mean(y) over the groups
    table. The groups table is k rows by construction, so the single-window
    rank is driver-small; the engine's driver-side calculate_correlation
    (core/stats.py) matches pandas and is parity-tested separately."""
    df = _li_xy(spark, sf_dir)
    g = df.groupBy("x").agg(F.avg("y").alias("gmean"))
    rank_x = F.row_number().over(Window.orderBy("x")).cast("double")
    rank_m = (
        F.rank().over(Window.orderBy("gmean"))
        + (F.count(F.lit(1)).over(Window.partitionBy("gmean")) - 1) / 2.0
    ).cast("double")
    r = g.select("x", "gmean", rank_x.alias("rx"), rank_m.alias("rm"))
    return r.agg(
        F.round(F.corr("x", "gmean"), _R).alias("pearson"),
        F.round(F.corr("rx", "rm"), _R).alias("spearman"),
        F.count(F.lit(1)).alias("n_groups"),
    )


def q_bin_fit_summary(spark, sf_dir):
    """Full MOB fit (iterative driver solve -> rows-only check)."""
    df = _li_xy(spark, sf_dir)
    b = SparkMonotonicBinner(
        "x", "y", constraints=BinningConstraints(max_bins=6, min_bins=3)
    ).fit(df)
    return b.summary_spark(spark)


def q_bin_fit_monotone(spark, sf_dir):
    """The FULL MOB fit made value-checkable: on a construction whose group
    means are strictly monotone (verified 15pp gaps on this data) with
    max_bins >= n_groups, PAVA pools nothing and the merge loop runs zero
    iterations, so the fitted summary (labels, counts, WoE/IV with 0.5
    smoothing) is exactly the per-group SQL aggregate — the one
    deterministic slice of the iterative solver an ANSI oracle can check."""
    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        F.pmod(F.col("user_id"), F.lit(5)).cast("double").alias("x"),
        (
            F.pmod(F.col("event_id"), F.lit(100))
            < (F.pmod(F.col("user_id"), F.lit(5)) + 1) * 15
        ).cast("int").alias("y"),
    )
    b = SparkMonotonicBinner(
        "x", "y", prebins="exact",
        constraints=BinningConstraints(max_bins=10, min_bins=2),
    ).fit(df)
    s = b.summary_spark(spark)
    return s.select(
        "bucket",
        F.col("count").cast("long").alias("count"),
        F.round("count_pct", _R).alias("count_pct"),
        F.round("sum", _R).alias("sum"),
        F.round("mean", _R).alias("mean"),
        F.round("std", _R).alias("std"),
        F.round("woe", _R).alias("woe"),
        F.round("iv", _R).alias("iv"),
    )


def q_bin_fit_weighted(spark, sf_dir):
    """Sample-weighted MOB fit made value-checkable: the SAME no-merge
    monotone construction as bin_fit_monotone, with frequency weights
    w = 1 + event_id % 3. Weighted group means stay strictly monotone
    (verified 13-16pp gaps at sf0.001/0.01/0.1), so PAVA pools nothing and
    the fitted summary is exactly the per-group WEIGHTED SQL aggregate —
    counts are weight sums, WoE/IV use weighted goods/bads. Engine-new:
    the reference has no weighted path; at 100 TB this is how
    downsample-reweighted negatives fit without rescanning at true
    multiplicity (operators/binning.py::_suff_stats_agg weighted branch)."""
    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        F.pmod(F.col("user_id"), F.lit(5)).cast("double").alias("x"),
        (
            F.pmod(F.col("event_id"), F.lit(100))
            < (F.pmod(F.col("user_id"), F.lit(5)) + 1) * 15
        ).cast("int").alias("y"),
        (F.lit(1.0) + F.pmod(F.col("event_id"), F.lit(3))).alias("w"),
    )
    b = SparkMonotonicBinner(
        "x", "y", prebins="exact", weight_col="w",
        constraints=BinningConstraints(max_bins=10, min_bins=2),
    ).fit(df)
    s = b.summary_spark(spark)
    return s.select(
        "bucket",
        F.round(F.col("count").cast("double"), _R).alias("count"),
        F.round("count_pct", _R).alias("count_pct"),
        F.round("sum", _R).alias("sum"),
        F.round("mean", _R).alias("mean"),
        F.round("std", _R).alias("std"),
        F.round("woe", _R).alias("woe"),
        F.round("iv", _R).alias("iv"),
    )


def q_feature_scale(spark, sf_dir):
    """FeatureStats artifact + serve-side scaling, value-checked: fit
    per-column stats in ONE aggregation scan (exact interpolated
    percentiles for oracle parity; production default is the
    percentile_approx sketch in the same single pass), then standardize /
    robust-scale a deterministic subset as pure codegen expressions —
    train/serve-skew-safe preprocessing with zero UDFs and zero extra
    scans (operators/scaling.py)."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        # deterministic nulls so the impute path has something to fill
        "qmask",
        F.when(
            F.pmod(F.col("l_orderkey"), F.lit(13)) != 0, F.col("l_quantity")
        ),
    )
    st = fit_feature_stats(
        li, ["l_quantity", "l_extendedprice", "qmask"], exact=True
    )
    sub = li.filter(F.pmod(F.col("l_orderkey"), F.lit(97)) == 1)
    out = standardize(sub, st, ["l_quantity", "l_extendedprice"])
    out = robust_scale(out, st, ["l_quantity"])
    out = impute(out, st, ["qmask"], strategy="median")
    out = clip(out, st, ["l_quantity"], k_iqr=1.5, suffix="_c")
    return out.select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.round("l_quantity_z", _R).alias("qty_z"),
        F.round("l_extendedprice_z", _R).alias("price_z"),
        F.round("l_quantity_r", _R).alias("qty_r"),
        F.round("qmask", _R).alias("qty_imputed"),
        F.round("l_quantity_c", _R).alias("qty_clipped"),
    )


def q_woe_churn(spark, sf_dir):
    """Model-promotion churn, value-checked: two fixed bring-your-own-bins
    models (FittedBins.from_cuts — deterministic literals) scored over the
    same slice in ONE pass; the oracle replays both WoE step functions as
    SQL CASE arithmetic. The production use is gating a fit-incremental
    refit: woe_churn/max_abs_woe_delta quantify exactly how many rows
    would score differently (operators/model_diff.py)."""
    old = FittedBins.from_cuts("x", [1.0, 3.0], [0.6, 0.0, -0.7])
    new = FittedBins.from_cuts("x", [1.0, 4.0], [0.6, -0.1, -0.7])
    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        F.pmod(F.col("user_id"), F.lit(5)).cast("double").alias("x")
    )
    c = transform_churn(df, old, new)
    return spark.createDataFrame(
        [(
            c["n"], c["n_label_changed"], c["n_woe_changed"],
            round(c["label_churn"], 6), round(c["woe_churn"], 6),
            round(c["max_abs_woe_delta"], 6),
            round(c["mean_abs_woe_delta"], 6),
        )],
        "n long, n_label_changed long, n_woe_changed long, "
        "label_churn double, woe_churn double, "
        "max_abs_woe_delta double, mean_abs_woe_delta double",
    )


def q_bin_fit_incremental(spark, sf_dir):
    """The incremental-fit path value-checked end-to-end: the SAME
    no-merge monotone construction as bin_fit_monotone, but the fit runs
    as two per-partition collect_stats scans (events split by event_id
    parity) merged algebraically on the driver (BinStats.merge), then a
    Spark-free fit_from_stats solve. Result must equal the single-pass
    fit, so it shares bin_fit_monotone's SQL oracle — this is the
    refit-without-rescanning-history loop a 100 TB deployment runs
    daily."""
    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        F.col("event_id"),
        F.pmod(F.col("user_id"), F.lit(5)).cast("double").alias("x"),
        (
            F.pmod(F.col("event_id"), F.lit(100))
            < (F.pmod(F.col("user_id"), F.lit(5)) + 1) * 15
        ).cast("int").alias("y"),
    )

    def _binner():
        return SparkMonotonicBinner(
            "x", "y", prebins="exact",
            constraints=BinningConstraints(max_bins=10, min_bins=2),
        )

    even = df.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    odd = df.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    b = _binner()
    s = b.collect_stats(even, label="even")
    s = b.collect_stats(odd, prior=s, label="odd")
    b.fit_from_stats(s)
    out = b.summary_spark(spark)
    return out.select(
        "bucket",
        F.col("count").cast("long").alias("count"),
        F.round("count_pct", _R).alias("count_pct"),
        F.round("sum", _R).alias("sum"),
        F.round("mean", _R).alias("mean"),
        F.round("std", _R).alias("std"),
        F.round("woe", _R).alias("woe"),
        F.round("iv", _R).alias("iv"),
    )


def q_woe_transform_monotone(spark, sf_dir):
    """The broadcast searchsorted WoE-lookup UDF value-checked: on the
    no-merge monotone construction every x maps to its own bin, so the
    transformed column must equal the per-group WoE formula exactly."""
    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        F.pmod(F.col("user_id"), F.lit(5)).cast("double").alias("x"),
        (
            F.pmod(F.col("event_id"), F.lit(100))
            < (F.pmod(F.col("user_id"), F.lit(5)) + 1) * 15
        ).cast("int").alias("y"),
    )
    b = SparkMonotonicBinner(
        "x", "y", prebins="exact",
        constraints=BinningConstraints(max_bins=10, min_bins=2),
    ).fit(df)
    out = b.transform(df, assign="woe", output_col="x_woe")
    return out.groupBy(F.col("x").cast("long").alias("x")).agg(
        F.round(F.avg("x_woe"), _R).alias("woe"),
        F.count(F.lit(1)).alias("n"),
    )


def q_woe_transform(spark, sf_dir):
    """Broadcast WoE lookup on raw values (rows-only: depends on fit)."""
    df = _li_xy(spark, sf_dir)
    b = SparkMonotonicBinner(
        "x", "y", constraints=BinningConstraints(max_bins=6, min_bins=3)
    ).fit(df)
    out = b.transform(df, assign="woe", output_col="x_woe")
    return out.groupBy("l_returnflag").agg(
        F.round(F.avg("x_woe"), _R).alias("avg_woe"),
        F.count(F.lit(1)).alias("n"),
    )


def q_fixed_bucket_woe(spark, sf_dir):
    """WoE/IV math over FIXED n_chars buckets (SQL-expressible WoE check)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.when(F.col("n_chars") < 200, "s")
        .when(F.col("n_chars") < 600, "m")
        .otherwise("l")
        .alias("bucket"),
        (F.col("lang") == "en").cast("int").alias("bad"),
    )
    agg = d.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("count"), F.sum("bad").alias("bads")
    )
    tot = agg.agg(
        F.sum("count").alias("tc"),
        F.sum("bads").alias("tb"),
        F.count(F.lit(1)).alias("k"),
    )
    j = agg.crossJoin(F.broadcast(tot))
    goods = F.col("count") - F.col("bads")
    tg = F.col("tc") - F.col("tb")
    g_rate = (goods + 0.5) / (tg + 0.5 * F.col("k"))
    b_rate = (F.col("bads") + 0.5) / (F.col("tb") + 0.5 * F.col("k"))
    woe = F.log(g_rate / b_rate)
    return j.select(
        "bucket",
        "count",
        F.col("bads").cast("long").alias("bads"),
        F.round(woe, _R).alias("woe"),
        F.round((g_rate - b_rate) * woe, _R).alias("iv"),
    )


_IV_SCREEN_CUTS = {
    "l_quantity": [10.0, 25.0, 40.0],
    "l_extendedprice": [20000.0, 40000.0],
    "l_discount": [0.03, 0.06],
    "l_tax": [0.04],
}


def q_iv_screen(spark, sf_dir):
    """k-feature IV screening in ONE data scan (explicit deterministic
    cuts so DuckDB can replicate the bucketing exactly)."""
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select(
        *_IV_SCREEN_CUTS.keys(),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    return iv_screen(df, list(_IV_SCREEN_CUTS), "y", cuts=_IV_SCREEN_CUTS)


def q_iv_screen_weighted(spark, sf_dir):
    """Weighted IV screening (weight_col): counts/bads are frequency-
    weight sums inside the SAME one-scan explode→groupBy plan, matching
    the weighted binner fit so screen ranks equal what the downstream
    weighted fit will see (operators/screening.py weight branch)."""
    li = load_table(spark, sf_dir, "lineitem")
    cuts = {k: _IV_SCREEN_CUTS[k] for k in ("l_quantity", "l_discount")}
    df = li.select(
        *cuts.keys(),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
        (F.lit(1.0) + F.pmod(F.col("l_orderkey"), F.lit(3))).alias("w"),
    )
    return iv_screen(df, list(cuts), "y", cuts=cuts, weight_col="w")


def q_iv_screen_grouped(spark, sf_dir):
    """Per-group screening: every (l_linestatus, feature) IV from the
    SAME single scan, global cuts."""
    li = load_table(spark, sf_dir, "lineitem")
    cuts = {k: _IV_SCREEN_CUTS[k] for k in ("l_quantity", "l_discount")}
    df = li.select(
        "l_linestatus",
        *cuts.keys(),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    return iv_screen(df, list(cuts), "y", cuts=cuts,
                     group_col="l_linestatus")


def q_iv_screen_categorical(spark, sf_dir):
    """Mixed numeric + categorical screen in the SAME single scan: one
    numeric feature (explicit cuts) plus two string features where each
    category is its own bucket. `bad_rate_monotone` is NULL for the
    categorical rows (no ordering to be monotone over) — re-encoded as
    int {-1: NULL/categorical, 0: false, 1: true} so the tri-state stays
    value-hashable (a nullable boolean stringifies differently in
    pandas-from-Spark vs pandas-from-DuckDB)."""
    docs = load_table(spark, sf_dir, "documents")
    df = docs.select(
        "n_chars", "source", "lang",
        F.pmod(F.col("doc_id"), F.lit(2)).cast("int").alias("y"),
    )
    out = iv_screen(
        df, ["n_chars"], "y", cuts={"n_chars": [500.0, 2000.0]},
        categorical=["source", "lang"],
    )
    return out.withColumn(
        "bad_rate_monotone",
        F.coalesce(F.col("bad_rate_monotone").cast("int"), F.lit(-1)),
    )


def q_corr_matrix(spark, sf_dir):
    """One-scan pairwise-complete Pearson correlation matrix over four
    lineitem measures, two of them with deterministic planted nulls so
    each pair's n differs (pairwise-complete semantics exercised). The
    oracle is DuckDB's corr() per pair — its aggregate skips rows where
    either side is NULL, exactly the mapInPandas mask semantics."""
    from monotonic_optimal_binning_spark.operators.correlation import (
        correlation_matrix,
    )

    li = load_table(spark, sf_dir, "lineitem")
    df = li.select(
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("price"),
        F.when(F.pmod(F.col("l_orderkey"), F.lit(7)) == 0, F.lit(None))
        .otherwise(F.col("l_discount"))
        .alias("disc"),
        F.when(F.pmod(F.col("l_partkey"), F.lit(5)) == 0, F.lit(None))
        .otherwise(F.col("l_tax"))
        .alias("tax"),
    )
    return correlation_matrix(df, ["qty", "price", "disc", "tax"])


def q_profile_docs(spark, sf_dir):
    """One-scan exact profile of three documents columns (two string, one
    bigint): nulls, exact distincts, numeric moments from per-value
    sufficient statistics, deterministic top value (max count, then max
    value string). The oracle mirrors the same per-value → per-column
    two-level aggregation in ANSI SQL."""
    from monotonic_optimal_binning_spark.operators.profile import profile

    docs = load_table(spark, sf_dir, "documents")
    return profile(docs, ["source", "lang", "n_chars"])


def q_categorical_woe(spark, sf_dir):
    """Categorical WoE fit over documents.source (y = lang=='en'): the
    fitted artifact's summary as a DataFrame — count/bads exact, WoE/IV
    vs the same smoothed formula in DuckDB (zero-count __other__ pool
    included: it is the artifact's unseen-category fallback)."""
    from monotonic_optimal_binning_spark.operators.categorical import (
        fit_categorical_woe,
    )

    docs = load_table(spark, sf_dir, "documents")
    df = docs.select("source", (F.col("lang") == "en").cast("int").alias("y"))
    enc = fit_categorical_woe(df, "source", "y")
    pdf = enc.summary_()
    pdf["woe"] = pdf["woe"].round(_R)
    pdf["iv"] = pdf["iv"].round(_R)
    return spark.createDataFrame(
        pdf.astype({"count": "int64", "bads": "int64"})
    )


def q_target_encode(spark, sf_dir):
    """Leakage-safe 5-fold out-of-fold target encoding of order priority
    (y = order above 150k): every row's smoothed category mean uses only
    the OTHER folds' labels. Folds are the deterministic md5-threshold
    buckets, so the oracle re-derives them in ANSI SQL and recomputes the
    closed-form totals-minus-own-fold encoding."""
    from monotonic_optimal_binning_spark.operators.encoding import (
        target_encode_oof,
    )

    ords = load_table(spark, sf_dir, "orders")
    df = ords.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("cat"),
        (F.col("o_totalprice") > 150000.0).cast("double").alias("y"),
    )
    out = target_encode_oof(
        df, "cat", "y", id_col="id", n_folds=5, smoothing=20.0
    )
    return out.select("id", "cat", F.round("cat_te", _R).alias("te"))


def q_multi_horizon(spark, sf_dir):
    """Feature-store point-in-time features: per event, the user's
    activity (sum/count of value) over the trailing 1h and 24h closed
    windows — all horizons on ONE shuffle. Exact epoch-ms keys
    (unix_micros // 1000), so the oracle's RANGE frames agree at µs
    boundaries; values pre-scaled to exact micro-units (floor(v*1e6) as
    BIGINT) so frame sums are order-independent integers on both
    engines. A null-time event contributes nothing and gets count 0 /
    null sums (the oracle masks v6 where ms IS NULL)."""
    from monotonic_optimal_binning_spark.operators.windows import (
        multi_horizon_features,
    )

    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 1e6).cast("long").alias("v6"),
    )
    out = multi_horizon_features(
        ev, "user_id", "ts", "v6", [3600.0, 86400.0]
    )
    return out.select(
        "event_id",
        F.col("v6_h3600_sum").alias("h1_sum"),
        F.col("v6_h3600_count").alias("h1_n"),
        F.col("v6_h86400_sum").alias("h24_sum"),
        F.col("v6_h86400_count").alias("h24_n"),
    )


def q_multi_horizon_bucketed(spark, sf_dir):
    """Skew-safe ghost-row variant of q_multi_horizon — identical result
    (shares its oracle), but a hot entity is chunked by horizon so no
    task holds its full history."""
    from monotonic_optimal_binning_spark.operators.windows import (
        multi_horizon_features_bucketed,
    )

    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 1e6).cast("long").alias("v6"),
    )
    out = multi_horizon_features_bucketed(
        ev, "user_id", "ts", "v6", [3600.0, 86400.0]
    )
    return out.select(
        "event_id",
        F.col("v6_h3600_sum").alias("h1_sum"),
        F.col("v6_h3600_count").alias("h1_n"),
        F.col("v6_h86400_sum").alias("h24_sum"),
        F.col("v6_h86400_count").alias("h24_n"),
    )


def q_asof_agg(spark, sf_dir):
    """Point-in-time aggregation join value-checked: every 5th event is a
    probe; for each probe, the user's trailing 1h/24h activity over ALL
    events — exact epoch-ms frame bounds and exact micro-unit BIGINT
    sums, so the oracle's join+CASE aggregation agrees bit-for-bit."""
    from monotonic_optimal_binning_spark.operators.asof import asof_agg_join

    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    probes = ev.filter(F.pmod(F.col("event_id"), F.lit(5)) == 0).select(
        "event_id", "user_id", "ts"
    )
    contrib = ev.select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 1e6).cast("long").alias("v6"),
    )
    out = asof_agg_join(
        probes, contrib, "user_id", "ts",
        value="v6", horizons_seconds=[3600.0, 86400.0],
    )
    return out.select(
        "event_id",
        F.col("v6_h3600_sum").alias("h1_sum"),
        F.col("v6_h3600_count").alias("h1_n"),
        F.col("v6_h86400_sum").alias("h24_sum"),
        F.col("v6_h86400_count").alias("h24_n"),
    )


def q_token_topk(spark, sf_dir):
    """Corpus vocabulary heavy hitters: map-side-combinable token counts
    + TakeOrdered top-k, deterministic tie-break on token text."""
    from monotonic_optimal_binning_spark.operators.textstats import (
        token_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    return token_topk(docs, "text", k=50)


def q_token_topk_grouped(spark, sf_dir):
    """Per-source vocabulary top-k: rank window with WindowGroupLimit
    pushdown; row_number cast to long for the cross-engine hash."""
    from monotonic_optimal_binning_spark.operators.textstats import (
        token_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = token_topk(docs, "text", k=10, group_col="source")
    return out.select(
        "source", "token", "n", F.col("rank").cast("long").alias("rank")
    )


def q_time_decayed(spark, sf_dir):
    """Half-life decayed activity features (recency-weighted sum/count,
    H=1h, truncated at 24 half-lives = exactly the oracle's 24h join
    window). Weights are irrational (2^{dt/H}) so cross-engine float
    identity is impossible — both sides round to 4dp; the FP gap is
    ~1e-13 abs vs a 1e-4 grid (per-row flip risk ~1e-9)."""
    from monotonic_optimal_binning_spark.operators.windows import (
        time_decayed_features,
    )

    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = time_decayed_features(
        ev, "user_id", "ts", "value", [3600.0], truncate_half_lives=24
    )
    return out.select(
        "event_id",
        F.round(F.col("value_hl3600_sum"), 4).alias("d_sum"),
        F.round(F.col("value_hl3600_count"), 4).alias("d_cnt"),
    )


def q_asof_decayed(spark, sf_dir):
    """Two-table decayed aggregation join: every 5th event is a probe;
    for each probe, the user's recency-weighted (H=1h) activity over
    ALL events, truncated at 24 half-lives = the oracle's 24h join
    window. 4dp rounding on both sides (see q_time_decayed)."""
    from monotonic_optimal_binning_spark.operators.asof import (
        asof_decayed_join,
    )

    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    probes = ev.filter(F.pmod(F.col("event_id"), F.lit(5)) == 0).select(
        "event_id", "user_id", "ts"
    )
    contrib = ev.select("user_id", "ts", "value")
    out = asof_decayed_join(
        probes, contrib, "user_id", "ts",
        value="value", half_lives_seconds=[3600.0],
        truncate_half_lives=24,
    )
    return out.select(
        "event_id",
        F.round(F.col("value_hl3600_sum"), 4).alias("d_sum"),
        F.round(F.col("value_hl3600_count"), 4).alias("d_cnt"),
    )


def q_snapshot(spark, sf_dir):
    """Point-in-time table state at T: ONE algebraic max_by aggregate
    (map-side combinable argmax — no window, hot keys merge partials),
    deterministic same-ms tie-break on event_id."""
    from monotonic_optimal_binning_spark.operators.asof import snapshot_at

    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return snapshot_at(
        ev, "user_id", "ts", "2024-01-15",
        value_cols=["event_type", "value"], tiebreak="event_id",
    )


def q_intervalize(spark, sf_dir):
    """SCD-2 validity intervals: each update valid from its own ts to
    the key's next update (closed-open; null = still current)."""
    from monotonic_optimal_binning_spark.operators.asof import intervalize

    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    out = intervalize(ev, "user_id", "ts", tiebreak="event_id")
    return out.select(
        "event_id", "user_id", "valid_from_ms", "valid_to_ms"
    )


def q_isotonic_calibration(spark, sf_dir):
    """Distributed isotonic regression value-checked on the no-merge
    monotone construction: group means already increase, so PAVA pools
    nothing and calibrated(x) is exactly the per-group mean — plain SQL
    for the oracle."""
    from monotonic_optimal_binning_spark.operators.calibration import (
        isotonic_calibrate,
    )

    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        F.pmod(F.col("user_id"), F.lit(5)).cast("double").alias("score"),
        (
            F.pmod(F.col("event_id"), F.lit(100))
            < (F.pmod(F.col("user_id"), F.lit(5)) + 1) * 15
        ).cast("double").alias("y"),
    )
    cal = isotonic_calibrate(df, "score", "y", prebins="exact")
    out = cal.transform(df)
    return out.groupBy(F.col("score").cast("long").alias("score")).agg(
        F.round(F.avg("score_calibrated"), _R).alias("calibrated"),
        F.count(F.lit(1)).alias("n"),
    )


def q_isotonic_calibration_grouped(spark, sf_dir):
    """Per-group isotonic regression (one grouped scan, k driver PAVA
    solves) value-checked on the per-group no-merge monotone
    construction: within every group the cell means strictly increase in
    score, so PAVA pools nothing and calibrated(g, x) is exactly the
    (g, x) cell mean — plain SQL for the oracle."""
    from monotonic_optimal_binning_spark.operators.calibration import (
        isotonic_calibrate_grouped,
    )

    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        F.pmod(F.col("user_id"), F.lit(3)).cast("long").alias("g"),
        F.pmod(F.col("user_id"), F.lit(5)).cast("double").alias("score"),
        (
            F.pmod(F.col("event_id"), F.lit(100))
            < (F.pmod(F.col("user_id"), F.lit(5)) + 1)
            * (F.lit(10) + F.lit(3) * F.pmod(F.col("user_id"), F.lit(3)))
        ).cast("double").alias("y"),
    )
    cal = isotonic_calibrate_grouped(df, "score", "y", "g", prebins="exact")
    out = cal.transform(df)
    return out.groupBy(
        "g", F.col("score").cast("long").alias("score")
    ).agg(
        F.round(F.avg("score_calibrated"), _R).alias("calibrated"),
        F.count(F.lit(1)).alias("n"),
    )


def q_calibration_table(spark, sf_dir):
    """Reliability/ECE table over fixed cut points (p = scaled discount,
    y = returned): one hash-aggregate scan, SQL-replayable."""
    from monotonic_optimal_binning_spark.operators.calibration import (
        calibration_table,
    )

    li = load_table(spark, sf_dir, "lineitem")
    df = li.select(
        (F.col("l_discount") * 10.0).alias("p"),
        (F.col("l_returnflag") == "R").cast("double").alias("y"),
    )
    out = calibration_table(df, "p", "y", [0.25, 0.5, 0.75])
    return out.select(
        "bucket",
        "n",
        F.round("avg_p", _R).alias("avg_p"),
        F.round("avg_y", _R).alias("avg_y"),
        F.round("gap", _R).alias("gap"),
        F.round("ece_term", _R).alias("ece_term"),
    )


def q_cv_metrics(spark, sf_dir):
    """Per-fold KS/AUC (cross-validated metric stability): deterministic
    md5 folds composed with the grouped evaluation operator — the oracle
    re-derives both the folds and the per-fold Mann-Whitney math."""
    from monotonic_optimal_binning_spark.operators.encoding import (
        fold_assignment,
    )
    from monotonic_optimal_binning_spark.operators.evaluation import (
        ks_auc_grouped,
    )

    li = load_table(spark, sf_dir, "lineitem")
    df = li.select(
        F.concat_ws(
            "-", F.col("l_orderkey"), F.col("l_linenumber")
        ).alias("rid"),
        F.col("l_discount").alias("score"),
        (F.col("l_returnflag") == "R").cast("double").alias("y"),
    ).withColumn("fold", fold_assignment(F.col("rid"), 4))
    out = ks_auc_grouped(df, "score", "y", "fold")
    return out.select(
        "fold",
        F.round("ks", _R).alias("ks"),
        F.round("auc", _R).alias("auc"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
    )


def q_reason_codes(spark, sf_dir):
    """Adverse-action reason codes from a bring-your-own-bins scorecard
    (literal cuts + WoEs, so the oracle replays the whole points/deficit/
    ordering pipeline in ANSI SQL): per line item, the features costing
    the most points vs their best bin, deficit-descending."""
    from monotonic_optimal_binning_spark import FittedBins, Scorecard

    li = load_table(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("x1"),
        F.col("l_discount").alias("x2"),
    )
    card = Scorecard(
        {
            "x1": FittedBins.from_cuts("x1", [25.0], [0.4, -0.4]),
            "x2": FittedBins.from_cuts("x2", [0.05], [0.3, -0.3]),
        },
        intercept=0.0,
    )
    out = card.reason_codes(df, top_k=2)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "score",
        F.array_join("reasons", ",").alias("reasons"),
    )


def q_frequency_encode(spark, sf_dir):
    """Label-free frequency encoding of documents.source: one aggregate
    scan + null-safe join-back."""
    from monotonic_optimal_binning_spark.operators.encoding import (
        frequency_encode,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = frequency_encode(docs, "source")
    return out.select(
        "doc_id", "source", F.round("source_freq", _R).alias("freq")
    )


def q_hash_encode(spark, sf_dir):
    """Feature-hashing trick on documents.lang: md5-derived bucket in
    [0,64) — engine-version-independent, reproduced bit-exactly by the
    oracle's manual hex parse."""
    from monotonic_optimal_binning_spark.operators.encoding import (
        hash_encode,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_encode(docs, ["lang"], 64).select(
        "doc_id", "lang", F.col("lang_hash").alias("bucket")
    )


def q_scorecard_points(spark, sf_dir):
    """PDO points scaling value-checked end-to-end: on the no-merge
    monotone construction every x is its own bin with a plain-SQL WoE,
    so the card's integer points (factor/offset arithmetic + half-up
    rounding, coef=1, intercept=0) are exactly reproducible by the
    oracle."""
    from monotonic_optimal_binning_spark.scorecard import Scorecard

    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        F.pmod(F.col("user_id"), F.lit(5)).cast("double").alias("x"),
        (
            F.pmod(F.col("event_id"), F.lit(100))
            < (F.pmod(F.col("user_id"), F.lit(5)) + 1) * 15
        ).cast("int").alias("y"),
    )
    b = SparkMonotonicBinner(
        "x", "y", prebins="exact",
        constraints=BinningConstraints(max_bins=10, min_bins=2),
    ).fit(df)
    card = Scorecard(
        {"x": b._model()}, intercept=0.0, pdo=20.0,
        base_points=600.0, base_odds=50.0,
    )
    out = card.transform(df)
    return out.groupBy(F.col("x").cast("long").alias("x")).agg(
        F.max("score").alias("points"),
        F.count(F.lit(1)).alias("n"),
    )


def q_gains_table(spark, sf_dir):
    """Scorecard gains/lift table over fixed discount cut points
    (y = returned line items): one hash-aggregate scan, k-row finish."""
    from monotonic_optimal_binning_spark.operators.evaluation import (
        gains_table,
    )

    li = load_table(spark, sf_dir, "lineitem")
    df = li.select(
        F.col("l_discount").alias("score"),
        (F.col("l_returnflag") == "R").cast("double").alias("y"),
    )
    out = gains_table(df, "score", "y", [0.03, 0.06, 0.09])
    return out.select(
        "bucket",
        "n",
        "n_pos",
        F.round("pos_rate", _R).alias("pos_rate"),
        "cum_n",
        "cum_pos",
        F.round("capture_rate", _R).alias("capture_rate"),
        F.round("lift", _R).alias("lift"),
        F.round("cum_lift", _R).alias("cum_lift"),
    )


def q_ks_auc_weighted(spark, sf_dir):
    """Frequency-weighted KS + Mann-Whitney AUC (weight_col on ks_auc):
    pos/neg masses are weight sums, so the metrics equal the k-fold
    replicated computation exactly (operators/evaluation.py)."""
    from monotonic_optimal_binning_spark.operators.evaluation import ks_auc

    li = load_table(spark, sf_dir, "lineitem")
    df = li.select(
        F.col("l_discount").alias("score"),
        (F.col("l_returnflag") == "R").cast("double").alias("y"),
        (F.lit(1.0) + F.pmod(F.col("l_orderkey"), F.lit(3))).alias("w"),
    )
    out = ks_auc(df, "score", "y", weight_col="w")
    return out.select(
        F.round("ks", _R).alias("ks"),
        F.round("auc", _R).alias("auc"),
        F.round("n_pos", _R).alias("n_pos"),
        F.round("n_neg", _R).alias("n_neg"),
    )


def q_ks_auc(spark, sf_dir):
    """Exact KS + tie-aware Mann-Whitney AUC of discount as a predictor
    of returns: per-distinct-score aggregate, prefix on the bounded
    aggregated frame."""
    from monotonic_optimal_binning_spark.operators.evaluation import ks_auc

    li = load_table(spark, sf_dir, "lineitem")
    df = li.select(
        F.col("l_discount").alias("score"),
        (F.col("l_returnflag") == "R").cast("double").alias("y"),
    )
    out = ks_auc(df, "score", "y")
    return out.select(
        F.round("ks", _R).alias("ks"),
        F.round("auc", _R).alias("auc"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
    )


def q_asof_join(spark, sf_dir):
    """Point-in-time as-of join: each click joined to the user's latest
    prior purchase (zero leakage)."""
    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", epoch_seconds(ev, "ts").alias("ts")
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", epoch_seconds(ev, "ts").alias("ts"), "value"
    )
    out = asof_join(
        left, right, on="user_id", left_ts="ts", value_cols=["value"],
        right_prefix="purchase_",
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("ts", _R).alias("ts"),
        F.round("purchase_value", _R).alias("purchase_value"),
    )


def q_asof_broadcast(spark, sf_dir):
    """Same point-in-time join as q_asof_join on the BROADCAST plan: the
    small purchase side is collected into per-key sorted arrays and each
    Arrow batch of clicks resolves matches with one searchsorted — the
    probe side is never shuffled. Shares q_asof_join's oracle (same
    result, different physical plan)."""
    from monotonic_optimal_binning_spark.operators.asof import (
        asof_join_broadcast,
    )

    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", epoch_seconds(ev, "ts").alias("ts")
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", epoch_seconds(ev, "ts").alias("ts"), "value"
    )
    out = asof_join_broadcast(
        left, right, on="user_id", left_ts="ts", value_cols=["value"],
        right_prefix="purchase_",
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("ts", _R).alias("ts"),
        F.round("purchase_value", _R).alias("purchase_value"),
    )


def q_asof_bucketed(spark, sf_dir):
    """Skew-resistant bucketed as-of join — must equal the plain as-of
    (same DuckDB ASOF oracle verifies both paths)."""
    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", epoch_seconds(ev, "ts").alias("ts")
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", epoch_seconds(ev, "ts").alias("ts"), "value"
    )
    out = asof_join_bucketed(
        left, right, on="user_id", left_ts="ts", value_cols=["value"],
        bucket_seconds=3600.0, right_prefix="purchase_",
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("ts", _R).alias("ts"),
        F.round("purchase_value", _R).alias("purchase_value"),
    )


def q_asof_forward(spark, sf_dir):
    """Forward-direction as-of: each click joined to the user's NEXT
    purchase at-or-after it (the mirrored window frame)."""
    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", epoch_seconds(ev, "ts").alias("ts")
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", epoch_seconds(ev, "ts").alias("ts"), "value"
    )
    out = asof_join(
        left, right, on="user_id", left_ts="ts", value_cols=["value"],
        direction="forward", right_prefix="next_",
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("ts", _R).alias("ts"),
        F.round("next_value", _R).alias("next_value"),
    )


def q_asof_tolerance(spark, sf_dir):
    """Backward as-of with a 1-hour tolerance: matches farther away are
    nulled (pandas merge_asof semantics)."""
    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", epoch_seconds(ev, "ts").alias("ts")
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", epoch_seconds(ev, "ts").alias("ts"), "value"
    )
    out = asof_join(
        left, right, on="user_id", left_ts="ts", value_cols=["value"],
        tolerance=3600.0, right_prefix="purchase_",
    )
    return out.select(
        "event_id",
        F.round("ts", _R).alias("ts"),
        F.round("purchase_value", _R).alias("purchase_value"),
    )


def q_leakage_audit(spark, sf_dir):
    """Zero-temporal-leakage audit of the backward as-of join: n_leaks
    MUST be 0 (north rule); the oracle recomputes all four stats from
    DuckDB's native ASOF join."""
    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", epoch_seconds(ev, "ts").alias("ts")
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", epoch_seconds(ev, "ts").alias("ts"), "value"
    )
    joined = asof_join(
        left, right, on="user_id", left_ts="ts", value_cols=["value"],
        right_prefix="purchase_", include_matched_ts="m_ts",
    )
    out = leakage_audit(joined, "ts", "m_ts")
    return out.select(
        "n_rows", "n_matched",
        F.col("n_leaks").cast("long").alias("n_leaks"),
        F.round("max_staleness", _R).alias("max_staleness"),
    )


def q_range_join(spark, sf_dir):
    """Point-in-interval join via the bucketed equi-join plan (no
    broadcast-nested-loop): docs matched to overlapping length bands."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    bands = spark.range(20).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 60).cast("double").alias("lo"),
        (F.col("id") * 60 + 100).cast("double").alias("hi"),
    )
    out = range_join(docs, bands, "n_chars", "lo", "hi", bucket_width=100.0)
    return out.select("doc_id", "band_id", F.col("n_chars").cast("long").alias("n_chars"))


def q_lag_lead(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = with_lag_lead(ev, ["value"], "user_id", "ts", lags=[1], leads=[1], tiebreak=["event_id"])
    return out.select(
        "event_id",
        F.round("value_lag1", _R).alias("value_lag1"),
        F.round("value_lead1", _R).alias("value_lead1"),
    )


def q_lag_lead_bucketed(spark, sf_dir):
    """Skew-resistant lag-1/lead-1 (local per-(key, time-bucket) windows +
    boundary carry from the one-row-per-bucket summary) — must equal the
    plain per-key window; same DuckDB oracle as lag_lead."""
    from monotonic_optimal_binning_spark.operators.windows import (
        with_lag_lead_bucketed,
    )

    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = with_lag_lead_bucketed(
        ev, ["value"], "user_id", "ts", bucket_seconds=3600.0,
        tiebreak=["event_id"],
    )
    return out.select(
        "event_id",
        F.round("value_lag1", _R).alias("value_lag1"),
        F.round("value_lead1", _R).alias("value_lead1"),
    )


def q_ngram_containment(spark, sf_dir):
    """Asymmetric n-gram containment pairs (excerpt/quote duplication the
    symmetric jaccard misses): widened by max(containment) >= 0.8."""
    docs = load_table(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.5, containment_threshold=0.8
    )
    return out.select(
        "id_a", "id_b",
        F.round("jaccard", _R).alias("jaccard"),
        F.round("containment_a", _R).alias("containment_a"),
        F.round("containment_b", _R).alias("containment_b"),
    )


def q_backfill(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("value") >= 5.0, F.col("value")).alias("value_masked"),
    )
    out = backfill(ev, ["value_masked"], "user_id", "ts", tiebreak=["event_id"])
    return out.select(
        "event_id", F.round("value_masked_filled", _R).alias("value_filled")
    )


def q_backfill_bucketed(spark, sf_dir):
    """Skew-resistant forward-fill (local fill per (key, time-bucket) +
    carried last-non-null over the tiny bucket summary) — must equal the
    plain per-key window; the same DuckDB oracle verifies both paths."""
    from monotonic_optimal_binning_spark.operators.windows import (
        backfill_bucketed,
    )

    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("value") >= 5.0, F.col("value")).alias("value_masked"),
    )
    out = backfill_bucketed(
        ev, ["value_masked"], "user_id", "ts", bucket_seconds=3600.0,
        tiebreak=["event_id"],
    )
    return out.select(
        "event_id", F.round("value_masked_filled", _R).alias("value_filled")
    )


def q_sessionize(spark, sf_dir):
    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_seconds=1800.0, tiebreak=["event_id"])
    # session_value as a micro-scaled integer sum: floor(v*1e6) per row is
    # deterministic and the integer sum is partition-order-independent, so
    # the value-hash is stable at any parallelism (a double sum could flip
    # its 6-dp rounding by one ulp depending on reduction order)
    micro = F.floor(F.col("value") * 1e6).cast("long")
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(micro).alias("session_value_micro"),
    )


def q_sessionize_bucketed(spark, sf_dir):
    """Skew-resistant sessionize (local per-(key, time-bucket) sessions +
    tiny-summary stitching) — must equal the plain per-key window
    row-for-row; the same DuckDB oracle verifies both paths."""
    from monotonic_optimal_binning_spark.operators.windows import (
        sessionize_bucketed,
    )

    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    s = sessionize_bucketed(
        ev, "user_id", "ts", gap_seconds=1800.0, bucket_seconds=3600.0,
        tiebreak=["event_id"],
    )
    micro = F.floor(F.col("value") * 1e6).cast("long")
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(micro).alias("session_value_micro"),
    )


def q_rolling_stats(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = rolling_stats(ev, "value", "user_id", "ts", n_rows=3, stats=("mean", "count"), tiebreak=["event_id"])
    return out.select(
        "event_id",
        F.round("value_roll_mean", _R).alias("roll_mean"),
        F.col("value_roll_count").alias("roll_count"),
    )


def q_json_extract(spark, sf_dir):
    """JSON property extraction (get_json_object, JVM-side) + typed agg —
    the JSON scalar-function family the reference lacks entirely."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.select("event_type", k.alias("k")).groupBy(
        "event_type", F.pmod(F.col("k"), F.lit(10)).alias("k_mod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("k_sum"),
        F.max("k").alias("k_max"),
    )


def q_tumbling_agg(spark, sf_dir):
    """Tumbling 1-hour window aggregate (time_bucket operator)."""
    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    b = time_bucket(ev, "ts", 3600.0, out_col="bucket")
    micro = F.floor(F.col("value") * 1e6).cast("long")
    return b.groupBy("bucket", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(micro).alias("value_micro"),
    )


def q_sliding_window(spark, sf_dir):
    """1-hour windows sliding every 15 minutes (native window generator)."""
    pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    micro = F.floor(F.col("value") * 1e6).cast("long")
    return sliding_window_agg(
        ev, "ts", 3600, 900, keys=("event_type",),
        aggs={"n": F.count(F.lit(1)), "value_micro": F.sum(micro)},
    )


def q_deterministic_split(spark, sf_dir):
    """Reproducible train/val/test assignment as a pure function of
    (id, salt) — stable across partitioning/cluster size, unlike
    randomSplit; the oracle re-derives every row's split from md5."""
    from monotonic_optimal_binning_spark.operators.sampling import (
        deterministic_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = deterministic_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("n_chars").cast("long")).alias("chars"),
    )


def q_hash_sample(spark, sf_dir):
    """Deterministic fractional sample keyed by md5(salt||id) — stable
    under partitioning/cluster size unlike DataFrame.sample; the oracle
    re-derives the exact kept set."""
    from monotonic_optimal_binning_spark.operators.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    out = hash_sample(docs, "doc_id", 0.3)
    return out.select("doc_id", "source")


def q_exact_dedup(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id").select("doc_id", "source")


def q_exact_dedup_agg(spark, sf_dir):
    """Skew-resistant dedup strategy (map-side-combinable winner aggregate +
    id semi-join) — must equal the window strategy row-for-row."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id", strategy="agg").select(
        "doc_id", "source"
    )


def q_expectations_check(spark, sf_dir):
    """Declarative data-contract gate: 7 expectations (null ratios, set
    membership, value ranges, regex compliance, key uniqueness, row
    count, aggregate bounds) verified in ONE aggregate scan of lineitem
    (operators/expectations.py). The synthetic lineitem's duplicate
    (l_orderkey, l_linenumber) pairs make uniqueness a real <1 ratio."""
    from monotonic_optimal_binning_spark.operators.expectations import (
        expect_between,
        expect_in_set,
        expect_not_null,
        expect_regex,
        expect_row_count,
        expect_stat,
        expect_unique,
        run_checks,
    )

    li = load_table(spark, sf_dir, "lineitem")
    out = run_checks(
        li,
        [
            expect_not_null("l_quantity"),
            expect_in_set("l_returnflag", ["A", "N", "R"]),
            expect_between("l_discount", 0.0, 0.05, min_ratio=0.6),
            expect_regex("l_returnflag", "^[A-Z]$"),
            expect_unique(["l_orderkey", "l_linenumber"], min_ratio=0.9),
            expect_row_count(lo=1000),
            expect_stat("l_quantity", "mean", lo=20, hi=30),
        ],
    )
    return out.select(
        "name", "kind", "column", F.round("observed", _R).alias("observed"),
        "bound_lo", "bound_hi", "passed",
    )


def q_keep_best_doc(spark, sf_dir):
    """Canonical-row selection after duplicate detection: one winner per
    (lang, source) group — highest n_chars, ties to the smallest doc_id —
    via the map-side-combinable max(struct(...)) aggregate (no window,
    no hot-group task; plan pinned in tests)."""
    from monotonic_optimal_binning_spark.operators.dedup import keep_best

    docs = load_table(spark, sf_dir, "documents")
    out = keep_best(docs, ["lang", "source"], "n_chars", "doc_id")
    return out.select("doc_id", "lang", "source", "n_chars")


def q_bin_stability(spark, sf_dir):
    """K-fold bin-boundary stability in ONE grouped scan (3 fold fits =
    one aggregate pass + 3 driver solves). Value-checked via the
    monotone no-merge construction applied PER FOLD: y's group means are
    strictly monotone inside every md5-threshold fold (15pp gaps vs
    sub-pp sampling noise at sf>=0.001), so each fold's fit is exactly
    the per-(fold, x) SQL aggregate, and the fold assignment itself
    (md5(salt||id) prefix vs threshold literals) is reproduced verbatim
    in the oracle."""
    from monotonic_optimal_binning_spark.operators.model_diff import (
        bin_stability,
    )

    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(5)).cast("double").alias("x"),
        (
            F.pmod(F.col("event_id"), F.lit(100))
            < (F.pmod(F.col("user_id"), F.lit(5)) + 1) * 15
        ).cast("int").alias("y"),
    )
    long_df, _models = bin_stability(
        df, "x", "y", "event_id", n_folds=3, prebins="exact",
        constraints=BinningConstraints(max_bins=10, min_bins=2),
    )
    return long_df.select(
        F.col("fold").cast("long").alias("fold"),
        F.col("bin").cast("long").alias("bin"),
        "left", "right",
        F.round("woe", _R).alias("woe"),
        F.col("n_bins").cast("long").alias("n_bins"),
    )


def q_source_overlap(spark, sf_dir):
    """Cross-source duplication matrix: distinct word-3-gram sets per
    source, pairwise intersections via ONE shingle-keyed self-join whose
    fan-out is bounded by k sources (never the doc-level m^2). The
    xxhash64 shingle is an equi-join key for shingle-string equality, so
    the oracle re-derives the exact matrix from string n-grams."""
    from monotonic_optimal_binning_spark.operators.dedup import (
        source_overlap_matrix,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = source_overlap_matrix(docs, "text", "source", shingle_size=3)
    return out.select(
        "source_a", "source_b",
        F.col("common").cast("long").alias("common"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        F.round("jaccard", _R).alias("jaccard"),
        F.round("containment_a", _R).alias("containment_a"),
        F.round("containment_b", _R).alias("containment_b"),
    )


def q_chunk_documents(spark, sf_dir):
    """Sliding-window document chunking (64-token windows, 16 overlap):
    pure codegen, explode-first (token array materializes once per doc),
    ZERO shuffles — the RAG-indexing map re-derived exactly in SQL."""
    from monotonic_optimal_binning_spark.operators.packing import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id", max_tokens=64, overlap=16)


def q_token_drift(spark, sf_dir):
    """Vocabulary drift (per-token JS contributions + __rest__ mass)
    between two deterministic corpus slices (even vs odd doc_id):
    exact counts + closed-form divergence, fully SQL-reproducible."""
    from monotonic_optimal_binning_spark.operators.textstats import (
        token_distribution_drift,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = token_distribution_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        top_k=50,
    )
    return out.select(
        "token", "is_rest",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("p_a", _R).alias("p_a"),
        F.round("p_b", _R).alias("p_b"),
        F.round("js_contrib", _R).alias("js_contrib"),
    )


def q_token_count(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count(F.col("text")).alias("n_tok"))


def q_bpe_token_count(spark, sf_dir):
    """BPE-ish sub-word token count (regex stand-in for a tokenizer)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", bpe_ish_token_count(F.col("text")).alias("n_bpe"))


def q_quality(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    q = quality_features(docs)
    return q.select(
        "doc_id",
        F.col("n_tokens").alias("n_tokens"),
        F.round("punct_ratio", _R).alias("punct_ratio"),
        F.round("digit_ratio", _R).alias("digit_ratio"),
        F.round("stopword_ratio", _R).alias("stopword_ratio"),
    )


def q_fingerprint_dedup(spark, sf_dir):
    """Normalized-content fingerprint via md5 (SQL-checkable)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), r"[^\p{L}\p{N} ]", "")
    norm = F.regexp_replace(F.trim(norm), r"\s+", " ")
    return docs.select("doc_id", F.md5(norm).alias("fp"))


def q_lang_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return language_id(docs).groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_minhash_pairs(spark, sf_dir):
    """Near-dup candidate pairs, VALUE-CHECKED end-to-end: the md5
    shingle-hash mode (operators/dedup.py _hash_gram) makes every stage
    ANSI-SQL-reproducible — shingle values are md5-derived bigints DuckDB
    computes from the same strings, the (a*h+b) mod p signature min-fold
    uses driver-side literal params (_minhash_params(32, 42)), and the
    xxhash64 bucket is only an equi-join key for band-slice equality, so
    slice-equality joins give the same candidate set (_minhash_sig_cte).
    The engine's max_bucket_size cap is modeled in the oracle (sf1
    lesson: unmodeled caps only agree below the scale where they bind).
    The jaccard >= 0.5 filter is pushed INSIDE the operator so
    below-threshold pairs are never materialized."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(
        docs, "text", "doc_id", num_hashes=32, n_bands=8,
        shingle_size=3, shingle_unit="word", shingle_hash="md5",
        threshold=0.5,
        materialize=True,  # eager: releases the LSH caches (cheap now that
        # the threshold filter runs before materialization)
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", _R).alias("jaccard")
    )


def q_minhash_planted(spark, sf_dir):
    """MinHash LSH made value-checkable: planted byte-identical duplicates
    (doc_id + 100000) have identical shingle sets, hence identical MinHash
    signatures, hence co-bucket in EVERY band — so the jaccard == 1 slice
    of the candidate set is exactly the set of equal-shingle-set pairs,
    which DuckDB reproduces by grouping on the sorted word-3-gram set."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 50
    ).select("doc_id", "text")
    planted = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    uni = docs.unionByName(planted)
    pairs = minhash_lsh_candidates(
        uni, "text", "doc_id",
        num_hashes=32, n_bands=8, shingle_size=3, shingle_unit="word",
        threshold=1.0, materialize=True,
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", _R).alias("jaccard")
    )


def q_lsh_bucket_audit(spark, sf_dir):
    """Cap-tuning diagnostic: the LSH index's bucket-size histogram summary
    (shares the exact banding pipeline with the candidate generator, so
    the audit can never drift from the real bucketing). Buckets hash
    xxhash64 signatures -> engine-specific -> rows-only."""
    from monotonic_optimal_binning_spark.operators.dedup import (
        lsh_bucket_sizes,
    )

    docs = load_table(spark, sf_dir, "documents")
    hist = lsh_bucket_sizes(
        docs, "text", "doc_id", num_hashes=32, n_bands=8,
        shingle_size=3, shingle_unit="word",
    )
    return hist.groupBy("n_ids").agg(
        F.count(F.lit(1)).alias("n_buckets")
    )


def q_ngram_jaccard(spark, sf_dir):
    """EXACT word-3-gram Jaccard pairs >= 0.5 via inverted-index join
    (SQL-expressible -> full value check against DuckDB)."""
    docs = load_table(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", _R).alias("jaccard"))


def q_ngram_jaccard_maxdf(spark, sf_dir):
    """n-gram Jaccard with the max_df stop-shingle guard: both numerator
    and denominator use the FILTERED shingle universe (the guard a 100 TB
    corpus needs against frequent-shingle join blowup)."""
    docs = load_table(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.4, max_df=4)
    return out.select("id_a", "id_b", F.round("jaccard", _R).alias("jaccard"))


def q_tfidf_topk(spark, sf_dir):
    """Top-3 TF-IDF terms per document (first 30 docs)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    scored = tf_idf(docs, "text", "doc_id")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id", "term", "tf", "df",
            F.round("tfidf", _R).alias("tfidf"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def q_dedup_clusters(spark, sf_dir):
    """Transitive near-duplicate CLUSTERS: connected components
    (large-star/small-star) of the exact n-gram-Jaccard pair graph. The
    oracle recomputes components with a recursive CTE over the same pairs."""
    from monotonic_optimal_binning_spark.operators.graph import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    return connected_components(pairs).select("id", "component")


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide paragraph dedup on planted structure: each composite
    doc = its own text + '\\n\\n' + the text of doc (id mod 10), so every
    second paragraph is shared ten ways (and docs 0-9 also collide with
    their own first paragraph). The operator keeps each paragraph at its
    first (id, pos) occurrence and reassembles; DuckDB re-derives the
    exact surviving text per doc."""
    from monotonic_optimal_binning_spark.operators.dedup import (
        paragraph_dedup,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    partner = docs.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("__pid"), F.col("text").alias("__ptext")
    )
    composed = (
        docs.withColumn("__pid", F.pmod(F.col("doc_id"), F.lit(10)))
        .join(partner, on="__pid")
        .select(
            "doc_id",
            F.concat(F.col("text"), F.lit("\n\n"), F.col("__ptext")).alias(
                "text"
            ),
        )
    )
    out = paragraph_dedup(composed, "text", "doc_id")
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("text_md5"),
        F.col("n_paras_kept"),
    )


def q_simhash_planted(spark, sf_dir):
    """SimHash made value-checkable (the planted-twin pattern of
    q_minhash_planted): byte-identical planted duplicates (doc_id +
    100000) have identical token MULTISETS, and the 64-bit fingerprint is
    a pure function of the multiset (per-token votes are order-
    insensitive) — so the hamming==0 slice of the banded-Hamming join is
    exactly the set of equal-token-multiset pairs, which DuckDB
    reproduces by joining on the sorted token list. Distinct multisets
    colliding on all 64 bits would break the equivalence (~n²/2⁶⁴ —
    absent at this scale)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "text")
    )
    planted = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    uni = docs.unionByName(planted)
    out = simhash_neardup_pairs(uni, "text", "doc_id", max_hamming=0)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_simhash_dedup(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return simhash_dedup(docs, "text", "doc_id").select("doc_id")


def q_simhash_neardup(spark, sf_dir):
    """Pairs within 8 SimHash bits via the banded Hamming equi-join —
    exact given the fingerprint function (pigeonhole), but the xxhash64
    fingerprints aren't reproducible in ANSI SQL -> rows-only (the
    banding/distance math is value-checked by simhash_banded_fp, the
    fingerprint function by simhash_planted). fp_a/fp_b emitted so the
    hamming is auditable from the row itself."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(
        docs, "text", "doc_id", max_hamming=8, include_fp=True
    ).select("id_a", "id_b", "fp_a", "fp_b", "hamming")


def q_quantize_embeddings(spark, sf_dir):
    """Per-vector symmetric int8 quantization (similarity.py
    quantize_embeddings): scale = max|v|/127, q_i = floor(v_i/scale+0.5)
    — the EXPLICIT half-up formula, so DuckDB re-derives every quantized
    value bit-exactly from the same doubles. Values are checked through
    exact integer aggregates per vector (sum/min/max of q) plus the
    reconstruction-error fold as floor(err*1e9) integers (element-wise
    floor BEFORE the sum keeps the fold order-independent)."""
    from monotonic_optimal_binning_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    v = F.col("embedding").cast("array<double>")
    qd = F.col("q_vec").cast("array<double>")
    scale = F.col("q_scale")
    err = F.aggregate(
        F.zip_with(
            v, qd, lambda x, qq: F.floor(F.abs(x - qq * scale) * 1e9)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # two-step select: aliasing round(q_scale) AS q_scale in the same
    # list would LATERALLY shadow the input column (Spark >= 3.4 lateral
    # column aliases), silently feeding the ROUNDED scale into the err
    # fold — round only after every fold has consumed the exact scale
    return q.select(
        "vec_id",
        "q_scale",
        F.aggregate(
            F.col("q_vec").cast("array<long>"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("q_sum"),
        F.array_min("q_vec").cast("long").alias("q_min"),
        F.array_max("q_vec").cast("long").alias("q_max"),
        err.alias("err_nano"),
    ).withColumn("q_scale", F.round("q_scale", _R))


def q_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", _R).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_lsh_topk(spark, sf_dir):
    """Approximate ANN via banded random-hyperplane LSH + exact re-score.
    VALUE-CHECKED since r6: the planes are deterministic driver literals
    and the xxhash64 bucket is only an equi-join key for bit-slice
    equality, so the oracle re-derives the exact candidate set + top-k in
    ANSI SQL (_hyperplane_lsh_cte)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(emb, queries, k=5, dim=_EMBED_DIM, n_planes=16, n_bands=8)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", _R).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ivf_topk(spark, sf_dir):
    """IVF ANN tier: k-means coarse cells + n_probe nearest-cell candidate
    join + exact re-score (training is data-dependent -> rows-only)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", _R).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_lsh_topk_planted(spark, sf_dir):
    """LSH top-k made value-checkable: the corpus carries a planted
    bit-identical twin (vec_id + 100000) of every query vector; the twin
    shares every LSH band with its query (identical hyperplane signs), so
    at k=1 the result is deterministically (query, twin, cosine 1, rank 1)
    — the whole bucketing/re-scoring/ranking path value-checked."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 200
    ).select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    out = lsh_topk(
        corpus, queries, k=1, dim=_EMBED_DIM, n_planes=16, n_bands=8
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", _R).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ivf_topk_planted(spark, sf_dir):
    """IVF top-k made value-checkable: a planted identical twin lands in
    the same k-means cell as its query's nearest cell (same centroid
    distances), so with n_probe=2 covering assignment ties the k=1 result
    is deterministically (query, twin, cosine 1, rank 1)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 200
    ).select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    out = ivf_topk(corpus, queries, k=1, n_cells=8, n_probe=2)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", _R).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_simhash_banded_fp(spark, sf_dir):
    """The banded-Hamming half of the SimHash near-dup operator
    (operators/dedup.py simhash_banded_pairs) value-checked end-to-end:
    fingerprints are synthesized with cross-engine SQL arithmetic
    (cluster id in the high bits, a single perturbation bit in the low
    bits), and by the pigeonhole guarantee the banded equi-join + popcount
    verify must return EXACTLY the all-pairs hamming <= 2 set — which
    DuckDB reproduces as a cross self-join with bit_count(xor(...)).
    Converts the distance/banding logic from rows-only to value-checked
    (fingerprint *generation* stays covered by simhash_planted)."""
    docs = load_table(spark, sf_dir, "documents")
    # fp layout (64 bits, 4 blocks of 16 at max_hamming=2... n_blocks=3
    # would also work; the default is max_hamming+1=3 blocks of 21/21/22):
    # a 6-bit group id g = doc_id % 40 REPLICATED at bits 16, 32, and 48,
    # plus a single perturbation bit (doc_id % 5) in the low block. Every
    # block therefore carries real entropy — no constant block whose band
    # bucket would hold the whole corpus and turn the band self-join
    # quadratic — and pairs land at hamming 0/2 within a group (same vs
    # different perturbation bit) and >= 3 across groups (the replicated g
    # differs in every one of the three high blocks), so max_hamming=2
    # selects exactly the within-group pairs at any scale
    g = F.col("doc_id") % 40
    fp = (
        g * F.lit((1 << 16) + (1 << 32) + (1 << 48))
        + F.pow(F.lit(2.0), (F.col("doc_id") % 5).cast("double")).cast("long")
    )
    base = docs.select("doc_id", fp.alias("fp"))
    # cap disabled: the oracle is the EXACT all-pairs set; bucket sizes
    # are bounded by design (n/40 per high-block bucket, n/5 low)
    out = simhash_banded_pairs(
        base, "fp", "doc_id", max_hamming=2, include_fp=True,
        max_bucket_size=None,
    )
    return out.select(
        "id_a", "id_b", "fp_a", "fp_b",
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_ivf_topk_loaded(spark, sf_dir):
    """The IVF codebook artifact on the serving path: fit the coarse
    quantizer once, save_json -> load_json, and answer the planted-twin
    query from the LOADED codebook (no KMeans on the query path). The
    loaded route is bit-identical to fit-fresh (same broadcast-matmul
    router, exact JSON float round-trip), so this shares
    q_ivf_topk_planted's deterministic oracle."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 200
    ).select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "ivf_codebook.json")
        fit_ivf_codebook(corpus, n_cells=8, seed=42).save_json(path)
        codebook = IVFCodebook.load_json(path)
    out = ivf_topk(corpus, queries, k=1, n_probe=2, codebook=codebook)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", _R).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs via hyperplane-LSH candidates +
    exact re-score. VALUE-CHECKED since r6: the oracle re-derives the
    banded candidate set from the same deterministic plane literals
    (_hyperplane_lsh_cte) and re-scores it exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    # synthetic embeddings are near-orthogonal (max pairwise cosine ~0.51 at
    # sf0.01), so 0.4 exercises the candidate->verify path with real output
    out = embedding_neardup_pairs(
        emb, "embedding", "vec_id", _EMBED_DIM, threshold=0.4, n_planes=16, n_bands=8
    )
    return out.select("id_a", "id_b", F.round("cosine", _R).alias("cosine"))


def q_embedding_neardup_planted(spark, sf_dir):
    """Hyperplane-LSH near-dup made value-checkable: planted bit-identical
    vectors (vec_id + 100000) share every LSH band by construction, so at
    threshold 0.999999 (synthetic embeddings max non-identical cosine
    ~0.51) the pair set is exactly the identical-vector pairs — a plain
    DuckDB cross-pair cosine query."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 100
    ).select("vec_id", "embedding")
    planted = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    uni = emb.unionByName(planted)
    out = embedding_neardup_pairs(
        uni, "embedding", "vec_id", _EMBED_DIM,
        threshold=0.999999, n_planes=16, n_bands=8,
    )
    return out.select("id_a", "id_b", F.round("cosine", _R).alias("cosine"))


def q_media_features(spark, sf_dir):
    """Multimodal plumbing end-to-end: deterministic binary media table ->
    Arrow-batched mapInPandas decode/featurize -> typed aggregate. The
    n_bytes/media_type aggregates are SQL-reproducible (the synthetic table
    is plain arithmetic + sha256 over row ids); the feature vectors
    themselves come from the stubbed codec and stay engine-side."""
    from monotonic_optimal_binning_spark.operators.multimodal import (
        extract_media_features,
        synthetic_media_table,
    )

    media = synthetic_media_table(spark, _MEDIA_ROWS, seed=_MEDIA_SEED)
    feats = extract_media_features(media, feature_dim=16, decoder="fake")
    return feats.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("n_bytes").cast("long")).alias("total_bytes"),
        F.min(F.col("n_bytes").cast("long")).alias("min_bytes"),
        F.max(F.col("n_bytes").cast("long")).alias("max_bytes"),
    )


def q_media_features_real(spark, sf_dir):
    """REAL media decode end-to-end: deterministic table of actual
    PNG/GIF/BMP/WAV container bytes (plus planted garbage rows) ->
    pure-stdlib header parse in Arrow-batched mapInPandas -> typed row per
    payload. Every header field in the fixture is modular arithmetic over
    the row id, so the oracle states the expected parse in closed form —
    a wrong width/duration/chunk-walk in the parser hash-fails here."""
    from monotonic_optimal_binning_spark.operators.multimodal import (
        extract_media_headers,
        synthetic_media_table_real,
    )

    media = synthetic_media_table_real(spark, _MEDIA_REAL_ROWS)
    return extract_media_headers(media)


def q_pack_chunks(spark, sf_dir):
    """Concat-then-chunk sequence packing (GPT-style pretraining packing):
    documents laid end-to-end by doc_id and cut into 512-token chunks via
    the distributed two-level prefix sum (no single-task global window)."""
    from monotonic_optimal_binning_spark.operators.packing import (
        pack_sequences,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", token_count(F.col("text")).alias("n_tok"))
    out = pack_sequences(d, "n_tok", "doc_id", 512)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("doc_offset").cast("long").alias("doc_offset"),
        F.col("chunk_offset").cast("long").alias("chunk_offset"),
        F.col("n_tok_slice").cast("long").alias("n_tok_slice"),
    )


def q_repetition(spark, sf_dir):
    """Gopher-style repetition/quality signals (dup-line fractions, top
    token frequency) — computed shuffle-free with sorted-array folds; the
    oracle recomputes the same semantics with explode + group-by."""
    from monotonic_optimal_binning_spark.operators.textstats import (
        repetition_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = repetition_features(docs)
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.round("dup_line_frac", _R).alias("dup_line_frac"),
        F.round("dup_line_char_frac", _R).alias("dup_line_char_frac"),
        F.round("top_token_frac", _R).alias("top_token_frac"),
    )


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing pipeline: counts + typed-placeholder redaction, all
    JVM-side regex. The input is augmented with one synthetic email and
    IPv4 per row (the testdata has none) so the check exercises real
    replacements; md5 of the scrubbed text pins byte-exact output."""
    from monotonic_optimal_binning_spark.operators.textstats import pii_scrub

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via 10.2."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".7 now"),
        ).alias("text"),
    )
    out = pii_scrub(aug)
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_digit_run").cast("long").alias("n_digit_run"),
        F.md5(F.col("text_scrubbed")).alias("scrub_md5"),
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-source cap (training-mix balancing): keep the 10
    rows with the smallest md5(salt||id) per source — reproducible across
    partitioning/cluster size; the oracle re-derives the exact pick."""
    from monotonic_optimal_binning_spark.operators.sampling import (
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(docs, "source", "doc_id", 10)
    return out.select("doc_id", "source")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination audit: count of distinct word-3-grams each
    corpus doc shares with the 'benchmark' slice (doc_id < 5) — the eval-
    leakage guard; plan is one corpus scan + broadcast of the benchmark's
    distinct shingle set."""
    from monotonic_optimal_binning_spark.operators.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") >= 5).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") < 5).select("doc_id", "text")
    out = decontaminate(
        corpus, bench, shingle_size=3, shingle_unit="word", mode="flag"
    )
    return out.select(
        "doc_id",
        F.col("n_contaminated_ngrams").cast("long").alias("n_contaminated"),
    )


def q_token_budget_mix(spark, sf_dir):
    """Training-mixture sampling: keep rows per source in deterministic
    hash order until each source's TOKEN budget is hit (overshoot < 1 doc);
    the oracle re-derives the exact kept set from the same window cumsum."""
    from monotonic_optimal_binning_spark.operators.sampling import (
        sample_to_token_budget,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tok")
    )
    out = sample_to_token_budget(
        d, "source", "doc_id", "n_tok", {"src0": 900, "src1": 400}
    )
    return out.select("doc_id", "source", F.col("n_tok").cast("long").alias("n_tok"))


def q_psi_drift_weighted(spark, sf_dir):
    """Weighted sample-vs-sample PSI (weight_col on psi/bucket_counts):
    bucket masses are frequency-weight sums on BOTH sides; all-zero-
    weight buckets carry no mass (operators/drift.py)."""
    from monotonic_optimal_binning_spark.operators.drift import psi

    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.when(F.col("n_chars") < 200, "s")
        .when(F.col("n_chars") < 600, "m")
        .otherwise("l")
        .alias("bucket")
    )
    w = (F.lit(1.0) + F.pmod(F.col("doc_id"), F.lit(3))).alias("w")
    expected = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0).select(
        bucket, w
    )
    actual = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1).select(
        bucket, w
    )
    out = psi(expected, actual, "bucket", weight_col="w")
    return out.select(
        "bucket",
        F.round("n_expected", _R).alias("n_expected"),
        F.round("n_actual", _R).alias("n_actual"),
        F.round("pct_expected", _R).alias("pct_expected"),
        F.round("pct_actual", _R).alias("pct_actual"),
        F.round("psi_term", _R).alias("psi_term"),
    )


def q_psi_drift(spark, sf_dir):
    """Population stability index between two corpus slices over fixed
    n_chars buckets — the scorecard drift monitor that accompanies WoE
    binning (0.5-smoothed shares, so one-sided-empty bins stay finite)."""
    from monotonic_optimal_binning_spark.operators.drift import psi

    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.when(F.col("n_chars") < 200, "s")
        .when(F.col("n_chars") < 600, "m")
        .otherwise("l")
        .alias("bucket")
    )
    expected = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0).select(bucket)
    actual = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1).select(bucket)
    out = psi(expected, actual, "bucket")
    return out.select(
        "bucket",
        "n_expected",
        "n_actual",
        F.round("pct_expected", _R).alias("pct_expected"),
        F.round("pct_actual", _R).alias("pct_actual"),
        F.round("psi_term", _R).alias("psi_term"),
    )


def q_tpch_q1(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), _R).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), _R).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), _R
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), _R).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_join_topk(spark, sf_dir):
    """Broadcast dimension joins + top-k by revenue."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    out = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), _R).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
        .limit(5)
    )
    return out


def q_rollup(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), _R).alias("total"))
        .select(F.coalesce("event_type", F.lit("ALL")).alias("event_type"), "n", "total")
    )


def q_percentiles(spark, sf_dir):
    """Exact percentiles per group (linear interpolation — matches DuckDB
    quantile_cont). The reference's quantile surface is approxQuantile
    pre-binning; this is the exact analog for small-group stats."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), _R).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), _R).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), _R).alias("p99"),
    )


def q_cube_agg(spark, sf_dir):
    """CUBE grouping-sets aggregate over (event_type, value-band)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.col("value") < 5.0, "low").otherwise("high").alias("band"),
        F.floor(F.col("value") * 1e6).cast("long").alias("vmicro"),
    )
    return (
        ev.cube("event_type", "band")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vmicro").alias("vmicro_sum"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("band", F.lit("ALL")).alias("band"),
            "n",
            "vmicro_sum",
        )
    )


def q_per_source_fit(spark, sf_dir):
    """Per-source monotone binning of n_tok (iterative -> rows-only)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = tokenize_text(docs, "text", doc_id_col="doc_id", source_col="source")
    labeled = tok.join(
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            (F.col("lang") == "en").cast("int").alias("y"),
        ),
        on="doc_id",
    )
    binners = fit_binners_per_group(
        labeled, "source", "n_tok", "y",
        constraints=BinningConstraints(max_bins=4, min_bins=2),
    )
    rows = []
    for src, b in sorted(binners.items()):
        bins = b.bins_df
        for _, r in bins.iterrows():
            rows.append((src, float(r["left"]), float(r["right"]), int(r["n"]),
                         round(float(r["mean"]), _R)))
    return spark.createDataFrame(
        rows, "source string, left double, right double, n long, mean double"
    )


def q_per_source_fit_monotone(spark, sf_dir):
    """The per-source fused fit made value-checkable: per-source strictly
    monotone group means (15pp gaps per x step, independent of source) with
    max_bins >= n_groups, so PAVA pools nothing in ANY source and every
    source's fitted bins are exactly the per-(source, x) SQL aggregates —
    the grouped twin of bin_fit_monotone."""
    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        F.pmod(F.col("user_id"), F.lit(3)).alias("source"),
        F.pmod(F.col("user_id"), F.lit(5)).cast("double").alias("x"),
        (
            F.pmod(F.col("event_id"), F.lit(100))
            < (F.pmod(F.col("user_id"), F.lit(5)) + 1) * 15
        ).cast("int").alias("y"),
    )
    binners = fit_binners_per_group(
        df, "source", "x", "y", prebins="exact",
        constraints=BinningConstraints(max_bins=10, min_bins=2),
    )
    rows = []
    for src, b in sorted(binners.items()):
        for _, r in b.bins_df.iterrows():
            rows.append(
                (
                    int(src),
                    float(r["left"]),
                    float(r["right"]),
                    int(r["n"]),
                    round(float(r["mean"]), _R),
                )
            )
    return spark.createDataFrame(
        rows, "source long, left double, right double, n long, mean double"
    )


def q_per_source_fit_incremental(spark, sf_dir):
    """The grouped INCREMENTAL fit value-checked: same no-merge monotone
    construction as per_source_fit_monotone, but every source's stats are
    collected as two per-partition artifacts (event_id parity) merged
    algebraically on the driver, then solved with fit_groups_from_stats —
    must equal the one-scan grouped fit, so it shares its oracle."""
    from monotonic_optimal_binning_spark import (
        collect_group_stats,
        fit_groups_from_stats,
    )

    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        F.col("event_id"),
        F.pmod(F.col("user_id"), F.lit(3)).alias("source"),
        F.pmod(F.col("user_id"), F.lit(5)).cast("double").alias("x"),
        (
            F.pmod(F.col("event_id"), F.lit(100))
            < (F.pmod(F.col("user_id"), F.lit(5)) + 1) * 15
        ).cast("int").alias("y"),
    )
    kw = dict(
        prebins="exact",
        constraints=BinningConstraints(max_bins=10, min_bins=2),
    )
    even = df.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    odd = df.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    s = collect_group_stats(even, "source", "x", "y", label="even", **kw)
    s = collect_group_stats(odd, prior=s, label="odd", **kw)
    binners = fit_groups_from_stats(s, **kw)
    rows = []
    for src, b in sorted(binners.items()):
        for _, r in b.bins_df.iterrows():
            rows.append(
                (
                    int(src),
                    float(r["left"]),
                    float(r["right"]),
                    int(r["n"]),
                    round(float(r["mean"]), _R),
                )
            )
    return spark.createDataFrame(
        rows, "source long, left double, right double, n long, mean double"
    )


def q_psi_drift_grouped(spark, sf_dir):
    """Per-source PSI against a fitted grouped artifact, value-checked via
    the deterministic no-merge construction of q_per_source_fit_monotone:
    every source's bins are the plain per-(source, x) aggregates with
    known interval labels, so expected counts, the actual slice's bucket
    assignment, and the 0.5-smoothed per-group PSI terms are all
    ANSI-SQL-reproducible. The actual slice keeps x <= 2 only — a real
    shift that leaves two bins empty on the actual side in every source
    (exercising the full-outer + smoothing path per group)."""
    from monotonic_optimal_binning_spark.operators.drift import (
        grouped_model_psi,
    )

    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        F.pmod(F.col("user_id"), F.lit(3)).alias("source"),
        F.pmod(F.col("user_id"), F.lit(5)).cast("double").alias("x"),
        (
            F.pmod(F.col("event_id"), F.lit(100))
            < (F.pmod(F.col("user_id"), F.lit(5)) + 1) * 15
        ).cast("int").alias("y"),
    )
    binners = fit_binners_per_group(
        df, "source", "x", "y", prebins="exact",
        constraints=BinningConstraints(max_bins=10, min_bins=2),
    )
    out = grouped_model_psi(binners, df.filter(F.col("x") <= 2))
    return out.select(
        "source",
        "bucket",
        F.col("n_expected").cast("long").alias("n_expected"),
        F.col("n_actual").cast("long").alias("n_actual"),
        F.round("pct_expected", _R).alias("pct_expected"),
        F.round("pct_actual", _R).alias("pct_actual"),
        F.round("psi_term", _R).alias("psi_term"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS for the driver's CORRECTNESS harness: it checks the
    # FIRST 50 entries only (113 registered). Rotation invariant: new or
    # changed-code queries plus the least-recently-driver-verified block
    # sit in positions 0-49; the union of consecutive CORRECTNESS files
    # then covers every entry with max staleness <= 2 rounds.
    return {
        # --- r8 window: the 21 queries last driver-green in r5 (max-
        # staleness invariant), every query whose OPERATOR INTERNALS
        # round 8 changed (shingles/bind-once, sessionize start,
        # source_overlap single-chain, simhash verify-in-join,
        # expectations concurrent unique, numeric-transform codegen),
        # and the stalest r6 fills; everything displaced is r7-green
        # (staleness <= 1). ---
        "token_topk_grouped": q_token_topk_grouped,
        "bin_fit_weighted": q_bin_fit_weighted,
        "feature_scale": q_feature_scale,
        "woe_churn": q_woe_churn,
        "iv_screen": q_iv_screen,
        "iv_screen_weighted": q_iv_screen_weighted,
        "iv_screen_grouped": q_iv_screen_grouped,
        "iv_screen_categorical": q_iv_screen_categorical,
        "corr_matrix": q_corr_matrix,
        "profile_docs": q_profile_docs,
        "categorical_woe": q_categorical_woe,
        "target_encode": q_target_encode,
        "gains_table": q_gains_table,
        "psi_drift_weighted": q_psi_drift_weighted,
        "scorecard_points": q_scorecard_points,
        "reason_codes": q_reason_codes,
        "calibration_table": q_calibration_table,
        "snapshot": q_snapshot,
        "intervalize": q_intervalize,
        "bin_fit_incremental": q_bin_fit_incremental,
        "per_source_fit_incremental": q_per_source_fit_incremental,
        "sessionize": q_sessionize,
        "source_overlap": q_source_overlap,
        "minhash_pairs": q_minhash_pairs,
        "minhash_pairs_planted": q_minhash_planted,
        "lsh_bucket_audit": q_lsh_bucket_audit,
        "ngram_jaccard": q_ngram_jaccard,
        "ngram_containment": q_ngram_containment,
        "ngram_jaccard_maxdf": q_ngram_jaccard_maxdf,
        "decontaminate": q_decontaminate,
        "simhash_neardup": q_simhash_neardup,
        "simhash_banded_fp": q_simhash_banded_fp,
        "simhash_planted": q_simhash_planted,
        "expectations_check": q_expectations_check,
        "quality": q_quality,
        "lang_id": q_lang_id,
        "woe_transform": q_woe_transform,
        "woe_transform_monotone": q_woe_transform_monotone,
        "fixed_bucket_woe": q_fixed_bucket_woe,
        "per_source_fit": q_per_source_fit,
        "per_source_fit_monotone": q_per_source_fit_monotone,
        "dedup_clusters": q_dedup_clusters,
        "simhash_dedup": q_simhash_dedup,
        "bin_fit_summary": q_bin_fit_summary,
        "bin_fit_monotone": q_bin_fit_monotone,
        "asof_join": q_asof_join,
        "tpch_q1": q_tpch_q1,
        "cv_metrics": q_cv_metrics,
        "ks_auc": q_ks_auc,
        "pack_chunks": q_pack_chunks,
        # --- positions >= 50: r7-green (staleness 1) or r6-green
        # (staleness 2) after this round ---
        "quantize_embeddings": q_quantize_embeddings,
        "keep_best_doc": q_keep_best_doc,
        "embedding_neardup": q_embedding_neardup,
        "asof_join_bucketed": q_asof_bucketed,
        "asof_forward": q_asof_forward,
        "asof_tolerance": q_asof_tolerance,
        "leakage_audit": q_leakage_audit,
        "lag_lead": q_lag_lead,
        "lag_lead_bucketed": q_lag_lead_bucketed,
        "backfill": q_backfill,
        "backfill_bucketed": q_backfill_bucketed,
        "sessionize_bucketed": q_sessionize_bucketed,
        "rolling_stats": q_rolling_stats,
        "tumbling_agg": q_tumbling_agg,
        "sliding_window": q_sliding_window,
        "deterministic_split": q_deterministic_split,
        "hash_sample": q_hash_sample,
        "exact_dedup": q_exact_dedup,
        "exact_dedup_agg": q_exact_dedup_agg,
        "token_count": q_token_count,
        "bpe_token_count": q_bpe_token_count,
        "join_topk": q_join_topk,
        "rollup": q_rollup,
        "cube_agg": q_cube_agg,
        "percentiles": q_percentiles,
        "range_join": q_range_join,
        "json_extract": q_json_extract,
        "fingerprint_dedup": q_fingerprint_dedup,
        "hash_encode": q_hash_encode,
        "tfidf_topk": q_tfidf_topk,
        "frequency_encode": q_frequency_encode,
        "cosine_topk": q_cosine_topk,
        "token_topk": q_token_topk,
        "lsh_topk_planted": q_lsh_topk_planted,
        "ivf_topk": q_ivf_topk,
        "ivf_topk_planted": q_ivf_topk_planted,
        "media_features_real": q_media_features_real,
        "isotonic_calibration_grouped": q_isotonic_calibration_grouped,
        "bin_stability": q_bin_stability,
        "chunk_documents": q_chunk_documents,
        "token_drift": q_token_drift,
        "lsh_topk": q_lsh_topk,
        "ks_auc_weighted": q_ks_auc_weighted,
        "multi_horizon": q_multi_horizon,
        "multi_horizon_bucketed": q_multi_horizon_bucketed,
        "time_decayed": q_time_decayed,
        "asof_decayed": q_asof_decayed,
        "asof_agg": q_asof_agg,
        "media_features": q_media_features,
        "embedding_neardup_planted": q_embedding_neardup_planted,
        "isotonic_calibration": q_isotonic_calibration,
        "ivf_topk_loaded": q_ivf_topk_loaded,
        "repetition": q_repetition,
        "pii_scrub": q_pii_scrub,
        "stratified_sample": q_stratified_sample,
        "token_budget_mix": q_token_budget_mix,
        "psi_drift": q_psi_drift,
        "psi_drift_grouped": q_psi_drift_grouped,
        "asof_broadcast": q_asof_broadcast,
        "paragraph_dedup": q_paragraph_dedup,
        "group_stats": q_group_stats,
        "cumulative_stats": q_cumulative_stats,
        "sign_correlation": q_sign_correlation,
    }


# ------------------------------------------------------------- oracles ----


def _minhash_sig_cte(
    num_hashes: int = 32, n_bands: int = 8, max_bucket_size: int = 5000
) -> str:
    """Shared oracle CTEs re-deriving the md5-mode MinHash LSH pipeline in
    ANSI SQL: word-3-gram shingle values are ``CAST('0x' || substr(md5(s),
    1, 15) AS BIGINT)`` (exactly operators/dedup.py _hash_gram's md5 mode),
    the signature min-fold uses the SAME (a, b) literals the engine's
    numpy fold uses (_minhash_params(num_hashes, 42) — all operands stay
    < 2^62, so BIGINT arithmetic is exact in both engines), and the band
    "bucket" is the signature-slice VALUE itself — the engine's xxhash64
    of that slice is just an equi-join key, so slice equality is the same
    candidate set (modulo a ~2^-64 hash collision). The engine's
    max_bucket_size cap is modeled on the (band, slice) grouping.
    Produces CTEs: hl (doc_id, hlist) and cand (id_a, id_b)."""
    from monotonic_optimal_binning_spark.operators.dedup import (
        _MERSENNE_P,
        _minhash_params,
    )

    params = _minhash_params(num_hashes, 42)
    vals = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(params))
    rpb = num_hashes // n_bands
    p = _MERSENNE_P
    return rf"""
            params(j, a, b) AS (VALUES {vals}),
            toks AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text),
                                                            '\s+'),
                                         x -> x != '') AS t
              FROM documents),
            -- coalesce: Spark's concat_ws('' on an empty slice) is '',
            -- DuckDB's array_to_string is NULL — a <3-word doc still
            -- carries one shingle (the hash of its joined tokens)
            sh AS (
              SELECT doc_id, list_distinct(list_transform(
                       range(0, greatest(len(t)-3, 0)+1),
                       i -> coalesce(array_to_string(
                              list_slice(t, i+1, i+3), ' '), ''))) AS sset
              FROM toks),
            hl AS (
              SELECT doc_id,
                     list_transform(sset, s ->
                       CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
                     ) AS hlist
              FROM sh),
            sig AS (
              SELECT doc_id, j,
                     list_min(list_transform(hlist,
                       x -> ((x % {p}) * a + b) % {p})) AS sv
              FROM hl, params),
            bands AS (
              SELECT doc_id, j // {rpb} AS band,
                     string_agg(CAST(sv AS VARCHAR), ',' ORDER BY j) AS bkey
              FROM sig GROUP BY doc_id, j // {rpb}),
            capped AS (
              SELECT band, bkey FROM bands
              GROUP BY band, bkey HAVING count(*) <= {max_bucket_size}),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a
              JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                           AND a.doc_id < b.doc_id
              JOIN capped c ON c.band = a.band AND c.bkey = a.bkey)"""


def _hyperplane_lsh_cte(n_planes: int = 16, n_bands: int = 8) -> str:
    """Shared oracle CTE re-deriving the hyperplane-LSH banding in ANSI
    SQL: the planes are deterministic driver-side literals (seeded numpy,
    similarity._hyperplanes — same floats the engine inlines into its
    plan), sign bits come from double dot products, and the band
    "bucket" is the bit-slice VALUE itself — the engine's xxhash64 of
    that slice is just an equi-join key, so slice equality is the same
    candidate set (modulo a ~2^-64 hash collision). This is what turns
    lsh_topk / embedding_neardup from rows-only into value-checked."""
    from monotonic_optimal_binning_spark.operators.similarity import (
        _hyperplanes,
    )

    planes = _hyperplanes(_EMBED_DIM, n_planes, 42)
    rpb = n_planes // n_bands
    bit_exprs = ",\n                     ".join(
        "CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(float(x)) for x in p)
        + "]) >= 0 THEN 1 ELSE 0 END"
        for p in planes
    )
    sig_entries = ", ".join(
        "("
        + " + ".join(
            f"b[{band * rpb + i + 1}] * {1 << (rpb - 1 - i)}"
            for i in range(rpb)
        )
        + ")"
        for band in range(n_bands)
    )
    return f"""
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings WHERE embedding IS NOT NULL),
            bits AS (
              SELECT vec_id, v,
                   [{bit_exprs}] AS b
              FROM e),
            sigs AS (SELECT vec_id, [{sig_entries}] AS sig FROM bits),
            bk AS (
              SELECT vec_id, g.band AS band, sig[g.band + 1] AS bucket
              FROM sigs,
                   (SELECT CAST(range AS INT) AS band
                    FROM range({n_bands})) g),
            -- the engine drops rows in (band, bucket) groups larger than
            -- max_bucket_size (5000) BEFORE candidate generation; the
            -- cap is part of the operator's definition, so the oracle
            -- models it too (it never binds at sf<=0.1 — max bucket ~650
            -- — but binds at the sf1 10x corpus)
            bksz AS (
              SELECT band, bucket, count(*) AS bn
              FROM bk GROUP BY band, bucket),
            bkc AS (
              SELECT bk.vec_id, bk.band, bk.bucket
              FROM bk JOIN bksz
                ON bk.band = bksz.band AND bk.bucket = bksz.bucket
              WHERE bksz.bn <= 5000)"""


def oracle_sql() -> dict[str, str]:
    from monotonic_optimal_binning_spark.operators.sampling import (
        split_thresholds,
    )

    lsh_cte = _hyperplane_lsh_cte()
    # the engine's md5-threshold fold assignment, as the same hex
    # literals it compares against (sampling.split_thresholds)
    _th = split_thresholds({str(i): 1.0 for i in range(3)})
    _fh = "substring(md5('binstab' || CAST(event_id AS VARCHAR)), 1, 8)"
    fold_case = (
        f"CASE WHEN {_fh} < '{_th['0']}' THEN 0 "
        f"WHEN {_fh} < '{_th['1']}' THEN 1 ELSE 2 END"
    )
    mh_cte = _minhash_sig_cte(num_hashes=32, n_bands=8, max_bucket_size=5000)
    d = {
        "quantize_embeddings": """
            -- the engine's explicit half-up formula re-derived: scale =
            -- max|v|/127 over doubles, q = floor(v/scale + 0.5); exact
            -- integer aggregates + element-wise floor(err*1e9) fold
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            s AS (
              -- degenerate vectors (EMPTY, or NaN/inf elements poisoning
              -- max|v|) -> NULL scale, mirroring the engine's explicit
              -- finite gate (Spark and DuckDB disagree on NaN > 0)
              SELECT vec_id, v,
                     CASE WHEN isfinite(
                            list_max(list_transform(v, x -> abs(x))))
                          AND len(list_filter(v, x -> x IS NULL)) = 0
                          THEN list_max(list_transform(v, x -> abs(x)))
                               / 127.0
                     END AS scale
              FROM e),
            q AS (
              SELECT vec_id, v, scale,
                     CASE WHEN scale > 0 THEN
                       list_transform(v, x ->
                         CAST(floor(x / scale + 0.5) AS BIGINT))
                     WHEN scale = 0 THEN
                       list_transform(v, x -> CAST(0 AS BIGINT))
                     END AS qv
              FROM s)
            SELECT vec_id,
                   round(scale, 6) AS q_scale,
                   CAST(list_sum(qv) AS BIGINT) AS q_sum,
                   CAST(list_min(qv) AS BIGINT) AS q_min,
                   CAST(list_max(qv) AS BIGINT) AS q_max,
                   CASE WHEN qv IS NULL THEN NULL ELSE
                     CAST(list_sum(list_transform(range(1, len(v)+1), i ->
                       CAST(floor(abs(v[i] - qv[i] * scale) * 1e9)
                            AS BIGINT))) AS BIGINT)
                   END AS err_nano
            FROM q
        """,
        "minhash_pairs": f"""
            -- full re-derivation of the md5-mode banded MinHash LSH
            -- candidate set (see _minhash_sig_cte), then the engine's
            -- exact verify: Jaccard over the md5-derived shingle-value
            -- sets, thresholded at 0.5
            WITH {mh_cte}
            SELECT id_a, id_b,
                   round(len(list_intersect(ha.hlist, hb.hlist)) /
                         CAST(len(ha.hlist) + len(hb.hlist)
                              - len(list_intersect(ha.hlist, hb.hlist))
                              AS DOUBLE), 6) AS jaccard
            FROM cand
            JOIN hl ha ON ha.doc_id = id_a
            JOIN hl hb ON hb.doc_id = id_b
            WHERE len(list_intersect(ha.hlist, hb.hlist)) /
                  CAST(len(ha.hlist) + len(hb.hlist)
                       - len(list_intersect(ha.hlist, hb.hlist))
                       AS DOUBLE) >= 0.5
        """,
        "lsh_topk": f"""
            -- full re-derivation of the banded hyperplane-LSH candidate
            -- set + exact cosine top-5 (see _hyperplane_lsh_cte)
            WITH {lsh_cte},
            cand AS (
              -- corpus side capped (bkc); query side uncapped (bk) —
              -- mirrors lsh_topk, whose window cap filters corpus
              -- buckets only
              SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
              FROM bk q JOIN bkc c
                ON q.band = c.band AND q.bucket = c.bucket
              WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
            scored AS (
              SELECT cand.query_id, cand.neighbor_id,
                     list_dot_product(qe.v, ce.v) /
                       (sqrt(list_dot_product(qe.v, qe.v)) *
                        sqrt(list_dot_product(ce.v, ce.v))) AS cosine
              FROM cand
              JOIN e qe ON qe.vec_id = cand.query_id
              JOIN e ce ON ce.vec_id = cand.neighbor_id)
            SELECT query_id, neighbor_id,
                   round(cosine, 6) AS cosine,
                   CAST(rank AS BIGINT) AS rank
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank
                  FROM scored)
            WHERE rank <= 5
        """,
        "embedding_neardup": f"""
            -- same banding re-derivation; pairs sharing any band bucket,
            -- exactly re-scored, thresholded at 0.4
            WITH {lsh_cte},
            cand AS (
              -- both self-join sides capped: embedding_neardup_pairs
              -- filters oversized buckets before the pair join
              SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
              FROM bkc a JOIN bkc b2
                ON a.band = b2.band AND a.bucket = b2.bucket
              WHERE a.vec_id < b2.vec_id),
            scored AS (
              SELECT id_a, id_b,
                     list_dot_product(ae.v, be.v) /
                       (sqrt(list_dot_product(ae.v, ae.v)) *
                        sqrt(list_dot_product(be.v, be.v))) AS cosine
              FROM cand
              JOIN e ae ON ae.vec_id = cand.id_a
              JOIN e be ON be.vec_id = cand.id_b)
            SELECT id_a, id_b, round(cosine, 6) AS cosine
            FROM scored WHERE cosine >= 0.4
        """,
        "expectations_check": """
            -- one aggregated CTE mirrors the engine's single-scan
            -- conditional counts; ratios over non-null rows for
            -- set/range/regex, over all rows for not_null/unique
            WITH a AS (
              SELECT count(*) AS n,
                     count(l_quantity) AS nn_q,
                     count(l_returnflag) AS nn_rf,
                     count(l_discount) AS nn_d,
                     sum(CASE WHEN l_returnflag IN ('A','N','R')
                         THEN 1 ELSE 0 END) AS in_rf,
                     sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.05
                         THEN 1 ELSE 0 END) AS btw_d,
                     sum(CASE WHEN regexp_matches(l_returnflag, '^[A-Z]$')
                         THEN 1 ELSE 0 END) AS rx_rf,
                     count(DISTINCT (l_orderkey, l_linenumber)) AS u2,
                     avg(l_quantity) AS mean_q
              FROM lineitem)
            SELECT 'not_null(l_quantity)' AS name, 'not_null' AS kind,
                   'l_quantity' AS column,
                   round(CAST(nn_q AS DOUBLE) / n, 6) AS observed,
                   1.0 AS bound_lo, CAST(NULL AS DOUBLE) AS bound_hi,
                   CAST(nn_q AS DOUBLE) / n >= 1.0 AS passed FROM a
            UNION ALL
            SELECT 'in_set(l_returnflag)', 'in_set', 'l_returnflag',
                   round(CAST(in_rf AS DOUBLE) / nn_rf, 6),
                   1.0, CAST(NULL AS DOUBLE),
                   CAST(in_rf AS DOUBLE) / nn_rf >= 1.0 FROM a
            UNION ALL
            SELECT 'between(l_discount)', 'between', 'l_discount',
                   round(CAST(btw_d AS DOUBLE) / nn_d, 6),
                   0.6, CAST(NULL AS DOUBLE),
                   CAST(btw_d AS DOUBLE) / nn_d >= 0.6 FROM a
            UNION ALL
            SELECT 'regex(l_returnflag)', 'regex', 'l_returnflag',
                   round(CAST(rx_rf AS DOUBLE) / nn_rf, 6),
                   1.0, CAST(NULL AS DOUBLE),
                   CAST(rx_rf AS DOUBLE) / nn_rf >= 1.0 FROM a
            UNION ALL
            SELECT 'unique(l_orderkey,l_linenumber)', 'unique',
                   'l_orderkey,l_linenumber',
                   round(CAST(u2 AS DOUBLE) / n, 6),
                   0.9, CAST(NULL AS DOUBLE),
                   CAST(u2 AS DOUBLE) / n >= 0.9 FROM a
            UNION ALL
            SELECT 'row_count', 'row_count', '',
                   round(CAST(n AS DOUBLE), 6),
                   1000.0, CAST(NULL AS DOUBLE),
                   n >= 1000 FROM a
            UNION ALL
            SELECT 'mean(l_quantity)', 'stat', 'l_quantity',
                   round(mean_q, 6),
                   20.0, 30.0,
                   mean_q >= 20 AND mean_q <= 30 FROM a
        """,
        "keep_best_doc": """
            -- canonical winner per (lang, source): max n_chars, ties to
            -- the smallest doc_id (null scores rank last, as -inf does
            -- in the engine's packed ordering)
            SELECT doc_id, lang, source, n_chars
            FROM (SELECT doc_id, lang, source, n_chars,
                         row_number() OVER (
                           PARTITION BY lang, source
                           ORDER BY CAST(n_chars AS DOUBLE) DESC NULLS LAST,
                                    doc_id) AS rn
                  FROM documents)
            WHERE rn = 1
        """,
        "bin_stability": f"""
            -- per-fold monotone no-merge construction: each fold's fit
            -- is exactly its per-(fold, x) aggregate; fold = the same
            -- md5-threshold bucketing the engine computes
            WITH d AS (
              SELECT {fold_case} AS fold,
                     CAST(user_id % 5 AS DOUBLE) AS x,
                     CAST((event_id % 100) < (user_id % 5 + 1) * 15
                          AS INT) AS y
              FROM events),
            g AS (
              SELECT fold, x, count(*) AS cnt,
                     CAST(sum(y) AS DOUBLE) AS bads
              FROM d GROUP BY fold, x),
            tot AS (
              SELECT fold, sum(cnt) AS tc, sum(bads) AS tb,
                     count(*) AS k
              FROM g GROUP BY fold)
            SELECT CAST(g.fold AS BIGINT) AS fold,
                   CAST(x AS BIGINT) AS bin,
                   CASE WHEN x = 0 THEN CAST('-infinity' AS DOUBLE)
                        ELSE x END AS left,
                   CASE WHEN x = 4 THEN CAST('infinity' AS DOUBLE)
                        ELSE x + 1 END AS right,
                   round(ln(((cnt - bads + 0.5) / (tc - tb + 0.5*k)) /
                            ((bads + 0.5) / (tb + 0.5*k))), 6) AS woe,
                   CAST(k AS BIGINT) AS n_bins
            FROM g JOIN tot ON g.fold = tot.fold
        """,
        "group_stats": """
            SELECT round(l_quantity, 6) AS x,
                   count(*) AS n,
                   round(sum(y), 6) AS sum_y,
                   round(sum(y*y), 6) AS sum_y2,
                   min(y) AS ymin,
                   max(y) AS ymax
            FROM (SELECT l_quantity, CAST(l_discount > 0.05 AS INT) AS y
                  FROM lineitem)
            GROUP BY l_quantity
        """,
        "cumulative_stats": """
            WITH g AS (
              SELECT l_quantity AS x, count(*) AS n, sum(y) AS sum_y
              FROM (SELECT l_quantity, CAST(l_discount > 0.05 AS INT) AS y
                    FROM lineitem)
              GROUP BY l_quantity)
            -- window sum(<int>) is HUGEINT in DuckDB (fetches as float64);
            -- Spark's is BIGINT — cast so the value-hash dtypes agree
            SELECT round(x, 6) AS x,
                   CAST(sum(n) OVER w AS BIGINT) AS cum_count,
                   round(CAST(sum(sum_y) OVER w AS DOUBLE), 6) AS cum_sum,
                   round(CAST(sum(sum_y) OVER w AS DOUBLE)
                         / CAST(sum(n) OVER w AS DOUBLE), 6) AS cum_mean
            FROM g
            WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "sign_correlation": """
            WITH g AS (
              SELECT l_quantity AS x, avg(y) AS gmean
              FROM (SELECT l_quantity, CAST(l_discount > 0.05 AS INT) AS y
                    FROM lineitem)
              GROUP BY l_quantity),
            r AS (
              SELECT x, gmean,
                     CAST(row_number() OVER (ORDER BY x) AS DOUBLE) AS rx,
                     rank() OVER (ORDER BY gmean)
                       + (count(*) OVER (PARTITION BY gmean) - 1) / 2.0 AS rm
              FROM g)
            SELECT round(corr(x, gmean), 6) AS pearson,
                   round(corr(rx, rm), 6) AS spearman,
                   count(*) AS n_groups
            FROM r
        """,
        "fixed_bucket_woe": """
            WITH d AS (
              SELECT CASE WHEN n_chars < 200 THEN 's'
                          WHEN n_chars < 600 THEN 'm'
                          ELSE 'l' END AS bucket,
                     CAST(lang = 'en' AS INT) AS bad
              FROM documents),
            agg AS (
              SELECT bucket, count(*) AS count, sum(bad) AS bads
              FROM d GROUP BY bucket),
            tot AS (
              SELECT sum(count) AS tc, sum(bads) AS tb, count(*) AS k FROM agg)
            SELECT bucket, count, CAST(bads AS BIGINT) AS bads,
                   round(ln(((count - bads + 0.5) / (tc - tb + 0.5*k)) /
                            ((bads + 0.5) / (tb + 0.5*k))), 6) AS woe,
                   round((((count - bads + 0.5) / (tc - tb + 0.5*k)) -
                          ((bads + 0.5) / (tb + 0.5*k))) *
                         ln(((count - bads + 0.5) / (tc - tb + 0.5*k)) /
                            ((bads + 0.5) / (tb + 0.5*k))), 6) AS iv
            FROM agg CROSS JOIN tot
        """,
        "iv_screen": """
            WITH pairs AS (
              SELECT 'l_quantity' AS feature,
                     CASE WHEN l_quantity IS NULL THEN -1
                          WHEN l_quantity < 10.0 THEN 0
                          WHEN l_quantity < 25.0 THEN 1
                          WHEN l_quantity < 40.0 THEN 2
                          ELSE 3 END AS bucket,
                     CAST(l_returnflag = 'R' AS INT) AS y
              FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice',
                     CASE WHEN l_extendedprice IS NULL THEN -1
                          WHEN l_extendedprice < 20000.0 THEN 0
                          WHEN l_extendedprice < 40000.0 THEN 1
                          ELSE 2 END,
                     CAST(l_returnflag = 'R' AS INT)
              FROM lineitem
              UNION ALL
              SELECT 'l_discount',
                     CASE WHEN l_discount IS NULL THEN -1
                          WHEN l_discount < 0.03 THEN 0
                          WHEN l_discount < 0.06 THEN 1
                          ELSE 2 END,
                     CAST(l_returnflag = 'R' AS INT)
              FROM lineitem
              UNION ALL
              SELECT 'l_tax',
                     CASE WHEN l_tax IS NULL THEN -1
                          WHEN l_tax < 0.04 THEN 0
                          ELSE 1 END,
                     CAST(l_returnflag = 'R' AS INT)
              FROM lineitem),
            agg AS (
              SELECT feature, bucket, count(*) AS cnt, sum(y) AS bads
              FROM pairs GROUP BY feature, bucket),
            wk AS (
              SELECT feature, bucket, cnt, bads,
                     sum(cnt) OVER (PARTITION BY feature) AS tc,
                     sum(bads) OVER (PARTITION BY feature) AS tb,
                     count(*) OVER (PARTITION BY feature) AS k
              FROM agg),
            pb AS (
              SELECT feature, bucket,
                     ((cnt - bads) + 0.5) / ((tc - tb) + 0.5 * k) AS g_rate,
                     (bads + 0.5) / (tb + 0.5 * k) AS b_rate,
                     CASE WHEN bucket < 0 THEN NULL
                          ELSE bads * 1.0 / cnt END AS br
              FROM wk),
            st AS (
              SELECT feature,
                     (g_rate - b_rate) * ln(g_rate / b_rate) AS iv_term,
                     br - lag(br) OVER (PARTITION BY feature
                                        ORDER BY bucket) AS br_step
              FROM pb)
            SELECT feature,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   round(sum(iv_term), 6) AS iv,
                   (max(br_step) <= 1e-12 OR min(br_step) >= -1e-12
                    OR count(br_step) = 0) AS bad_rate_monotone
            FROM st GROUP BY feature
        """,
        "corr_matrix": """
            WITH d AS (
              SELECT l_quantity AS qty,
                     l_extendedprice AS price,
                     CASE WHEN l_orderkey % 7 = 0 THEN NULL
                          ELSE l_discount END AS disc,
                     CASE WHEN l_partkey % 5 = 0 THEN NULL
                          ELSE l_tax END AS tax
              FROM lineitem)
            SELECT 'qty' AS feature_a, 'price' AS feature_b,
                   CAST(count(*) FILTER (qty IS NOT NULL
                        AND price IS NOT NULL) AS BIGINT) AS n,
                   round(COALESCE(corr(qty, price), 0.0), 6) AS "corr"
            FROM d
            UNION ALL
            SELECT 'qty', 'disc',
                   CAST(count(*) FILTER (qty IS NOT NULL
                        AND disc IS NOT NULL) AS BIGINT),
                   round(COALESCE(corr(qty, disc), 0.0), 6)
            FROM d
            UNION ALL
            SELECT 'qty', 'tax',
                   CAST(count(*) FILTER (qty IS NOT NULL
                        AND tax IS NOT NULL) AS BIGINT),
                   round(COALESCE(corr(qty, tax), 0.0), 6)
            FROM d
            UNION ALL
            SELECT 'price', 'disc',
                   CAST(count(*) FILTER (price IS NOT NULL
                        AND disc IS NOT NULL) AS BIGINT),
                   round(COALESCE(corr(price, disc), 0.0), 6)
            FROM d
            UNION ALL
            SELECT 'price', 'tax',
                   CAST(count(*) FILTER (price IS NOT NULL
                        AND tax IS NOT NULL) AS BIGINT),
                   round(COALESCE(corr(price, tax), 0.0), 6)
            FROM d
            UNION ALL
            SELECT 'disc', 'tax',
                   CAST(count(*) FILTER (disc IS NOT NULL
                        AND tax IS NOT NULL) AS BIGINT),
                   round(COALESCE(corr(disc, tax), 0.0), 6)
            FROM d
        """,
        "profile_docs": """
            WITH pv AS (
              SELECT col, sval, min(dval) AS dval, count(*) AS cnt
              FROM (
                SELECT 'source' AS col, CAST(source AS VARCHAR) AS sval,
                       CAST(NULL AS DOUBLE) AS dval
                FROM documents
                UNION ALL
                SELECT 'lang', CAST(lang AS VARCHAR),
                       CAST(NULL AS DOUBLE)
                FROM documents
                UNION ALL
                SELECT 'n_chars', CAST(n_chars AS VARCHAR),
                       CAST(n_chars AS DOUBLE)
                FROM documents
              ) GROUP BY col, sval),
            agg AS (
              SELECT col,
                     CAST(sum(cnt) AS BIGINT) AS n,
                     CAST(COALESCE(
                       sum(cnt) FILTER (sval IS NULL), 0) AS BIGINT)
                       AS nulls,
                     CAST(count(*) FILTER (sval IS NOT NULL) AS BIGINT)
                       AS n_distinct,
                     min(dval) AS min_num,
                     max(dval) AS max_num,
                     round(sum(dval * cnt)
                       / sum(cnt) FILTER (dval IS NOT NULL), 6) AS mean,
                     round(CASE
                       WHEN sum(cnt) FILTER (dval IS NOT NULL) IS NULL
                       THEN NULL
                       ELSE sqrt(greatest(
                         sum(dval * dval * cnt)
                           / sum(cnt) FILTER (dval IS NOT NULL)
                         - pow(sum(dval * cnt)
                           / sum(cnt) FILTER (dval IS NOT NULL), 2),
                         0.0)) END, 6) AS std
              FROM pv GROUP BY col),
            top AS (
              SELECT col, sval AS top_value, CAST(cnt AS BIGINT) AS top_freq,
                     row_number() OVER (PARTITION BY col
                                        ORDER BY cnt DESC, sval DESC) AS rk
              FROM pv WHERE sval IS NOT NULL)
            SELECT a.col AS "column",
                   CASE a.col WHEN 'n_chars' THEN 'bigint'
                        ELSE 'string' END AS dtype,
                   a.n, a.nulls, a.n_distinct, a.min_num, a.max_num,
                   a.mean, a.std, t.top_value, t.top_freq
            FROM agg a LEFT JOIN top t ON a.col = t.col AND t.rk = 1
            ORDER BY a.col
        """,
        "isotonic_calibration": """
            WITH d AS (
              SELECT CAST(user_id % 5 AS DOUBLE) AS score,
                     CAST((event_id % 100) < (user_id % 5 + 1) * 15
                          AS DOUBLE) AS y
              FROM events)
            SELECT CAST(score AS BIGINT) AS score,
                   round(avg(y), 6) AS calibrated,
                   count(*) AS n
            FROM d GROUP BY score
        """,
        "isotonic_calibration_grouped": """
            -- per-group no-merge construction: cell means strictly
            -- increase in score within each group, so the grouped PAVA
            -- fit/transform reduces to plain (g, score) cell means
            WITH d AS (
              SELECT CAST(user_id % 3 AS BIGINT) AS g,
                     CAST(user_id % 5 AS DOUBLE) AS score,
                     CAST((event_id % 100) <
                          (user_id % 5 + 1) * (10 + 3 * (user_id % 3))
                          AS DOUBLE) AS y
              FROM events)
            SELECT g,
                   CAST(score AS BIGINT) AS score,
                   round(avg(y), 6) AS calibrated,
                   count(*) AS n
            FROM d GROUP BY g, score
        """,
        "calibration_table": """
            WITH base AS (
              SELECT CASE WHEN l_discount * 10.0 < 0.25 THEN 0
                          WHEN l_discount * 10.0 < 0.5 THEN 1
                          WHEN l_discount * 10.0 < 0.75 THEN 2
                          ELSE 3 END AS bucket,
                     l_discount * 10.0 AS p,
                     CAST(l_returnflag = 'R' AS DOUBLE) AS y
              FROM lineitem),
            agg AS (
              SELECT bucket, CAST(count(y) AS BIGINT) AS n,
                     avg(p) AS avg_p, avg(y) AS avg_y
              FROM base GROUP BY bucket),
            t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM agg)
            SELECT bucket, n,
                   round(avg_p, 6) AS avg_p,
                   round(avg_y, 6) AS avg_y,
                   round(abs(avg_p - avg_y), 6) AS gap,
                   round(n / tot * abs(avg_p - avg_y), 6) AS ece_term
            FROM agg CROSS JOIN t
        """,
        "cv_metrics": """
            WITH base AS (
              SELECT CASE
                       WHEN substring(md5('folds' ||
                         (CAST(l_orderkey AS VARCHAR) || '-' ||
                          CAST(l_linenumber AS VARCHAR))), 1, 8)
                         < '40000000' THEN 0
                       WHEN substring(md5('folds' ||
                         (CAST(l_orderkey AS VARCHAR) || '-' ||
                          CAST(l_linenumber AS VARCHAR))), 1, 8)
                         < '80000000' THEN 1
                       WHEN substring(md5('folds' ||
                         (CAST(l_orderkey AS VARCHAR) || '-' ||
                          CAST(l_linenumber AS VARCHAR))), 1, 8)
                         < 'c0000000' THEN 2
                       ELSE 3 END AS fold,
                     l_discount AS s,
                     CAST(l_returnflag = 'R' AS DOUBLE) AS y
              FROM lineitem WHERE l_discount IS NOT NULL),
            agg AS (
              SELECT fold, s, CAST(sum(y) AS BIGINT) AS pos,
                     CAST(count(y) - sum(y) AS BIGINT) AS neg
              FROM base GROUP BY fold, s),
            wk AS (
              SELECT fold, s, pos, neg,
                     CAST(sum(pos) OVER (PARTITION BY fold ORDER BY s)
                          AS DOUBLE) AS cpos,
                     CAST(sum(neg) OVER (PARTITION BY fold ORDER BY s)
                          AS DOUBLE) AS cneg,
                     CAST(sum(pos) OVER (PARTITION BY fold)
                          AS DOUBLE) AS p,
                     CAST(sum(neg) OVER (PARTITION BY fold)
                          AS DOUBLE) AS n
              FROM agg)
            SELECT fold,
                   round(max(abs(cpos / p - cneg / n)), 6) AS ks,
                   round(sum((cneg - neg) * pos + 0.5 * neg * pos)
                         / (max(p) * max(n)), 6) AS auc,
                   CAST(max(p) AS BIGINT) AS n_pos,
                   CAST(max(n) AS BIGINT) AS n_neg
            FROM wk GROUP BY fold
        """,
        "reason_codes": """
            WITH p AS (
              SELECT l_orderkey, l_linenumber,
                     CAST(floor(
                       (600.0 - (20.0/ln(2.0))*ln(50.0)) / 2
                       + (20.0/ln(2.0)) *
                         (CASE WHEN l_quantity < 25.0 THEN 0.4
                               ELSE -0.4 END) + 0.5) AS BIGINT) AS p1,
                     CAST(floor(
                       (600.0 - (20.0/ln(2.0))*ln(50.0)) / 2
                       + (20.0/ln(2.0)) *
                         (CASE WHEN l_discount < 0.05 THEN 0.3
                               ELSE -0.3 END) + 0.5) AS BIGINT) AS p2,
                     CAST(floor(
                       (600.0 - (20.0/ln(2.0))*ln(50.0)) / 2
                       + (20.0/ln(2.0)) * 0.4 + 0.5) AS BIGINT) AS b1,
                     CAST(floor(
                       (600.0 - (20.0/ln(2.0))*ln(50.0)) / 2
                       + (20.0/ln(2.0)) * 0.3 + 0.5) AS BIGINT) AS b2
              FROM lineitem)
            SELECT l_orderkey, l_linenumber,
                   p1 + p2 AS score,
                   CASE WHEN b1 > p1 AND b2 > p2 THEN
                          CASE WHEN b2 - p2 > b1 - p1 THEN 'x2,x1'
                               ELSE 'x1,x2' END
                        WHEN b1 > p1 THEN 'x1'
                        WHEN b2 > p2 THEN 'x2'
                        ELSE '' END AS reasons
            FROM p
        """,
        "frequency_encode": """
            WITH c AS (
              SELECT source AS k, count(*) AS n FROM documents
              GROUP BY source),
            t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c)
            SELECT d.doc_id, d.source,
                   round(c.n / t.tot, 6) AS freq
            FROM documents d
            JOIN c ON d.source IS NOT DISTINCT FROM c.k
            CROSS JOIN t
        """,
        "hash_encode": """
            SELECT doc_id, lang,
                   CASE WHEN lang IS NULL THEN NULL ELSE
                     CAST(list_sum(list_transform(range(1, 9),
                       i -> (strpos('0123456789abcdef',
                               substring(md5('hash:lang:' || lang),
                                         CAST(i AS INT), 1)) - 1)
                            * CAST(16 AS BIGINT) ** (8 - i)))
                          AS BIGINT) % 64
                   END AS bucket
            FROM documents
        """,
        "scorecard_points": """
            WITH d AS (
              SELECT CAST(user_id % 5 AS DOUBLE) AS x,
                     CAST((event_id % 100) < (user_id % 5 + 1) * 15 AS INT) AS y
              FROM events),
            g AS (
              SELECT x, count(*) AS count, CAST(sum(y) AS DOUBLE) AS bads
              FROM d GROUP BY x),
            tot AS (SELECT sum(count) AS tc, sum(bads) AS tb,
                           count(*) AS k FROM g)
            SELECT CAST(x AS BIGINT) AS x,
                   CAST(floor(
                     (600.0 - (20.0 / ln(2.0)) * ln(50.0))
                     + (20.0 / ln(2.0)) *
                       ln(((count - bads + 0.5) / (tc - tb + 0.5*k)) /
                          ((bads + 0.5) / (tb + 0.5*k)))
                     + 0.5) AS BIGINT) AS points,
                   CAST(count AS BIGINT) AS n
            FROM g CROSS JOIN tot
        """,
        "gains_table": """
            WITH base AS (
              SELECT CASE WHEN l_discount IS NULL THEN -1
                          WHEN l_discount < 0.03 THEN 0
                          WHEN l_discount < 0.06 THEN 1
                          WHEN l_discount < 0.09 THEN 2
                          ELSE 3 END AS bucket,
                     CAST(l_returnflag = 'R' AS DOUBLE) AS y
              FROM lineitem),
            agg AS (
              SELECT bucket, CAST(count(y) AS BIGINT) AS n,
                     CAST(coalesce(sum(y), 0) AS BIGINT) AS n_pos
              FROM base GROUP BY bucket),
            wk AS (
              SELECT bucket, n, n_pos,
                     CAST(sum(CASE WHEN bucket >= 0 THEN n END)
                          OVER (ORDER BY bucket DESC) AS BIGINT) AS cum_n,
                     CAST(sum(CASE WHEN bucket >= 0 THEN n_pos END)
                          OVER (ORDER BY bucket DESC) AS BIGINT) AS cum_pos,
                     CAST(sum(CASE WHEN bucket >= 0 THEN n END)
                          OVER () AS DOUBLE) AS tot_n,
                     CAST(sum(CASE WHEN bucket >= 0 THEN n_pos END)
                          OVER () AS DOUBLE) AS tot_pos
              FROM agg)
            SELECT bucket, n, n_pos,
                   round(n_pos * 1.0 / n, 6) AS pos_rate,
                   CASE WHEN bucket >= 0 THEN cum_n END AS cum_n,
                   CASE WHEN bucket >= 0 THEN cum_pos END AS cum_pos,
                   CASE WHEN bucket >= 0
                        THEN round(cum_pos / tot_pos, 6) END AS capture_rate,
                   CASE WHEN bucket >= 0
                        THEN round((n_pos * 1.0 / n) / (tot_pos / tot_n), 6)
                        END AS lift,
                   CASE WHEN bucket >= 0
                        THEN round((cum_pos * 1.0 / cum_n)
                                   / (tot_pos / tot_n), 6) END AS cum_lift
            FROM wk
        """,
        "ks_auc_weighted": """
            WITH base AS (
              SELECT l_discount AS s,
                     CAST(l_returnflag = 'R' AS DOUBLE) AS y,
                     1.0 + (l_orderkey % 3) AS w
              FROM lineitem WHERE l_discount IS NOT NULL),
            agg AS (
              SELECT s, sum(w * y) AS pos, sum(w * (1 - y)) AS neg
              FROM base GROUP BY s),
            wk AS (
              SELECT s, pos, neg,
                     sum(pos) OVER (ORDER BY s) AS cpos,
                     sum(neg) OVER (ORDER BY s) AS cneg,
                     sum(pos) OVER () AS p,
                     sum(neg) OVER () AS n
              FROM agg)
            SELECT round(max(abs(cpos / p - cneg / n)), 6) AS ks,
                   round(sum((cneg - neg) * pos + 0.5 * neg * pos)
                         / (max(p) * max(n)), 6) AS auc,
                   round(max(p), 6) AS n_pos,
                   round(max(n), 6) AS n_neg
            FROM wk
        """,
        "ks_auc": """
            WITH base AS (
              SELECT l_discount AS s,
                     CAST(l_returnflag = 'R' AS DOUBLE) AS y
              FROM lineitem WHERE l_discount IS NOT NULL),
            agg AS (
              SELECT s, CAST(sum(y) AS BIGINT) AS pos,
                     CAST(count(y) - sum(y) AS BIGINT) AS neg
              FROM base GROUP BY s),
            wk AS (
              SELECT s, pos, neg,
                     CAST(sum(pos) OVER (ORDER BY s) AS DOUBLE) AS cpos,
                     CAST(sum(neg) OVER (ORDER BY s) AS DOUBLE) AS cneg,
                     CAST(sum(pos) OVER () AS DOUBLE) AS p,
                     CAST(sum(neg) OVER () AS DOUBLE) AS n
              FROM agg)
            SELECT round(max(abs(cpos / p - cneg / n)), 6) AS ks,
                   round(sum((cneg - neg) * pos + 0.5 * neg * pos)
                         / (max(p) * max(n)), 6) AS auc,
                   CAST(max(p) AS BIGINT) AS n_pos,
                   CAST(max(n) AS BIGINT) AS n_neg
            FROM wk
        """,
        "target_encode": """
            WITH base AS (
              SELECT o_orderkey AS id, o_orderpriority AS cat,
                     CAST(o_totalprice > 150000.0 AS DOUBLE) AS y,
                     CASE WHEN substring(md5('folds' ||
                            CAST(o_orderkey AS VARCHAR)), 1, 8)
                            < '33333333' THEN 0
                          WHEN substring(md5('folds' ||
                            CAST(o_orderkey AS VARCHAR)), 1, 8)
                            < '66666666' THEN 1
                          WHEN substring(md5('folds' ||
                            CAST(o_orderkey AS VARCHAR)), 1, 8)
                            < '99999999' THEN 2
                          WHEN substring(md5('folds' ||
                            CAST(o_orderkey AS VARCHAR)), 1, 8)
                            < 'cccccccc' THEN 3
                          ELSE 4 END AS fold
              FROM orders),
            cf AS (
              SELECT cat, fold, count(y) AS c,
                     coalesce(sum(y), 0) AS s
              FROM base GROUP BY cat, fold),
            tot AS (
              SELECT cat, CAST(sum(c) AS DOUBLE) AS tc, sum(s) AS ts
              FROM cf GROUP BY cat),
            gf AS (
              SELECT fold, CAST(sum(c) AS DOUBLE) AS fc, sum(s) AS fs
              FROM cf GROUP BY fold),
            g AS (
              SELECT CAST(sum(c) AS DOUBLE) AS gc, sum(s) AS gs FROM cf)
            SELECT b.id, b.cat,
                   round(((t.ts - c.s)
                          + 20.0 * ((g.gs - f.fs) / (g.gc - f.fc)))
                         / ((t.tc - c.c) + 20.0), 6) AS te
            FROM base b
            JOIN cf c ON b.cat = c.cat AND b.fold = c.fold
            JOIN tot t ON b.cat = t.cat
            JOIN gf f ON b.fold = f.fold
            CROSS JOIN g
        """,
        "categorical_woe": """
            WITH agg AS (
              SELECT CAST(source AS VARCHAR) AS bucket,
                     count(*) AS cnt,
                     sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS bads
              FROM documents GROUP BY source
              UNION ALL SELECT '__other__', 0, 0),
            tot AS (
              SELECT sum(cnt) AS tc, sum(bads) AS tb, count(*) AS k
              FROM agg)
            SELECT bucket,
                   CAST(cnt AS BIGINT) AS count,
                   CAST(bads AS BIGINT) AS bads,
                   round(ln(((cnt - bads + 0.5) / (tc - tb + 0.5*k)) /
                            ((bads + 0.5) / (tb + 0.5*k))), 6) AS woe,
                   round((((cnt - bads + 0.5) / (tc - tb + 0.5*k)) -
                          ((bads + 0.5) / (tb + 0.5*k))) *
                         ln(((cnt - bads + 0.5) / (tc - tb + 0.5*k)) /
                            ((bads + 0.5) / (tb + 0.5*k))), 6) AS iv
            FROM agg CROSS JOIN tot
        """,
        "iv_screen_weighted": """
            WITH pairs AS (
              SELECT 'l_quantity' AS feature,
                     CASE WHEN l_quantity IS NULL THEN -1
                          WHEN l_quantity < 10.0 THEN 0
                          WHEN l_quantity < 25.0 THEN 1
                          WHEN l_quantity < 40.0 THEN 2
                          ELSE 3 END AS bucket,
                     CAST(l_returnflag = 'R' AS INT) AS y,
                     1.0 + (l_orderkey % 3) AS w
              FROM lineitem
              UNION ALL
              SELECT 'l_discount',
                     CASE WHEN l_discount IS NULL THEN -1
                          WHEN l_discount < 0.03 THEN 0
                          WHEN l_discount < 0.06 THEN 1
                          ELSE 2 END,
                     CAST(l_returnflag = 'R' AS INT),
                     1.0 + (l_orderkey % 3)
              FROM lineitem),
            agg AS (
              SELECT feature, bucket, sum(w) AS cnt, sum(w * y) AS bads
              FROM pairs GROUP BY feature, bucket),
            wk AS (
              SELECT feature, bucket, cnt, bads,
                     sum(cnt) OVER (PARTITION BY feature) AS tc,
                     sum(bads) OVER (PARTITION BY feature) AS tb,
                     count(*) OVER (PARTITION BY feature) AS k
              FROM agg),
            pb AS (
              SELECT feature, bucket,
                     ((cnt - bads) + 0.5) / ((tc - tb) + 0.5 * k) AS g_rate,
                     (bads + 0.5) / (tb + 0.5 * k) AS b_rate,
                     CASE WHEN bucket < 0 THEN NULL
                          ELSE bads / cnt END AS br
              FROM wk),
            st AS (
              SELECT feature,
                     (g_rate - b_rate) * ln(g_rate / b_rate) AS iv_term,
                     br - lag(br) OVER (PARTITION BY feature
                                        ORDER BY bucket) AS br_step
              FROM pb)
            SELECT feature,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   round(sum(iv_term), 6) AS iv,
                   (max(br_step) <= 1e-12 OR min(br_step) >= -1e-12
                    OR count(br_step) = 0) AS bad_rate_monotone
            FROM st GROUP BY feature
        """,
        "iv_screen_grouped": """
            WITH pairs AS (
              SELECT l_linestatus, 'l_quantity' AS feature,
                     CASE WHEN l_quantity IS NULL THEN -1
                          WHEN l_quantity < 10.0 THEN 0
                          WHEN l_quantity < 25.0 THEN 1
                          WHEN l_quantity < 40.0 THEN 2
                          ELSE 3 END AS bucket,
                     CAST(l_returnflag = 'R' AS INT) AS y
              FROM lineitem
              UNION ALL
              SELECT l_linestatus, 'l_discount',
                     CASE WHEN l_discount IS NULL THEN -1
                          WHEN l_discount < 0.03 THEN 0
                          WHEN l_discount < 0.06 THEN 1
                          ELSE 2 END,
                     CAST(l_returnflag = 'R' AS INT)
              FROM lineitem),
            agg AS (
              SELECT l_linestatus, feature, bucket,
                     count(*) AS cnt, sum(y) AS bads
              FROM pairs GROUP BY l_linestatus, feature, bucket),
            wk AS (
              SELECT l_linestatus, feature, bucket, cnt, bads,
                     sum(cnt) OVER (PARTITION BY l_linestatus, feature) AS tc,
                     sum(bads) OVER (PARTITION BY l_linestatus, feature) AS tb,
                     count(*) OVER (PARTITION BY l_linestatus, feature) AS k
              FROM agg),
            pb AS (
              SELECT l_linestatus, feature, bucket,
                     ((cnt - bads) + 0.5) / ((tc - tb) + 0.5 * k) AS g_rate,
                     (bads + 0.5) / (tb + 0.5 * k) AS b_rate,
                     CASE WHEN bucket < 0 THEN NULL
                          ELSE bads * 1.0 / cnt END AS br
              FROM wk),
            st AS (
              SELECT l_linestatus, feature,
                     (g_rate - b_rate) * ln(g_rate / b_rate) AS iv_term,
                     br - lag(br) OVER (PARTITION BY l_linestatus, feature
                                        ORDER BY bucket) AS br_step
              FROM pb)
            SELECT l_linestatus, feature,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   round(sum(iv_term), 6) AS iv,
                   (max(br_step) <= 1e-12 OR min(br_step) >= -1e-12
                    OR count(br_step) = 0) AS bad_rate_monotone
            FROM st GROUP BY l_linestatus, feature
        """,
        "iv_screen_categorical": """
            WITH pairs AS (
              SELECT 'n_chars' AS feature,
                     CASE WHEN n_chars IS NULL THEN -1
                          WHEN n_chars < 500.0 THEN 0
                          WHEN n_chars < 2000.0 THEN 1
                          ELSE 2 END AS bucket,
                     CAST(NULL AS VARCHAR) AS cat,
                     CAST(doc_id % 2 AS INT) AS y
              FROM documents
              UNION ALL
              SELECT 'source', NULL,
                     COALESCE(CAST(source AS VARCHAR), '__missing__'),
                     CAST(doc_id % 2 AS INT)
              FROM documents
              UNION ALL
              SELECT 'lang', NULL,
                     COALESCE(CAST(lang AS VARCHAR), '__missing__'),
                     CAST(doc_id % 2 AS INT)
              FROM documents),
            agg AS (
              SELECT feature, bucket, cat,
                     count(*) AS cnt, sum(y) AS bads
              FROM pairs GROUP BY feature, bucket, cat),
            wk AS (
              SELECT feature, bucket, cat, cnt, bads,
                     sum(cnt) OVER (PARTITION BY feature) AS tc,
                     sum(bads) OVER (PARTITION BY feature) AS tb,
                     count(*) OVER (PARTITION BY feature) AS k
              FROM agg),
            pb AS (
              SELECT feature, bucket, cat,
                     ((cnt - bads) + 0.5) / ((tc - tb) + 0.5 * k) AS g_rate,
                     (bads + 0.5) / (tb + 0.5 * k) AS b_rate,
                     CASE WHEN cat IS NULL AND bucket >= 0
                          THEN bads * 1.0 / cnt END AS br
              FROM wk),
            st AS (
              SELECT feature, cat,
                     (g_rate - b_rate) * ln(g_rate / b_rate) AS iv_term,
                     br - lag(br) OVER (PARTITION BY feature
                                        ORDER BY bucket) AS br_step
              FROM pb)
            SELECT feature,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   round(sum(iv_term), 6) AS iv,
                   COALESCE(CAST(
                     CASE WHEN max(cat) IS NOT NULL THEN NULL
                          ELSE (max(br_step) <= 1e-12
                                OR min(br_step) >= -1e-12
                                OR count(br_step) = 0) END
                   AS INT), -1) AS bad_rate_monotone
            FROM st GROUP BY feature
        """,
        "bin_fit_monotone": """
            WITH d AS (
              SELECT CAST(user_id % 5 AS DOUBLE) AS x,
                     CAST((event_id % 100) < (user_id % 5 + 1) * 15 AS INT) AS y
              FROM events),
            g AS (
              SELECT x, count(*) AS count, CAST(sum(y) AS DOUBLE) AS bads,
                     avg(y) AS mean, stddev_samp(CAST(y AS DOUBLE)) AS std
              FROM d GROUP BY x),
            tot AS (SELECT sum(count) AS tc, sum(bads) AS tb,
                           count(*) AS k FROM g)
            SELECT CASE CAST(x AS INT)
                     WHEN 0 THEN '(-inf, 1)' WHEN 1 THEN '[1, 2)'
                     WHEN 2 THEN '[2, 3)' WHEN 3 THEN '[3, 4)'
                     ELSE '[4, +inf)' END AS bucket,
                   CAST(count AS BIGINT) AS count,
                   round(count / tc * 100, 6) AS count_pct,
                   round(bads, 6) AS sum,
                   round(mean, 6) AS mean,
                   round(std, 6) AS std,
                   round(ln(((count - bads + 0.5) / (tc - tb + 0.5*k)) /
                            ((bads + 0.5) / (tb + 0.5*k))), 6) AS woe,
                   round((((count - bads + 0.5) / (tc - tb + 0.5*k)) -
                          ((bads + 0.5) / (tb + 0.5*k))) *
                         ln(((count - bads + 0.5) / (tc - tb + 0.5*k)) /
                            ((bads + 0.5) / (tb + 0.5*k))), 6) AS iv
            FROM g CROSS JOIN tot
        """,
        "bin_fit_weighted": """
            WITH d AS (
              SELECT CAST(user_id % 5 AS DOUBLE) AS x,
                     CAST((event_id % 100) < (user_id % 5 + 1) * 15 AS INT) AS y,
                     1.0 + (event_id % 3) AS w
              FROM events),
            g AS (
              SELECT x, sum(w) AS count, sum(w * y) AS bads,
                     sum(w * y) / sum(w) AS mean,
                     sqrt((sum(w * y * y) - sum(w * y) * sum(w * y) / sum(w))
                          / (sum(w) - 1)) AS std
              FROM d GROUP BY x),
            tot AS (SELECT sum(count) AS tc, sum(bads) AS tb,
                           count(*) AS k FROM g)
            SELECT CASE CAST(x AS INT)
                     WHEN 0 THEN '(-inf, 1)' WHEN 1 THEN '[1, 2)'
                     WHEN 2 THEN '[2, 3)' WHEN 3 THEN '[3, 4)'
                     ELSE '[4, +inf)' END AS bucket,
                   round(count, 6) AS count,
                   round(count / tc * 100, 6) AS count_pct,
                   round(bads, 6) AS sum,
                   round(mean, 6) AS mean,
                   round(std, 6) AS std,
                   round(ln(((count - bads + 0.5) / (tc - tb + 0.5*k)) /
                            ((bads + 0.5) / (tb + 0.5*k))), 6) AS woe,
                   round((((count - bads + 0.5) / (tc - tb + 0.5*k)) -
                          ((bads + 0.5) / (tb + 0.5*k))) *
                         ln(((count - bads + 0.5) / (tc - tb + 0.5*k)) /
                            ((bads + 0.5) / (tb + 0.5*k))), 6) AS iv
            FROM g CROSS JOIN tot
        """,
        "feature_scale": """
            WITH s AS (
              SELECT avg(l_quantity) AS qm,
                     stddev_samp(l_quantity) AS qs,
                     quantile_cont(l_quantity, 0.25) AS q1,
                     quantile_cont(l_quantity, 0.5) AS q2,
                     quantile_cont(l_quantity, 0.75) AS q3,
                     quantile_cont(CASE WHEN l_orderkey % 13 != 0
                                        THEN l_quantity END, 0.5) AS mmed,
                     avg(l_extendedprice) AS pm,
                     stddev_samp(l_extendedprice) AS ps
              FROM lineitem)
            SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
                   CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   round((l_quantity - qm) / qs, 6) AS qty_z,
                   round((l_extendedprice - pm) / ps, 6) AS price_z,
                   round((l_quantity - q2) / (q3 - q1), 6) AS qty_r,
                   round(coalesce(CASE WHEN l_orderkey % 13 != 0
                                       THEN l_quantity END, mmed),
                         6) AS qty_imputed,
                   round(least(greatest(l_quantity, q1 - 1.5 * (q3 - q1)),
                               q3 + 1.5 * (q3 - q1)), 6) AS qty_clipped
            FROM lineitem CROSS JOIN s
            WHERE l_orderkey % 97 = 1
        """,
        "woe_churn": """
            WITH d AS (
              SELECT CAST(user_id % 5 AS DOUBLE) AS x FROM events),
            s AS (
              SELECT x,
                CASE WHEN x < 1 THEN 0.6 WHEN x < 3 THEN 0.0
                     ELSE -0.7 END AS ow,
                CASE WHEN x < 1 THEN 0.6 WHEN x < 4 THEN -0.1
                     ELSE -0.7 END AS nw,
                CASE WHEN x < 1 THEN '(-inf, 1)' WHEN x < 3 THEN '[1, 3)'
                     ELSE '[3, +inf)' END AS ob,
                CASE WHEN x < 1 THEN '(-inf, 1)' WHEN x < 4 THEN '[1, 4)'
                     ELSE '[4, +inf)' END AS nb
              FROM d)
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN ob <> nb THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_label_changed,
                   CAST(sum(CASE WHEN abs(nw - ow) > 1e-12 THEN 1 ELSE 0
                            END) AS BIGINT) AS n_woe_changed,
                   round(sum(CASE WHEN ob <> nb THEN 1 ELSE 0 END)
                         * 1.0 / count(*), 6) AS label_churn,
                   round(sum(CASE WHEN abs(nw - ow) > 1e-12 THEN 1 ELSE 0
                             END) * 1.0 / count(*), 6) AS woe_churn,
                   round(max(abs(nw - ow)), 6) AS max_abs_woe_delta,
                   round(avg(abs(nw - ow)), 6) AS mean_abs_woe_delta
            FROM s
        """,
        "woe_transform_monotone": """
            WITH d AS (
              SELECT CAST(user_id % 5 AS DOUBLE) AS x,
                     CAST((event_id % 100) < (user_id % 5 + 1) * 15 AS INT) AS y
              FROM events),
            g AS (
              SELECT x, count(*) AS count, CAST(sum(y) AS DOUBLE) AS bads
              FROM d GROUP BY x),
            tot AS (SELECT sum(count) AS tc, sum(bads) AS tb,
                           count(*) AS k FROM g)
            SELECT CAST(x AS BIGINT) AS x,
                   round(ln(((count - bads + 0.5) / (tc - tb + 0.5*k)) /
                            ((bads + 0.5) / (tb + 0.5*k))), 6) AS woe,
                   CAST(count AS BIGINT) AS n
            FROM g CROSS JOIN tot
        """,
        "asof_join": """
            WITH l AS (
              SELECT event_id, user_id, epoch(ts) AS ts FROM events
              WHERE event_type = 'click'),
            r AS (
              SELECT user_id, epoch(ts) AS ts, value FROM events
              WHERE event_type = 'purchase')
            SELECT l.event_id, l.user_id, round(l.ts, 6) AS ts,
                   round(r.value, 6) AS purchase_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "asof_join_bucketed": """
            WITH l AS (
              SELECT event_id, user_id, epoch(ts) AS ts FROM events
              WHERE event_type = 'click'),
            r AS (
              SELECT user_id, epoch(ts) AS ts, value FROM events
              WHERE event_type = 'purchase')
            SELECT l.event_id, l.user_id, round(l.ts, 6) AS ts,
                   round(r.value, 6) AS purchase_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "asof_forward": """
            WITH l AS (
              SELECT event_id, user_id, epoch(ts) AS ts FROM events
              WHERE event_type = 'click'),
            r AS (
              SELECT user_id, epoch(ts) AS ts, value FROM events
              WHERE event_type = 'purchase')
            SELECT l.event_id, l.user_id, round(l.ts, 6) AS ts,
                   round(r.value, 6) AS next_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts <= r.ts
        """,
        "asof_tolerance": """
            WITH l AS (
              SELECT event_id, user_id, epoch(ts) AS ts FROM events
              WHERE event_type = 'click'),
            r AS (
              SELECT user_id, epoch(ts) AS ts, value FROM events
              WHERE event_type = 'purchase')
            SELECT l.event_id, round(l.ts, 6) AS ts,
                   round(CASE WHEN l.ts - r.ts <= 3600 THEN r.value END, 6)
                     AS purchase_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "leakage_audit": """
            WITH l AS (
              SELECT event_id, user_id, epoch(ts) AS ts FROM events
              WHERE event_type = 'click'),
            r AS (
              SELECT user_id, epoch(ts) AS ts, value FROM events
              WHERE event_type = 'purchase'),
            j AS (
              SELECT l.ts, r.ts AS m_ts
              FROM l ASOF LEFT JOIN r
                ON l.user_id = r.user_id AND l.ts >= r.ts)
            SELECT count(*) AS n_rows,
                   count(m_ts) AS n_matched,
                   CAST(sum(CASE WHEN m_ts > ts THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_leaks,
                   round(max(CASE WHEN m_ts IS NOT NULL THEN ts - m_ts END), 6)
                     AS max_staleness
            FROM j
        """,
        "range_join": """
            SELECT d.doc_id, r.range AS band_id, CAST(d.n_chars AS BIGINT) AS n_chars
            FROM documents d
            JOIN range(20) r
              ON d.n_chars >= r.range * 60 AND d.n_chars <= r.range * 60 + 100
        """,
        "json_extract": """
            -- ((k % 10) + 10) % 10 matches Spark's pmod (always
            -- non-negative); DuckDB's % keeps the dividend's sign, which
            -- would silently split groups differently for negative k
            SELECT event_type,
                   CAST(((k % 10) + 10) % 10 AS BIGINT) AS k_mod,
                   count(*) AS n,
                   CAST(sum(k) AS BIGINT) AS k_sum,
                   CAST(max(k) AS BIGINT) AS k_max
            FROM (SELECT event_type,
                         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
                  FROM events)
            GROUP BY event_type, ((k % 10) + 10) % 10
        """,
        "tumbling_agg": """
            SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
                   event_type,
                   count(*) AS n,
                   CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
                     AS value_micro
            FROM events
            GROUP BY 1, 2
        """,
        "lag_lead": """
            SELECT event_id,
                   round(lag(value) OVER w, 6) AS value_lag1,
                   round(lead(value) OVER w, 6) AS value_lead1
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "lag_lead_bucketed": """
            SELECT event_id,
                   round(lag(value) OVER w, 6) AS value_lag1,
                   round(lead(value) OVER w, 6) AS value_lead1
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "backfill": """
            SELECT event_id,
                   round(last_value(value_masked IGNORE NULLS) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                     AS value_filled
            FROM (SELECT event_id, user_id, ts,
                         CASE WHEN value >= 5.0 THEN value END AS value_masked
                  FROM events)
        """,
        "backfill_bucketed": """
            SELECT event_id,
                   round(last_value(value_masked IGNORE NULLS) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                     AS value_filled
            FROM (SELECT event_id, user_id, ts,
                         CASE WHEN value >= 5.0 THEN value END AS value_masked
                  FROM events)
        """,
        "sessionize": """
            WITH flagged AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT user_id, value, event_id,
                     CAST(sum(is_new) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                       AS BIGINT) AS session_id
              FROM flagged)
            SELECT user_id, session_id, count(*) AS n_events,
                   CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
                     AS session_value_micro
            FROM sess GROUP BY user_id, session_id
        """,
        "sessionize_bucketed": """
            WITH flagged AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT user_id, value, event_id,
                     CAST(sum(is_new) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                       AS BIGINT) AS session_id
              FROM flagged)
            SELECT user_id, session_id, count(*) AS n_events,
                   CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
                     AS session_value_micro
            FROM sess GROUP BY user_id, session_id
        """,
        "rolling_stats": """
            SELECT event_id,
                   round(avg(value) OVER w, 6) AS roll_mean,
                   count(value) OVER w AS roll_count
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        """,
        "sliding_window": """
            -- each row belongs to windows starting at k*900 for
            -- k in [floor((t-3600)/900)+1, floor(t/900)] (epoch-aligned,
            -- [start, start+3600) — same alignment as Spark's F.window)
            WITH e AS (SELECT epoch(ts) AS t, event_type, value FROM events),
            expanded AS (
              SELECT event_type, value,
                     unnest(generate_series(
                       CAST(floor((t - 3600) / 900) AS BIGINT) + 1,
                       CAST(floor(t / 900) AS BIGINT))) * 900 AS window_start
              FROM e)
            SELECT event_type, CAST(window_start AS BIGINT) AS window_start,
                   count(*) AS n,
                   CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
                     AS value_micro
            FROM expanded GROUP BY event_type, window_start
        """,
        "deterministic_split": f"""
            -- re-derives the engine's md5-hex-prefix split assignment
            WITH s AS (
              SELECT n_chars,
                     substring(md5(concat('split', CAST(doc_id AS VARCHAR))), 1, 8)
                       AS h
              FROM documents)
            SELECT CASE WHEN h < '{_SPLIT_THRESH["train"]}' THEN 'train'
                        WHEN h < '{_SPLIT_THRESH["val"]}' THEN 'val'
                        ELSE 'test' END AS split,
                   count(*) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS chars
            FROM s GROUP BY 1
        """,
        "hash_sample": """
            SELECT doc_id, source FROM documents
            WHERE substring(md5(concat('sample', CAST(doc_id AS VARCHAR))), 1, 8)
                  < '4ccccccc'
        """,
        "exact_dedup": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
              FROM documents) WHERE rn = 1
        """,
        "exact_dedup_agg": """
            SELECT doc_id, source FROM documents
            WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
        """,
        "token_count": """
            SELECT doc_id,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x != '')) AS n_tok
            FROM documents
        """,
        "quality": r"""
            WITH t AS (
              SELECT doc_id, text,
                     length(text) AS n_chars,
                     list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x != '') AS toks
              FROM documents)
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   round(CASE WHEN n_chars > 0 THEN
                     (n_chars - length(regexp_replace(text, '[^\w\s]', '', 'g')))
                       / CAST(n_chars AS DOUBLE) ELSE 0.0 END, 6) AS punct_ratio,
                   round(CASE WHEN n_chars > 0 THEN
                     (n_chars - length(regexp_replace(text, '[0-9]', '', 'g')))
                       / CAST(n_chars AS DOUBLE) ELSE 0.0 END, 6) AS digit_ratio,
                   round(CASE WHEN len(toks) > 0 THEN
                     len(list_filter(toks, x -> list_contains(
                       ['the','and','of','to','in','is','that','it','for','was'],
                       lower(x)))) / CAST(len(toks) AS DOUBLE)
                     ELSE 0.0 END, 6) AS stopword_ratio
            FROM t
        """,
        "lang_id": r"""
            WITH t AS (
              SELECT lang,
                     list_transform(list_filter(string_split_regex(trim(text), '\s+'),
                                                x -> x != ''),
                                    x -> lower(x)) AS toks
              FROM documents),
            s AS (
              SELECT lang,
                CASE WHEN len(toks) > 0 THEN list_max([
                  struct_pack(score := len(list_filter(toks, x -> list_contains(
                    ['the','and','of','to','in','is','that','it','for','was'], x)))
                    / CAST(len(toks) AS DOUBLE), lang := 'en'),
                  struct_pack(score := len(list_filter(toks, x -> list_contains(
                    ['der','die','und','das','ist','von','den','mit','für','nicht'], x)))
                    / CAST(len(toks) AS DOUBLE), lang := 'de'),
                  struct_pack(score := len(list_filter(toks, x -> list_contains(
                    ['le','la','et','les','des','est','une','dans','que','pour'], x)))
                    / CAST(len(toks) AS DOUBLE), lang := 'fr'),
                  struct_pack(score := len(list_filter(toks, x -> list_contains(
                    ['el','la','de','que','los','en','una','por','con','para'], x)))
                    / CAST(len(toks) AS DOUBLE), lang := 'es')
                ]) ELSE struct_pack(score := 0.0, lang := 'zz') END AS best
              FROM t)
            SELECT lang,
                   CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS lang_pred,
                   count(*) AS n
            FROM s GROUP BY lang, lang_pred
        """,
        "token_drift": r"""
            -- same construction: lowercase whitespace tokens, top-50 by
            -- combined count (tie: token asc), __rest__ mass by
            -- subtraction, JS contributions with the 0*log0 convention
            WITH ta AS (
              SELECT lower(unnest(list_filter(
                       string_split_regex(trim(text), '\s+'),
                       x -> x != ''))) AS token
              FROM documents WHERE doc_id % 2 = 0),
            tb AS (
              SELECT lower(unnest(list_filter(
                       string_split_regex(trim(text), '\s+'),
                       x -> x != ''))) AS token
              FROM documents WHERE doc_id % 2 = 1),
            caa AS (SELECT token, count(*) AS n_a FROM ta GROUP BY token),
            cbb AS (SELECT token, count(*) AS n_b FROM tb GROUP BY token),
            j AS (
              SELECT coalesce(caa.token, cbb.token) AS token,
                     coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
              FROM caa FULL OUTER JOIN cbb ON caa.token = cbb.token),
            tot AS (SELECT sum(n_a) AS tta, sum(n_b) AS ttb FROM j),
            sel AS (
              SELECT token, n_a, n_b FROM j
              ORDER BY (n_a + n_b) DESC, token ASC LIMIT 50),
            uni AS (
              SELECT token, n_a, n_b FROM sel
              UNION ALL
              SELECT '__rest__',
                     (SELECT tta FROM tot) - sum(n_a),
                     (SELECT ttb FROM tot) - sum(n_b)
              FROM sel)
            SELECT token,
                   token = '__rest__' AS is_rest,
                   CAST(n_a AS BIGINT) AS n_a,
                   CAST(n_b AS BIGINT) AS n_b,
                   round(n_a / tta, 6) AS p_a,
                   round(n_b / ttb, 6) AS p_b,
                   round(0.5 * (
                     CASE WHEN n_a > 0 THEN (n_a/tta) *
                       ln((n_a/tta) / ((n_a/tta + n_b/ttb)/2))
                       ELSE 0 END
                     + CASE WHEN n_b > 0 THEN (n_b/ttb) *
                       ln((n_b/ttb) / ((n_a/tta + n_b/ttb)/2))
                       ELSE 0 END), 6) AS js_contrib
            FROM uni CROSS JOIN tot
        """,
        "chunk_documents": r"""
            -- same window arithmetic: starts k*48, count
            -- 1 + ceil((n-64)/48) above one window, else 1; DuckDB
            -- list_slice(begin, end) is END-inclusive (= Spark
            -- slice(start, LENGTH 64) when end = start+63)
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(coalesce(text, '')),
                                                    '\s+'),
                                 x -> x != '') AS t
              FROM documents),
            meta AS (
              SELECT doc_id, t,
                     CASE WHEN len(t) > 64
                          THEN 1 + CAST(ceil((len(t) - 64) / 48.0) AS INT)
                          ELSE 1 END AS nc
              FROM toks),
            ch AS (
              SELECT doc_id, t, CAST(unnest(range(0, nc)) AS INT) AS k
              FROM meta)
            SELECT doc_id,
                   k AS chunk,
                   array_to_string(list_slice(t, k*48 + 1, k*48 + 64), ' ')
                     AS chunk_text,
                   CAST(len(list_slice(t, k*48 + 1, k*48 + 64)) AS INT)
                     AS n_tokens
            FROM ch
        """,
        "source_overlap": r"""
            -- source-level DISTINCT shingle sets from string word
            -- 3-grams (the engine's xxhash64 shingle is only an
            -- equi-join key for shingle-string equality)
            WITH toks AS (
              SELECT source, list_filter(string_split_regex(trim(text), '\s+'),
                                         x -> x != '') AS t
              FROM documents),
            post AS (
              SELECT DISTINCT source,
                     unnest(list_distinct(list_transform(
                       range(0, greatest(len(t)-3, 0)+1),
                       i -> array_to_string(list_slice(t, i+1, i+3), ' ')))) AS s
              FROM toks),
            sizes AS (SELECT source, count(*) AS sz FROM post GROUP BY source),
            common AS (
              SELECT a.source AS source_a, b.source AS source_b,
                     count(*) AS common
              FROM post a JOIN post b
                ON a.s = b.s AND a.source < b.source
              GROUP BY a.source, b.source)
            SELECT source_a, source_b,
                   CAST(common AS BIGINT) AS common,
                   CAST(sa.sz AS BIGINT) AS size_a,
                   CAST(sb.sz AS BIGINT) AS size_b,
                   round(common / CAST(sa.sz + sb.sz - common AS DOUBLE), 6)
                     AS jaccard,
                   round(common / CAST(sa.sz AS DOUBLE), 6) AS containment_a,
                   round(common / CAST(sb.sz AS DOUBLE), 6) AS containment_b
            FROM common
            JOIN sizes sa ON sa.source = source_a
            JOIN sizes sb ON sb.source = source_b
        """,
        "ngram_jaccard": r"""
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
                                         x -> x != '') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(t)-3, 0)+1),
                       i -> array_to_string(list_slice(t, i+1, i+3), ' '))) AS sset
              FROM toks),
            post AS (SELECT doc_id, unnest(sset) AS s FROM sh),
            -- models the engine's DEFAULT stop-shingle cap (max_df=1000)
            keep1k AS (SELECT s FROM post GROUP BY s HAVING count(*) <= 1000),
            fpost AS (SELECT p.doc_id, p.s FROM post p JOIN keep1k USING (s)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM fpost GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM fpost a JOIN fpost b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT id_a, id_b,
                   round(common / CAST(sa.sz + sb.sz - common AS DOUBLE), 6) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE common / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.5
        """,
        "ngram_jaccard_maxdf": r"""
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
                                         x -> x != '') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(t)-3, 0)+1),
                       i -> array_to_string(list_slice(t, i+1, i+3), ' '))) AS sset
              FROM toks),
            post AS (SELECT doc_id, unnest(sset) AS s FROM sh),
            keep AS (SELECT s FROM post GROUP BY s HAVING count(*) <= 4),
            fpost AS (SELECT p.doc_id, p.s FROM post p JOIN keep USING (s)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM fpost GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM fpost a JOIN fpost b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT id_a, id_b,
                   round(common / CAST(sa.sz + sb.sz - common AS DOUBLE), 6) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE common / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.4
        """,
        "ngram_containment": """
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
                                         x -> x != '') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(t)-3, 0)+1),
                       i -> array_to_string(list_slice(t, i+1, i+3), ' '))) AS sset
              FROM toks),
            post AS (SELECT doc_id, unnest(sset) AS s FROM sh),
            -- models the engine's DEFAULT stop-shingle cap (max_df=1000)
            keep1k AS (SELECT s FROM post GROUP BY s HAVING count(*) <= 1000),
            fpost AS (SELECT p.doc_id, p.s FROM post p JOIN keep1k USING (s)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM fpost GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM fpost a JOIN fpost b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
            scored AS (
              SELECT id_a, id_b,
                     common / CAST(sa.sz + sb.sz - common AS DOUBLE) AS j,
                     common / CAST(sa.sz AS DOUBLE) AS ca,
                     common / CAST(sb.sz AS DOUBLE) AS cb
              FROM common
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b)
            SELECT id_a, id_b, round(j, 6) AS jaccard,
                   round(ca, 6) AS containment_a,
                   round(cb, 6) AS containment_b
            FROM scored
            WHERE j >= 0.5 OR greatest(ca, cb) >= 0.8
        """,
        "dedup_clusters": r"""
            WITH RECURSIVE toks AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
                                         x -> x != '') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(t)-3, 0)+1),
                       i -> array_to_string(list_slice(t, i+1, i+3), ' '))) AS sset
              FROM toks),
            post AS (SELECT doc_id, unnest(sset) AS s FROM sh),
            -- models the engine's DEFAULT stop-shingle cap (max_df=1000)
            keep1k AS (SELECT s FROM post GROUP BY s HAVING count(*) <= 1000),
            fpost AS (SELECT p.doc_id, p.s FROM post p JOIN keep1k USING (s)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM fpost GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM fpost a JOIN fpost b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
            edges AS (
              SELECT id_a, id_b FROM common
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE common / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.5),
            bi AS (SELECT id_a AS u, id_b AS v FROM edges
                   UNION SELECT id_b, id_a FROM edges),
            walk(u, v) AS (
              SELECT u, v FROM bi
              UNION
              SELECT w.u, b.v FROM walk w JOIN bi b ON w.v = b.u)
            SELECT u AS id, least(u, min(v)) AS component
            FROM walk GROUP BY u
        """,
        "tfidf_topk": r"""
            WITH docs30 AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
            post AS (
              SELECT doc_id,
                     unnest(list_transform(
                       list_filter(string_split_regex(trim(text), '\s+'),
                                   x -> x != ''),
                       x -> lower(x))) AS term
              FROM docs30),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM post GROUP BY doc_id, term),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT count(DISTINCT doc_id) AS nd FROM docs30),
            scored AS (
              SELECT doc_id, term, tf, df,
                     tf * ln(CAST(nd AS DOUBLE) / df) AS tfidf
              FROM tf JOIN dfq USING (term) CROSS JOIN n),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
              FROM scored)
            SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf,
                   CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "bpe_token_count": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[\p{L}\p{N}]{1,4}|[^\p{L}\p{N}\s]')) AS n_bpe
            FROM documents
        """,
        "fingerprint_dedup": """
            SELECT doc_id,
                   md5(regexp_replace(trim(regexp_replace(lower(text),
                       '[^\\p{L}\\p{N} ]', '', 'g')), '\\s+', ' ', 'g')) AS fp
            FROM documents
        """,
        "cosine_topk": """
            -- CAST to DOUBLE[] so DuckDB scores in float64 like the engine
            -- (list_cosine_similarity on FLOAT[] computes in float32, which
            -- flips 6-dp rounding on boundary values)
            SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[])) AS cosine,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[])) DESC,
                                c.vec_id) AS rank
              FROM embeddings q CROSS JOIN embeddings c
              WHERE q.vec_id < 10 AND c.vec_id != q.vec_id)
            WHERE rank <= 5
        """,
        "media_features": f"""
            -- regenerates synthetic_media_table(n={_MEDIA_ROWS}, seed={_MEDIA_SEED})
            -- in SQL: media_type = id % 3, payload = repeat(sha256('seed:id'),
            -- 1 + id % 4) as bytes (64-char hex digest -> 64*(1+id%4) bytes)
            WITH media AS (
              SELECT range AS id,
                     CASE WHEN range % 3 = 0 THEN 'image'
                          WHEN range % 3 = 1 THEN 'audio'
                          ELSE 'video' END AS media_type,
                     octet_length(CAST(repeat(
                       sha256(concat('{_MEDIA_SEED}:', CAST(range AS VARCHAR))),
                       CAST(1 + range % 4 AS INT)) AS BLOB)) AS n_bytes
              FROM range({_MEDIA_ROWS}))
            SELECT media_type,
                   count(*) AS n,
                   CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
                   CAST(min(n_bytes) AS BIGINT) AS min_bytes,
                   CAST(max(n_bytes) AS BIGINT) AS max_bytes
            FROM media GROUP BY media_type
        """,
        "media_features_real": f"""
            -- closed-form expectation of parse_media_header over
            -- synthetic_media_table_real(n={_MEDIA_REAL_ROWS}): every
            -- container-header field is modular arithmetic over the row id
            -- (garbage rows at id % 31 = 0; else png/gif/bmp/wav by id % 4)
            WITH m AS (
              SELECT range AS id,
                     printf('media-%08d', range) AS media_id,
                     CASE WHEN range % 31 = 0 THEN 'unknown'
                          WHEN range % 4 = 0 THEN 'png'
                          WHEN range % 4 = 1 THEN 'gif'
                          WHEN range % 4 = 2 THEN 'bmp'
                          ELSE 'wav' END AS fmt
              FROM range({_MEDIA_REAL_ROWS}))
            SELECT media_id,
                   fmt AS format,
                   CAST(CASE fmt
                     WHEN 'unknown' THEN 10 + id % 7
                     WHEN 'png' THEN 57 + id % 50
                     WHEN 'gif' THEN 14 + id % 30
                     WHEN 'bmp' THEN 54 + id % 40
                     ELSE 44 + (100 + (id*37) % 4000) * 2 * (1 + id % 2)
                   END AS INTEGER) AS n_bytes,
                   CAST(CASE fmt WHEN 'png' THEN 16 + (id*7) % 512
                                 WHEN 'gif' THEN 1 + (id*5) % 300
                                 WHEN 'bmp' THEN 1 + (id*13) % 1024
                   END AS INTEGER) AS width,
                   CAST(CASE fmt WHEN 'png' THEN 16 + (id*11) % 512
                                 WHEN 'gif' THEN 1 + (id*3) % 200
                                 WHEN 'bmp' THEN 1 + (id*17) % 768
                   END AS INTEGER) AS height,
                   CAST(CASE fmt WHEN 'png' THEN 8 WHEN 'gif' THEN 8
                                 WHEN 'bmp' THEN 24 WHEN 'wav' THEN 16
                   END AS INTEGER) AS bit_depth,
                   CAST(CASE fmt WHEN 'png' THEN 4 WHEN 'bmp' THEN 3
                                 WHEN 'wav' THEN 1 + id % 2
                   END AS INTEGER) AS n_channels,
                   CAST(CASE fmt WHEN 'wav' THEN 8000 + 1000 * (id % 5)
                   END AS INTEGER) AS sample_rate,
                   CAST(CASE fmt WHEN 'wav' THEN
                     ((100 + (id*37) % 4000) * 1000) // (8000 + 1000 * (id % 5))
                   END AS BIGINT) AS duration_ms,
                   fmt <> 'unknown' AS valid
            FROM m
        """,
        "pack_chunks": r"""
            -- single-node reference of the distributed two-level prefix
            -- sum: plain window cumsum over doc_id order, then each doc
            -- explodes into the chunks its [start, end) token span touches
            WITH d AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(trim(text), '\s+'),
                                     x -> x != '')) AS n_tok
              FROM documents),
            p AS (
              SELECT doc_id, n_tok,
                     CAST(sum(n_tok) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS e
              FROM d),
            s AS (
              SELECT doc_id, e, e - n_tok AS st FROM p WHERE n_tok > 0),
            x AS (
              SELECT doc_id, st, e,
                     unnest(generate_series(st // 512, (e - 1) // 512))
                       AS chunk_id
              FROM s)
            SELECT doc_id,
                   CAST(chunk_id AS BIGINT) AS chunk_id,
                   CAST(greatest(st, chunk_id * 512) - st AS BIGINT)
                     AS doc_offset,
                   CAST(greatest(st, chunk_id * 512) - chunk_id * 512
                     AS BIGINT) AS chunk_offset,
                   CAST(least(e, chunk_id * 512 + 512)
                        - greatest(st, chunk_id * 512) AS BIGINT)
                     AS n_tok_slice
            FROM x
        """,
        "repetition": r"""
            -- same semantics as the engine's shuffle-free sorted-run folds,
            -- recomputed the explode+group-by way
            WITH lines AS (
              SELECT doc_id, trim(l) AS line
              FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
                    FROM documents)
              WHERE trim(l) != ''),
            cnt AS (
              SELECT doc_id, line, count(*) AS c, length(line) AS ln
              FROM lines GROUP BY doc_id, line),
            lagg AS (
              SELECT doc_id,
                     sum(c) AS n_lines,
                     sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS ndup,
                     sum(c * ln) AS totchars,
                     sum(CASE WHEN c > 1 THEN c * ln ELSE 0 END) AS dupchars
              FROM cnt GROUP BY doc_id),
            toks AS (
              SELECT doc_id, lower(t) AS tok
              FROM (SELECT doc_id,
                           unnest(list_filter(
                             string_split_regex(trim(text), '\s+'),
                             x -> x != '')) AS t
                    FROM documents)),
            tagg AS (
              SELECT doc_id, max(c) AS best, sum(c) AS n_tok
              FROM (SELECT doc_id, tok, count(*) AS c
                    FROM toks GROUP BY doc_id, tok)
              GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(l.n_lines, 0) AS BIGINT) AS n_lines,
                   round(coalesce(CAST(l.ndup AS DOUBLE) / l.n_lines, 0.0), 6)
                     AS dup_line_frac,
                   round(CASE WHEN coalesce(l.totchars, 0) > 0
                         THEN CAST(l.dupchars AS DOUBLE) / l.totchars
                         ELSE 0.0 END, 6) AS dup_line_char_frac,
                   round(coalesce(CAST(t.best AS DOUBLE) / t.n_tok, 0.0), 6)
                     AS top_token_frac
            FROM documents d
            LEFT JOIN lagg l ON l.doc_id = d.doc_id
            LEFT JOIN tagg t ON t.doc_id = d.doc_id
        """,
        "pii_scrub": r"""
            WITH aug AS (
              SELECT doc_id,
                     concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                            '@example.com via 10.2.',
                            CAST(((doc_id % 256) + 256) % 256 AS VARCHAR),
                            '.7 now') AS text
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
                     AS BIGINT) AS n_ipv4,
                   CAST(len(regexp_extract_all(text,
                     '\b\d[\d\- ]{7,}\d\b')) AS BIGINT) AS n_digit_run,
                   md5(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                         '<IP>', 'g'),
                       '\b\d[\d\- ]{7,}\d\b', '<NUM>', 'g')
                   ) AS scrub_md5
            FROM aug
        """,
        "stratified_sample": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY substring(md5(concat('strat',
                                 CAST(doc_id AS VARCHAR))), 1, 8),
                                doc_id) AS rn
              FROM documents) WHERE rn <= 10
        """,
        "decontaminate": r"""
            WITH grams AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(t)-3, 0)+1),
                       i -> array_to_string(list_slice(t, i+1, i+3), ' '))) AS g
              FROM (SELECT doc_id,
                           list_filter(string_split_regex(trim(text), '\s+'),
                                       x -> x != '') AS t
                    FROM documents)),
            bench AS (
              SELECT DISTINCT unnest(g) AS s FROM grams WHERE doc_id < 5),
            hits AS (
              SELECT doc_id, count(*) AS n
              FROM (SELECT doc_id, unnest(g) AS s FROM grams WHERE doc_id >= 5)
              JOIN bench USING (s)
              GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(h.n, 0) AS BIGINT) AS n_contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id >= 5) d
            LEFT JOIN hits h ON h.doc_id = d.doc_id
        """,
        "token_budget_mix": r"""
            WITH d AS (
              SELECT doc_id, source,
                     len(list_filter(string_split_regex(trim(text), '\s+'),
                                     x -> x != '')) AS n_tok
              FROM documents),
            ranked AS (
              SELECT doc_id, source, n_tok,
                     sum(n_tok) OVER (
                       PARTITION BY source
                       ORDER BY substring(md5(concat('mix',
                                 CAST(doc_id AS VARCHAR))), 1, 8), doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tok AS cum_before
              FROM d)
            SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok
            FROM ranked
            WHERE cum_before < CASE source WHEN 'src0' THEN 900
                                           WHEN 'src1' THEN 400
                                           ELSE 0 END
        """,
        "psi_drift_weighted": """
            WITH b AS (
              SELECT CASE WHEN n_chars < 200 THEN 's'
                          WHEN n_chars < 600 THEN 'm'
                          ELSE 'l' END AS bucket,
                     ((doc_id % 2) + 2) % 2 AS side,
                     1.0 + (((doc_id % 3) + 3) % 3) AS w
              FROM documents),
            e AS (SELECT bucket, sum(w) AS n_expected FROM b
                  WHERE side = 0 GROUP BY bucket HAVING sum(w) > 0),
            a AS (SELECT bucket, sum(w) AS n_actual FROM b
                  WHERE side = 1 GROUP BY bucket HAVING sum(w) > 0),
            j AS (
              SELECT coalesce(e.bucket, a.bucket) AS bucket,
                     coalesce(n_expected, 0) AS n_expected,
                     coalesce(n_actual, 0) AS n_actual
              FROM e FULL OUTER JOIN a ON e.bucket = a.bucket),
            tot AS (SELECT sum(n_expected) AS te, sum(n_actual) AS ta,
                           count(*) AS k FROM j)
            SELECT bucket,
                   round(n_expected, 6) AS n_expected,
                   round(n_actual, 6) AS n_actual,
                   round((n_expected + 0.5) / (te + 0.5 * k), 6) AS pct_expected,
                   round((n_actual + 0.5) / (ta + 0.5 * k), 6) AS pct_actual,
                   round(((n_actual + 0.5) / (ta + 0.5 * k)
                          - (n_expected + 0.5) / (te + 0.5 * k))
                         * ln(((n_actual + 0.5) / (ta + 0.5 * k))
                              / ((n_expected + 0.5) / (te + 0.5 * k))), 6)
                     AS psi_term
            FROM j CROSS JOIN tot
        """,
        "psi_drift": """
            WITH b AS (
              SELECT CASE WHEN n_chars < 200 THEN 's'
                          WHEN n_chars < 600 THEN 'm'
                          ELSE 'l' END AS bucket,
                     ((doc_id % 2) + 2) % 2 AS side
              FROM documents),
            e AS (SELECT bucket, count(*) AS n_expected FROM b
                  WHERE side = 0 GROUP BY bucket),
            a AS (SELECT bucket, count(*) AS n_actual FROM b
                  WHERE side = 1 GROUP BY bucket),
            j AS (
              SELECT coalesce(e.bucket, a.bucket) AS bucket,
                     coalesce(n_expected, 0) AS n_expected,
                     coalesce(n_actual, 0) AS n_actual
              FROM e FULL OUTER JOIN a ON e.bucket = a.bucket),
            tot AS (SELECT sum(n_expected) AS te, sum(n_actual) AS ta,
                           count(*) AS k FROM j)
            SELECT bucket,
                   CAST(n_expected AS BIGINT) AS n_expected,
                   CAST(n_actual AS BIGINT) AS n_actual,
                   round((n_expected + 0.5) / (te + 0.5 * k), 6) AS pct_expected,
                   round((n_actual + 0.5) / (ta + 0.5 * k), 6) AS pct_actual,
                   round(((n_actual + 0.5) / (ta + 0.5 * k)
                          - (n_expected + 0.5) / (te + 0.5 * k))
                         * ln(((n_actual + 0.5) / (ta + 0.5 * k))
                              / ((n_expected + 0.5) / (te + 0.5 * k))), 6)
                     AS psi_term
            FROM j CROSS JOIN tot
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 6) AS sum_qty,
                   round(sum(l_extendedprice), 6) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "join_topk": """
            SELECT n_name, round(sum(o_totalprice), 6) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
            ORDER BY revenue DESC, n_name
            LIMIT 5
        """,
        "rollup": """
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   count(*) AS n, round(sum(value), 6) AS total
            FROM events
            GROUP BY ROLLUP(event_type)
        """,
        "percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """,
        "cube_agg": """
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(band, 'ALL') AS band,
                   count(*) AS n,
                   CAST(sum(vmicro) AS BIGINT) AS vmicro_sum
            FROM (SELECT event_type,
                         CASE WHEN value < 5.0 THEN 'low' ELSE 'high' END AS band,
                         CAST(floor(value * 1e6) AS BIGINT) AS vmicro
                  FROM events)
            GROUP BY CUBE(event_type, band)
        """,
        "minhash_pairs_planted": r"""
            -- planted byte-identical duplicates => identical MinHash
            -- signatures => guaranteed co-bucketing, so the jaccard == 1
            -- slice of the LSH candidate set is exactly the pairs with
            -- EQUAL word-3-gram sets (recall 1 by construction)
            WITH u AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 50
              UNION ALL
              SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50),
            toks AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
                                         x -> x != '') AS t
              FROM u),
            keyed AS (
              SELECT doc_id,
                     array_to_string(list_sort(list_distinct(list_transform(
                       range(0, greatest(len(t)-3, 0)+1),
                       i -> array_to_string(list_slice(t, i+1, i+3), ' ')))),
                       chr(30)) AS k
              FROM toks)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(1.0 AS DOUBLE) AS jaccard
            FROM keyed a JOIN keyed b
              ON a.k = b.k AND a.doc_id < b.doc_id
        """,
        "paragraph_dedup": """
            -- composite docs: own text + shared partner paragraph; keep
            -- each paragraph at its first (doc_id, pos) occurrence, then
            -- reassemble in original order
            WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
            composed AS (
              SELECT d.doc_id,
                     d.text || chr(10) || chr(10) || p.text AS text
              FROM d JOIN d p ON p.doc_id = d.doc_id % 10),
            parts AS (
              SELECT doc_id,
                     string_split(text, chr(10) || chr(10)) AS ps
              FROM composed),
            p AS (
              SELECT doc_id,
                     unnest(ps) AS para,
                     unnest(range(1, len(ps) + 1)) AS pos
              FROM parts),
            ranked AS (
              SELECT doc_id, pos, para,
                     row_number() OVER (
                       PARTITION BY para ORDER BY doc_id, pos) AS rn
              FROM p),
            re AS (
              SELECT doc_id,
                     string_agg(para, chr(10) || chr(10) ORDER BY pos)
                       AS text,
                     count(*) AS n_kept
              FROM ranked WHERE rn = 1 GROUP BY doc_id)
            SELECT c.doc_id,
                   md5(coalesce(re.text, '')) AS text_md5,
                   CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_paras_kept
            FROM composed c LEFT JOIN re ON re.doc_id = c.doc_id
        """,
        "psi_drift_grouped": """
            -- deterministic no-merge grouped fit (see bin_fit_monotone):
            -- bins == per-(source, x) aggregates with known labels, so the
            -- per-group smoothed PSI pipeline is plain SQL
            WITH d AS (
              SELECT user_id % 3 AS source,
                     CAST(user_id % 5 AS DOUBLE) AS x
              FROM events),
            lab AS (
              SELECT source, x,
                     CASE CAST(x AS INT)
                       WHEN 0 THEN '(-inf, 1)' WHEN 1 THEN '[1, 2)'
                       WHEN 2 THEN '[2, 3)' WHEN 3 THEN '[3, 4)'
                       ELSE '[4, +inf)' END AS bucket
              FROM d),
            e AS (SELECT source, bucket, count(*) AS n_expected
                  FROM lab GROUP BY source, bucket),
            a AS (SELECT source, bucket, count(*) AS n_actual
                  FROM lab WHERE x <= 2 GROUP BY source, bucket),
            j AS (
              SELECT coalesce(e.source, a.source) AS source,
                     coalesce(e.bucket, a.bucket) AS bucket,
                     coalesce(n_expected, 0) AS n_expected,
                     coalesce(n_actual, 0) AS n_actual
              FROM e FULL OUTER JOIN a
                ON e.source = a.source AND e.bucket = a.bucket),
            tot AS (SELECT source, sum(n_expected) AS te,
                           sum(n_actual) AS ta, count(*) AS k
                    FROM j GROUP BY source)
            SELECT CAST(j.source AS VARCHAR) AS source, bucket,
                   CAST(n_expected AS BIGINT) AS n_expected,
                   CAST(n_actual AS BIGINT) AS n_actual,
                   round((n_expected + 0.5) / (te + 0.5 * k), 6)
                     AS pct_expected,
                   round((n_actual + 0.5) / (ta + 0.5 * k), 6) AS pct_actual,
                   round(((n_actual + 0.5) / (ta + 0.5 * k)
                          - (n_expected + 0.5) / (te + 0.5 * k))
                         * ln(((n_actual + 0.5) / (ta + 0.5 * k))
                              / ((n_expected + 0.5) / (te + 0.5 * k))), 6)
                     AS psi_term
            FROM j JOIN tot ON j.source = tot.source
        """,
        "simhash_planted": r"""
            -- the 64-bit simhash is a pure function of the token MULTISET
            -- (order-insensitive per-token votes), so planted duplicates
            -- pair at hamming 0 and the hamming==0 slice equals the set of
            -- equal-sorted-token-list pairs
            WITH u AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 50
              UNION ALL
              SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50),
            keyed AS (
              SELECT doc_id,
                     array_to_string(list_sort(
                       list_filter(string_split_regex(trim(text), '\s+'),
                                   x -> x != '')), chr(30)) AS k
              FROM u)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(0 AS BIGINT) AS hamming
            FROM keyed a JOIN keyed b
              ON a.k = b.k AND a.doc_id < b.doc_id
        """,
        "embedding_neardup_planted": """
            -- identical planted vectors share every hyperplane-LSH band =>
            -- recall 1 at cosine >= 0.999999 (max non-identical cosine in
            -- the synthetic embeddings is ~0.51), so the exact cross-pair
            -- cosine query reproduces the engine's LSH+rescore output
            WITH u AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 100
              UNION ALL
              SELECT vec_id + 100000, CAST(embedding AS DOUBLE[])
              FROM embeddings WHERE vec_id < 100)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM u a JOIN u b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.999999
        """,
        "lsh_topk_planted": """
            -- planted identical twin => guaranteed candidate in every band
            -- and cosine 1 beats every other corpus vector (max ~0.51):
            -- rank-1 neighbor is the twin, deterministically
            SELECT vec_id AS query_id,
                   vec_id + 100000 AS neighbor_id,
                   CAST(1.0 AS DOUBLE) AS cosine,
                   CAST(1 AS BIGINT) AS rank
            FROM embeddings WHERE vec_id < 10
        """,
        "ivf_topk_planted": """
            SELECT vec_id AS query_id,
                   vec_id + 100000 AS neighbor_id,
                   CAST(1.0 AS DOUBLE) AS cosine,
                   CAST(1 AS BIGINT) AS rank
            FROM embeddings WHERE vec_id < 10
        """,
        "simhash_banded_fp": """
            -- pigeonhole-exact banded join == all-pairs hamming filter;
            -- identical fingerprint arithmetic on both engines (group id
            -- replicated at bits 16/32/48 + one low perturbation bit)
            WITH fps AS (
              SELECT doc_id,
                     (doc_id % 40) * 281479271743488
                       + CAST(power(2, doc_id % 5) AS BIGINT) AS fp
              FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.fp AS fp_a, b.fp AS fp_b,
                   CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
            FROM fps a JOIN fps b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.fp, b.fp)) <= 2
        """,
        "per_source_fit_monotone": """
            -- per-source no-merge construction: strictly monotone group
            -- means per source + max_bins >= n_groups => the grouped fit's
            -- bins are plain per-(source, x) aggregates; edges are the
            -- group values with full-line widening (first left -> -inf,
            -- last right -> +inf)
            WITH d AS (
              SELECT CAST(((user_id % 3) + 3) % 3 AS BIGINT) AS source,
                     CAST(((user_id % 5) + 5) % 5 AS DOUBLE) AS x,
                     CAST((((event_id % 100) + 100) % 100)
                          < (((user_id % 5) + 5) % 5 + 1) * 15 AS INT) AS y
              FROM events),
            g AS (
              SELECT source, x, count(*) AS n, avg(y) AS mean
              FROM d GROUP BY source, x)
            SELECT source,
                   CASE WHEN x = 0 THEN CAST('-infinity' AS DOUBLE)
                        ELSE x END AS "left",
                   CASE WHEN x = 4 THEN CAST('infinity' AS DOUBLE)
                        ELSE x + 1 END AS "right",
                   CAST(n AS BIGINT) AS n,
                   round(mean, 6) AS mean
            FROM g
        """,
        # bin_fit_summary / woe_transform / per_source_fit: iterative
        # driver-side solve, not SQL-expressible -> rows-only check (their
        # *_monotone twins value-check the same code paths).
        # minhash_pairs / lsh_topk / embedding_neardup are VALUE-CHECKED
        # (md5 shingle mode + _minhash_sig_cte / _hyperplane_lsh_cte
        # re-derive the banding in SQL); the planted twins additionally
        # pin deterministic-recall slices.
        # simhash_dedup: xxhash64-specific fingerprints -> rows-only.
        "token_topk": r"""
            WITH t AS (
              SELECT unnest(
                       regexp_split_to_array(lower(trim(text)), '\s+')
                     ) AS token
              FROM documents)
            SELECT token, count(*) AS n
            FROM t WHERE token <> ''
            GROUP BY token
            ORDER BY n DESC, token
            LIMIT 50
        """,
        "token_topk_grouped": r"""
            WITH t AS (
              SELECT source,
                     unnest(
                       regexp_split_to_array(lower(trim(text)), '\s+')
                     ) AS token
              FROM documents),
            c AS (
              SELECT source, token, count(*) AS n
              FROM t WHERE token <> ''
              GROUP BY source, token),
            r AS (
              SELECT source, token, n,
                     row_number() OVER (
                       PARTITION BY source ORDER BY n DESC, token
                     ) AS rank
              FROM c)
            SELECT source, token, CAST(n AS BIGINT) AS n,
                   CAST(rank AS BIGINT) AS rank
            FROM r WHERE rank <= 10
        """,
        "asof_agg": """
            -- point-in-time aggregation join: trailing-window activity of
            -- the right stream as of each probe; exact ms bounds + exact
            -- micro-unit BIGINT sums (count 0 / null sum when no match)
            WITH e AS (
              SELECT user_id,
                     epoch_us(ts) // 1000 AS ms,
                     CAST(floor(value * 1e6) AS BIGINT) AS v6
              FROM events),
            p AS (
              SELECT event_id, user_id, epoch_us(ts) // 1000 AS ms
              FROM events WHERE event_id % 5 = 0)
            SELECT p.event_id,
                   CAST(sum(CASE WHEN e.ms >= p.ms - 3600000
                            THEN e.v6 END) AS BIGINT) AS h1_sum,
                   count(CASE WHEN e.ms >= p.ms - 3600000
                         THEN e.v6 END) AS h1_n,
                   CAST(sum(e.v6) AS BIGINT) AS h24_sum,
                   count(e.v6) AS h24_n
            FROM p LEFT JOIN e
              ON e.user_id = p.user_id
             AND e.ms BETWEEN p.ms - 86400000 AND p.ms
            GROUP BY p.event_id
        """,
        "time_decayed": """
            -- half-life decayed features: the 24-half-life truncation is
            -- exactly a 24h join window at H=1h, so the oracle is a
            -- bounded range self-join; both sides round to 4dp (weights
            -- are irrational — see q_time_decayed)
            WITH e AS (
              SELECT event_id, user_id,
                     epoch_us(ts) // 1000 AS ms,
                     value
              FROM events)
            SELECT p.event_id,
                   round(sum(c.value
                             * pow(2.0, (c.ms - p.ms) / 3600000.0)), 4)
                       AS d_sum,
                   round(coalesce(
                       sum(pow(2.0, (c.ms - p.ms) / 3600000.0)), 0), 4)
                       AS d_cnt
            FROM e p
            LEFT JOIN e c
              ON c.user_id = p.user_id
             AND c.ms IS NOT NULL AND p.ms IS NOT NULL
             AND c.value IS NOT NULL
             AND c.ms <= p.ms
             AND c.ms >= p.ms - 86400000
            GROUP BY p.event_id
        """,
        "snapshot": """
            -- point-in-time table state at 2024-01-15T00:00Z
            -- (epoch ms 1705276800000); Spark plans an algebraic
            -- max_by((ms, event_id)) — the oracle's rn=1 window is the
            -- same argmax with a deterministic tie-break
            WITH e AS (
              SELECT user_id, event_id, event_type, value,
                     epoch_us(ts) // 1000 AS ms
              FROM events
              WHERE ts IS NOT NULL
                AND epoch_us(ts) // 1000 <= 1705276800000)
            SELECT user_id, ms AS as_of_ms, event_type, value
            FROM (SELECT *,
                         row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY ms DESC, event_id DESC) AS rn
                  FROM e)
            WHERE rn = 1
        """,
        "intervalize": """
            -- SCD-2 validity intervals: valid from own ts to the key's
            -- next update (closed-open; null = still current)
            WITH e AS (
              SELECT event_id, user_id, epoch_us(ts) // 1000 AS ms
              FROM events
              WHERE ts IS NOT NULL)
            SELECT event_id, user_id, ms AS valid_from_ms,
                   lead(ms) OVER (
                     PARTITION BY user_id
                     ORDER BY ms, event_id) AS valid_to_ms
            FROM e
        """,
        "asof_decayed": """
            -- two-table decayed aggregation join: probes = every 5th
            -- event, contributors = all events; 24 half-lives at H=1h
            -- is exactly a 24h range join (see time_decayed)
            WITH e AS (
              SELECT event_id, user_id,
                     epoch_us(ts) // 1000 AS ms,
                     value
              FROM events)
            SELECT p.event_id,
                   round(sum(c.value
                             * pow(2.0, (c.ms - p.ms) / 3600000.0)), 4)
                       AS d_sum,
                   round(coalesce(
                       sum(pow(2.0, (c.ms - p.ms) / 3600000.0)), 0), 4)
                       AS d_cnt
            FROM (SELECT * FROM e WHERE event_id % 5 = 0) p
            LEFT JOIN e c
              ON c.user_id = p.user_id
             AND c.ms IS NOT NULL AND p.ms IS NOT NULL
             AND c.value IS NOT NULL
             AND c.ms <= p.ms
             AND c.ms >= p.ms - 86400000
            GROUP BY p.event_id
        """,
        "multi_horizon": """
            -- trailing-horizon point-in-time features: exact epoch-ms
            -- order keys (µs // 1000) and exact micro-unit BIGINT sums,
            -- so RANGE frame membership and frame sums are engine-exact;
            -- a null-time event contributes nothing (v6 masked where ms
            -- IS NULL), so it gets count 0 / null sums
            WITH t AS (
              SELECT event_id, user_id,
                     epoch_us(ts) // 1000 AS ms,
                     CAST(floor(value * 1e6) AS BIGINT) AS v6
              FROM events),
            e AS (
              SELECT event_id, user_id, ms,
                     CASE WHEN ms IS NOT NULL THEN v6 END AS v6
              FROM t)
            SELECT event_id,
                   CAST(sum(v6) OVER w1 AS BIGINT) AS h1_sum,
                   count(v6) OVER w1 AS h1_n,
                   CAST(sum(v6) OVER w24 AS BIGINT) AS h24_sum,
                   count(v6) OVER w24 AS h24_n
            FROM e
            WINDOW w1 AS (PARTITION BY user_id ORDER BY ms
                          RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW),
                   w24 AS (PARTITION BY user_id ORDER BY ms
                           RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW)
        """,
    }
    # the broadcast as-of computes the SAME result as the shuffle as-of on
    # a different physical plan — one oracle, two engines under test
    d["asof_broadcast"] = d["asof_join"]
    # the loaded-codebook IVF serves the same planted query as the
    # fit-fresh plan — one deterministic oracle, two serving paths
    d["ivf_topk_loaded"] = d["ivf_topk_planted"]
    # the ghost-row bucketed plan computes the SAME result as the plain
    # multi-horizon window — one oracle, two physical plans
    d["multi_horizon_bucketed"] = d["multi_horizon"]
    # the incremental two-partition merged-stats fit must equal the
    # single-pass fit — one oracle, two fit engines
    d["bin_fit_incremental"] = d["bin_fit_monotone"]
    # the grouped incremental merged-stats fit must equal the one-scan
    # grouped fit — same oracle as the per-source monotone construction
    d["per_source_fit_incremental"] = d["per_source_fit_monotone"]
    return d
