"""Fused per-group fit: one scan must equal N independent fits exactly."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from monotonic_optimal_binning_spark import (
    BinningConstraints,
    DataError,
    SparkMonotonicBinner,
    collect_group_stats,
    fit_binners_per_group,
    fit_groups_from_stats,
)


def make_grouped_frame(seed=0, n_per=400):
    rng = np.random.default_rng(seed)
    frames = []
    for i, src in enumerate(["web", "books", "code"]):
        x = np.linspace(-2, 3, n_per) + rng.normal(0, 0.15, n_per)
        p = 1.0 / (1.0 + np.exp(-(0.8 + 0.4 * i) * x))
        y = (rng.random(n_per) < p).astype(np.int64)
        frames.append(pd.DataFrame({"src": src, "x": x, "y": y}))
    return pd.concat(frames, ignore_index=True)


def test_fused_equals_independent_fits(spark):
    pdf = make_grouped_frame()
    sdf = spark.createDataFrame(pdf)
    ckw = dict(constraints=BinningConstraints(max_bins=5, min_bins=2),
               prebins="exact")

    grouped = fit_binners_per_group(sdf, "src", "x", "y", **ckw)
    for src in ["web", "books", "code"]:
        solo = SparkMonotonicBinner("x", "y", **ckw).fit(
            sdf.filter(F.col("src") == src)
        )
        fused = grouped[src]
        pd.testing.assert_frame_equal(solo.model_.bins_df, fused.bins_df)
        pd.testing.assert_frame_equal(solo.model_.summary_df, fused.summary_df)
        assert solo.model_.resolved_sign == fused.resolved_sign


def test_grouped_binary_continuous_mix(spark):
    """Groups may independently be binary or continuous; 'web' uses a
    non-{0,1} pair which the reference's binary check rejects
    (/root/reference/src/MOBPY/core/utils.py:119 — only {0,1}-coercible
    pairs count), so it must be treated as continuous in both paths."""
    pdf = make_grouped_frame(seed=5)
    pdf.loc[pdf["src"] == "web", "y"] = pdf.loc[pdf["src"] == "web", "y"].map(
        {0: 3, 1: 9}
    )
    rng = np.random.default_rng(6)
    cont = pdf["src"] == "code"
    pdf.loc[cont, "y"] = pdf.loc[cont, "y"] * 10.0 + rng.normal(0, 1, cont.sum())
    sdf = spark.createDataFrame(pdf.astype({"y": float}))
    ckw = dict(constraints=BinningConstraints(max_bins=5, min_bins=2),
               prebins="exact")

    grouped = fit_binners_per_group(sdf, "src", "x", "y", **ckw)
    assert grouped["books"].is_binary
    assert not grouped["web"].is_binary
    assert not grouped["code"].is_binary
    for src in ["web", "books", "code"]:
        solo = SparkMonotonicBinner("x", "y", **ckw).fit(
            sdf.filter(F.col("src") == src)
        )
        pd.testing.assert_frame_equal(solo.model_.bins_df, grouped[src].bins_df)


def test_grouped_transform_matches_per_model(spark):
    pdf = make_grouped_frame(seed=9)
    sdf = spark.createDataFrame(pdf)
    grouped = fit_binners_per_group(
        sdf, "src", "x", "y", constraints=BinningConstraints(max_bins=5, min_bins=2)
    )
    out = (
        grouped.transform(sdf, assign="woe", input_col="x", group_col="src")
        .toPandas()
        .sort_values(["src", "x"])
        .reset_index(drop=True)
    )
    for src in ["web", "books", "code"]:
        model = grouped[src]
        sub = out[out["src"] == src]
        expected = model.assign_batch(sub["x"], "woe")
        np.testing.assert_allclose(
            sub["x_woe"].to_numpy(), expected.to_numpy(), rtol=1e-12
        )
    # interval mode too
    out2 = grouped.transform(sdf, assign="interval", input_col="x", group_col="src")
    assert out2.filter(F.col("x_interval").isNull()).count() == 0


def test_grouped_fit_scan_count(spark):
    """The fused fit's Spark-job count must not scale with group count
    (binary-detect + stats agg, each a couple of jobs — never one per
    group). 3 groups here; a per-group implementation would need ~3x."""
    pdf = make_grouped_frame(seed=11)
    sdf = spark.createDataFrame(pdf)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    fit_binners_per_group(
        sdf, "src", "x", "y", constraints=BinningConstraints(max_bins=5, min_bins=2)
    )
    after = len(tracker.getJobIdsForGroup() or [])
    # auto mode on this high-cardinality frame runs: exact-agg count,
    # approxQuantile probe, re-bucket collect + M/E collect off the cache
    # (plus AQE sub-jobs) — a CONSTANT, group-count-independent number.
    # A per-group implementation would add ~3 jobs per extra group.
    assert after - before <= 10, f"too many Spark jobs: {after - before}"


def _served_vs_pandas(out, want):
    """Spark-side ``(isNull, isnan, value)`` of column ``o`` per row id
    against the pandas answer with NaN mapped to NULL (toPandas() would
    fold NULL and NaN together and hide the difference)."""
    rows = out.select(
        "id", F.col("o").isNull().alias("n"),
        F.coalesce(F.isnan("o"), F.lit(False)).alias("nan"), "o",
    ).collect()
    got = {r["id"]: (r["n"], r["nan"], r["o"]) for r in rows}
    exp = {
        i: (True, False, None) if np.isnan(v) else (False, False, float(v))
        for i, v in enumerate(want)
    }
    assert got == exp


def test_numeric_transform_codegen_equals_pandas_udf(spark):
    """The numeric assign modes compile to a JVM lookup; it must serve
    exactly the pandas ``assign_batch`` answer, with every missing
    output (null/NaN input, excluded value, unseen or null group,
    non-binary group under woe) a SQL NULL, never NaN — on nulls, NaNs,
    excluded values, bin edges, ±inf, unseen groups and non-binary
    groups."""
    from monotonic_optimal_binning_spark import (
        BinningConstraints,
        SparkMonotonicBinner,
        fit_binners_per_group,
    )

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["a", "b", "c"], 600),
            "x": rng.normal(10, 4, 600).round(1),
            "y": rng.integers(0, 2, 600),
        }
    )
    # group 'c' gets a continuous target -> non-binary under woe
    pdf.loc[pdf["g"] == "c", "y"] = rng.normal(size=(pdf["g"] == "c").sum())
    probe = pd.DataFrame(
        {
            "g": ["a", "a", "a", "a", "b", "zzz", None, "c", "a"],
            "x": [None, float("nan"), float("inf"), float("-inf"),
                  7.0, 5.0, 5.0, 5.0, 99.0],
        }
    )
    gb = fit_binners_per_group(
        spark.createDataFrame(pdf), "g", "x", "y",
        constraints=BinningConstraints(max_bins=5, min_bins=2),
    )
    # also hit a model's exact bin edges
    edges = [float(r) for r in gb["a"].rights[:-1]]
    full = pd.concat(
        [pdf[["g", "x"]], probe,
         pd.DataFrame({"g": ["a"] * len(edges), "x": edges})],
        ignore_index=True,
    )
    rows = [
        (i, None if g is None or g != g else str(g),
         None if x is None else float(x))
        for i, (g, x) in enumerate(zip(full["g"], full["x"]))
    ]
    sdf = spark.createDataFrame(rows, "id long, g string, x double")
    xs = full["x"].astype(float)

    for mode in ("woe", "left", "right"):
        fast = gb.transform(sdf, assign=mode, input_col="x", output_col="o")
        plan = fast._jdf.queryExecution().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        want = np.full(len(full), np.nan)
        for g, m in gb.items():
            if mode == "woe" and m.woes is None:
                continue
            sel = (full["g"] == g).to_numpy()
            want[sel] = m.assign_batch(xs[sel], mode).to_numpy()
        _served_vs_pandas(fast, want)

    # single-model path with excluded values, same contract
    bx = SparkMonotonicBinner(
        "x", "y", exclude_values=[7.0],
        constraints=BinningConstraints(max_bins=5, min_bins=2),
    ).fit(spark.createDataFrame(pdf[pdf["g"] != "c"][["x", "y"]]))
    sx = sdf.select("id", "x")
    for mode in ("woe", "left", "right"):
        fast = bx.model_.transform(sx, assign=mode, output_col="o")
        plan = fast._jdf.queryExecution().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        _served_vs_pandas(fast, bx.model_.assign_batch(xs, mode).to_numpy())


def _one_group_frame(seed=21, n=6000):
    """More than 1024 distinct clean x (so ``"auto"`` takes the quantile
    fallback), NaN x and y, ``-999`` codes and non-unit weights."""
    rng = np.random.default_rng(seed)
    x = np.round(rng.normal(0, 1, n), 4)
    p = 1.0 / (1.0 + np.exp(-1.3 * x))
    y = (rng.random(n) < p).astype(float)
    pdf = pd.DataFrame({"x": x, "y": y, "w": rng.choice([0.5, 1.0, 2.0, 3.0], n)})
    pdf.loc[pdf.index % 29 == 0, "x"] = np.nan
    pdf.loc[pdf.index % 31 == 0, "x"] = -999.0
    pdf.loc[pdf.index % 37 == 0, "y"] = np.nan
    pdf["one"] = "all"
    return pdf


def _canon_rows(rows):
    """Stats rows without ``_g``, in a stable (tag, gkey) order."""
    def key(r):
        g = r["gkey"]
        odd = g is None or np.isnan(g)
        return (r["tag"], g is None, odd, 0.0 if odd else g)

    return sorted(({k: v for k, v in r.items() if k != "_g"} for r in rows), key=key)


def _assert_rows_equal(single, grouped):
    a, b = _canon_rows(single), _canon_rows(grouped)
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra.keys() == rb.keys()
        for k in ra:
            va, vb = ra[k], rb[k]
            if va is None or vb is None:
                assert va is vb, (k, ra, rb)
            elif isinstance(va, str):
                assert va == vb
            else:
                np.testing.assert_allclose(vb, va, rtol=1e-12, err_msg=k)


_ONE_GROUP_CASES = [
    ("exact", {}),
    (16, {}),
    ("auto", {}),
    (16, {"weight_col": "w"}),
    ("auto", {"exclude_values": [-999.0]}),
    ("exact", {"exclude_values": [-999.0], "weight_col": "w"}),
]


@pytest.mark.parametrize("prebins,extra", _ONE_GROUP_CASES)
def test_one_group_fit_equals_single_fit(spark, prebins, extra):
    """The per-group scan on a constant group column is the single fit:
    the same stats rows (``_g`` dropped), bucketing, ``prebinned`` flag
    and solved model."""
    sdf = spark.createDataFrame(_one_group_frame())
    kw = dict(constraints=BinningConstraints(max_bins=6, min_bins=2),
              prebins=prebins, **extra)

    single = SparkMonotonicBinner("x", "y", **kw).collect_stats(sdf)
    grouped = collect_group_stats(sdf, "one", "x", "y", **kw)
    if prebins == "auto":
        assert single.splits is not None  # the LIMIT guard tripped
    assert single.splits == grouped.splits
    _assert_rows_equal(single.rows, grouped.rows)
    assert {r["_g"] for r in grouped.rows} == {"all"}

    solo = SparkMonotonicBinner("x", "y", **kw).fit(sdf).model_
    fused = fit_binners_per_group(sdf, "one", "x", "y", **kw)["all"]
    assert solo.diagnostics["prebinned"] == fused.diagnostics["prebinned"]
    assert solo.diagnostics["prebinned"] == (single.splits is not None)
    pd.testing.assert_frame_equal(solo.bins_df, fused.bins_df)
    pd.testing.assert_frame_equal(solo.summary_df, fused.summary_df)
    assert solo.resolved_sign == fused.resolved_sign


def test_one_group_incremental_equals_single(spark):
    """Folding a new partition under a prior's frozen splits gives the
    same rows with or without the group key, and both refuse a
    high-cardinality partition on a prior the auto policy grouped
    exactly."""
    pdf = _one_group_frame(seed=23)
    p1 = spark.createDataFrame(pdf.iloc[:3000])
    p2 = spark.createDataFrame(pdf.iloc[3000:])
    kw = dict(prebins=16, exclude_values=[-999.0], weight_col="w")
    b = SparkMonotonicBinner("x", "y", **kw)
    single = b.collect_stats(p2, prior=b.collect_stats(p1, label="p1"), label="p2")
    g1 = collect_group_stats(p1, "one", "x", "y", label="p1", **kw)
    grouped = collect_group_stats(p2, prior=g1, label="p2", **kw)
    assert single.splits == grouped.splits == g1.splits
    _assert_rows_equal(single.rows, grouped.rows)
    for es, eg in zip(single.lineage, grouped.lineage):
        assert {k: v for k, v in es.items() if k != "n_groups"} == {
            k: v for k, v in eg.items() if k != "n_groups"
        }
    solo = SparkMonotonicBinner("x", "y", **kw).fit_from_stats(single).model_
    fused = fit_groups_from_stats(grouped, **kw)["all"]
    pd.testing.assert_frame_equal(solo.bins_df, fused.bins_df)

    low = pdf.assign(x=np.arange(len(pdf)) % 10 * 1.0).iloc[:500]
    high = pdf.assign(x=np.arange(len(pdf)) + 0.5).iloc[:2000]
    auto = SparkMonotonicBinner("x", "y", prebins="auto")
    prior = auto.collect_stats(spark.createDataFrame(low))
    gprior = collect_group_stats(spark.createDataFrame(low), "one", "x", "y")
    assert prior.splits is None and gprior.splits is None
    with pytest.raises(DataError, match="incremental partition"):
        auto.collect_stats(spark.createDataFrame(high), prior=prior)
    with pytest.raises(DataError, match="incremental partition"):
        collect_group_stats(spark.createDataFrame(high), prior=gprior)
