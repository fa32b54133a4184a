"""iv_screen: multi-feature IV screening vs the driver-side woe_iv kernel."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from monotonic_optimal_binning_spark.core.stats import woe_iv
from monotonic_optimal_binning_spark.operators.screening import (
    iv_screen,
    quantile_cuts,
)


@pytest.fixture(scope="module")
def toy(spark):
    rows = []
    rng = np.random.RandomState(7)
    for i in range(600):
        a = float(rng.uniform(0, 100))
        b = float(rng.uniform(0, 1))
        # bad rate rises with a (monotone signal), noise on b
        y = int(rng.uniform() < (0.1 + 0.6 * a / 100))
        rows.append((i, a if i % 20 else None, b, y))
    return spark.createDataFrame(rows, "id long, a double, b double, y int")


def _truth_iv(pdf, col, cuts, smoothing=0.5):
    """Driver-side ground truth: bucket with numpy, IV via core woe_iv."""
    import pandas as pd

    v = pdf[col]
    bucket = pd.Series(
        np.searchsorted(np.asarray(cuts), v.to_numpy(dtype=float), side="right"),
        index=pdf.index,
    )
    bucket[v.isna()] = -1
    g = pdf.assign(bucket=bucket).groupby("bucket")["y"].agg(["count", "sum"])
    bads = g["sum"].to_numpy(dtype=float)
    goods = g["count"].to_numpy(dtype=float) - bads
    comp = woe_iv(goods, bads, smoothing=smoothing, return_components=True)
    return float(np.round(comp["iv"].sum(), 6)), len(g)


def test_iv_matches_core_kernel(toy):
    cuts = {"a": [25.0, 50.0, 75.0], "b": [0.5]}
    out = {
        r["feature"]: r
        for r in iv_screen(toy, ["a", "b"], "y", cuts=cuts).collect()
    }
    pdf = toy.toPandas()
    for col in ("a", "b"):
        iv, nb = _truth_iv(pdf, col, cuts[col])
        assert out[col]["iv"] == pytest.approx(iv, abs=2e-6), col
        assert out[col]["n_buckets"] == nb, col
    # a carries the planted signal, b is noise
    assert out["a"]["iv"] > 5 * out["b"]["iv"]


def test_monotone_flag_ignores_missing_bucket(toy):
    cuts = {"a": [25.0, 50.0, 75.0]}
    row = iv_screen(toy, ["a"], "y", cuts=cuts).collect()[0]
    # planted monotone signal; the missing bucket's bad rate must not
    # break the flag even though it sorts first
    pdf = toy.toPandas().dropna(subset=["a"])
    br = (
        pdf.assign(bucket=np.searchsorted([25.0, 50.0, 75.0], pdf["a"]))
        .groupby("bucket")["y"]
        .mean()
        .to_numpy()
    )
    assert bool(row["bad_rate_monotone"]) == bool(
        np.all(np.diff(br) >= -1e-12) or np.all(np.diff(br) <= 1e-12)
    )


def test_nonmonotone_flag(spark):
    # V-shaped bad rate: high at both ends
    rows = [(float(x), int(x < 20 or x > 80)) for x in range(100)]
    df = spark.createDataFrame(rows, "x double, y int")
    row = iv_screen(df, ["x"], "y", cuts={"x": [33.0, 66.0]}).collect()[0]
    assert not row["bad_rate_monotone"]


def test_single_bucket_feature_is_trivially_monotone(spark):
    df = spark.createDataFrame([(1.0, 0), (2.0, 1)], "x double, y int")
    row = iv_screen(df, ["x"], "y", cuts={"x": []}).collect()[0]
    assert row["n_buckets"] == 1
    assert row["bad_rate_monotone"]


def test_quantile_cuts_one_pass_and_dedup(spark):
    df = spark.createDataFrame(
        [(float(i % 3), float(i)) for i in range(300)], "c double, u double"
    )
    cuts = quantile_cuts(df, ["c", "u"], n_buckets=10)
    # 3-valued feature: the 9 decile probes collapse to ≤3 distinct cuts
    assert cuts["c"] == sorted(set(cuts["c"]))
    assert len(cuts["c"]) <= 3
    assert len(cuts["u"]) == 9
    assert all(x < y for x, y in zip(cuts["u"], cuts["u"][1:]))


def _final_plan(df) -> str:
    """Execute and return the AQE FINAL plan text only (the toString also
    appends the pre-execution Initial Plan, which still shows the
    duplicated totals subtree that ReuseExchange folds at runtime)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_one_scan_plan(toy):
    """The input table is scanned exactly once and partially aggregated
    map-side before the only input-sized shuffle; the per-feature totals
    aggregate reuses that shuffle's output (ReusedExchange), not a second
    scan."""
    out = iv_screen(toy, ["a", "b"], "y", cuts={"a": [50.0], "b": [0.5]})
    plan = _final_plan(out)
    assert plan.count("Scan ExistingRDD") + plan.count("FileScan") == 1, plan
    assert "ReusedExchange" in plan, plan
    # partial aggregation below the (feature, bucket) exchange
    assert "partial_count" in plan or "partial" in plan.lower()


def test_errors(toy):
    with pytest.raises(ValueError):
        iv_screen(toy, [], "y")
    with pytest.raises(ValueError):
        iv_screen(toy, ["a"], "y", cuts={"b": [1.0]})


@pytest.mark.parametrize("bad", [[50.0, 50.0], [60.0, 40.0]])
def test_non_increasing_cuts_rejected(toy, bad):
    """iv_screen buckets with the same index builder as gains_table and
    calibration_table, so it refuses cuts that are not strictly
    increasing the same way."""
    with pytest.raises(ValueError, match="strictly increasing"):
        iv_screen(toy, ["a", "b"], "y", cuts={"a": bad, "b": [0.5]})


def _truth_iv_cat(pdf, col, smoothing=0.5):
    """Ground truth for a categorical feature: one bucket per category
    (null → its own bucket), IV via the core woe_iv kernel."""
    g = (
        pdf.assign(cat=pdf[col].fillna("__missing__"))
        .groupby("cat")["y"]
        .agg(["count", "sum"])
    )
    bads = g["sum"].to_numpy(dtype=float)
    goods = g["count"].to_numpy(dtype=float) - bads
    comp = woe_iv(goods, bads, smoothing=smoothing, return_components=True)
    return float(np.round(comp["iv"].sum(), 6)), len(g)


@pytest.fixture(scope="module")
def toy_cat(spark, toy):
    # a planted-signal categorical (bad rate differs per level, one null
    # level) and a noise categorical
    return toy.select(
        "id", "a", "b", "y",
        F.when(F.col("id") % 17 == 0, F.lit(None))
        .when(F.col("y") == 1, F.when(F.col("id") % 3 == 0, "hi").otherwise("mid"))
        .otherwise(F.when(F.col("id") % 4 == 0, "mid").otherwise("lo"))
        .alias("c1"),
        F.concat(F.lit("n"), (F.col("id") % 5).cast("string")).alias("c2"),
    )


def test_categorical_iv_matches_kernel(toy_cat):
    out = {
        r["feature"]: r
        for r in iv_screen(
            toy_cat, [], "y", categorical=["c1", "c2"]
        ).collect()
    }
    pdf = toy_cat.toPandas()
    for col in ("c1", "c2"):
        iv, nb = _truth_iv_cat(pdf, col)
        assert out[col]["iv"] == pytest.approx(iv, abs=2e-6), col
        assert out[col]["n_buckets"] == nb, col
        assert out[col]["bad_rate_monotone"] is None, col
    assert out["c1"]["iv"] > 5 * out["c2"]["iv"]


def test_mixed_numeric_and_categorical_single_scan(toy_cat):
    """Numeric + categorical screen together: values match the separate
    runs, and ReuseExchange folds the two post-agg branches back onto ONE
    scan of the input."""
    cuts = {"a": [25.0, 50.0, 75.0]}
    mixed = iv_screen(
        toy_cat, ["a"], "y", cuts=cuts, categorical=["c1"]
    )
    rows = {r["feature"]: r for r in mixed.collect()}
    num_only = iv_screen(toy_cat, ["a"], "y", cuts=cuts).collect()[0]
    cat_only = iv_screen(toy_cat, [], "y", categorical=["c1"]).collect()[0]
    assert rows["a"]["iv"] == num_only["iv"]
    assert rows["a"]["bad_rate_monotone"] == num_only["bad_rate_monotone"]
    assert rows["c1"]["iv"] == cat_only["iv"]
    assert rows["c1"]["n_buckets"] == cat_only["n_buckets"]

    plan = _final_plan(mixed)
    n_scans = plan.count("Scan ExistingRDD") + plan.count("FileScan")
    assert n_scans == 1, plan


def test_categorical_branch_has_no_per_feature_window(toy_cat):
    """The categorical IV path must stay AQE-splittable: totals via a
    broadcast-joined aggregate, never a window partitioned by feature
    (a 10⁸-category column would pin one task)."""
    out = iv_screen(toy_cat, [], "y", categorical=["c1", "c2"])
    plan = _final_plan(out)
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan, plan


def test_grouped_categorical_matches_per_group_slices(toy_cat):
    df = toy_cat.withColumn(
        "src", F.when(F.col("id") % 3 == 0, "s0").otherwise("s1")
    )
    grouped = {
        (r["src"], r["feature"]): r
        for r in iv_screen(
            df, [], "y", categorical=["c1"], group_col="src"
        ).collect()
    }
    assert len(grouped) == 2
    for src in ("s0", "s1"):
        single = iv_screen(
            df.filter(F.col("src") == src), [], "y", categorical=["c1"]
        ).collect()[0]
        g = grouped[(src, "c1")]
        assert g["iv"] == single["iv"]
        assert g["n_buckets"] == single["n_buckets"]


def test_numeric_and_categorical_overlap_rejected(toy_cat):
    with pytest.raises(ValueError):
        iv_screen(toy_cat, ["a"], "y", cuts={"a": [50.0]}, categorical=["a"])


def test_grouped_screen_matches_per_group_slices(toy):
    """group_col output equals running the ungrouped screen on each
    group's slice separately (same global cuts)."""
    from pyspark.sql import functions as F

    cuts = {"a": [25.0, 50.0, 75.0], "b": [0.5]}
    df = toy.withColumn(
        "src", F.when(F.col("id") % 3 == 0, "s0").otherwise("s1")
    )
    grouped = {
        (r["src"], r["feature"]): r
        for r in iv_screen(
            df, ["a", "b"], "y", cuts=cuts, group_col="src"
        ).collect()
    }
    assert len(grouped) == 4
    for src in ("s0", "s1"):
        single = {
            r["feature"]: r
            for r in iv_screen(
                df.filter(F.col("src") == src), ["a", "b"], "y", cuts=cuts
            ).collect()
        }
        for feat in ("a", "b"):
            g, s = grouped[(src, feat)], single[feat]
            assert g["iv"] == s["iv"]
            assert g["n_buckets"] == s["n_buckets"]
            assert g["bad_rate_monotone"] == s["bad_rate_monotone"]


def test_weighted_screen_equals_replication(spark):
    rng = np.random.RandomState(23)
    rows = []
    for i in range(500):
        a = float(rng.uniform(0, 100))
        y = int(rng.uniform() < (0.1 + 0.6 * a / 100))
        w = float(rng.choice([1, 2, 3]))
        rows.append((i, a if i % 19 else None, y, w))
    df = spark.createDataFrame(rows, "id long, a double, y int, w double")
    rep = df.withColumn(
        "dup", F.explode(F.expr("sequence(1, cast(w as int))"))
    ).drop("dup", "w")
    cuts = {"a": [25.0, 50.0, 75.0]}
    weighted = iv_screen(df, ["a"], "y", cuts=cuts, weight_col="w").toPandas()
    unrolled = iv_screen(rep, ["a"], "y", cuts=cuts).toPandas()
    assert weighted.loc[0, "iv"] == pytest.approx(unrolled.loc[0, "iv"])
    assert (
        weighted.loc[0, "bad_rate_monotone"]
        == unrolled.loc[0, "bad_rate_monotone"]
    )
    assert weighted.loc[0, "n_buckets"] == unrolled.loc[0, "n_buckets"]


def test_weighted_screen_bad_weight_fails_loudly(spark):
    df = spark.createDataFrame(
        [(1.0, 1, 1.0), (2.0, 0, -3.0)], "a double, y int, w double"
    )
    with pytest.raises(Exception, match="null/negative/non-finite"):
        iv_screen(
            df, ["a"], "y", cuts={"a": [1.5]}, weight_col="w"
        ).collect()


def test_weighted_screen_zero_weight_bucket_vanishes(spark):
    """A bucket whose rows all carry weight 0 must not exist: no ANSI
    divide-by-zero, no n_buckets/smoothing-k inflation."""
    df = spark.createDataFrame(
        [(5.0, 1, 1.0), (30.0, 0, 2.0), (60.0, 1, 0.0)],
        "a double, y int, w double",
    )
    out = iv_screen(
        df, ["a"], "y", cuts={"a": [25.0, 50.0, 75.0]}, weight_col="w"
    ).toPandas()
    # only the two positive-weight buckets exist
    assert out.loc[0, "n_buckets"] == 2
