"""PSI drift monitoring vs a numpy reference."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from monotonic_optimal_binning_spark import BinningConstraints, SparkMonotonicBinner
from monotonic_optimal_binning_spark.operators.drift import binner_psi, psi


def _psi_ref(ne, na, smoothing=0.5):
    ne, na = np.asarray(ne, float), np.asarray(na, float)
    k = len(ne)
    pe = (ne + smoothing) / (ne.sum() + smoothing * k)
    pa = (na + smoothing) / (na.sum() + smoothing * k)
    return ((pa - pe) * np.log(pa / pe))


def test_psi_matches_reference_and_handles_empty_bins(spark):
    e = spark.createDataFrame(pd.DataFrame(
        {"b": ["a"] * 50 + ["b"] * 30 + ["c"] * 20}))
    a = spark.createDataFrame(pd.DataFrame(
        {"b": ["a"] * 10 + ["b"] * 70 + ["d"] * 20}))  # c empty, d new
    out = psi(e, a, "b").toPandas().sort_values("bucket").reset_index(drop=True)
    assert out["bucket"].tolist() == ["a", "b", "c", "d"]
    exp = _psi_ref([50, 30, 20, 0], [10, 70, 0, 20])
    np.testing.assert_allclose(out["psi_term"].to_numpy(), exp, rtol=1e-12)
    assert np.isfinite(out["psi_term"]).all()
    assert out["psi_term"].sum() > 0.25  # clearly shifted


def test_binner_psi_identical_sample_is_stable(spark):
    df = spark.range(30_000).select(
        (F.col("id") % 40).cast("double").alias("x"),
        (F.pmod(F.xxhash64("id"), 100) < F.col("id") % 40 + 20).cast("int").alias("y"),
    )
    b = SparkMonotonicBinner(
        "x", "y", constraints=BinningConstraints(max_bins=5, min_bins=3)
    ).fit(df)
    same = binner_psi(b, df).toPandas()
    assert abs(same["psi_term"].sum()) < 1e-12  # identical distribution
    assert (same["n_expected"] == same["n_actual"]).all()
    # a genuinely shifted sample scores above the 0.25 alert bar
    shifted = df.filter(F.col("x") < 10)
    drift = binner_psi(b, shifted).toPandas()
    assert drift["psi_term"].sum() > 0.25


def test_psi_null_bucket_is_one_bin(spark):
    e = spark.createDataFrame(
        pd.DataFrame({"b": ["a"] * 50 + [None] * 50})).fillna({})  # keep None
    a = spark.createDataFrame(
        pd.DataFrame({"b": ["a"] * 50 + [None] * 50}))
    out = psi(e, a, "b").toPandas()
    assert len(out) == 2  # null matched null-safe: one bin, no phantoms
    np.testing.assert_allclose(out["psi_term"].sum(), 0.0, atol=1e-12)


def test_binner_psi_nulls_dont_fake_drift(spark):
    df = spark.range(20_000).select(
        (F.col("id") % 30).cast("double").alias("x"),
        (F.pmod(F.xxhash64("id"), 100) < 40).cast("int").alias("y"),
    )
    b = SparkMonotonicBinner(
        "x", "y", constraints=BinningConstraints(max_bins=4, min_bins=2)
    ).fit(df)
    # identical distribution + 20% nulls must NOT read as drift
    with_nulls = spark.range(20_000).select(
        F.when(F.pmod("id", F.lit(5)) != 0, (F.col("id") % 30).cast("double")).alias("x"),
        (F.pmod(F.xxhash64("id"), 100) < 40).cast("int").alias("y"),
    )
    out = binner_psi(b, with_nulls).toPandas()
    assert abs(out["psi_term"].sum()) < 0.01
    assert not out["bucket"].astype(str).str.contains("Missing").any()


def test_model_psi_round_trips_saved_artifact(spark, tmp_path):
    """model_psi on a load_json'd artifact must equal binner_psi on the
    live binner (the production monitoring path never refits)."""
    from monotonic_optimal_binning_spark.operators.binning import FittedBins
    from monotonic_optimal_binning_spark.operators.drift import model_psi

    df = spark.range(25_000).select(
        (F.col("id") % 35).cast("double").alias("x"),
        (F.pmod(F.xxhash64("id"), 100) < 45).cast("int").alias("y"),
    )
    b = SparkMonotonicBinner(
        "x", "y", constraints=BinningConstraints(max_bins=5, min_bins=3)
    ).fit(df)
    path = str(tmp_path / "m.json")
    b.model_.save_json(path)
    loaded = FittedBins.load_json(path)
    shifted = df.filter(F.col("x") >= 12)
    live = binner_psi(b, shifted).toPandas().sort_values("bucket")
    saved = model_psi(loaded, shifted).toPandas().sort_values("bucket")
    np.testing.assert_allclose(
        live["psi_term"].to_numpy(), saved["psi_term"].to_numpy(), rtol=1e-12
    )


def test_grouped_model_psi_totals_are_per_group(spark):
    """Each group is its own distribution: a group whose within-group
    distribution is unchanged must score ~0 even when the OTHER group
    shrinks (a pooled-total implementation would smear the mix shift
    across both groups)."""
    from monotonic_optimal_binning_spark import fit_binners_per_group
    from monotonic_optimal_binning_spark.operators.drift import (
        grouped_model_psi,
    )

    df = spark.range(40_000).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
        (F.col("id") % 30).cast("double").alias("x"),
        (F.pmod(F.xxhash64("id"), 100) < F.col("id") % 30 + 20)
        .cast("int").alias("y"),
    )
    grouped = fit_binners_per_group(
        df, "g", "x", "y",
        constraints=BinningConstraints(max_bins=4, min_bins=2),
    )
    # keep group a intact, drop 90% of group b uniformly-in-x (hash of id
    # is independent of x, so b's within-group shape is preserved too)
    actual = df.filter(
        (F.col("g") == "a") | (F.pmod(F.xxhash64("id"), 10) == 0)
    )
    out = grouped_model_psi(grouped, actual).toPandas()
    per_group = out.groupby("g")["psi_term"].sum()
    assert abs(per_group["a"]) < 0.01
    assert abs(per_group["b"]) < 0.05  # shape preserved despite 10x shrink


def test_weighted_model_psi_equals_replication(spark):
    """model_psi(weight_col=) equals PSI of the k-fold replicated slice,
    and a weighted-fit artifact's fractional training counts reach the
    expected side untruncated."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from monotonic_optimal_binning_spark import (
        BinningConstraints,
        SparkMonotonicBinner,
    )
    from monotonic_optimal_binning_spark.operators.drift import model_psi

    rng = np.random.default_rng(53)
    train = pd.DataFrame({"x": rng.integers(0, 8, 2000).astype(float)})
    train["y"] = (rng.uniform(0, 1, 2000) < 0.1 + 0.1 * train["x"]).astype(int)
    # fractional weights -> fractional effective counts in the artifact
    train["w"] = rng.choice([0.5, 1.5], 2000)
    model = (
        SparkMonotonicBinner(
            "x", "y", prebins="exact", weight_col="w",
            constraints=BinningConstraints(max_bins=4, min_bins=2),
        )
        .fit(spark.createDataFrame(train))
        .model_
    )
    assert any(
        float(c) != int(c)
        for c in model.summary_df["count"]
        if not pd.isna(c)
    )

    score = pd.DataFrame({"x": rng.integers(0, 8, 1000).astype(float),
                          "w": rng.choice([1.0, 2.0, 3.0], 1000)})
    sdf = spark.createDataFrame(score)
    weighted = (
        model_psi(model, sdf, weight_col="w").toPandas()
        .sort_values("bucket").reset_index(drop=True)
    )
    rep = sdf.withColumn(
        "dup", F.explode(F.expr("sequence(1, cast(w as int))"))
    ).drop("dup", "w")
    unrolled = (
        model_psi(model, rep).toPandas()
        .sort_values("bucket").reset_index(drop=True)
    )
    pd.testing.assert_series_equal(
        weighted["n_actual"].astype(float), unrolled["n_actual"].astype(float),
        check_names=False,
    )
    np.testing.assert_allclose(weighted["psi_term"], unrolled["psi_term"])
    # fractional expected counts survived (no int truncation)
    expected_total = weighted["n_expected"].sum()
    assert expected_total == pytest.approx(
        model.summary_df.loc[
            ~model.summary_df["bucket"].str.contains("Missing|Excluded"),
            "count",
        ].sum()
    )


def test_weighted_model_psi_bad_weight_fails(spark):
    import numpy as np
    import pandas as pd

    from monotonic_optimal_binning_spark import SparkMonotonicBinner
    from monotonic_optimal_binning_spark.operators.drift import model_psi

    rng = np.random.default_rng(5)
    train = pd.DataFrame({"x": rng.integers(0, 6, 500).astype(float)})
    train["y"] = (rng.uniform(0, 1, 500) < 0.2 + 0.1 * train["x"]).astype(int)
    model = (
        SparkMonotonicBinner("x", "y", prebins="exact")
        .fit(spark.createDataFrame(train))
        .model_
    )
    df = spark.createDataFrame(
        pd.DataFrame({"x": [1.0, 3.0], "w": [1.0, -1.0]})
    )
    with pytest.raises(Exception, match="null/negative/non-finite"):
        model_psi(model, df, weight_col="w").collect()


def test_weighted_sample_psi_equals_replication(spark):
    import numpy as np
    import pandas as pd

    from monotonic_optimal_binning_spark.operators.drift import psi

    rng = np.random.default_rng(67)
    e = pd.DataFrame({"b": rng.choice(["x", "y", "z"], 800),
                      "w": rng.choice([1.0, 2.0], 800)})
    a = pd.DataFrame({"b": rng.choice(["x", "y"], 600),
                      "w": rng.choice([1.0, 3.0], 600)})
    edf, adf = spark.createDataFrame(e), spark.createDataFrame(a)

    def _rep(df):
        return df.withColumn(
            "dup", F.explode(F.expr("sequence(1, cast(w as int))"))
        ).drop("dup", "w")

    wt = (
        psi(edf, adf, "b", weight_col="w").toPandas()
        .sort_values("bucket").reset_index(drop=True)
    )
    rt = (
        psi(_rep(edf), _rep(adf), "b").toPandas()
        .sort_values("bucket").reset_index(drop=True)
    )
    for col in ("n_expected", "n_actual", "pct_expected", "pct_actual",
                "psi_term"):
        np.testing.assert_allclose(
            wt[col].astype(float), rt[col].astype(float), err_msg=col
        )


def test_weighted_psi_zero_mass_bucket_vanishes(spark):
    """A bucket present only via weight-0 rows must not exist (it would
    inflate the smoothing k and shift every psi_term)."""
    import pandas as pd

    from monotonic_optimal_binning_spark.operators.drift import psi

    e = spark.createDataFrame(
        pd.DataFrame({"b": ["x", "y", "z"], "w": [2.0, 3.0, 0.0]})
    )
    a = spark.createDataFrame(
        pd.DataFrame({"b": ["x", "y"], "w": [1.0, 4.0]})
    )
    out = psi(e, a, "b", weight_col="w").toPandas()
    assert set(out["bucket"]) == {"x", "y"}
    # equals the replicated computation (bucket z has 0 copies)
    rep_e = spark.createDataFrame(
        pd.DataFrame({"b": ["x", "x", "y", "y", "y"]})
    )
    rep_a = spark.createDataFrame(
        pd.DataFrame({"b": ["x", "y", "y", "y", "y"]})
    )
    truth = psi(rep_e, rep_a, "b").toPandas().sort_values("bucket")
    got = out.sort_values("bucket")
    import numpy as np

    np.testing.assert_allclose(
        got["psi_term"].to_numpy(), truth["psi_term"].to_numpy()
    )


@pytest.mark.parametrize("weighted", [False, True], ids=["counts", "weights"])
def test_model_psi_equals_one_group_grouped_model_psi(spark, weighted):
    """model_psi is grouped_model_psi over a one-group GroupedBins, with
    the group column dropped — also where the shifted sample leaves
    fitted bins empty."""
    from monotonic_optimal_binning_spark import fit_binners_per_group
    from monotonic_optimal_binning_spark.operators.drift import (
        grouped_model_psi,
        model_psi,
    )

    df = spark.range(20_000).select(
        F.lit("a").alias("g"),
        (F.col("id") % 30).cast("double").alias("x"),
        (F.pmod(F.xxhash64("id"), 100) < F.col("id") % 30 + 20)
        .cast("int").alias("y"),
        (F.col("id") % 3 + 1).cast("double").alias("w"),
    )
    grouped = fit_binners_per_group(
        df, "g", "x", "y",
        constraints=BinningConstraints(max_bins=5, min_bins=3),
    )
    assert list(grouped.models) == ["a"]
    shifted = df.filter(F.col("x") < 8)  # the upper bins see no row
    wc = "w" if weighted else None
    single = model_psi(grouped.models["a"], shifted, weight_col=wc)
    multi = grouped_model_psi(grouped, shifted, weight_col=wc)
    cols = ["bucket", "n_expected", "n_actual", "pct_expected",
            "pct_actual", "psi_term"]
    assert single.columns == cols
    assert multi.columns == ["g"] + cols
    s = single.toPandas().sort_values("bucket").reset_index(drop=True)
    m = multi.toPandas().sort_values("bucket").reset_index(drop=True)
    assert (m["g"] == "a").all()
    assert (s["n_actual"] == 0).any()
    assert s["bucket"].tolist() == m["bucket"].tolist()
    for c in cols[1:]:
        np.testing.assert_allclose(
            m[c].astype(float), s[c].astype(float), rtol=1e-12, err_msg=c
        )
