"""Allclose parity: SparkMonotonicBinner vs the reference MonotonicBinner.

This is the correctness gate from BASELINE.json: "outputs must match the
reference MOB implementation's bin boundaries, WoE/IV tables, and summary
statistics (allclose)". Both sides run on the same pandas frame; the Spark
side goes through createDataFrame -> distributed groupBy -> driver solve.

Fixture generators mirror the reference's own tests
(/root/reference/tests/test_mob.py:25-40 and FIXTURES.md).
"""

import numpy as np
import pandas as pd
import pytest

from monotonic_optimal_binning_spark import BinningConstraints, SparkMonotonicBinner


def make_binary_frame(n=500, seed=42):
    rng = np.random.default_rng(seed)
    x = np.linspace(-2, 3, n) + rng.normal(0, 0.15, n)
    p = 1.0 / (1.0 + np.exp(-1.4 * x))
    y = (rng.random(n) < p).astype(np.int64)
    return pd.DataFrame({"x": x, "y": y})


def make_continuous_frame(n=500, seed=42):
    df = make_binary_frame(n, seed)
    rng = np.random.default_rng(seed + 1)
    df["y"] = df["y"] * 10.0 + rng.normal(0, 1, n)
    return df


def ref_binner(pdf, **kwargs):
    pytest.importorskip("MOBPY")
    from MOBPY import BinningConstraints as RefConstraints
    from MOBPY.binning.mob import MonotonicBinner

    ckw = kwargs.pop("constraints_kwargs", None)
    if ckw is not None:
        kwargs["constraints"] = RefConstraints(**ckw)
    b = MonotonicBinner(pdf.copy(), x="x", y="y", **kwargs)
    b.fit()
    return b


def spark_binner(spark, pdf, **kwargs):
    ckw = kwargs.pop("constraints_kwargs", None)
    if ckw is not None:
        kwargs["constraints"] = BinningConstraints(**ckw)
    # parity demands the reference's exact distinct-x grouping; the engine
    # default is the scale-safe "auto" policy
    kwargs.setdefault("prebins", "exact")
    sdf = spark.createDataFrame(pdf)
    b = SparkMonotonicBinner("x", "y", **kwargs)
    b.fit(sdf)
    return b


def assert_bins_match(ref, eng):
    rb = ref.bins_().reset_index(drop=True)
    eb = eng.bins_().reset_index(drop=True)
    assert len(rb) == len(eb), f"bin count {len(rb)} != {len(eb)}"
    for col in ["left", "right", "n", "sum", "mean", "std", "min", "max"]:
        np.testing.assert_allclose(
            rb[col].to_numpy(dtype=float),
            eb[col].to_numpy(dtype=float),
            rtol=1e-9,
            atol=1e-12,
            err_msg=f"bins column {col}",
        )


def assert_summary_match(ref, eng):
    rs = ref.summary_().reset_index(drop=True)
    es = eng.summary_().reset_index(drop=True)
    assert list(rs.columns) == list(es.columns)
    assert rs["bucket"].tolist() == es["bucket"].tolist()
    for col in rs.columns:
        if col == "bucket":
            continue
        np.testing.assert_allclose(
            rs[col].to_numpy(dtype=float),
            es[col].to_numpy(dtype=float),
            rtol=1e-9,
            atol=1e-12,
            equal_nan=True,
            err_msg=f"summary column {col}",
        )


def assert_full_parity(ref, eng):
    assert ref.resolved_sign_ == eng.resolved_sign_
    assert_bins_match(ref, eng)
    assert_summary_match(ref, eng)


class TestBinaryParity:
    def test_default_constraints(self, spark):
        pdf = make_binary_frame(500)
        assert_full_parity(ref_binner(pdf), spark_binner(spark, pdf))

    def test_larger_sample(self, spark):
        pdf = make_binary_frame(5000, seed=7)
        assert_full_parity(ref_binner(pdf), spark_binner(spark, pdf))

    def test_decreasing_sign(self, spark):
        pdf = make_binary_frame(500)
        pdf["y"] = 1 - pdf["y"]
        eng = spark_binner(spark, pdf)
        assert eng.resolved_sign_ == "-"
        ref = ref_binner(pdf)
        assert_full_parity(ref, eng)

    def test_explicit_signs(self, spark):
        pdf = make_binary_frame(500)
        for sign in ("+", "-"):
            assert_full_parity(
                ref_binner(pdf, sign=sign), spark_binner(spark, pdf, sign=sign)
            )

    def test_with_missing(self, spark):
        pdf = make_binary_frame(500)
        pdf.loc[pdf.sample(frac=0.02, random_state=1).index, "x"] = np.nan
        eng = spark_binner(spark, pdf)
        assert "Missing" in eng.summary_()["bucket"].tolist()
        ref = ref_binner(pdf)
        assert_full_parity(ref, eng)

    def test_with_excluded(self, spark):
        pdf = make_binary_frame(500)
        idx = pdf.sample(frac=0.02, random_state=2).index
        pdf.loc[idx[: len(idx) // 2], "x"] = -999.0
        pdf.loc[idx[len(idx) // 2 :], "x"] = -888.0
        kw = {"exclude_values": [-999.0, -888.0]}
        eng = spark_binner(spark, pdf, **kw)
        buckets = eng.summary_()["bucket"].tolist()
        assert "Excluded:-999.0" in buckets and "Excluded:-888.0" in buckets
        ref = ref_binner(pdf, **kw)
        assert_full_parity(ref, eng)

    def test_missing_and_excluded_combined(self, spark):
        pdf = make_binary_frame(800, seed=11)
        pdf.loc[pdf.index[:10], "x"] = np.nan
        pdf.loc[pdf.index[10:25], "x"] = -999.0
        kw = {"exclude_values": [-999.0]}
        assert_full_parity(ref_binner(pdf, **kw), spark_binner(spark, pdf, **kw))

    def test_custom_constraints(self, spark):
        pdf = make_binary_frame(1000, seed=3)
        ckw = {
            "max_bins": 5,
            "min_bins": 3,
            "min_samples": 0.05,
            "min_positives": 0.01,
        }
        assert_full_parity(
            ref_binner(pdf, constraints_kwargs=ckw),
            spark_binner(spark, pdf, constraints_kwargs=ckw),
        )

    def test_max_samples_constraint(self, spark):
        pdf = make_binary_frame(1000, seed=5)
        ckw = {"max_bins": 8, "min_bins": 2, "max_samples": 0.4}
        assert_full_parity(
            ref_binner(pdf, constraints_kwargs=ckw),
            spark_binner(spark, pdf, constraints_kwargs=ckw),
        )

    def test_min_bins_mode(self, spark):
        pdf = make_binary_frame(1000, seed=13)
        ckw = {"max_bins": 10, "min_bins": 3, "maximize_bins": False}
        assert_full_parity(
            ref_binner(pdf, constraints_kwargs=ckw),
            spark_binner(spark, pdf, constraints_kwargs=ckw),
        )

    @pytest.mark.parametrize("strategy", ["smallest_loss", "balanced_size"])
    def test_alternative_strategies(self, spark, strategy):
        pdf = make_binary_frame(800, seed=17)
        assert_full_parity(
            ref_binner(pdf, merge_strategy=strategy),
            spark_binner(spark, pdf, merge_strategy=strategy),
        )

    def test_non_01_binary_recode(self, spark):
        pdf = make_binary_frame(500, seed=23)
        pdf["y"] = pdf["y"].map({0: 2, 1: 5})  # recodes min->0 max->1
        assert_full_parity(ref_binner(pdf), spark_binner(spark, pdf))

    def test_integer_feature(self, spark):
        rng = np.random.default_rng(29)
        x = rng.integers(4, 72, size=1000)
        p = 0.05 + 0.5 * (x - 4) / 68.0
        y = (rng.random(1000) < p).astype(np.int64)
        pdf = pd.DataFrame({"x": x.astype(np.int64), "y": y})
        assert_full_parity(ref_binner(pdf), spark_binner(spark, pdf))

    def test_determinism_fit_twice(self, spark):
        pdf = make_binary_frame(500)
        e1 = spark_binner(spark, pdf)
        e2 = spark_binner(spark, pdf)
        pd.testing.assert_frame_equal(e1.bins_(), e2.bins_())
        pd.testing.assert_frame_equal(e1.summary_(), e2.summary_())


class TestContinuousParity:
    def test_continuous_target(self, spark):
        pdf = make_continuous_frame(500)
        eng = spark_binner(spark, pdf)
        assert "woe" not in eng.summary_().columns
        ref = ref_binner(pdf)
        assert_full_parity(ref, eng)

    def test_continuous_with_missing(self, spark):
        pdf = make_continuous_frame(800, seed=31)
        pdf.loc[pdf.index[:15], "x"] = np.nan
        assert_full_parity(ref_binner(pdf), spark_binner(spark, pdf))


class TestEdgeCases:
    def test_single_unique_x(self, spark):
        pdf = pd.DataFrame({"x": np.ones(100), "y": np.r_[np.zeros(50), np.ones(50)]})
        eng = spark_binner(spark, pdf)
        assert len(eng.bins_()) == 1
        ref = ref_binner(pdf)
        assert_full_parity(ref, eng)

    def test_perfect_separation(self, spark):
        pdf = pd.DataFrame(
            {"x": np.arange(100, dtype=float), "y": np.r_[np.zeros(50), np.ones(50)]}
        )
        eng = spark_binner(spark, pdf)
        assert len(eng.bins_()) >= 2
        ref = ref_binner(pdf)
        assert_full_parity(ref, eng)

    def test_empty_clean_raises(self, spark):
        from monotonic_optimal_binning_spark import DataError

        pdf = pd.DataFrame({"x": [np.nan] * 10, "y": [1.0] * 10})
        with pytest.raises(DataError):
            spark_binner(spark, pdf)

    def test_infinite_y_raises(self, spark):
        from monotonic_optimal_binning_spark import DataError

        pdf = make_binary_frame(100).astype({"y": float})
        pdf.loc[pdf.index[3], "y"] = np.inf
        with pytest.raises(DataError):
            spark_binner(spark, pdf)

    def test_all_zero_target(self, spark):
        pdf = make_binary_frame(300, seed=37)
        pdf["y"] = 0
        assert_full_parity(ref_binner(pdf), spark_binner(spark, pdf))


class TestBinProperties:
    def test_contiguity_and_coverage(self, spark):
        pdf = make_binary_frame(500)
        bins = spark_binner(spark, pdf).bins_()
        assert np.isneginf(bins["left"].iloc[0])
        assert np.isposinf(bins["right"].iloc[-1])
        np.testing.assert_array_equal(
            bins["right"].to_numpy()[:-1], bins["left"].to_numpy()[1:]
        )

    def test_woe_monotone_along_bins(self, spark):
        pdf = make_binary_frame(2000, seed=41)
        eng = spark_binner(spark, pdf)
        s = eng.summary_()
        numeric = s[~s["bucket"].str.contains("Missing|Excluded")]
        woe = numeric["woe"].to_numpy()
        diffs = np.diff(woe)
        assert (diffs <= 1e-9).all() or (diffs >= -1e-9).all()


# ------------------------- real-data parity (reference CSV fixtures) -------

_REF_DATA = "/root/reference/data"


def _csv_frame(name, x, y):
    import os

    path = os.path.join(_REF_DATA, name)
    if not os.path.exists(path):
        pytest.skip(f"{path} not present")
    pdf = pd.read_csv(path)[[x, y]].rename(columns={x: "x", y: "y"})
    return pdf


@pytest.mark.parametrize(
    "csv,x,y",
    [
        ("insurance2.csv", "bmi", "insuranceclaim"),   # binary target
        ("insurance2.csv", "age", "insuranceclaim"),
        ("insurance3r2.csv", "bmi", "charges"),        # continuous target
    ],
)
def test_parity_on_reference_csvs(spark, csv, x, y):
    """Allclose parity on the reference's own shipped datasets (1,338 rows),
    not just synthetic fixtures — bins, labels, WoE/IV, and summary all
    match the installed reference implementation."""
    pdf = _csv_frame(csv, x, y)
    kwargs = {"constraints_kwargs": {"max_bins": 6, "min_bins": 4,
                                     "min_samples": 0.05}}
    ref = ref_binner(pdf, **kwargs)
    eng = spark_binner(spark, pdf, **kwargs)
    assert_full_parity(ref, eng)
