"""Transform parity: all four assign modes vs the reference's transform,
including new extreme values, NaN, and excluded codes
(/root/reference/tests/test_mob.py:232-329 analog).

The parity tests take the ``fitted`` fixture, which fits the reference
MOBPY binner; where MOBPY does not import they skip with a reason naming
it, and such a skip means parity was not checked. The round-trip test
checks only the engine and takes ``fitted_engine``, so it runs either
way."""

import numpy as np
import pandas as pd
import pytest

from monotonic_optimal_binning_spark import SparkMonotonicBinner

from test_parity_mob import make_binary_frame


@pytest.fixture(scope="module")
def fitted_engine(spark):
    pdf = make_binary_frame(800, seed=101)
    idx = pdf.sample(frac=0.02, random_state=3).index
    pdf.loc[idx, "x"] = -999.0
    eng = SparkMonotonicBinner("x", "y", exclude_values=[-999.0])
    eng.fit(spark.createDataFrame(pdf))
    return eng, pdf


@pytest.fixture(scope="module")
def fitted(fitted_engine):
    MonotonicBinner = pytest.importorskip("MOBPY.binning.mob").MonotonicBinner

    eng, pdf = fitted_engine
    ref = MonotonicBinner(pdf.copy(), x="x", y="y", exclude_values=[-999.0]).fit()
    return ref, eng, pdf


def new_values():
    return pd.Series(
        [-100.0, -2.5, -0.7, 0.0, 0.33, 1.5, 2.9, 50.0, np.nan, -999.0, 1e9, -1e9]
    )


@pytest.mark.parametrize("assign", ["interval", "left", "right", "woe"])
def test_transform_mode_parity(spark, fitted, assign):
    ref, eng, _ = fitted
    vals = new_values()
    expected = ref.transform(vals, assign=assign)

    sdf = spark.createDataFrame(pd.DataFrame({"x": vals}))
    got = (
        eng.transform(sdf, assign=assign, output_col="out")
        .toPandas()
        .sort_values("x", na_position="last")
        .reset_index(drop=True)
    )
    exp_sorted = (
        pd.DataFrame({"x": vals, "out": expected})
        .sort_values("x", na_position="last")
        .reset_index(drop=True)
    )
    if assign == "interval":
        assert got["out"].tolist() == exp_sorted["out"].tolist()
    else:
        np.testing.assert_allclose(
            got["out"].to_numpy(dtype=float),
            exp_sorted["out"].to_numpy(dtype=float),
            rtol=1e-9,
            equal_nan=True,
        )


def test_labels_byte_identical(fitted):
    ref, eng, _ = fitted
    assert ref.summary_()["bucket"].tolist() == eng.summary_()["bucket"].tolist()


def test_transform_roundtrip_counts(spark, fitted_engine):
    """Transforming the training data reproduces the summary counts."""
    eng, pdf = fitted_engine
    sdf = spark.createDataFrame(pdf)
    out = eng.transform(sdf, assign="interval", output_col="bucket")
    counts = {r["bucket"]: r["count"] for r in out.groupBy("bucket").count().collect()}
    summary = eng.summary_()
    for _, row in summary.iterrows():
        if row["bucket"].startswith("Excluded"):
            # transform labels excluded values with the raw input value
            assert counts.get("Excluded:-999.0") == row["count"]
        else:
            assert counts.get(row["bucket"]) == row["count"], row["bucket"]
