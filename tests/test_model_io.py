"""Model save/load round-trip: a persisted FittedBins/GroupedBins must
serve identical assignments without refitting (pure-Python check on
assign_batch — no Spark needed for the round-trip itself)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from monotonic_optimal_binning_spark.operators.binning import FittedBins, GroupedBins
from monotonic_optimal_binning_spark.scorecard import Scorecard


def _fit_small(spark):
    from pyspark.sql import functions as F

    from monotonic_optimal_binning_spark import (
        BinningConstraints,
        SparkMonotonicBinner,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    df = li.select(
        F.col("l_quantity").alias("x"),
        (F.col("l_discount") > 0.05).cast("int").alias("y"),
    )
    return SparkMonotonicBinner(
        "x", "y", exclude_values=[1.0],
        constraints=BinningConstraints(max_bins=5, min_bins=3),
    ).fit(df)


def test_fitted_bins_json_roundtrip(spark, tmp_path):
    b = _fit_small(spark)
    model = b.model_
    p = str(tmp_path / "model.json")
    model.save_json(p)
    loaded = FittedBins.load_json(p)

    vals = pd.Series([0.5, 1.0, 7.0, 25.0, 49.9, 50.0, 1e9, np.nan])
    for mode in ("interval", "left", "right", "woe"):
        a = model.assign_batch(vals, mode)
        c = loaded.assign_batch(vals, mode)
        if mode == "interval":
            assert list(a) == list(c)
        else:
            np.testing.assert_allclose(
                a.to_numpy(dtype=float), c.to_numpy(dtype=float), equal_nan=True
            )

    pd.testing.assert_frame_equal(model.bins_df, loaded.bins_df)
    assert list(model.summary_df["bucket"]) == list(loaded.summary_df["bucket"])
    np.testing.assert_allclose(
        model.summary_df["woe"].to_numpy(dtype=float),
        loaded.summary_df["woe"].to_numpy(dtype=float),
        equal_nan=True,
    )


def test_grouped_bins_json_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from monotonic_optimal_binning_spark import (
        BinningConstraints,
        fit_binners_per_group,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    df = li.select(
        "l_returnflag",
        F.col("l_quantity").alias("x"),
        (F.col("l_discount") > 0.05).cast("int").alias("y"),
    )
    grouped = fit_binners_per_group(
        df, "l_returnflag", "x", "y",
        constraints=BinningConstraints(max_bins=4, min_bins=2),
    )
    p = str(tmp_path / "grouped.json")
    grouped.save_json(p)
    loaded = GroupedBins.load_json(p)

    assert set(loaded.models) == set(grouped.models)
    vals = pd.Series([2.0, 10.0, 30.0, np.nan])
    for g in grouped.models:
        a = grouped[g].assign_batch(vals, "woe")
        c = loaded[g].assign_batch(vals, "woe")
        np.testing.assert_allclose(
            a.to_numpy(dtype=float), c.to_numpy(dtype=float), equal_nan=True
        )

    # loaded model drives the distributed transform identically
    out_a = grouped.transform(df, assign="woe", input_col="x").select("x_woe")
    out_b = loaded.transform(df, assign="woe", input_col="x").select("x_woe")
    assert out_a.collect() == out_b.collect()


def _small_artifacts():
    """One hand-built instance of each model artifact class (no Spark)."""
    from monotonic_optimal_binning_spark.operators.calibration import (
        GroupedIsotonicCalibration,
        IsotonicCalibration,
    )
    from monotonic_optimal_binning_spark.operators.categorical import CatBins
    from monotonic_optimal_binning_spark.operators.similarity import IVFCodebook

    fb = FittedBins.from_cuts("x", [1.0, 2.0], [-0.5, 0.0, 0.5])
    iso = IsotonicCalibration(
        "s", np.array([0.5]), np.array([0.1, 0.9]), "+", 2
    )
    cat = CatBins.from_dict({
        "x": "c", "y": "y", "smoothing": 0.5,
        "categories": [
            {"category": "a", "count": 3, "bads": 1, "woe": 0.1, "iv": 0.01}
        ],
    })
    return [
        fb,
        GroupedBins("g", "x", "y", {"a": fb}),
        iso,
        GroupedIsotonicCalibration("g", "s", {"a": iso}),
        cat,
        IVFCodebook([[0.0, 1.0]]),
        Scorecard({"x": fb}),
    ]


@pytest.mark.parametrize(
    "art", _small_artifacts(), ids=lambda a: type(a).__name__
)
def test_failed_save_leaves_previous_artifact(tmp_path, monkeypatch, art):
    """save_json writes strict JSON to a temporary file and renames it
    into place: a dump that raises part-way (here on a NaN, which
    strict JSON rejects) leaves the previous artifact byte-identical
    and no temporary file behind."""
    p = str(tmp_path / "art.json")
    art.save_json(p)
    with open(p) as f:
        before = f.read()
    # GroupedBins and Scorecard serialize their models through FittedBins
    owner = FittedBins if isinstance(art, (GroupedBins, Scorecard)) else type(art)
    good = owner.to_dict
    monkeypatch.setattr(
        owner, "to_dict",
        lambda self: {**good(self), "zz": [0.0] * 2000 + [float("nan")]},
    )
    with pytest.raises(ValueError):
        art.save_json(p)
    monkeypatch.undo()
    with open(p) as f:
        assert f.read() == before
    assert os.listdir(tmp_path) == ["art.json"]
    type(art).load_json(p)
