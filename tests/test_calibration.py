"""isotonic_calibrate / calibration_table (operators/calibration.py) vs
an independent numpy pool-adjacent-violators reference."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from monotonic_optimal_binning_spark.operators.calibration import (
    IsotonicCalibration,
    calibration_table,
    isotonic_calibrate,
)


def _pava_ref(means, weights):
    """Plain stack PAVA (increasing), independent of core/pava.py."""
    vals, w, sizes = [], [], []
    for m, wt in zip(means, weights):
        vals.append(float(m)), w.append(float(wt)), sizes.append(1)
        while len(vals) >= 2 and vals[-1] < vals[-2]:
            m2, w2, s2 = vals.pop(), w.pop(), sizes.pop()
            m1, w1, s1 = vals.pop(), w.pop(), sizes.pop()
            vals.append((m1 * w1 + m2 * w2) / (w1 + w2))
            w.append(w1 + w2)
            sizes.append(s1 + s2)
    out = []
    for v, s in zip(vals, sizes):
        out.extend([v] * s)
    return np.asarray(out)


@pytest.fixture(scope="module")
def noisy_monotone(spark):
    rng = np.random.RandomState(7)
    n = 6000
    score = rng.randint(0, 25, n).astype("float64")  # 25 distinct scores
    p = 0.1 + 0.8 * score / 24.0
    y = (rng.uniform(size=n) < p).astype("float64")
    pdf = pd.DataFrame({"score": score, "y": y})
    pdf.loc[pdf.index % 37 == 0, "score"] = np.nan
    return spark.createDataFrame(pdf).repartition(8), pdf


def test_matches_numpy_pava(noisy_monotone):
    df, pdf = noisy_monotone
    cal = isotonic_calibrate(df, "score", "y")
    assert cal.resolved_sign == "+"
    lab = pdf.dropna(subset=["score"])
    g = lab.groupby("score")["y"].agg(["mean", "count"]).sort_index()
    want = _pava_ref(g["mean"].to_numpy(), g["count"].to_numpy())
    got = cal.predict_batch(pd.Series(g.index.to_numpy())).to_numpy()
    assert np.allclose(got, want, atol=1e-12)
    # calibrated output is monotone non-decreasing in the score
    assert (np.diff(got) >= -1e-12).all()


def test_step_function_between_and_beyond_keys(spark):
    pdf = pd.DataFrame(
        {"score": [1.0] * 10 + [2.0] * 10 + [4.0] * 10,
         "y": [0.1] * 10 + [0.5] * 10 + [0.9] * 10}
    )
    cal = isotonic_calibrate(
        spark.createDataFrame(pdf), "score", "y", prebins="exact"
    )
    got = cal.predict_batch(
        pd.Series([0.0, 1.0, 1.5, 2.0, 3.0, 4.0, 99.0, np.nan])
    ).to_numpy()
    # below range clamps low; between keys -> nearest observed below;
    # above range clamps high; NaN passes through
    assert np.allclose(
        got[:7], [0.1, 0.1, 0.1, 0.5, 0.5, 0.9, 0.9], atol=1e-12
    )
    assert np.isnan(got[7])


def test_decreasing_sign_auto(spark):
    pdf = pd.DataFrame(
        {"score": [1.0] * 20 + [2.0] * 20 + [3.0] * 20,
         "y": [0.9] * 20 + [0.55] * 20 + [0.2] * 20}
    )
    cal = isotonic_calibrate(spark.createDataFrame(pdf), "score", "y")
    assert cal.resolved_sign == "-"
    got = cal.predict_batch(pd.Series([1.0, 2.0, 3.0])).to_numpy()
    assert np.allclose(got, [0.9, 0.55, 0.2])


def test_prebinned_path_and_round_trip(spark, tmp_path):
    rng = np.random.RandomState(5)
    n = 20_000
    score = rng.uniform(0, 1, n)  # continuous: forces the prebin path
    y = (rng.uniform(size=n) < score).astype("float64")
    df = spark.createDataFrame(pd.DataFrame({"score": score, "y": y}))
    cal = isotonic_calibrate(df, "score", "y")
    assert cal.cuts is not None and len(cal.cuts) > 50
    probe = pd.Series(np.linspace(0.01, 0.99, 99))
    got = cal.predict_batch(probe).to_numpy()
    assert (np.diff(got) >= -1e-12).all()          # monotone
    assert abs(got[10] - 0.11) < 0.15              # roughly calibrated
    assert abs(got[90] - 0.91) < 0.15
    # JSON round-trip preserves serving exactly (incl. the cut mapping)
    p = str(tmp_path / "cal.json")
    cal.save_json(p)
    loaded = IsotonicCalibration.load_json(p)
    assert np.allclose(loaded.predict_batch(probe).to_numpy(), got)
    # transform == predict_batch
    out = cal.transform(df).select("score", "score_calibrated").toPandas()
    want = cal.predict_batch(out["score"]).to_numpy()
    assert np.allclose(out["score_calibrated"].to_numpy(), want)


def test_calibration_table_matches_truth(spark):
    rng = np.random.RandomState(13)
    n = 5000
    p = rng.uniform(0, 1, n)
    y = (rng.uniform(size=n) < np.clip(p + 0.1, 0, 1)).astype("float64")
    pdf = pd.DataFrame({"p": p, "y": y})
    pdf.loc[pdf.index % 29 == 0, "y"] = np.nan
    df = spark.createDataFrame(pdf)
    cuts = [0.25, 0.5, 0.75]
    got = calibration_table(df, "p", "y", cuts).toPandas().set_index("bucket")
    lab = pdf.dropna(subset=["y"])
    b = np.digitize(lab["p"].to_numpy(), cuts)
    total = len(lab)
    for bucket in range(4):
        m = b == bucket
        r = got.loc[bucket]
        assert r["n"] == int(m.sum())
        assert r["avg_p"] == pytest.approx(lab["p"][m].mean())
        assert r["avg_y"] == pytest.approx(lab["y"][m].mean())
        gap = abs(lab["p"][m].mean() - lab["y"][m].mean())
        assert r["gap"] == pytest.approx(gap)
        assert r["ece_term"] == pytest.approx(m.sum() / total * gap)
    # ECE = sum of the terms; miscalibrated-by-construction data
    assert 0.05 < got["ece_term"].sum() < 0.2


def test_weighted_isotonic_equals_replication(spark):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from monotonic_optimal_binning_spark.operators.calibration import (
        isotonic_calibrate,
    )

    rng = np.random.default_rng(59)
    pdf = pd.DataFrame(
        {
            "score": rng.integers(0, 15, 1500).astype(float),
            "w": rng.choice([1.0, 2.0, 3.0], 1500),
        }
    )
    pdf["y"] = (
        rng.uniform(0, 1, 1500) < 0.1 + 0.05 * pdf["score"]
    ).astype(int)
    df = spark.createDataFrame(pdf)
    rep = df.withColumn(
        "dup", F.explode(F.expr("sequence(1, cast(w as int))"))
    ).drop("dup", "w")
    cw = isotonic_calibrate(df, "score", "y", prebins="exact",
                            weight_col="w")
    cr = isotonic_calibrate(rep, "score", "y", prebins="exact")
    np.testing.assert_allclose(cw.bounds, cr.bounds)
    np.testing.assert_allclose(cw.values, cr.values)
    # the weighted calibrator serves identically after a JSON round-trip
    out_w = cw.transform(df, output_col="cal").toPandas()
    out_r = cr.transform(df, output_col="cal").toPandas()
    np.testing.assert_allclose(out_w["cal"], out_r["cal"])

    with pytest.raises(Exception, match="null/negative/non-finite"):
        isotonic_calibrate(
            df.withColumn("w", F.lit(float("nan"))), "score", "y",
            prebins="exact", weight_col="w",
        )


def test_weighted_calibration_table_equals_replication(spark):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from monotonic_optimal_binning_spark.operators.calibration import (
        calibration_table,
    )

    rng = np.random.default_rng(61)
    pdf = pd.DataFrame(
        {
            "p": rng.uniform(0, 1, 1000),
            "w": rng.choice([1.0, 2.0], 1000),
        }
    )
    pdf["y"] = (rng.uniform(0, 1, 1000) < pdf["p"]).astype(int)
    df = spark.createDataFrame(pdf)
    rep = df.withColumn(
        "dup", F.explode(F.expr("sequence(1, cast(w as int))"))
    ).drop("dup", "w")
    cuts = [0.25, 0.5, 0.75]
    wt = calibration_table(df, "p", "y", cuts, weight_col="w").toPandas()
    rt = calibration_table(rep, "p", "y", cuts).toPandas()
    for col in ("n", "avg_p", "avg_y", "gap", "ece_term"):
        np.testing.assert_allclose(
            wt[col].astype(float), rt[col].astype(float), err_msg=col
        )


# ------------------------------------------------ grouped isotonic ----


@pytest.fixture(scope="module")
def grouped_scores(spark):
    rng = np.random.RandomState(21)
    n = 9000
    g = rng.randint(0, 3, n)
    score = rng.randint(0, 20, n).astype("float64")
    # per-group DIFFERENT monotone relationship (slopes and intercepts)
    p = np.clip(0.05 + (0.2 + 0.25 * g) * score / 19.0, 0, 0.95)
    y = (rng.uniform(size=n) < p).astype("float64")
    pdf = pd.DataFrame({"g": g, "score": score, "y": y})
    pdf.loc[pdf.index % 41 == 0, "score"] = np.nan
    return spark.createDataFrame(pdf).repartition(8), pdf


def test_grouped_fit_equals_per_group_global_fit(grouped_scores):
    """One grouped scan + k driver solves must equal k independent
    global fits on the filtered slices — exactly."""
    from monotonic_optimal_binning_spark.operators.calibration import (
        isotonic_calibrate_grouped,
    )

    df, _ = grouped_scores
    gcal = isotonic_calibrate_grouped(
        df, "score", "y", "g", prebins="exact"
    )
    assert set(gcal.models) == {0, 1, 2}
    for gv in (0, 1, 2):
        solo = isotonic_calibrate(
            df.filter(F.col("g") == gv), "score", "y", prebins="exact"
        )
        m = gcal.models[gv]
        np.testing.assert_array_equal(m.bounds, solo.bounds)
        np.testing.assert_array_equal(m.values, solo.values)
        assert m.resolved_sign == solo.resolved_sign
        assert m.n_groups == solo.n_groups


def test_grouped_transform_routes_and_nulls(grouped_scores, tmp_path):
    from monotonic_optimal_binning_spark.operators.calibration import (
        GroupedIsotonicCalibration,
        isotonic_calibrate_grouped,
    )

    df, _ = grouped_scores
    gcal = isotonic_calibrate_grouped(
        df, "score", "y", "g", prebins="exact"
    )
    # JSON round trip serves identically
    p = str(tmp_path / "gcal.json")
    gcal.save_json(p)
    back = GroupedIsotonicCalibration.load_json(p)

    probe = df.sparkSession.createDataFrame(
        pd.DataFrame(
            {"g": [0, 1, 2, 7, None], "score": [5.0, 5.0, 5.0, 5.0, 5.0]}
        )
    )
    for model in (gcal, back):
        rows = {
            (r["g"]): r["score_calibrated"]
            for r in model.transform(probe).collect()
        }
        # same score, different group -> different curve
        assert rows[0] != rows[1] != rows[2]
        for gv in (0, 1, 2):
            exp = gcal.models[gv].predict_batch(pd.Series([5.0]))[0]
            assert rows[gv] == pytest.approx(exp, abs=1e-12)
        assert rows[7] is None  # unseen group
        assert rows[None] is None  # null group


def test_grouped_weighted_equals_replication(spark):
    from monotonic_optimal_binning_spark.operators.calibration import (
        isotonic_calibrate_grouped,
    )

    rng = np.random.RandomState(5)
    n = 800
    pdf = pd.DataFrame(
        {
            "g": rng.randint(0, 2, n),
            "score": rng.randint(0, 8, n).astype("float64"),
            "y": (rng.uniform(size=n) < 0.4).astype("float64"),
            "w": rng.randint(1, 4, n).astype("float64"),
        }
    )
    rep = pdf.loc[pdf.index.repeat(pdf["w"].astype(int))].drop(columns="w")
    a = isotonic_calibrate_grouped(
        spark.createDataFrame(pdf), "score", "y", "g",
        prebins="exact", weight_col="w",
    )
    b = isotonic_calibrate_grouped(
        spark.createDataFrame(rep), "score", "y", "g", prebins="exact"
    )
    for gv in a.models:
        np.testing.assert_allclose(
            a.models[gv].values, b.models[gv].values, rtol=1e-12
        )
        np.testing.assert_array_equal(
            a.models[gv].bounds, b.models[gv].bounds
        )


def test_grouped_collect_guard(grouped_scores):
    from monotonic_optimal_binning_spark.operators.calibration import (
        isotonic_calibrate_grouped,
    )

    df, _ = grouped_scores
    with pytest.raises(ValueError, match="max_collect"):
        isotonic_calibrate_grouped(
            df, "score", "y", "g", prebins="exact", max_collect=10
        )


def test_true_nan_scores_are_missing(spark):
    """Parquet-borne NaN (NOT null — isNotNull passes) must be treated
    as missing in both the global and grouped fits: a NaN __s key used
    to poison the PAVA block means (global) and break the driver-side
    sorted() precondition nondeterministically (grouped)."""
    from monotonic_optimal_binning_spark.operators.calibration import (
        isotonic_calibrate,
        isotonic_calibrate_grouped,
    )

    rng = np.random.RandomState(11)
    n = 4000
    pdf = pd.DataFrame(
        {
            "i": np.arange(n),
            "g": rng.randint(0, 2, n),
            "score": rng.randint(0, 15, n).astype("float64"),
            "y": (rng.uniform(size=n) < 0.3).astype("float64"),
        }
    )
    df = spark.createDataFrame(pdf).repartition(6)
    # plant TRUE NaN via an expression (createDataFrame from pandas maps
    # np.nan to null, which the filters already handled)
    dirty = df.withColumn(
        "score",
        F.when(F.col("i") % 23 == 0, F.lit(float("nan"))).otherwise(
            F.col("score")
        ),
    ).withColumn(
        "y",
        F.when(F.col("i") % 31 == 0, F.lit(float("nan"))).otherwise(
            F.col("y")
        ),
    )
    clean = dirty.filter(
        ~F.isnan("score") & ~F.isnan("y")
    )
    grid = pd.Series(np.arange(15, dtype="float64"))

    got = isotonic_calibrate(dirty, "score", "y", prebins="exact")
    want = isotonic_calibrate(clean, "score", "y", prebins="exact")
    assert np.allclose(
        got.predict_batch(grid).to_numpy(),
        want.predict_batch(grid).to_numpy(),
        atol=1e-12,
    )

    ggot = isotonic_calibrate_grouped(
        dirty, "score", "y", "g", prebins="exact"
    )
    gwant = isotonic_calibrate_grouped(
        clean, "score", "y", "g", prebins="exact"
    )
    assert set(ggot.models) == set(gwant.models)
    for gv in ggot.models:
        assert np.allclose(
            ggot.models[gv].predict_batch(grid).to_numpy(),
            gwant.models[gv].predict_batch(grid).to_numpy(),
            atol=1e-12,
        )


def test_nan_group_key_dropped(spark):
    """A float NaN group key would fan into one dict entry per collected
    row (nan != nan in a dict); numeric group columns drop NaN keys —
    unknown groups already serve NULL."""
    from monotonic_optimal_binning_spark.operators.calibration import (
        isotonic_calibrate_grouped,
    )

    rng = np.random.RandomState(12)
    n = 2000
    pdf = pd.DataFrame(
        {
            "i": np.arange(n),
            "g": rng.randint(0, 2, n).astype("float64"),
            "score": rng.randint(0, 10, n).astype("float64"),
            "y": (rng.uniform(size=n) < 0.4).astype("float64"),
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "g",
        F.when(F.col("i") % 17 == 0, F.lit(float("nan"))).otherwise(
            F.col("g")
        ),
    )
    cal = isotonic_calibrate_grouped(df, "score", "y", "g", prebins="exact")
    keys = list(cal.models)
    assert len(keys) == 2
    assert not any(np.isnan(k) for k in keys)


# ------------------------------- single form == one-group grouped form ----


@pytest.fixture(scope="module")
def many_scores(spark):
    rng = np.random.RandomState(33)
    n = 6000
    score = np.round(rng.normal(size=n), 4)  # > 1024 distinct scores
    y = (rng.uniform(size=n) < 1 / (1 + np.exp(-score))).astype("float64")
    pdf = pd.DataFrame(
        {"score": score, "y": y, "w": rng.randint(1, 4, n).astype("float64")}
    )
    pdf.loc[pdf.index % 29 == 0, "score"] = np.nan
    return spark.createDataFrame(pdf).repartition(8).withColumn(
        "k", F.lit(0)
    )


@pytest.mark.parametrize(
    "kw",
    [
        {"prebins": "exact"},
        {"prebins": 16},
        {},  # auto: the probe sees > 1024 distinct scores and prebins
        {"prebins": "exact", "weight_col": "w"},
    ],
    ids=["exact", "int", "auto", "weighted"],
)
def test_single_fit_equals_one_group_fit(many_scores, kw):
    from monotonic_optimal_binning_spark.operators.calibration import (
        isotonic_calibrate_grouped,
    )

    single = isotonic_calibrate(many_scores, "score", "y", **kw)
    grouped = isotonic_calibrate_grouped(many_scores, "score", "y", "k", **kw)
    assert list(grouped.models) == [0]
    one = grouped.models[0]
    np.testing.assert_array_equal(one.bounds, single.bounds)
    np.testing.assert_array_equal(one.values, single.values)
    if kw.get("prebins") == "exact":
        assert single.cuts is None and one.cuts is None
    else:
        assert single.cuts is not None and len(single.cuts) > 1
        np.testing.assert_array_equal(one.cuts, single.cuts)
    assert one.cut_sentinel == single.cut_sentinel
    assert one.resolved_sign == single.resolved_sign
    assert one.n_groups == single.n_groups


def test_isotonic_empty_input(many_scores):
    """No clean row: the single fit raises a DataError naming the empty
    input and the caller; the grouped fit has no group to fit."""
    from monotonic_optimal_binning_spark.exceptions import DataError
    from monotonic_optimal_binning_spark.operators.calibration import (
        isotonic_calibrate_grouped,
    )

    empty = many_scores.limit(0)
    with pytest.raises(
        DataError, match="isotonic_calibrate: empty input"
    ):
        isotonic_calibrate(empty, "score", "y")
    assert isotonic_calibrate_grouped(empty, "score", "y", "k").models == {}
