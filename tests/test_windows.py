"""Windowed operators vs pandas oracles: lag/lead, backfill, sessionize,
rolling stats."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from monotonic_optimal_binning_spark.operators.windows import (
    backfill,
    rolling_stats,
    sessionize,
    with_lag_lead,
)


def make_events(seed=0, n=500, n_keys=12):
    rng = np.random.default_rng(seed)
    df = pd.DataFrame(
        {
            "k": rng.integers(0, n_keys, n),
            "ts": rng.uniform(0, 10_000, n).round(2),
            "v": rng.normal(size=n).round(5),
        }
    )
    return df.drop_duplicates(subset=["k", "ts"]).reset_index(drop=True)


def test_lag_lead_matches_pandas(spark):
    pdf = make_events()
    res = (
        with_lag_lead(spark.createDataFrame(pdf), ["v"], "k", "ts", lags=[1, 2], leads=[1])
        .toPandas()
        .sort_values(["k", "ts"])
        .reset_index(drop=True)
    )
    exp = pdf.sort_values(["k", "ts"]).reset_index(drop=True)
    g = exp.groupby("k")["v"]
    for col, series in [
        ("v_lag1", g.shift(1)),
        ("v_lag2", g.shift(2)),
        ("v_lead1", g.shift(-1)),
    ]:
        np.testing.assert_allclose(
            res[col].to_numpy(float), series.to_numpy(float), equal_nan=True
        )


def test_backfill_forward_and_backward(spark):
    pdf = make_events(seed=5)
    pdf.loc[pdf.sample(frac=0.4, random_state=1).index, "v"] = np.nan
    sdf = spark.createDataFrame(pdf)
    for direction, pd_method in [("forward", "ffill"), ("backward", "bfill")]:
        res = (
            backfill(sdf, ["v"], "k", "ts", direction=direction)
            .toPandas()
            .sort_values(["k", "ts"])
            .reset_index(drop=True)
        )
        exp = pdf.sort_values(["k", "ts"]).reset_index(drop=True)
        expected = exp.groupby("k")["v"].transform(pd_method)
        np.testing.assert_allclose(
            res["v_filled"].to_numpy(float), expected.to_numpy(float), equal_nan=True
        )


def test_sessionize_gap_semantics(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 6 + ["b"] * 3,
            "ts": [0.0, 10.0, 20.0, 100.0, 105.0, 300.0, 0.0, 500.0, 505.0],
        }
    )
    res = (
        sessionize(spark.createDataFrame(pdf), "k", "ts", gap_seconds=30.0)
        .toPandas()
        .sort_values(["k", "ts"])
        .reset_index(drop=True)
    )
    assert res[res["k"] == "a"]["session_id"].tolist() == [0, 0, 0, 1, 1, 2]
    assert res[res["k"] == "b"]["session_id"].tolist() == [0, 1, 1]
    starts = res[res["k"] == "a"]["session_id_start"].tolist()
    assert starts == [0.0, 0.0, 0.0, 100.0, 100.0, 300.0]


def test_sessionize_matches_pandas_on_random_data(spark):
    pdf = make_events(seed=9, n=800)
    gap = 120.0
    res = (
        sessionize(spark.createDataFrame(pdf), "k", "ts", gap_seconds=gap)
        .toPandas()
        .sort_values(["k", "ts"])
        .reset_index(drop=True)
    )
    exp = pdf.sort_values(["k", "ts"]).reset_index(drop=True)
    new = (exp.groupby("k")["ts"].diff() > gap) | exp.groupby("k")["ts"].diff().isna()
    expected_id = new.groupby(exp["k"]).cumsum() - 1
    np.testing.assert_array_equal(
        res["session_id"].to_numpy(int), expected_id.to_numpy(int)
    )


def test_rolling_stats_rows_frame(spark):
    pdf = make_events(seed=13, n=400)
    res = (
        rolling_stats(spark.createDataFrame(pdf), "v", "k", "ts", n_rows=3)
        .toPandas()
        .sort_values(["k", "ts"])
        .reset_index(drop=True)
    )
    exp = pdf.sort_values(["k", "ts"]).reset_index(drop=True)
    r = exp.groupby("k")["v"].rolling(3, min_periods=1)
    np.testing.assert_allclose(
        res["v_roll_mean"].to_numpy(float),
        r.mean().reset_index(level=0, drop=True).sort_index().to_numpy(float),
        rtol=1e-9,
    )
    np.testing.assert_allclose(
        res["v_roll_sum"].to_numpy(float),
        r.sum().reset_index(level=0, drop=True).sort_index().to_numpy(float),
        rtol=1e-9,
    )


def test_rolling_stats_range_frame(spark):
    pdf = make_events(seed=17, n=300)
    res = (
        rolling_stats(
            spark.createDataFrame(pdf),
            "v",
            "k",
            "ts",
            range_seconds=500.0,
            stats=("count", "sum"),
        )
        .toPandas()
        .sort_values(["k", "ts"])
        .reset_index(drop=True)
    )
    # brute-force oracle
    for _, row in res.head(60).iterrows():
        mask = (
            (pdf["k"] == row["k"])
            & (pdf["ts"] >= row["ts"] - 500.0)
            & (pdf["ts"] <= row["ts"])
        )
        assert row["v_roll_count"] == mask.sum()
        np.testing.assert_allclose(row["v_roll_sum"], pdf.loc[mask, "v"].sum(), rtol=1e-9)


def test_time_bucket(spark):
    import pandas as pd

    from monotonic_optimal_binning_spark.operators.windows import time_bucket

    pdf = pd.DataFrame({"id": [1, 2, 3, 4], "ts": [0.0, 3599.9, 3600.0, 7201.0]})
    res = (
        time_bucket(spark.createDataFrame(pdf), "ts", 3600.0)
        .orderBy("id")
        .collect()
    )
    assert [r["bucket"] for r in res] == [0, 0, 1, 2]


NAN = float("nan")


def _with_edges(spark, pdf, edges):
    """``pdf``'s rows plus ``edges`` as a Spark frame with an explicit
    schema: ``float('nan')`` stays NaN here (a pandas NaN sent through
    Arrow arrives as NULL) and ``None`` stays NULL."""
    types = {"eid": "long", "user": "long", "ts": "double", "v": "double"}
    schema = ", ".join(f"{c} {types[c]}" for c in pdf.columns)
    rows = pdf.astype(object).where(pdf.notna(), None).values.tolist()
    return spark.createDataFrame(rows + edges, schema)


def _assert_same_rows(got, want, label):
    """Same row count and the same rows (all columns), compared
    Spark-side (NULL and NaN stay apart; ``toPandas()`` folds them
    together)."""
    assert got.count() == want.count(), label
    assert got.exceptAll(want).count() == 0, label
    assert want.exceptAll(got).count() == 0, label


def test_sessionize_bucketed_equals_plain(spark):
    """The skew-resistant bucketed sessionize must reproduce the plain
    per-key window's session ids and starts exactly, for bucket sizes both
    smaller and larger than the gap (boundary chains included)."""
    from monotonic_optimal_binning_spark.operators.windows import (
        sessionize,
        sessionize_bucketed,
    )

    rng = np.random.default_rng(11)
    n = 4000
    pdf = pd.DataFrame(
        {
            "eid": np.arange(n),
            "user": rng.integers(0, 5, n),       # few hot keys
            "ts": np.round(np.sort(rng.uniform(0, 40_000, n)), 3),
        }
    )
    # null times, NaN times and a null key: NULLS FIRST / NaN-last
    # singleton sessions, and a null key is a key of its own
    df = _with_edges(spark, pdf, [
        (n, 1, None), (n + 1, 1, None), (n + 2, 2, NAN), (n + 3, 2, NAN),
        (n + 4, None, 100.0), (n + 5, None, 150.0), (n + 6, None, None),
    ])
    plain = sessionize(df, "user", "ts", gap_seconds=120.0, tiebreak=["eid"])
    for bucket in (60.0, 900.0):
        got = sessionize_bucketed(
            df, "user", "ts", gap_seconds=120.0,
            bucket_seconds=bucket, tiebreak=["eid"],
        )
        assert got.columns == plain.columns, bucket
        _assert_same_rows(got, plain, bucket)


def test_backfill_bucketed_equals_plain(spark):
    """Skew-resistant forward-fill must equal the plain per-key window for
    bucket sizes that split and don't split null runs."""
    from monotonic_optimal_binning_spark.operators.windows import (
        backfill,
        backfill_bucketed,
    )

    rng = np.random.default_rng(13)
    n = 3000
    vals = rng.uniform(0, 100, n).round(2)
    vals[rng.random(n) < 0.7] = np.nan    # long null runs
    pdf = pd.DataFrame(
        {
            "eid": np.arange(n),
            "user": rng.integers(0, 4, n),
            "ts": np.round(np.sort(rng.uniform(0, 20_000, n)), 3),
            "v": vals,
        }
    )
    df = _with_edges(spark, pdf, [
        (n, 1, None, 5.0), (n + 1, 1, None, None), (n + 2, 2, NAN, 7.0),
        (n + 3, 2, NAN, None), (n + 4, None, 10.0, 3.0),
        (n + 5, None, 20.0, None), (n + 6, None, None, 1.0),
    ])
    plain = backfill(df, ["v"], "user", "ts", tiebreak=["eid"])
    for bucket in (50.0, 5000.0):
        got = backfill_bucketed(
            df, ["v"], "user", "ts", bucket_seconds=bucket, tiebreak=["eid"],
        )
        assert got.columns == plain.columns, bucket
        _assert_same_rows(got, plain, bucket)


def test_lag_lead_bucketed_equals_plain(spark):
    from monotonic_optimal_binning_spark.operators.windows import (
        with_lag_lead,
        with_lag_lead_bucketed,
    )

    rng = np.random.default_rng(17)
    n = 3000
    pdf = pd.DataFrame(
        {
            "eid": np.arange(n),
            "user": rng.integers(0, 4, n),
            "ts": np.round(np.sort(rng.uniform(0, 20_000, n)), 3),
            "v": rng.uniform(0, 100, n).round(2),
        }
    )
    df = _with_edges(spark, pdf, [
        (n, 1, None, 5.0), (n + 1, 1, None, 6.0), (n + 2, 2, NAN, 7.0),
        (n + 3, 2, NAN, 8.0), (n + 4, None, 10.0, 3.0),
        (n + 5, None, 20.0, 4.0), (n + 6, None, None, 1.0),
    ])
    plain = with_lag_lead(
        df, ["v"], "user", "ts", lags=[1], leads=[1], tiebreak=["eid"]
    )
    for bucket in (40.0, 4000.0):
        got = with_lag_lead_bucketed(
            df, ["v"], "user", "ts", bucket_seconds=bucket, tiebreak=["eid"]
        )
        assert got.columns == plain.columns, bucket
        _assert_same_rows(got, plain, bucket)


def _ties(rng, ts, frac=0.1):
    """Copy the timestamps of a random ``frac`` of rows onto other rows:
    same-millisecond ties inside (and across) entities."""
    ts = ts.copy()
    n = len(ts)
    k = int(n * frac)
    ts[rng.choice(n, k, replace=False)] = ts[rng.choice(n, k, replace=False)]
    return ts


def test_multi_horizon_features_vs_truth(spark):
    """Trailing-horizon point-in-time aggregates vs an O(n^2) pandas
    truth (hot entity, same-millisecond ties, a fractional horizon, both
    frame ends), plus: all horizons share one shuffle in the executed
    plan."""
    import pytest

    from monotonic_optimal_binning_spark.operators.windows import (
        horizon_label,
        multi_horizon_features,
    )

    rng = np.random.default_rng(21)
    n = 800
    pdf = pd.DataFrame(
        {
            "eid": np.arange(n),
            # one hot entity + a few normal ones
            "user": np.where(rng.uniform(size=n) < 0.6, 0,
                             rng.integers(1, 5, n)),
            "ts": _ties(rng, np.round(rng.uniform(0, 5000, n), 3)),
            "v": rng.uniform(0, 10, n).round(2),
        }
    )
    df = spark.createDataFrame(pdf)
    horizons = [60.0, 600.0, 90.5]
    stats = ("sum", "count", "mean", "min", "max")
    # truth uses millisecond-truncated timestamps like the operator
    ms = (pdf["ts"] * 1000).astype("int64").to_numpy()
    user = pdf["user"].to_numpy()
    v = pdf["v"].to_numpy()
    for include_current in (True, False):
        out = multi_horizon_features(
            df, "user", "ts", "v", horizons, stats=stats,
            include_current=include_current,
        )
        got = out.toPandas().set_index("eid").sort_index()
        for h in horizons:
            hm = int(round(h * 1000))
            col = f"v_h{horizon_label(h)}"
            for i in range(n):
                hi = ms[i] if include_current else ms[i] - 1
                m = (user == user[i]) & (ms >= ms[i] - hm) & (ms <= hi)
                row = got.loc[i]
                key = (i, h, include_current)
                assert row[f"{col}_count"] == m.sum(), key
                if not m.any():
                    assert pd.isna(row[f"{col}_sum"]), key
                    continue
                assert row[f"{col}_sum"] == pytest.approx(v[m].sum()), key
                assert row[f"{col}_mean"] == pytest.approx(v[m].mean()), key
                assert row[f"{col}_min"] == v[m].min(), key
                assert row[f"{col}_max"] == v[m].max(), key
    # one shuffle for ALL horizons (shared partitioning + ordering)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    import re

    shuffles = len(re.findall(r"Exchange hashpartitioning", plan))
    assert shuffles == 1, plan


def test_multi_horizon_bucketed_equals_plain(spark):
    from monotonic_optimal_binning_spark.operators.windows import (
        multi_horizon_features,
        multi_horizon_features_bucketed,
    )

    rng = np.random.default_rng(22)
    n = 1500
    pdf = pd.DataFrame(
        {
            "eid": np.arange(n),
            # one pathologically hot entity + a few normal ones
            "user": np.where(rng.uniform(size=n) < 0.7, 0,
                             rng.integers(1, 4, n)),
            "ts": _ties(rng, np.round(rng.uniform(0, 3000, n), 3)),
            "v": rng.uniform(0, 10, n).round(2),
        }
    )
    # null event times (several on the hot entity) and null values: a
    # null-time event contributes nothing and gets count 0 / null sums
    null_ts = rng.choice(n, 12, replace=False)
    pdf.loc[null_ts, "ts"] = np.nan
    pdf.loc[rng.choice(n, 12, replace=False), "v"] = np.nan
    df = spark.createDataFrame(pdf).repartition(8)
    horizons = [45.0, 700.0, 12.5]
    stats = ("sum", "count", "mean", "min", "max")
    for include_current in (True, False):
        plain = (
            multi_horizon_features(
                df, "user", "ts", "v", horizons, stats=stats,
                include_current=include_current,
            )
            .toPandas().set_index("eid").sort_index()
        )
        bucketed = (
            multi_horizon_features_bucketed(
                df, "user", "ts", "v", horizons, stats=stats,
                include_current=include_current,
            )
            .toPandas().set_index("eid").sort_index()
        )
        pd.testing.assert_frame_equal(
            bucketed[plain.columns], plain, check_dtype=False
        )
        assert (plain.loc[null_ts, "v_h45_count"] == 0).all()
        assert plain.loc[null_ts, "v_h45_sum"].isna().all()
    # a NaN time is a null time: it contributes nothing and gets count 0 /
    # null sums (explicit schema: a pandas NaN would arrive as NULL)
    nan_df = spark.createDataFrame(
        [(0, 1, 100.0, 1.0), (1, 1, float("nan"), 4.0),
         (2, 1, float("nan"), 8.0)],
        "eid long, user long, ts double, v double",
    )
    got = {
        r["eid"]: (r["v_h3600_count"], r["v_h3600_sum"])
        for r in multi_horizon_features(
            nan_df, "user", "ts", "v", [3600.0]
        ).collect()
    }
    assert got == {0: (1, 1.0), 1: (0, None), 2: (0, None)}, got


def test_horizon_label_fractional_and_guards(spark):
    """ADVICE r5: fractional horizons sharing an integer part must not
    alias the same output column; internal/shadow names must be rejected;
    output names colliding with input columns must be rejected."""
    import pytest

    from monotonic_optimal_binning_spark.operators.windows import (
        check_output_names,
        horizon_label,
        multi_horizon_features,
        multi_horizon_features_bucketed,
    )

    assert horizon_label(3600) == "3600"
    assert horizon_label(90.0) == "90"
    assert horizon_label(90.2) == "90p2"
    assert horizon_label(90.7) == "90p7"
    assert horizon_label(0.5) == "0p5"
    assert horizon_label(90.2) != horizon_label(90.7)

    pdf = pd.DataFrame({"k": [0, 0, 1], "ts": [1.0, 2.0, 3.0],
                        "v": [1.0, 2.0, 3.0]})
    df = spark.createDataFrame(pdf)

    out = multi_horizon_features(df, "k", "ts", "v", [90.2, 90.7])
    assert "v_h90p2_sum" in out.columns and "v_h90p7_sum" in out.columns
    assert len(set(out.columns)) == len(out.columns)

    # same horizon twice -> duplicate generated names
    with pytest.raises(ValueError, match="not unique"):
        multi_horizon_features(df, "k", "ts", "v", [60.0, 60])
    # generated name hits an existing input column
    clash = df.withColumn("v_h60_sum", F.lit(0.0))
    with pytest.raises(ValueError, match="collides"):
        multi_horizon_features(clash, "k", "ts", "v", [60.0])
    # bucketed variant now guards internal names too
    shadow = df.withColumn("__chunk", F.lit(1))
    with pytest.raises(ValueError, match="shadows"):
        multi_horizon_features_bucketed(shadow, "k", "ts", "v", [60.0])
    with pytest.raises(ValueError, match="collides"):
        multi_horizon_features_bucketed(clash, "k", "ts", "v", [60.0])

    # direct helper behavior
    check_output_names(["a"], ["b", "c"])
    with pytest.raises(ValueError):
        check_output_names(["a"], ["a"])


def test_epoch_millis_numeric_negative_matches_timestamp(spark):
    """ADVICE r5: numeric epoch seconds must FLOOR to millis like the
    timestamp path, not truncate toward zero (pre-1970 fractional
    seconds differed by 1 ms)."""
    from monotonic_optimal_binning_spark.functions.timeutil import (
        epoch_millis,
        pin_utc,
    )

    pin_utc(spark)
    df = spark.createDataFrame(
        [(-0.5,), (-1.2505,), (0.5,), (1.9999,)], "sec double"
    ).withColumn("ts", F.timestamp_seconds(F.col("sec")))
    got = df.select(
        epoch_millis(df, "sec").alias("num_ms"),
        epoch_millis(df, "ts").alias("ts_ms"),
    ).toPandas()
    assert (got["num_ms"] == got["ts_ms"]).all()
    assert got["num_ms"].tolist() == [-500, -1251, 500, 1999]


def test_sessionize_start_matches_min_window(spark):
    """r8 regression: session_id_start is a carry-forward of the session
    leader's timestamp on the existing (key, ts) sort — it must equal the
    min(ts)-over-(key, session) window it replaced, including null/NaN
    timestamps (singleton sessions with null/NaN starts) and timestamp
    ties broken by the tiebreak column."""
    from pyspark.sql import Window

    rng = np.random.default_rng(7)
    rows = []
    for i in range(400):
        k = int(rng.integers(0, 8))
        ts = float(rng.uniform(0, 5000))
        if i % 23 == 0:
            ts = None
        elif i % 29 == 0:
            ts = float("nan")
        elif i % 11 == 0:
            ts = float(rng.integers(0, 10) * 100)  # deliberate ties
        rows.append((i, k, ts))
    pdf = pd.DataFrame(rows, columns=["id", "k", "ts"])
    res = sessionize(
        spark.createDataFrame(pdf), "k", "ts", gap_seconds=120.0,
        tiebreak=["id"],
    )
    w = Window.partitionBy("k", "session_id")
    diff = (
        res.withColumn("__start_ref", F.min("ts").over(w))
        .filter(~F.col("session_id_start").eqNullSafe(F.col("__start_ref")))
        .count()
    )
    assert diff == 0
