"""Point-in-time aggregation join (asof_agg_join): O(n^2) pandas truth,
skew-bucketed equality, null-time conventions, strictly-prior frames."""

import numpy as np
import pandas as pd
import pytest

from monotonic_optimal_binning_spark.operators.asof import (
    asof_agg_join,
    asof_agg_join_bucketed,
)
from monotonic_optimal_binning_spark.operators.windows import horizon_label


def _frames(seed=51, n_left=300, n_right=900):
    rng = np.random.default_rng(seed)

    def users(n):
        # one hot entity + a few normal ones
        return np.where(rng.uniform(size=n) < 0.6, 0, rng.integers(1, 6, n))

    right = pd.DataFrame(
        {
            "user": users(n_right),
            "ts": np.round(rng.uniform(0, 3000, n_right), 3),
            "v": rng.uniform(0, 5, n_right).round(2),
        }
    )
    lts = np.round(rng.uniform(0, 3000, n_left), 3)
    # same-millisecond ties: some probes sit exactly on a right event
    k = n_left // 5
    lts[rng.choice(n_left, k, replace=False)] = right["ts"].to_numpy()[
        rng.choice(n_right, k, replace=False)
    ]
    rts = right["ts"].to_numpy().copy()
    k = n_right // 10
    rts[rng.choice(n_right, k, replace=False)] = rts[
        rng.choice(n_right, k, replace=False)
    ]
    right["ts"] = rts
    left = pd.DataFrame(
        {"oid": np.arange(n_left), "user": users(n_left), "ts": lts}
    )
    return left, right


HORIZONS = [60.0, 600.0, 90.5]


def _truth(left, right, horizons, include_current=True):
    # epoch millis floor like the operator (functions.timeutil.epoch_millis)
    lms = np.floor(left["ts"].to_numpy() * 1000).astype("int64")
    rms = np.floor(right["ts"].to_numpy() * 1000).astype("int64")
    rows = {}
    for h in horizons:
        hm = int(round(h * 1000))
        sums, counts = [], []
        for i, r in left.iterrows():
            hi = lms[i] if include_current else lms[i] - 1
            m = (
                (right["user"] == r["user"])
                & (rms >= lms[i] - hm)
                & (rms <= hi)
            )
            sums.append(right.loc[m, "v"].sum() if m.any() else np.nan)
            counts.append(int(m.sum()))
        rows[f"v_h{horizon_label(h)}_sum"] = sums
        rows[f"v_h{horizon_label(h)}_count"] = counts
    return pd.DataFrame(rows, index=left["oid"])


def test_asof_agg_matches_truth(spark):
    left, right = _frames()
    for include_current in (True, False):
        out = asof_agg_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            "user", "ts", value="v", horizons_seconds=HORIZONS,
            include_current=include_current,
        )
        got = out.toPandas().set_index("oid").sort_index()
        assert list(got.columns) == [
            "user", "ts", "v_h60_sum", "v_h60_count",
            "v_h600_sum", "v_h600_count", "v_h90p5_sum", "v_h90p5_count",
        ]
        exp = _truth(left, right, HORIZONS, include_current)
        for c in exp.columns:
            if c.endswith("_count"):
                assert got[c].astype(int).tolist() == exp[c].tolist(), c
            else:
                np.testing.assert_allclose(
                    got[c].to_numpy(), exp[c].to_numpy(),
                    rtol=1e-9, equal_nan=True, err_msg=c,
                )


def test_bucketed_equals_plain(spark):
    left, right = _frames(seed=53)
    stats = ("sum", "count", "mean", "min", "max")
    for include_current in (True, False):
        a = asof_agg_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            "user", "ts", value="v", horizons_seconds=HORIZONS, stats=stats,
            include_current=include_current,
        ).toPandas().set_index("oid").sort_index()
        b = asof_agg_join_bucketed(
            spark.createDataFrame(left), spark.createDataFrame(right),
            "user", "ts", value="v", horizons_seconds=HORIZONS, stats=stats,
            include_current=include_current,
        ).toPandas().set_index("oid").sort_index()
        pd.testing.assert_frame_equal(a, b[a.columns])


def test_null_time_conventions(spark):
    """Null-ts probes match nothing (count 0, null sum); null-ts right
    rows never contribute."""
    left = pd.DataFrame(
        {"oid": [0, 1, 2], "user": [1, 1, 1],
         "ts": [100.0, None, 100.0]}
    )
    right = pd.DataFrame(
        {"user": [1, 1, 1], "ts": [99.0, None, 95.0], "v": [2.0, 50.0, 3.0]}
    )
    out = (
        asof_agg_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            "user", "ts", value="v", horizons_seconds=[10.0],
        )
        .toPandas()
        .set_index("oid")
        .sort_index()
    )
    assert out.loc[0, "v_h10_count"] == 2      # 99 and 95 in [90, 100]
    assert out.loc[0, "v_h10_sum"] == pytest.approx(5.0)  # null v=50 row out
    assert out.loc[1, "v_h10_count"] == 0
    assert pd.isna(out.loc[1, "v_h10_sum"])


def test_strictly_prior_excludes_same_millisecond(spark):
    left = pd.DataFrame({"oid": [0], "user": [1], "ts": [100.0]})
    right = pd.DataFrame(
        {"user": [1, 1], "ts": [100.0, 99.9], "v": [7.0, 1.0]}
    )
    inc = asof_agg_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        "user", "ts", value="v", horizons_seconds=[10.0],
    ).toPandas()
    exc = asof_agg_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        "user", "ts", value="v", horizons_seconds=[10.0],
        include_current=False,
    ).toPandas()
    assert inc["v_h10_sum"].iloc[0] == pytest.approx(8.0)
    assert exc["v_h10_sum"].iloc[0] == pytest.approx(1.0)


def test_left_equals_right_matches_multi_horizon(spark):
    """Differential: probing a table against itself equals the single-
    table multi-horizon operator."""
    from monotonic_optimal_binning_spark.operators.windows import (
        multi_horizon_features,
    )

    rng = np.random.default_rng(57)
    n = 500
    pdf = pd.DataFrame(
        {
            "eid": np.arange(n),
            "user": rng.integers(0, 4, n),
            "ts": np.round(rng.uniform(0, 2000, n), 3),
            "v": rng.uniform(0, 5, n).round(2),
        }
    )
    # null event times and null values on both sides of the self-probe
    pdf.loc[rng.choice(n, 10, replace=False), "ts"] = np.nan
    pdf.loc[rng.choice(n, 10, replace=False), "v"] = np.nan
    df = spark.createDataFrame(pdf)
    a = (
        asof_agg_join(
            df, df.select("user", "ts", "v"), "user", "ts",
            value="v", horizons_seconds=[120.0],
        )
        .select("eid", "v_h120_sum", "v_h120_count")
        .toPandas().set_index("eid").sort_index()
    )
    b = (
        multi_horizon_features(df, "user", "ts", "v", [120.0])
        .select("eid", "v_h120_sum", "v_h120_count")
        .toPandas().set_index("eid").sort_index()
    )
    np.testing.assert_allclose(
        a["v_h120_sum"].to_numpy(), b["v_h120_sum"].to_numpy(), rtol=1e-9
    )
    assert a["v_h120_count"].tolist() == b["v_h120_count"].tolist()


def test_single_window_plan(spark):
    """All horizons share one shuffle + one Window operator."""
    import os
    import re

    from monotonic_optimal_binning_spark.functions.timeutil import pin_utc

    sf = os.path.join(
        os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.001"
    )
    pin_utc(spark)
    ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
    left = ev.select("event_id", "user_id", "ts")
    right = ev.select("user_id", "ts", "value")
    out = asof_agg_join(
        left, right, "user_id", "ts", value="value",
        horizons_seconds=[3600.0, 86400.0],
    )
    jqe = out._jdf.queryExecution()
    plan = out.sparkSession._jvm.PythonSQLUtils.explainString(jqe, "simple")
    assert len(re.findall(r"(?<![A-Za-z])Exchange\b", plan)) == 1, plan
    assert plan.count("Window") == 1, plan
