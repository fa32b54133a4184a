"""Time-decayed (half-life) trailing features vs a brute-force pandas
oracle: exactness across chunk boundaries, truncation-below-precision,
null conventions, and the one-Window-per-half-life plan shape."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from monotonic_optimal_binning_spark.operators.windows import (
    time_decayed_features,
)


def _brute(pdf, keys, h, *, truncate=None, include_current=True):
    """Per-row decayed sum/count, O(n^2), truncated like the operator."""
    sums, cnts = [], []
    for _, r in pdf.iterrows():
        if pd.isna(r["ts"]):
            sums.append(np.nan)
            cnts.append(0.0)
            continue
        m = np.ones(len(pdf), dtype=bool)
        for k in keys:
            m &= (pdf[k] == r[k]).to_numpy()
        m &= pdf["ts"].notna().to_numpy() & pdf["v"].notna().to_numpy()
        # operator works on integer milliseconds via cast(ts*1000 AS long),
        # which TRUNCATES the double product — mimic it bit-for-bit
        t_ms = float(np.trunc(np.float64(r["ts"]) * 1000))
        c_ms = np.trunc(pdf["ts"].to_numpy(dtype=np.float64) * 1000)
        if include_current:
            m &= c_ms <= t_ms
        else:
            m &= c_ms <= t_ms - 1
        if truncate is not None:
            m &= c_ms >= t_ms - truncate * h * 1000
        w = np.power(2.0, (c_ms[m] - t_ms) / (h * 1000.0))
        v = pdf["v"].to_numpy(dtype=float)[m]
        sums.append(float((v * w).sum()) if m.any() else np.nan)
        cnts.append(float(w.sum()))
    return np.array(sums), np.array(cnts)


def _data(seed=41, n=300, with_nulls=True):
    rng = np.random.default_rng(seed)
    ts = rng.uniform(0, 500, n).round(3)
    # same-millisecond ties inside (and across) entities
    k = n // 10
    ts[rng.choice(n, k, replace=False)] = ts[rng.choice(n, k, replace=False)]
    pdf = pd.DataFrame(
        {
            "eid": np.arange(n),
            # one hot entity + a few normal ones
            "user": np.where(rng.uniform(size=n) < 0.6, 0,
                             rng.integers(1, 4, n)),
            "seg": rng.choice(["a", "b"], n),
            "ts": ts,
            "v": rng.uniform(0.1, 5, n).round(2),
        }
    )
    if with_nulls:
        pdf.loc[rng.choice(n, 8, replace=False), "ts"] = np.nan
        pdf.loc[rng.choice(n, 8, replace=False), "v"] = np.nan
    return pdf


def test_decayed_equals_brute_force_across_chunks(spark):
    """H=10s, truncation 4 half-lives -> 40s chunks over a 500s span:
    ~12 chunks, so frames routinely cross chunk boundaries and the
    truncation actually drops contributors. A second, fractional
    half-life (2.5s -> 10s chunks) rides the same call."""
    pdf = _data()
    df = spark.createDataFrame(pdf)
    out = (
        time_decayed_features(
            df, ["user", "seg"], "ts", "v", [10.0, 2.5],
            truncate_half_lives=4,
        )
        .toPandas()
        .set_index("eid")
        .sort_index()
    )
    for h, lbl in ((10.0, "10"), (2.5, "2p5")):
        exp_s, exp_c = _brute(
            pdf.set_index("eid").sort_index().reset_index(),
            ["user", "seg"],
            h,
            truncate=4,
        )
        np.testing.assert_allclose(
            out[f"v_hl{lbl}_sum"].to_numpy(dtype=float), exp_s,
            rtol=1e-9, equal_nan=True,
        )
        np.testing.assert_allclose(
            out[f"v_hl{lbl}_count"].to_numpy(dtype=float), exp_c, rtol=1e-9
        )


def test_decayed_exclude_current_and_mean(spark):
    pdf = _data(seed=42, with_nulls=False)
    df = spark.createDataFrame(pdf)
    out = (
        time_decayed_features(
            df,
            "user",
            "ts",
            "v",
            [20.0],
            stats=("sum", "count", "mean"),
            include_current=False,
            truncate_half_lives=6,
        )
        .toPandas()
        .set_index("eid")
        .sort_index()
    )
    exp_s, exp_c = _brute(
        pdf.set_index("eid").sort_index().reset_index(),
        ["user"],
        20.0,
        truncate=6,
        include_current=False,
    )
    np.testing.assert_allclose(
        out["v_hl20_sum"].to_numpy(dtype=float), exp_s,
        rtol=1e-9, equal_nan=True,
    )
    got_mean = out["v_hl20_mean"].to_numpy(dtype=float)
    exp_mean = np.where(exp_c > 0, exp_s / np.where(exp_c > 0, exp_c, 1), np.nan)
    np.testing.assert_allclose(got_mean, exp_mean, rtol=1e-9, equal_nan=True)


def test_default_truncation_is_below_double_precision(spark):
    """With the default T=96, the truncated result is indistinguishable
    (1e-12 relative) from the UNtruncated infinite-history decay — the
    exactness claim in the docstring."""
    rng = np.random.default_rng(7)
    n = 200
    pdf = pd.DataFrame(
        {
            "eid": np.arange(n),
            "user": rng.integers(0, 3, n),
            "ts": np.sort(rng.uniform(0, 3000, n)).round(3),
            "v": rng.uniform(0.1, 5, n).round(2),
        }
    )
    df = spark.createDataFrame(pdf)
    # H = 1s -> events 96s+ apart get truncated; the brute force keeps ALL
    out = (
        time_decayed_features(df, "user", "ts", "v", [1.0])
        .toPandas()
        .set_index("eid")
        .sort_index()
    )
    exp_s, exp_c = _brute(pdf, ["user"], 1.0, truncate=None)
    np.testing.assert_allclose(
        out["v_hl1_sum"].to_numpy(dtype=float), exp_s,
        rtol=1e-12, equal_nan=True,
    )
    np.testing.assert_allclose(
        out["v_hl1_count"].to_numpy(dtype=float), exp_c, rtol=1e-12
    )


def test_null_conventions(spark):
    pdf = pd.DataFrame(
        {
            "eid": [0, 1, 2, 3],
            "user": [1, 1, 1, 1],
            "ts": [100.0, None, 101.0, 102.0],
            "v": [5.0, 100.0, None, 1.0],
        }
    )
    out = (
        time_decayed_features(
            spark.createDataFrame(pdf), "user", "ts", "v", [10.0]
        )
        .toPandas()
        .set_index("eid")
        .sort_index()
    )
    # null-ts probe: matches nothing
    assert out.loc[1, "v_hl10_count"] == 0.0
    assert pd.isna(out.loc[1, "v_hl10_sum"])
    # null-v event contributes nothing but is still scored
    assert abs(out.loc[2, "v_hl10_count"] - 2 ** (-0.1)) < 1e-12
    # probe 3 sees v=5 two seconds back (decayed) + itself
    exp = 5.0 * 2 ** (-0.2) + 1.0
    assert abs(out.loc[3, "v_hl10_sum"] - exp) < 1e-12


def test_internal_name_guard(spark):
    df = spark.range(3).select(
        F.col("id").alias("user"),
        F.col("id").cast("double").alias("ts"),
        F.col("id").cast("double").alias("v"),
        F.lit(1).alias("__chunk"),
    )
    with pytest.raises(ValueError, match="internal name"):
        time_decayed_features(df, "user", "ts", "v", [10.0])


def test_decayed_plan_one_window_per_half_life(spark):
    """Each half-life costs one Exchange + one Window over the ghost
    union — multiple stats per half-life are free (single Window node)."""
    import os

    from tests.test_plans import SF, count_exchanges, plan_of

    ev = spark.read.parquet(os.path.join(SF, "events.parquet")).select(
        "event_id", "user_id", "ts", "value"
    )
    out = time_decayed_features(
        ev, "user_id", "ts", "value", [3600.0], stats=("sum", "count", "mean")
    )
    plan = plan_of(out, "simple")
    assert count_exchanges(out) == 1, plan
    assert plan.count("Window") == 1, plan
    # ghosts ride a Generate, not a self-union: a union would embed the
    # first half-life's Window into both branches of the second's
    two = time_decayed_features(
        ev, "user_id", "ts", "value", [3600.0, 86400.0]
    )
    plan2 = plan_of(two, "simple")
    assert plan2.count("Window") == 2, plan2
    assert count_exchanges(two) == 2, plan2
    assert plan2.count("FileScan") == 1, plan2


def test_asof_decayed_join_equals_brute_force(spark):
    """Two-table decayed aggregation: probes vs an independent
    contributor stream, nulls on both sides, a hot entity, probes tied to
    contributor milliseconds, both frame ends, and frames crossing chunk
    boundaries (H=10s, T=4 -> 40s chunks over a 400s span; a fractional
    H=2.5s -> 10s chunks in the same call)."""
    from monotonic_optimal_binning_spark.operators.asof import (
        asof_decayed_join,
    )

    rng = np.random.default_rng(91)
    nl, nr = 150, 400
    right = pd.DataFrame(
        {
            "user": np.where(rng.uniform(size=nr) < 0.6, 0,
                             rng.integers(1, 4, nr)),
            "ts": rng.uniform(0, 400, nr).round(3),
            "v": rng.uniform(0.1, 5, nr).round(2),
        }
    )
    lts = rng.uniform(0, 400, nl).round(3)
    lts[rng.choice(nl, 30, replace=False)] = right["ts"].to_numpy()[
        rng.choice(nr, 30, replace=False)
    ]
    left = pd.DataFrame(
        {
            "pid": np.arange(nl),
            "user": np.where(rng.uniform(size=nl) < 0.6, 0,
                             rng.integers(1, 4, nl)),
            "ts": lts,
        }
    )
    left.loc[rng.choice(nl, 5, replace=False), "ts"] = np.nan
    right.loc[rng.choice(nr, 10, replace=False), "ts"] = np.nan
    right.loc[rng.choice(nr, 10, replace=False), "v"] = np.nan

    r_ms = np.trunc(right["ts"].to_numpy(dtype=np.float64) * 1000)
    r_ok = right["ts"].notna().to_numpy() & right["v"].notna().to_numpy()
    for include_current in (True, False):
        out = (
            asof_decayed_join(
                spark.createDataFrame(left),
                spark.createDataFrame(right),
                "user",
                "ts",
                value="v",
                half_lives_seconds=[10.0, 2.5],
                stats=("sum", "count", "mean"),
                include_current=include_current,
                truncate_half_lives=4,
            )
            .toPandas()
            .set_index("pid")
            .sort_index()
        )
        for h, lbl in ((10.0, "10"), (2.5, "2p5")):
            h_ms, c_ms = h * 1000, 4 * h * 1000
            exp_s, exp_c = [], []
            for _, p in left.sort_values("pid").iterrows():
                if pd.isna(p["ts"]):
                    exp_s.append(np.nan)
                    exp_c.append(0.0)
                    continue
                t = np.trunc(np.float64(p["ts"]) * 1000)
                hi = t if include_current else t - 1
                m = (
                    r_ok
                    & (right["user"].to_numpy() == p["user"])
                    & (r_ms <= hi)
                    & (r_ms >= t - c_ms)
                )
                w = np.power(2.0, (r_ms[m] - t) / h_ms)
                v = right["v"].to_numpy(dtype=float)[m]
                exp_s.append(float((v * w).sum()) if m.any() else np.nan)
                exp_c.append(float(w.sum()))
            exp_s, exp_c = np.array(exp_s), np.array(exp_c)
            key = f"h={h} include_current={include_current}"
            np.testing.assert_allclose(
                out[f"v_hl{lbl}_sum"].to_numpy(dtype=float), exp_s,
                rtol=1e-9, equal_nan=True, err_msg=key,
            )
            np.testing.assert_allclose(
                out[f"v_hl{lbl}_count"].to_numpy(dtype=float), exp_c,
                rtol=1e-9, err_msg=key,
            )
            exp_m = np.where(
                exp_c > 0, exp_s / np.where(exp_c > 0, exp_c, 1), np.nan
            )
            np.testing.assert_allclose(
                out[f"v_hl{lbl}_mean"].to_numpy(dtype=float), exp_m,
                rtol=1e-9, equal_nan=True, err_msg=key,
            )


def test_asof_decayed_join_plan_linear(spark):
    """Two half-lives: 2 Windows, left scanned once, right once per
    half-life (contributor ghosts ride the explode, not a self-union)."""
    import os

    from monotonic_optimal_binning_spark.operators.asof import (
        asof_decayed_join,
    )
    from tests.test_plans import SF, plan_of

    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    out = asof_decayed_join(
        ev.select("event_id", "user_id", "ts"),
        ev.select("user_id", "ts", "value"),
        "user_id",
        "ts",
        value="value",
        half_lives_seconds=[3600.0, 86400.0],
    )
    plan = plan_of(out, "simple")
    assert plan.count("Window") == 2, plan
    assert plan.count("FileScan") == 3, plan
