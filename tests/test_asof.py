"""As-of join: oracle parity vs pandas.merge_asof + zero-leakage audits."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from monotonic_optimal_binning_spark.operators.asof import (
    asof_join,
    asof_join_bucketed,
)


def make_frames(seed=0, n_left=400, n_right=300, n_keys=20):
    rng = np.random.default_rng(seed)
    left = pd.DataFrame(
        {
            "k": rng.integers(0, n_keys, n_left),
            "ts": rng.uniform(0, 1000, n_left).round(3),
            "payload": rng.normal(size=n_left),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.integers(0, n_keys, n_right),
            "ts": rng.uniform(0, 1000, n_right).round(3),
            "v": rng.uniform(0, 100, n_right).round(4),
        }
    )
    return left, right


def pandas_asof(left, right, direction="backward", allow_exact=True, tolerance=None):
    kw = {}
    if tolerance is not None:
        kw["tolerance"] = tolerance
    return pd.merge_asof(
        left.sort_values(["ts", "k"]).reset_index(drop=True),
        right.sort_values(["ts", "k"]).reset_index(drop=True),
        on="ts",
        by="k",
        direction=direction,
        allow_exact_matches=allow_exact,
        **kw,
    )


def compare(spark_result, pdf_expected):
    got = (
        spark_result.toPandas()
        .sort_values(["k", "ts", "payload"])
        .reset_index(drop=True)
    )
    exp = pdf_expected.sort_values(["k", "ts", "payload"]).reset_index(drop=True)
    np.testing.assert_allclose(
        got["v"].to_numpy(dtype=float),
        exp["v"].to_numpy(dtype=float),
        rtol=1e-12,
        equal_nan=True,
    )


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("allow_exact", [True, False])
def test_matches_pandas_merge_asof(spark, direction, allow_exact):
    left, right = make_frames()
    # force exact-timestamp collisions to exercise the tie rule
    left.loc[:30, "ts"] = right.loc[:30, "ts"].to_numpy()
    left.loc[:30, "k"] = right.loc[:30, "k"].to_numpy()
    res = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on="k",
        left_ts="ts",
        value_cols=["v"],
        direction=direction,
        allow_exact_matches=allow_exact,
    )
    compare(res, pandas_asof(left, right, direction, allow_exact))


def test_tolerance(spark):
    left, right = make_frames(seed=3)
    res = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on="k",
        left_ts="ts",
        value_cols=["v"],
        tolerance=25.0,
    )
    compare(res, pandas_asof(left, right, tolerance=25.0))


def test_zero_temporal_leakage(spark):
    """Every matched right timestamp must be <= the left timestamp."""
    left, right = make_frames(seed=7)
    res = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on="k",
        left_ts="ts",
        value_cols=["v"],
        include_matched_ts="matched_ts",
    ).toPandas()
    matched = res.dropna(subset=["matched_ts"])
    assert (matched["matched_ts"] <= matched["ts"] + 1e-9).all()
    # and the match is the LATEST eligible one
    for _, row in matched.head(50).iterrows():
        eligible = right[(right["k"] == row["k"]) & (right["ts"] <= row["ts"])]
        assert row["matched_ts"] == pytest.approx(eligible["ts"].max())


def test_bucketed_matches_plain(spark):
    """asof_join_bucketed returns asof_join's rows, in count and value
    (compared Spark-side: toPandas() folds NULL and NaN together), on
    null and NaN event times on both sides, null keys, null right values
    (the newest right row of an earlier bucket among them: plain skips
    it for the older non-null value), and exact ties under both
    allow_exact_matches values, for buckets below and above the event
    spacing."""
    nan = float("nan")
    left, right = make_frames(seed=11)
    left.loc[:30, "ts"] = right.loc[:30, "ts"].to_numpy()   # exact ties
    left.loc[:30, "k"] = right.loc[:30, "k"].to_numpy()
    right.loc[right.index % 5 == 0, "v"] = None
    lrows = left.astype(object).values.tolist() + [
        (1, None, 0.5), (None, 500.0, 0.25), (101, nan, 0.75),
        (100, 60.0, 0.125),
    ]
    rrows = right.astype(object).where(right.notna(), None).values.tolist() + [
        (1, None, 99.0), (None, 400.0, 3.0), (101, nan, 8.0),
        (101, 20.0, 6.0), (100, 10.0, 5.0), (100, 40.0, None),
    ]
    sl = spark.createDataFrame(lrows, "k long, ts double, payload double")
    sr = spark.createDataFrame(rrows, "k long, ts double, v double")
    for exact in (True, False):
        plain = asof_join(
            sl, sr, on="k", left_ts="ts", value_cols=["v"],
            allow_exact_matches=exact,
        )
        assert plain.filter("k = 100").first()["v"] == 5.0
        for bucket in (50.0, 5000.0):
            bucketed = asof_join_bucketed(
                sl, sr, on="k", left_ts="ts", value_cols=["v"],
                bucket_seconds=bucket, allow_exact_matches=exact,
            )
            label = (exact, bucket)
            assert bucketed.columns == plain.columns, label
            assert bucketed.count() == plain.count() == len(lrows), label
            assert bucketed.exceptAll(plain).count() == 0, label
            assert plain.exceptAll(bucketed).count() == 0, label


def test_bucketed_carry_across_many_empty_buckets(spark):
    """Right row far in the past must still match (carry-in chains)."""
    left = pd.DataFrame({"k": [1, 1], "ts": [1000.0, 2000.0], "payload": [0.0, 0.0]})
    right = pd.DataFrame({"k": [1], "ts": [5.0], "v": [42.0]})
    res = asof_join_bucketed(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on="k",
        left_ts="ts",
        value_cols=["v"],
        bucket_seconds=10.0,
    ).toPandas()
    assert res["v"].tolist() == [42.0, 42.0]


@pytest.mark.parametrize(
    "join", ["asof_join", "asof_join_bucketed", "asof_join_broadcast"]
)
def test_column_collision_raises(spark, join):
    """Every as-of form refuses an output name that collides with a left
    column (the preamble they share)."""
    from monotonic_optimal_binning_spark.operators import asof

    left, right = make_frames()
    right = right.rename(columns={"v": "payload"})
    kw = {"bucket_seconds": 50.0} if join == "asof_join_bucketed" else {}
    with pytest.raises(ValueError, match="collides"):
        getattr(asof, join)(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            on="k",
            left_ts="ts",
            value_cols=["payload"],
            **kw,
        )


def test_range_join_matches_naive(spark):
    """Bucketed range join must equal the naive BETWEEN cross-join filter,
    for every closed mode and regardless of bucket width."""
    from monotonic_optimal_binning_spark.operators.asof import range_join

    rng = np.random.default_rng(3)
    pts = pd.DataFrame(
        {"pid": range(200), "v": rng.uniform(0, 100, 200).round(2)}
    )
    lo = rng.uniform(0, 90, 30).round(2)
    ivs = pd.DataFrame(
        {"iid": range(30), "lo": lo, "hi": (lo + rng.uniform(0, 25, 30)).round(2)}
    )
    sp, si = spark.createDataFrame(pts), spark.createDataFrame(ivs)

    ops = {
        "both": lambda v, a, b: (v >= a) & (v <= b),
        "left": lambda v, a, b: (v >= a) & (v < b),
        "right": lambda v, a, b: (v > a) & (v <= b),
        "neither": lambda v, a, b: (v > a) & (v < b),
    }
    cross = pts.merge(ivs, how="cross")
    for closed, op in ops.items():
        for bw in (5.0, 50.0):
            got = (
                range_join(sp, si, "v", "lo", "hi", bucket_width=bw, closed=closed)
                .select("pid", "iid")
                .toPandas()
                .sort_values(["pid", "iid"])
                .reset_index(drop=True)
            )
            exp = (
                cross[op(cross["v"], cross["lo"], cross["hi"])][["pid", "iid"]]
                .sort_values(["pid", "iid"])
                .reset_index(drop=True)
            )
            pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_range_join_keyed_and_guards(spark):
    from monotonic_optimal_binning_spark.operators.asof import range_join

    pts = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2], "v": [5.0, 15.0, 5.0], "pid": [1, 2, 3]})
    )
    ivs = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2], "lo": [0.0, 10.0], "hi": [10.0, 20.0], "iid": [10, 20]})
    )
    got = (
        range_join(pts, ivs, "v", "lo", "hi", keys=["k"], bucket_width=10.0)
        .select("pid", "iid")
        .toPandas()
    )
    # k=1: v=5 in [0,10] only; k=2: v=5 not in [10,20]
    assert sorted(map(tuple, got.values.tolist())) == [(1, 10)]

    with pytest.raises(ValueError, match="bucket_width"):
        range_join(pts, ivs, "v", "lo", "hi", keys=["k"], bucket_width=0)
    with pytest.raises(ValueError, match="closed"):
        range_join(pts, ivs, "v", "lo", "hi", keys=["k"], bucket_width=1, closed="x")


def test_range_join_negative_values(spark):
    from monotonic_optimal_binning_spark.operators.asof import range_join

    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2, 3], "v": [-15.0, -5.0, 5.0]})
    )
    ivs = spark.createDataFrame(
        pd.DataFrame({"iid": [1, 2], "lo": [-20.0, -10.0], "hi": [-10.0, 10.0]})
    )
    got = sorted(
        map(tuple, range_join(pts, ivs, "v", "lo", "hi", bucket_width=7.0)
            .select("pid", "iid").toPandas().values.tolist())
    )
    # -15 in [-20,-10]; -5 in [-10,10]; 5 in [-10,10]; -10 boundary not hit
    assert got == [(1, 1), (2, 2), (3, 2)]


def test_asof_broadcast_matches_window_plan(spark):
    """asof_join_broadcast must equal asof_join(direction='backward') on
    mixed payload types (double + string + long), including no-match
    nulls, exact-match toggling, unknown keys, and null left timestamps
    — while never shuffling the left side."""
    import numpy as np
    import pandas as pd

    from monotonic_optimal_binning_spark.operators.asof import (
        asof_join,
        asof_join_broadcast,
    )

    rng = np.random.default_rng(9)
    n_l, n_r = 500, 60
    left = pd.DataFrame(
        {
            "k": rng.integers(0, 8, n_l),          # key 7 absent on right
            "ts": np.round(rng.uniform(0, 100, n_l), 3),
            "eid": np.arange(n_l),
        }
    )
    left.loc[::50, "ts"] = np.nan                  # null left timestamps
    right = pd.DataFrame(
        {
            "k": rng.integers(0, 7, n_r),
            "ts": np.round(rng.uniform(0, 100, n_r), 3),
            "v": np.round(rng.uniform(0, 10, n_r), 2),
            "tag": [f"t{i}" for i in range(n_r)],
            "m": rng.integers(0, 1000, n_r),
        }
    )
    # force one exact-ts collision between sides to exercise the toggle
    # (left row 1 — row 0's ts is nulled above)
    right.loc[0, ["k", "ts"]] = [left.loc[1, "k"], left.loc[1, "ts"]]
    right.loc[1, "ts"] = np.nan                    # null right event time
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)

    for exact in (True, False):
        want = (
            asof_join(
                ldf, rdf, on="k", left_ts="ts", value_cols=["v", "tag", "m"],
                right_prefix="r_", allow_exact_matches=exact,
            )
            .toPandas().sort_values("eid").reset_index(drop=True)
        )
        got = (
            asof_join_broadcast(
                ldf, rdf, on="k", left_ts="ts", value_cols=["v", "tag", "m"],
                right_prefix="r_", allow_exact_matches=exact,
            )
            .toPandas().sort_values("eid").reset_index(drop=True)
        )
        np.testing.assert_allclose(
            got["r_v"].to_numpy(float), want["r_v"].to_numpy(float),
            equal_nan=True, err_msg=str(exact),
        )
        assert got["r_tag"].where(got["r_tag"].notna(), None).tolist() == \
            want["r_tag"].where(want["r_tag"].notna(), None).tolist()
        np.testing.assert_array_equal(
            got["r_m"].to_numpy(float), want["r_m"].to_numpy(float)
        )
    # native types preserved on the broadcast path
    out = asof_join_broadcast(
        ldf, rdf, on="k", left_ts="ts", value_cols=["tag", "m"],
        right_prefix="r_",
    )
    assert str(out.schema["r_tag"].dataType) == "StringType()"
    assert str(out.schema["r_m"].dataType) == "LongType()"


def test_asof_broadcast_guards_large_right(spark):
    import pytest

    from monotonic_optimal_binning_spark.operators.asof import (
        asof_join_broadcast,
    )

    left = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1.0).alias("ts")
    )
    right = spark.range(100).select(
        F.col("id").alias("k"), F.lit(0.5).alias("ts"),
        F.lit(1.0).alias("v"),
    )
    with pytest.raises(ValueError, match="max_rows"):
        asof_join_broadcast(
            left, right, on="k", left_ts="ts", value_cols=["v"], max_rows=50
        )
    with pytest.raises(ValueError, match="max_bytes"):
        asof_join_broadcast(
            left, right, on="k", left_ts="ts", value_cols=["v"],
            max_bytes=100,
        )


def test_asof_broadcast_preserves_big_int64_with_nulls(spark):
    """A NULLABLE bigint value column above 2^53 must come through exactly:
    plain toPandas would widen it to float64 and silently round it."""
    from monotonic_optimal_binning_spark.operators.asof import (
        asof_join_broadcast,
    )

    big = (1 << 60) + 12345  # not representable in float64
    left = spark.createDataFrame(
        [(1, 10.0, 0), (1, 20.0, 1), (2, 10.0, 2)], "k long, ts double, eid long"
    )
    right = spark.createDataFrame(
        [(1, 5.0, big), (1, 15.0, None), (2, 50.0, big + 1)],
        "k long, ts double, v long",
    )
    out = {
        r["eid"]: r["r_v"]
        for r in asof_join_broadcast(
            left, right, on="k", left_ts="ts", value_cols=["v"],
            right_prefix="r_",
        ).collect()
    }
    assert out[0] == big          # exact, not float-rounded
    assert out[1] is None         # null right value carried through
    assert out[2] is None         # right ts after left ts -> no match


def test_asof_null_event_times_match_nothing_both_directions(spark):
    """Null event times match NOTHING: a null-ts right row is dropped
    (NULLS FIRST would otherwise leak it into every backward match) and
    a null-ts left row gets null values — including in forward mode,
    where it previously grabbed the earliest right row."""
    import pandas as pd

    from monotonic_optimal_binning_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1], "ts": [None, 5.0], "eid": [0, 1]}),
        "k long, ts double, eid long",
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1], "ts": [None, 3.0], "v": [99.0, 7.0]}),
        "k long, ts double, v double",
    )
    for direction, want in (("backward", 7.0), ("forward", None)):
        got = (
            asof_join(
                left, right, on="k", left_ts="ts", value_cols=["v"],
                right_prefix="r_", direction=direction,
            )
            .toPandas().sort_values("eid").reset_index(drop=True)
        )
        assert pd.isna(got.loc[0, "r_v"]), direction  # null-ts left
        if want is None:
            assert pd.isna(got.loc[1, "r_v"]), direction  # no later right
        else:
            assert got.loc[1, "r_v"] == want, direction  # never 99.0
