"""Spark-side equivalence of every compiled serving lookup with its
pandas twin (``assign_batch`` / ``predict_batch``).

Rows are compared as ``(isNull, isnan, value)`` read inside Spark, never
through ``toPandas()`` (which folds NULL and NaN together): a missing
numeric output must be NULL, not NaN, and every other value bit-identical
to the pandas answer with its NaN mapped to NULL.
"""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from monotonic_optimal_binning_spark import (
    BinningConstraints,
    SparkMonotonicBinner,
    fit_binners_per_group,
)
from monotonic_optimal_binning_spark.functions.lookup import (
    literal,
    name,
    step_sql,
)
from monotonic_optimal_binning_spark.operators.binning import FittedBins
from monotonic_optimal_binning_spark.operators.calibration import (
    isotonic_calibrate,
    isotonic_calibrate_grouped,
)
from monotonic_optimal_binning_spark.operators.categorical import (
    MISSING,
    OTHER,
    CatBins,
    fit_categorical_woe,
)
from monotonic_optimal_binning_spark.scorecard import Scorecard
from monotonic_optimal_binning_spark.streaming.sessions import (
    streaming_woe_lookup,
)

EXCLUDED = 7.0
SPECIALS = [None, math.nan, math.inf, -math.inf, -0.0, 0.0, EXCLUDED]


def _key(v):
    """Bit-exact comparison key of one served value, NaN mapped to NULL."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return (True, False, None)
    if isinstance(v, float):
        return (False, False, v.hex())
    return (False, False, v)


def _served(df, out):
    """``(isNull, isnan, value)`` of column ``out`` per row id, in Spark."""
    c = F.col(out)
    nan = (
        F.isnan(c)
        if dict(df.dtypes)[out] == "double"
        else F.lit(False)
    )
    rows = df.select(
        "id", c.isNull().alias("n"), F.coalesce(nan, F.lit(False)).alias("nan"), c
    ).collect()
    got = {}
    for r in rows:
        v = r[out]
        got[r["id"]] = (r["n"], r["nan"], v.hex() if isinstance(v, float) else v)
    return got


def _expected(ids, values):
    return {i: _key(v) for i, v in zip(ids, values)}


@pytest.fixture(scope="module")
def fitted(spark):
    rng = np.random.default_rng(5)
    n = 800
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["a", "b", "c"], n),
            "x": rng.normal(10, 4, n).round(1),
            "y": rng.integers(0, 2, n).astype(float),
        }
    )
    # group 'c' has a continuous target -> no WoE
    pdf.loc[pdf["g"] == "c", "y"] = rng.normal(size=(pdf["g"] == "c").sum())
    cons = BinningConstraints(max_bins=5, min_bins=2)
    single = SparkMonotonicBinner(
        "x", "y", exclude_values=[EXCLUDED], constraints=cons
    ).fit(spark.createDataFrame(pdf[pdf["g"] != "c"][["x", "y"]]))
    grouped = fit_binners_per_group(
        spark.createDataFrame(pdf), "g", "x", "y", constraints=cons,
        exclude_values=[EXCLUDED],
    )
    return pdf, single.model_, grouped


def _probe(model, extra=()):
    """Edge inputs: specials, every bin edge, interior points."""
    edges = [float(e) for e in model.rights[:-1]] + [float(e) for e in model.lefts[1:]]
    inside = [float(e) + 0.05 for e in edges] + [float(e) - 0.05 for e in edges]
    return SPECIALS + edges + inside + list(extra)


def _frame(spark, xs, gs=None):
    xs = [None if v is None else float(v) for v in xs]
    if gs is None:
        return spark.createDataFrame(list(enumerate(xs)), "id long, x double")
    gs = [None if g is None else str(g) for g in gs]
    return spark.createDataFrame(
        [(i, x, g) for i, (x, g) in enumerate(zip(xs, gs))],
        "id long, x double, g string",
    )


@pytest.mark.parametrize("assign", ["woe", "left", "right", "interval"])
def test_fitted_bins_transform_equals_assign_batch(spark, fitted, assign):
    _, model, _ = fitted
    xs = _probe(model)
    sdf = _frame(spark, xs)
    out = model.transform(sdf, assign=assign, output_col="o")
    want = model.assign_batch(pd.Series(xs, dtype=float), assign)
    assert _served(out, "o") == _expected(range(len(xs)), list(want))


@pytest.mark.parametrize("assign", ["woe", "left", "right", "interval"])
def test_grouped_bins_transform_equals_assign_batch(spark, fitted, assign):
    _, _, grouped = fitted
    xs, gs = [], []
    for g in ["a", "b", "c", "zzz", None]:
        probe = _probe(grouped[g] if g in ("a", "b", "c") else grouped["a"])
        xs += probe
        gs += [g] * len(probe)
    sdf = _frame(spark, xs, gs)
    out = grouped.transform(sdf, assign=assign, output_col="o")
    want = []
    for x, g in zip(xs, gs):
        m = grouped.models.get(g)
        if m is None or (assign == "woe" and m.woes is None):
            want.append(None)  # unseen/null group, or no WoE: NULL
        else:
            want.append(m.assign_batch(pd.Series([x], dtype=float), assign)[0])
    assert _served(out, "o") == _expected(range(len(xs)), want)


def test_empty_and_single_distinct_inputs(spark, fitted):
    _, model, grouped = fitted
    empty = _frame(spark, [])
    for assign in ("woe", "interval"):
        assert model.transform(empty, assign=assign).count() == 0
    assert grouped.transform(_frame(spark, [], []), assign="woe").count() == 0
    # a one-bin model over a one-value column: the tree is a lone leaf
    one = FittedBins.from_cuts("x", [], [0.25])
    sdf = _frame(spark, [3.0] * 4)
    for assign in ("woe", "left", "right", "interval"):
        out = one.transform(sdf, assign=assign, output_col="o")
        want = one.assign_batch(pd.Series([3.0] * 4), assign)
        assert _served(out, "o") == _expected(range(4), list(want))


def test_large_models_equal_assign_batch(spark):
    """A 4096-cut from_cuts model (one 4097-leaf tree) and a 200-group
    model serve the pandas answer."""
    rng = np.random.default_rng(2)
    cuts = np.sort(rng.choice(np.arange(100_000), 4096, replace=False)) / 10.0
    woes = rng.normal(size=len(cuts) + 1)
    woes[17] = np.nan  # a NaN leaf serves NULL
    big = FittedBins.from_cuts(
        "x", list(cuts), list(woes), exclude_values=[float(cuts[3])]
    )
    xs = SPECIALS + list(cuts[::7]) + list(rng.uniform(-10, 10_010, 400))
    sdf = _frame(spark, xs)
    for assign in ("woe", "interval"):
        out = big.transform(sdf, assign=assign, output_col="o")
        want = big.assign_batch(pd.Series(xs, dtype=float), assign)
        assert _served(out, "o") == _expected(range(len(xs)), list(want))

    models = {
        f"g{i:03d}": FittedBins.from_cuts(
            "x", sorted(rng.choice(100, 4, replace=False).astype(float)),
            list(rng.normal(size=5)),
        )
        for i in range(200)
    }
    from monotonic_optimal_binning_spark.operators.binning import GroupedBins

    gb = GroupedBins("g", "x", "y", models)
    gs = list(rng.choice(list(models) + ["unseen"], 600))
    xs = list(rng.uniform(-5, 105, 600))
    out = gb.transform(_frame(spark, xs, gs), assign="woe", output_col="o")
    want = [
        models[g].assign_batch(pd.Series([x]), "woe")[0] if g in models else None
        for x, g in zip(xs, gs)
    ]
    assert _served(out, "o") == _expected(range(len(xs)), want)


@pytest.mark.parametrize(
    "dtype, xs",
    [
        ("long", [7, 0, 3, -2]),
        ("int", [7, 0, 3]),
        ("double", [7.0, 1e-05, 1e20, -0.0, 0.0, 3.5]),
        ("float", [7.0, 1e-05, 1e20, -0.0, 3.5]),
    ],
)
def test_excluded_labels_follow_input_dtype(spark, dtype, xs):
    """``Excluded:{v}`` prints the raw input the way assign_batch does
    for that column dtype (``7`` for ints, ``1e-05`` not Spark's
    ``1.0E-5`` for doubles)."""
    model = FittedBins.from_cuts(
        "x", [1.0, 5.0], [0.1, 0.2, 0.3],
        exclude_values=[7, 7.0, 1e-05, 1e20, -0.0],
    )
    np_dtype = {"long": "int64", "int": "int32", "double": "float64",
                "float": "float32"}[dtype]
    sdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(xs)], f"id long, x {dtype}"
    )
    out = model.transform(sdf, assign="interval", output_col="o")
    want = model.assign_batch(pd.Series(xs, dtype=np_dtype), "interval")
    assert _served(out, "o") == _expected(range(len(xs)), list(want))
    if dtype == "double":
        assert "Excluded:1e-05" in list(want)


def test_scorecard_points_equal_pandas_scoring(spark, fitted):
    pdf, model, _ = fitted
    card = Scorecard({"x": model}, intercept=0.3)
    xs = _probe(model)
    sdf = _frame(spark, xs)
    out = card.transform(sdf, keep_feature_points=True)
    woe = np.nan_to_num(
        model.assign_batch(pd.Series(xs, dtype=float), "woe").to_numpy(), nan=0.0
    )
    pts = card._points_of_woe("x", woe)
    assert _served(out, "x_points") == _expected(range(len(xs)), list(pts))
    assert {r["id"]: r["score"] for r in out.select("id", "score").collect()} == {
        i: int(p) for i, p in enumerate(pts)
    }
    reasons = card.reason_codes(sdf, top_k=1).select("id", "reasons").collect()
    best = card.best_points("x")
    assert {r["id"]: r["reasons"] for r in reasons} == {
        i: (["x"] if p < best else []) for i, p in enumerate(pts)
    }


@pytest.mark.parametrize("prebins", ["exact", 16])
def test_calibration_equals_predict_batch(spark, prebins):
    rng = np.random.default_rng(8)
    s = rng.uniform(0, 1, 3000).round(3)
    y = (rng.uniform(size=3000) < s).astype(float)
    fit = spark.createDataFrame(
        pd.DataFrame({"s": s, "y": y, "g": rng.choice(["u", "v"], 3000)})
    )
    cal = isotonic_calibrate(fit, "s", "y", prebins=prebins)
    gcal = isotonic_calibrate_grouped(fit, "s", "y", "g", prebins=prebins)
    cut_pts = list(cal.cuts) if cal.cuts is not None else []
    xs = SPECIALS + list(cal.bounds) + cut_pts + list(rng.uniform(-0.5, 1.5, 300))
    gs = list(rng.choice(["u", "v", "w"], len(xs)))
    gs[0:3] = [None, "u", "v"]
    sdf = _frame(spark, xs, gs)
    out = cal.transform(sdf, input_col="x", output_col="o")
    want = cal.predict_batch(pd.Series(xs, dtype=float))
    assert _served(out, "o") == _expected(range(len(xs)), list(want))
    gout = gcal.transform(sdf, input_col="x", output_col="o", group_col="g")
    gwant = [
        gcal.models[g].predict_batch(pd.Series([x], dtype=float))[0]
        if g in gcal.models else None
        for x, g in zip(xs, gs)
    ]
    assert _served(gout, "o") == _expected(range(len(xs)), gwant)


def test_categorical_lookup_seen_unseen_missing(spark):
    rng = np.random.default_rng(4)
    cats = rng.choice(["web", "books", "code", "it's", "a\\b", "rare"], 900,
                      p=[0.3, 0.3, 0.2, 0.1, 0.095, 0.005])
    fit = spark.createDataFrame(
        pd.DataFrame({"c": list(cats) + [None] * 30,
                      "y": rng.integers(0, 2, 930)})
    )
    enc = fit_categorical_woe(fit, "c", "y", min_samples=10)
    assert "rare" not in enc.woes  # pooled into __other__
    probe = ["web", "it's", "a\\b", "rare", "never-seen", None, OTHER, MISSING]
    sdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(probe)], "id long, c string"
    )
    out = enc.transform(sdf, output_col="o")
    want = []
    for v in probe:
        if v is None:
            want.append(enc.woes.get(MISSING))
        else:
            want.append(enc.woes.get(v, enc.woes[OTHER]))
    assert _served(out, "o") == _expected(range(len(probe)), want)


def test_categorical_lookup_nan_woe_int_input_many_categories(spark):
    """A NaN-WoE category serves the __other__ WoE, a non-string input is
    read as a string, and 10k categories serve by the same hash join."""
    cats = [str(i) for i in range(10_000)]
    woes = {c: float(i) / 1000 for i, c in enumerate(cats)}
    woes.update({"7": math.nan, OTHER: -1.5, MISSING: 2.5})
    zero = dict.fromkeys(woes, 0)
    enc = CatBins("c", "y", woes, zero, zero, zero, 0.5)
    probe = [0, 7, 9_999, 10_000, None, 3]
    sdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(probe)], "id long, c int"
    )
    out = enc.transform(sdf, output_col="o")
    assert out.columns == ["id", "c", "o"]
    assert _served(out, "o") == _expected(
        range(len(probe)), [0.0, -1.5, 9.999, -1.5, 2.5, 0.003]
    )


def test_step_sql_nan_reads_last_value(spark):
    """numpy's searchsorted puts NaN past every edge; so does the tree."""
    sql = step_sql("x", [1.0, 2.0], [10.0, 20.0, 30.0])
    sdf = _frame(spark, [math.nan, 0.0, 1.0, math.inf, -math.inf])
    out = sdf.select("id", F.expr(sql).alias("o"))
    assert _served(out, "o") == _expected(range(5), [30.0, 10.0, 20.0, 30.0, 10.0])


def test_streaming_woe_lookup_equals_transform(spark, fitted):
    _, model, _ = fitted
    xs = _probe(model)
    sdf = _frame(spark, xs)
    out = streaming_woe_lookup(sdf, model, "x")
    want = model.assign_batch(pd.Series(xs, dtype=float), "woe")
    assert _served(out, "x_woe") == _expected(range(len(xs)), list(want))


def test_equal_leaves_collapse_and_names_quote():
    # edges between bit-identical leaves go; -0.0 and 0.0 stay apart
    sql = step_sql("x", [1.0, 2.0, 3.0], [0.5, 0.5, -0.0, 0.0])
    assert sql.count("CASE WHEN") == 2 and "1.0D" not in sql
    assert step_sql("x", [1.0], [math.nan, None]) == "CAST(NULL AS double)"
    assert name("x") == "`x`"
    assert name("a.b") == "`a`.`b`"
    assert name("`a.b`") == "`a.b`"
    assert name("my col") == "`my col`"


def test_literals_parse_back_exactly(spark):
    """Values and group keys survive the SQL text round trip bit-exactly
    (shortest-repr doubles, signed zero, infinities, escaped strings)."""
    import datetime
    import decimal

    vals = [1.5, -0.0, 1e-05, 1e20, -2.5e-300, math.inf, -math.inf, 3,
            2**40, True, "it's a \\ b", decimal.Decimal("1.25"),
            datetime.date(2024, 1, 2), datetime.datetime(2024, 1, 2, 3, 4, 5)]
    row = spark.range(1).select(
        *[F.expr(literal(v)).alias(f"c{i}") for i, v in enumerate(vals)]
    ).first()
    for i, v in enumerate(vals):
        got = row[f"c{i}"]
        assert got == v and type(got) is type(v), (v, got)
        if isinstance(v, float):
            assert got.hex() == v.hex()
    nulls = spark.range(1).select(
        F.expr(literal(math.nan, "double")).alias("d"),
        F.expr(literal(None, "string")).alias("s"),
    )
    assert nulls.dtypes == [("d", "double"), ("s", "string")]
    assert nulls.first() == (None, None)
