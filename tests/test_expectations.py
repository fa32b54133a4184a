"""Declarative one-scan expectations (operators/expectations.py)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from monotonic_optimal_binning_spark.operators.expectations import (
    Expectation,
    expect_between,
    expect_in_set,
    expect_not_null,
    expect_regex,
    expect_row_count,
    expect_stat,
    expect_unique,
    load_suite,
    referential_check,
    run_checks,
    save_suite,
)


@pytest.fixture()
def table(spark):
    pdf = pd.DataFrame(
        {
            "id": np.arange(100),
            "code": ["A", "B", "C", "D"] * 25,
            "v": np.arange(100, dtype="float64"),
        }
    )
    pdf.loc[pdf.index % 10 == 0, "code"] = None  # 10 nulls
    return spark.createDataFrame(pdf).repartition(4)


def _by_name(rows):
    return {r["name"]: r for r in rows}


def test_ratio_kinds(table):
    got = _by_name(
        run_checks(
            table,
            [
                expect_not_null("code", min_ratio=0.85),
                expect_not_null("code", min_ratio=0.95, name="strict"),
                expect_in_set("code", ["A", "B", "C", "D"]),
                expect_in_set("code", ["A", "B"], name="half"),
                expect_between("v", 0, 49, min_ratio=0.5),
                expect_regex("code", "^[ABC]$", min_ratio=0.7),
            ],
        ).collect()
    )
    assert got["not_null(code)"]["observed"] == 0.9
    assert got["not_null(code)"]["passed"]
    assert not got["strict"]["passed"]
    # set/range/regex ratios are over NON-NULL rows
    assert got["in_set(code)"]["observed"] == 1.0
    assert abs(got["half"]["observed"] - 45 / 90) < 1e-12
    assert got["between(v)"]["observed"] == 0.5
    assert got["between(v)"]["passed"]
    # nulls hit 5 A's and 5 C's (index%10==0, letter=index%4): 65 ABC left
    assert abs(got["regex(code)"]["observed"] - 65 / 90) < 1e-12
    assert got["regex(code)"]["passed"]


def test_unique_rowcount_stat(table):
    dup = table.union(table.limit(10))
    got = _by_name(
        run_checks(
            dup,
            [
                expect_unique("id"),
                expect_unique(["id", "code"], name="pair"),
                expect_row_count(lo=100, hi=200),
                expect_stat("v", "mean", lo=40, hi=60),
                expect_stat("v", "max", hi=99),
            ],
        ).collect()
    )
    assert abs(got["unique(id)"]["observed"] - 100 / 110) < 1e-12
    assert not got["unique(id)"]["passed"]
    assert not got["pair"]["passed"]
    assert got["row_count"]["observed"] == 110.0
    assert got["row_count"]["passed"]
    assert got["mean(v)"]["passed"]
    assert got["max(v)"]["passed"]


def test_approx_unique_same_scan(table):
    got = _by_name(
        run_checks(
            table, [expect_unique("id", min_ratio=0.9, exact=False)]
        ).collect()
    )
    # HLL estimate of 100 distinct / 100 rows is within a few percent
    assert got["unique(id)"]["observed"] > 0.9
    assert got["unique(id)"]["passed"]


def test_empty_input_is_vacuous(spark):
    df = spark.createDataFrame([], "id long, v double")
    got = _by_name(
        run_checks(
            df,
            [
                expect_not_null("v"),
                expect_unique("id"),
                expect_row_count(lo=1),
                expect_stat("v", "mean", lo=0),
                expect_stat("v", "mean", name="unbounded"),
            ],
        ).collect()
    )
    assert got["not_null(v)"]["observed"] == 1.0 and got["not_null(v)"]["passed"]
    assert got["unique(id)"]["passed"]
    assert got["row_count"]["observed"] == 0.0 and not got["row_count"]["passed"]
    # a bounded stat over zero rows cannot attest...
    assert got["mean(v)"]["observed"] is None and not got["mean(v)"]["passed"]
    # ...but an unbounded one cannot be violated either
    assert got["unbounded"]["observed"] is None and got["unbounded"]["passed"]


def test_one_scan_plan(spark, tmp_path):
    """Every row-level expectation folds into ONE scan of the input (the
    exact-unique Expand rewrite still reads the relation once)."""
    p = str(tmp_path / "t")
    spark.range(1000).withColumn("v", F.rand(7)).write.parquet(p)
    df = spark.read.parquet(p)
    out = run_checks(
        df,
        [
            expect_not_null("v"),
            expect_between("v", 0, 1),
            expect_unique("id"),
            expect_stat("v", "mean", lo=0, hi=1),
            expect_row_count(lo=1),
        ],
    )
    assert out.count() == 5  # runs fine; plan check on the agg itself
    plan = (
        df.agg(F.count(F.lit(1)), F.countDistinct("id"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1


def test_validation_errors(table):
    with pytest.raises(ValueError, match="missing column"):
        run_checks(table, [expect_not_null("nope")])
    with pytest.raises(ValueError, match="duplicate expectation name"):
        run_checks(table, [expect_not_null("v"), expect_not_null("v")])
    with pytest.raises(ValueError, match="no expectations"):
        run_checks(table, [])
    with pytest.raises(ValueError, match="unknown stat"):
        expect_stat("v", "median")


def test_referential_check(spark, table):
    ref = spark.createDataFrame(
        pd.DataFrame({"k": ["A", "B", "C"]})
    )
    out = referential_check(table, "code", ref, "k").collect()[0]
    assert out["observed"] == 25.0  # the D rows; nulls don't count
    assert not out["passed"]
    ok = referential_check(
        table, "code", ref, "k", max_violations=25
    ).collect()[0]
    assert ok["passed"]


def test_suite_round_trip(tmp_path, table):
    exps = [
        expect_not_null("code", 0.8),
        expect_in_set("code", ["A", "B", "C", "D"]),
        expect_unique(["id", "code"], exact=False),
        expect_row_count(lo=10),
        expect_stat("v", "stddev", hi=100),
        # one-sided ranges: an open bound is None, not an infinite float
        # strict JSON could not save
        expect_between("v", lo=90, min_ratio=0.0, name="v>=90"),
        expect_between("v", hi=9, min_ratio=0.0, name="v<=9"),
        # no bound at all: every non-null value is inside, NULLs are not
        expect_between("code", min_ratio=0.0, name="code any"),
    ]
    p = str(tmp_path / "suite.json")
    save_suite(exps, p)
    loaded = load_suite(p)
    assert [e.to_dict() for e in loaded] == [e.to_dict() for e in exps]
    a = run_checks(table, exps).collect()
    b = run_checks(table, loaded).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    got = _by_name(b)
    assert got["v>=90"]["observed"] == 0.1
    assert got["v<=9"]["observed"] == 0.1
    assert got["code any"]["observed"] == 1.0


def test_expect_job_end_to_end(spark, tmp_path):
    """Contract-gate job: JSON suite -> one-scan verdict stage; --strict
    exits 2 on violation; resume replays the stage."""
    import json as _json
    import os

    from monotonic_optimal_binning_spark.jobs import main

    src = str(tmp_path / "t.parquet")
    pdf = pd.DataFrame({"id": range(50), "v": [float(i) for i in range(50)]})
    spark.createDataFrame(pdf).write.parquet(src)
    suite = str(tmp_path / "suite.json")
    save_suite(
        [
            expect_not_null("v"),
            expect_unique("id"),
            expect_row_count(lo=10, hi=100),
            expect_stat("v", "max", hi=10.0, name="fails"),
        ],
        suite,
    )
    import glob

    wd = str(tmp_path / "run")
    main(["expect", "--input", src, "--workdir", wd, "--suite", suite])
    stage = glob.glob(os.path.join(wd, "stage_expect_*"))[0]
    out = spark.read.parquet(os.path.join(stage, "data"))
    rows = {r["name"]: r for r in out.collect()}
    assert len(rows) == 4
    assert rows["fails"]["passed"] is False
    assert all(r["passed"] for n, r in rows.items() if n != "fails")
    with open(os.path.join(stage, "_MANIFEST.json")) as f:
        man = _json.load(f)
    assert man["extra_metrics"]["failed_expectations"] == ["fails"]

    with pytest.raises(SystemExit) as exc:
        main(["expect", "--input", src, "--workdir", wd, "--suite", suite,
              "--strict"])
    assert exc.value.code == 2

    # the GATE must never reuse another ingest's verdict: a new --input
    # in the same workdir gets a fresh stage dir and re-evaluates
    src2 = str(tmp_path / "t2.parquet")
    spark.createDataFrame(
        pd.DataFrame({"id": [1, 1, 2], "v": [1.0, 2.0, 3.0]})
    ).write.parquet(src2)
    suite2 = str(tmp_path / "suite2.json")
    save_suite([expect_unique("id")], suite2)
    with pytest.raises(SystemExit) as exc2:
        main(["expect", "--input", src2, "--workdir", wd,
              "--suite", suite2, "--strict"])
    assert exc2.value.code == 2
    assert len(glob.glob(os.path.join(wd, "stage_expect_*"))) == 2


def test_expect_job_inplace_rewrite_regates(spark, tmp_path):
    """Path identity is not ingest identity: rewriting the SAME path with
    new data must produce a fresh gate stage (content-keyed gate_key), not
    silently reuse the previous verdict."""
    import glob
    import os

    from monotonic_optimal_binning_spark.jobs import main

    src = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3], "v": [1.0, 2.0, 3.0]})
    ).write.parquet(src)
    suite = str(tmp_path / "suite.json")
    save_suite([expect_unique("id")], suite)
    wd = str(tmp_path / "run")

    main(["expect", "--input", src, "--workdir", wd, "--suite", suite,
          "--strict"])  # passes: ids unique
    assert len(glob.glob(os.path.join(wd, "stage_expect_*"))) == 1

    # in-place rewrite with a duplicate id: the gate must re-evaluate and
    # now FAIL, instead of attesting the stale verdict
    spark.createDataFrame(
        pd.DataFrame({"id": [1, 1, 2], "v": [1.0, 2.0, 3.0]})
    ).write.mode("overwrite").parquet(src)
    with pytest.raises(SystemExit) as exc:
        main(["expect", "--input", src, "--workdir", wd, "--suite", suite,
              "--strict"])
    assert exc.value.code == 2
    assert len(glob.glob(os.path.join(wd, "stage_expect_*"))) == 2

    # a catalog-style identifier (no filesystem listing) keys on the
    # identifier + --run-id: a new run id forces a fresh stage
    from monotonic_optimal_binning_spark.jobs import _ingest_signature

    assert _ingest_signature("catalog.db.events") == "catalog.db.events"


def test_expectations_stream_gate(spark, tmp_path):
    """Streaming contract gate: per-micro-batch verdicts, passing rows
    flow through, failing batches quarantine, violation callback fires."""
    import os

    from monotonic_optimal_binning_spark.streaming.expect import (
        expectations_stream,
    )

    src = str(tmp_path / "in")
    # batch 1 passes (v <= 10), batch 2 violates the max bound
    good = pd.DataFrame({"id": range(10), "v": [float(i % 5) for i in range(10)]})
    bad = pd.DataFrame({"id": range(100, 110), "v": [50.0] * 10})
    spark.createDataFrame(good).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(bad).coalesce(1).write.parquet(src + "/b2")
    schema = spark.read.parquet(src + "/b1").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    hits = []
    q = expectations_stream(
        stream,
        [expect_not_null("v"), expect_stat("v", "max", hi=10.0, name="vmax")],
        verdict_path=str(tmp_path / "verdicts"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        quarantine_path=str(tmp_path / "quarantine"),
        passed_path=str(tmp_path / "passed"),
        on_violation=lambda bid, names: hits.append((bid, tuple(names))),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    verdicts = spark.read.parquet(str(tmp_path / "verdicts")).toPandas()
    assert set(verdicts["batch_id"]) == {0, 1}
    per_batch = verdicts.groupby("batch_id")["passed"].all()
    assert per_batch.sum() == 1  # exactly one batch fully passed
    assert len(hits) == 1 and hits[0][1] == ("vmax",)
    passed = spark.read.parquet(str(tmp_path / "passed")).toPandas()
    quar = spark.read.parquet(str(tmp_path / "quarantine")).toPandas()
    assert len(passed) == 10 and passed["v"].max() <= 10
    assert len(quar) == 10 and quar["v"].min() == 50.0
    # both side sinks carry batch_id so at-least-once replays dedupe
    assert "batch_id" in quar.columns and "batch_id" in passed.columns
    assert str(verdicts["batch_id"].dtype) == "int64"
    assert str(verdicts["n_rows"].dtype) == "int64"
    with pytest.raises(ValueError, match="no expectations"):
        expectations_stream(
            stream, [], verdict_path=str(tmp_path / "v2"),
            checkpoint_dir=str(tmp_path / "c2"),
        )
