"""read_table routing (sources/tables.py): one router for parquet paths,
catalog identifiers (the Iceberg entry point once a catalog is
configured), and forced --input-format DataSources."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from monotonic_optimal_binning_spark.sources.tables import read_table

SF = "/root/testdata/sf0.001"


def test_path_routes_to_parquet(spark):
    df = read_table(spark, os.path.join(SF, "region.parquet"))
    assert df.count() == 5
    assert "r_name" in df.columns


def test_forced_format_load(spark, tmp_path):
    # format override: the same parquet through an explicit DataSource
    p = os.path.join(SF, "region.parquet")
    df = read_table(spark, p, fmt="parquet")
    assert df.count() == 5
    # a non-parquet DataSource with reader options passed through
    csv = tmp_path / "t.csv"
    csv.write_text("a,b\n1,x\n2,y\n")
    df = read_table(
        spark, str(csv), fmt="csv",
        options={"header": "true", "inferSchema": "true"},
    )
    assert df.count() == 2
    assert [f.name for f in df.schema.fields] == ["a", "b"]
    assert df.schema["a"].dataType.simpleString() == "int"


def test_bare_name_routes_to_catalog(spark):
    """A name with no path separator resolves through the session catalog
    — the branch that becomes an Iceberg metadata read when
    spark.sql.catalog.* is configured (no Iceberg jar in this sandbox,
    so exercised via the built-in catalog)."""
    pdf = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    spark.createDataFrame(pdf).write.mode("overwrite").saveAsTable(
        "read_table_probe"
    )
    try:
        df = read_table(spark, "read_table_probe")
        assert sorted(r["k"] for r in df.collect()) == [1, 2, 3]
    finally:
        spark.sql("DROP TABLE IF EXISTS read_table_probe")


def test_bucketed_catalog_table_keeps_metadata(spark):
    """Reading a save_bucketed table through read_table preserves the
    bucketing metadata (the zero-shuffle join layout)."""
    from monotonic_optimal_binning_spark.sources.tables import save_bucketed

    pdf = pd.DataFrame({"user_id": list(range(100)), "v": range(100)})
    save_bucketed(
        spark.createDataFrame(pdf), "read_table_bkt", "user_id", 4
    )
    try:
        df = read_table(spark, "read_table_bkt")
        assert df.count() == 100
        # a groupBy on the bucket key must not plan a shuffle Exchange
        plan = (
            df.groupBy("user_id").agg(F.sum("v"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS read_table_bkt")


def test_jobs_input_format_flag(spark, tmp_path):
    """--input-format threads from the CLI through _read_input."""
    from monotonic_optimal_binning_spark.jobs import main

    src = str(tmp_path / "docs_csv")
    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(30)],
            "text": [f"document body {i} {'dup' if i % 9 == 0 else i}"
                     for i in range(30)],
        }
    )
    spark.createDataFrame(pdf).write.option("header", "true").csv(src)
    wd = str(tmp_path / "run")
    main(["quality-filter", "--input", src, "--input-format", "csv",
          "--input-options", "header=true",
          "--text-col", "text", "--workdir", wd,
          "--min-quality", "0", "--min-tokens", "1",
          "--max-dup-line-frac", "1", "--max-top-token-frac", "1"])
    out = spark.read.parquet(
        os.path.join(wd, "stage_quality_filter", "data")
    )
    assert out.count() == 30


def test_bare_name_never_probes_cwd(spark, tmp_path, monkeypatch):
    """Routing is a pure function of the reference string: a bare name is
    ALWAYS a catalog identifier, even when the driver's CWD happens to
    contain a same-named parquet directory (an os.path.exists probe used
    to silently reroute catalog tables to local files)."""
    pdf = pd.DataFrame({"k": [9, 8]})
    local = tmp_path / "cwd_probe_tbl"
    spark.createDataFrame(pdf).write.parquet(str(local))
    monkeypatch.chdir(tmp_path)
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|Table or view not found"):
        read_table(spark, "cwd_probe_tbl").collect()
    # explicit path forms still read the local files (relative paths
    # resolve against the JVM's CWD, not Python's — use absolute)
    assert read_table(spark, str(local)).count() == 2
    assert read_table(spark, str(local), fmt="parquet").count() == 2


def test_doc_id_fails_loudly_past_twelve_digits(spark):
    """``doc-%012d`` via lpad would truncate a 13-digit id and collide it
    with another; such ids must fail the job instead."""
    from pyspark.errors import PySparkException

    from monotonic_optimal_binning_spark.sources.synthetic import _doc_id

    ok = spark.createDataFrame([(0,), (42,), (10**12 - 1,)], "id long")
    assert [r[0] for r in ok.select(_doc_id(F.col("id"))).collect()] == [
        "doc-000000000000", "doc-000000000042", "doc-999999999999",
    ]
    for bad in (10**12, 10**12 + 7, -1):
        df = spark.createDataFrame([(bad,)], "id long")
        with pytest.raises(PySparkException, match="doc id out of range"):
            df.select(_doc_id(F.col("id"))).collect()
