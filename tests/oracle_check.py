"""Local mirror of the driver's correctness gate: run every __spark_entry__
query AND its DuckDB oracle side-by-side, compare row-count + schema +
order-insensitive values. Usage:

    PYTHONPATH=/root/repo python tests/oracle_check.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif np.issubdtype(pdf[c].dtype, np.floating):
            pdf[c] = pdf[c].round(6)
        elif str(pdf[c].dtype).startswith("datetime"):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str:
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA MISMATCH: {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"ROWCOUNT MISMATCH: {len(a)} vs {len(b)}"
    for c in a.columns:
        # the driver's value-hash is dtype-sensitive (int 7 != float 7.0):
        # flag kind mismatches that allclose would silently absorb
        if a[c].dtype.kind != b[c].dtype.kind:
            return f"DTYPE MISMATCH in {c}: {a[c].dtype} vs {b[c].dtype}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(a[c].dtype, np.number) and np.issubdtype(b[c].dtype, np.number):
            ok = np.allclose(
                av.astype(float), bv.astype(float), rtol=1e-6, atol=1e-6, equal_nan=True
            )
        else:
            ok = (av == bv).all()
        if not ok:
            idx = int(np.nonzero(~(av == bv))[0][0]) if len(av) else 0
            return f"VALUE MISMATCH in {c} (e.g. row {idx}: {av[idx]!r} vs {bv[idx]!r})"
    return "OK"


def main(sf_dir: str, only: list | None = None) -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        # no progress-bar redraws on the lines the verdicts print to
        .config("spark.ui.showConsoleProgress", "false")
        # local mode: the driver JVM IS the executor; the 1g default is
        # not a meaningful scale constraint (sf1 robustness runs OOMed
        # spill-reader buffers under it) — match conftest's session
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"[FAIL] {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            if len(spdf) == 0:
                print(f"  WARNING: zero rows")
            continue
        try:
            opdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"[FAIL] {name}: oracle error: {e}")
            failures += 1
            continue
        verdict = compare(name, spdf, opdf)
        status = "ok  " if verdict == "OK" else "FAIL"
        print(f"[{status}] {name}: {len(spdf)} rows ({time.time()-t0:.1f}s) {verdict if verdict != 'OK' else ''}")
        if verdict != "OK":
            failures += 1

    # entry smoke
    if not only:
        try:
            n = entry_mod.entry(spark).count()
            print(f"[ok  ] entry: {n} rows")
        except Exception as e:
            print(f"[FAIL] entry: {e}")
            failures += 1

    spark.stop()
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.exit(min(main(sf, only=sys.argv[2:] or None), 1))
