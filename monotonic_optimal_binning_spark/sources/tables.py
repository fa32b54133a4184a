"""Table loaders: testdata parquet now, Iceberg catalog when available.

The engine targets Iceberg tables (BASELINE.json input_hint); this sandbox
has no Iceberg runtime jars, so ``load_table`` prefers a configured catalog
(``spark.read.table``) and falls back to parquet files — same DataFrame
either way, all downstream operators are storage-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a named table: Iceberg catalog identifier if ``sf_dir`` looks
    like ``catalog.db``, else ``{sf_dir}/{name}.parquet``."""
    if "/" not in sf_dir and not os.path.isdir(sf_dir):
        return spark.read.table(f"{sf_dir}.{name}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def read_table(
    spark: SparkSession,
    ref: str,
    *,
    fmt: str = None,
    options: dict = None,
) -> DataFrame:
    """One router for every table reference the jobs accept
    (BASELINE.json names Iceberg tables as the production input):

    - a PATH (contains a path separator or ends in ``.parquet``) reads
      as parquet files;
    - anything else is a CATALOG identifier via ``spark.read.table`` —
      which transparently resolves Iceberg tables when an Iceberg
      catalog is configured (``spark.sql.catalog.<name>`` +
      runtime jar; ``cat.db.tbl`` then reads through Iceberg's own
      DataSource with partition pruning/metadata filtering), and plain
      Hive/in-memory catalog tables (e.g. :func:`save_bucketed` outputs,
      keeping their zero-shuffle bucketing metadata) otherwise;
    - ``fmt`` forces a path-based DataSource instead
      (``spark.read.format(fmt).load(ref)`` — e.g. ``"iceberg"`` for a
      Hadoop-located Iceberg table, ``"orc"``, ``"csv"``).

    Downstream operators are storage-agnostic: same DataFrame whichever
    branch fires.
    """
    reader = spark.read
    if options:
        reader = reader.options(**options)
    if fmt is not None:
        return reader.format(fmt).load(ref)
    # routing must be a pure function of the string: an os.path.exists()
    # probe would silently reroute a catalog identifier to local parquet
    # whenever the driver's CWD happens to contain a same-named file —
    # bare names are ALWAYS table identifiers (pass fmt="parquet" or a
    # "./" prefix for a bare-named local directory)
    if "/" in ref or os.sep in ref or ref.endswith(".parquet"):
        return reader.parquet(ref)
    return reader.table(ref)


def save_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols,
    n_buckets: int,
    *,
    sort_cols=None,
    path: str = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Write a bucketed (and optionally per-bucket sorted) table — the
    co-located layout for repeated joins/aggregations on the same key at
    100 TB: every join or groupBy keyed on ``bucket_cols`` between tables
    bucketed the same way (same cols, same ``n_buckets``) runs with ZERO
    shuffle Exchange (pinned by tests/test_plans.py), and ``sort_cols``
    additionally removes the sort before a merge join or window. This is
    the parquet/catalog analog of Iceberg's bucket partition transform;
    the one-time bucketed write amortizes across every downstream
    consumer (per-source fits, as-of probes, dedup passes keyed by id).

    Bucketing metadata lives in the catalog, so the target is a TABLE
    NAME (``saveAsTable``), not a bare path; pass ``path`` to make it an
    external table at that location (keeps test warehouses out of the
    repo). Bucket pruning/bucketed scans require
    ``spark.sql.sources.bucketing.enabled`` (default true).
    """
    bucket_cols = (
        [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    )
    writer = (
        df.write.mode(mode)
        .format(fmt)
        .bucketBy(int(n_buckets), bucket_cols[0], *bucket_cols[1:])
    )
    if sort_cols:
        sort_cols = (
            [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        )
        writer = writer.sortBy(sort_cols[0], *sort_cols[1:])
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
