"""Seeded input tables for the three workloads.

Every value is a pure function of (row id, seed) through xxhash64, so a seed
gives the same rows at any parallelism. The generators live here, not in the
package's ``sources.synthetic``, so that a change to the package cannot change
what the benchmark feeds it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SOURCES = ("web", "books", "code", "wiki", "forums")
T0 = 1_700_000_000.0
HORIZON_S = 86_400.0
EVENTS_PER_DOC = 3
N_GROUPS = 100


def _u(seed: int, salt: str, *cols) -> Column:
    """Uniform [0, 1) double from the row's columns, the seed and a salt."""
    h = F.abs(F.xxhash64(*cols, F.lit(seed), F.lit(salt)))
    return (h % 1_000_003) / 1_000_003.0


def _n_tok(seed: int, doc: Column):
    """(n_tok, source index) of a doc; later sources skew longer. The
    event label depends on n_tok, so per-source binning of it has real
    signal."""
    src = (F.abs(F.xxhash64(doc, F.lit(seed), F.lit("src"))) % len(SOURCES))
    u = _u(seed, "len", doc)
    return (F.lit(8) + u * u * 504 * (src + 1) / len(SOURCES)).cast("int"), src


def snapshots(spark: SparkSession, n_docs: int, seed: int) -> DataFrame:
    """(doc_id, source, n_tok, ts): one snapshot per doc at a seeded time."""
    doc = F.col("id")
    n_tok, src = _n_tok(seed, doc)
    return spark.range(0, n_docs).select(
        doc.alias("doc_id"),
        F.array(*[F.lit(s) for s in SOURCES])[src.cast("int")].alias("source"),
        n_tok.alias("n_tok"),
        (F.lit(T0) + _u(seed, "snap", doc) * HORIZON_S).alias("ts"),
    )


def events(spark: SparkSession, n_docs: int, seed: int) -> DataFrame:
    """(event_id, doc_id, ts, value, label): EVENTS_PER_DOC events per doc."""
    eid = F.col("id")
    doc = F.floor(eid / EVENTS_PER_DOC)
    n_tok, _ = _n_tok(seed, doc)
    p = F.lit(0.05) + n_tok / 1100.0
    return spark.range(0, n_docs * EVENTS_PER_DOC).select(
        eid.alias("event_id"),
        doc.alias("doc_id"),
        (F.lit(T0) + _u(seed, "ts", eid) * HORIZON_S).alias("ts"),
        F.round(_u(seed, "v", eid) * 100.0, 2).alias("value"),
        (_u(seed, "y", eid) < p).cast("int").alias("label"),
    )


def scored_rows(spark: SparkSession, n_rows: int, seed: int) -> DataFrame:
    """(id, f1..f4, model_score, y): four numeric features with a monotone
    effect on y, and a model score in (0, 1) to calibrate."""
    rid = F.col("id")
    f1 = F.round(_u(seed, "f1", rid) * 1000.0, 1)
    f2 = F.round(F.pow(_u(seed, "f2", rid), 2) * 50.0, 3)
    f3 = F.round(-F.log1p(-_u(seed, "f3", rid) * 0.999) * 10.0, 3)
    f4 = F.round(_u(seed, "f4", rid) * 1_000_000.0, 0)
    logit = (
        F.lit(-1.5) + f1 / 500.0 - f2 / 25.0 + f3 / 20.0 + f4 / 1_000_000.0
    )
    noise = (_u(seed, "n", rid) - 0.5) * 2.0
    prob = 1.0 / (1.0 + F.exp(-logit))
    return spark.range(0, n_rows).select(
        rid.alias("id"),
        f1.alias("f1"),
        f2.alias("f2"),
        f3.alias("f3"),
        f4.alias("f4"),
        F.round(1.0 / (1.0 + F.exp(-(logit + noise))), 6).alias("model_score"),
        (_u(seed, "y", rid) < prob).cast("int").alias("y"),
    )


def grouped_rows(spark: SparkSession, n_rows: int, seed: int) -> DataFrame:
    """(g, x1, x2, y): N_GROUPS groups, two high-cardinality features with a
    group-dependent monotone effect on y."""
    rid = F.col("id")
    g = (F.abs(F.xxhash64(rid, F.lit(seed), F.lit("g"))) % N_GROUPS).cast("int")
    x1 = F.round(_u(seed, "x1", rid) * 100_000.0, 2)
    x2 = F.round(F.exp(_u(seed, "x2", rid) * 8.0), 4)
    slope = 0.5 + (g % 7) / 7.0
    logit = F.lit(-2.0) + slope * (x1 / 25_000.0) - x2 / 1500.0
    prob = 1.0 / (1.0 + F.exp(-logit))
    return spark.range(0, n_rows).select(
        g.alias("g"),
        x1.alias("x1"),
        x2.alias("x2"),
        (_u(seed, "y", rid) < prob).cast("int").alias("y"),
    )
