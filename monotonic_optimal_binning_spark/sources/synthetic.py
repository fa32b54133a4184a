"""Deterministic synthetic generators for the graft input table.

BASELINE.json input_hint: Iceberg table of pre-tokenized training sequences
``(doc_id:string, tokens:array<int32>, n_tok:int32, source:string)``. No
real 10^12-row table exists in this sandbox, so tests and benchmarks
synthesize it at small scale — fully deterministic and PARTITION-INVARIANT:
every value derives from the row id via xxhash64, never from RNG state or
partition boundaries, so the same (sf, seed) produces identical rows at any
parallelism (this is what makes the local[8]-vs-local[32] scaling run an
apples-to-apples comparison).

Generation is pure Spark SQL expressions — rows are materialized on
executors, the driver only holds the plan.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SOURCES = ("web", "books", "code", "wiki", "forums")


def _h(*cols) -> F.Column:
    """Non-negative deterministic hash."""
    return F.abs(F.xxhash64(*cols))


def _doc_id(row_id: F.Column) -> F.Column:
    """``doc-%012d`` of a row id without format_string: java.util.Formatter
    is ~4x the cost of concat+lpad per row (measured at 24M rows), and the
    generators emit one id per synthetic row. lpad would silently cut an
    id outside [0, 10^12) to 12 characters (colliding ids), so such an id
    fails the job."""
    rid = row_id.cast("string")
    bad = (row_id < 0) | (row_id >= 10**12)
    return F.when(
        bad, F.raise_error(F.concat(F.lit("doc id out of range: "), rid))
    ).otherwise(F.concat(F.lit("doc-"), F.lpad(rid, 12, "0")))


def token_table(
    spark: SparkSession,
    n_docs: int,
    *,
    seed: int = 42,
    vocab_size: int = 50_000,
    min_tok: int = 8,
    max_tok: int = 512,
    sources: Sequence[str] = DEFAULT_SOURCES,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Synthesize (doc_id, tokens, n_tok, source) deterministically.

    n_tok is drawn per-doc from a source-dependent skewed range so that
    per-source monotone binning of n_tok has real signal; tokens[i] =
    xxhash64(doc_id, seed, i) % vocab_size, so token arrays are reproducible
    per doc_id — the per-row token-array equality invariant is checkable
    end-to-end after any shuffle/join/transform.
    """
    df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    sid = F.lit(seed)
    src_idx = (_h(F.col("id"), sid, F.lit("src")) % len(sources)).cast("int")
    src_arr = F.array(*[F.lit(s) for s in sources])
    # source-dependent length profile: later sources skew longer
    span = F.lit(max_tok - min_tok)
    u = (_h(F.col("id"), sid, F.lit("len")) % 1_000_000) / 1_000_000.0
    skew = (u * u * span * (src_idx + 1) / len(sources)).cast("int")
    n_tok = (F.lit(min_tok) + skew).cast("int")

    tokens = F.transform(
        F.sequence(F.lit(0), n_tok - 1),
        lambda i: (_h(F.col("id"), sid, i) % vocab_size).cast("int"),
    )

    return df.select(
        _doc_id(F.col("id")).alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        src_arr[src_idx].alias("source"),
    )


def event_table(
    spark: SparkSession,
    n_docs: int,
    events_per_doc: int = 4,
    *,
    seed: int = 42,
    t0: float = 1_700_000_000.0,
    horizon_seconds: float = 86_400.0,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Deterministic event stream keyed by doc_id: (doc_id, ts, value, label).

    Used as the right side of as-of joins in tests/benchmarks. ts is a
    double epoch-seconds column; label is binary with a value-dependent
    rate so binned-WoE features built on top have signal.
    """
    n = n_docs * events_per_doc
    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    sid = F.lit(seed)
    doc = F.floor(F.col("id") / events_per_doc)
    offset = (_h(F.col("id"), sid, F.lit("ts")) % int(horizon_seconds * 1000)) / 1000.0
    value = (_h(F.col("id"), sid, F.lit("v")) % 10_000) / 100.0
    label = (
        ((_h(F.col("id"), sid, F.lit("y")) % 1000) / 1000.0)
        < (0.1 + value / 200.0)
    ).cast("int")
    return df.select(
        _doc_id(doc).alias("doc_id"),
        (F.lit(t0) + offset).alias("ts"),
        value.alias("value"),
        label.alias("label"),
    )


def tokenize_text(
    df: DataFrame,
    text_col: str = "text",
    *,
    vocab_size: int = 50_000,
    doc_id_col: str = "doc_id",
    source_col: Optional[str] = "source",
) -> DataFrame:
    """Derive the input_hint token-table shape from a raw text table.

    Whitespace-split then hash each token to int32 — a deterministic,
    JVM-side stand-in for a learned tokenizer (F.transform keeps the whole
    pipeline in codegen; no Python UDF).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = F.filter(toks, lambda t: t != "")
    token_ids = F.transform(
        toks, lambda t: (F.abs(F.xxhash64(t)) % vocab_size).cast("int")
    )
    cols = [
        F.col(doc_id_col).cast("string").alias("doc_id"),
        token_ids.alias("tokens"),
        F.size(token_ids).cast("int").alias("n_tok"),
    ]
    if source_col:
        cols.append(F.col(source_col).alias("source"))
    return df.select(*cols)
