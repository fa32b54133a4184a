"""Distribution-drift monitoring for binned features.

PSI (population stability index) is the standard scorecard companion to
WoE binning — Σ (p_actual − p_expected) · ln(p_actual / p_expected) over
bins, with the conventional reading PSI < 0.1 stable / 0.1–0.25 shifting /
> 0.25 shifted. The reference stops at fitting and plotting bins
(SURVEY.md §2.10 plot_binning_stability draws the comparison but computes
no index); engine-new for production feature monitoring.

Plan shape: each side collapses to one row per bin via an algebraic count
(map-side combine), the two tiny per-bin tables full-outer-join on the
bin label (null-safe: a null bucket present on both sides is ONE bin, not
two phantom half-rows), and totals come from a window over the joined
k-row table — the raw frames are each scanned once and never joined to
each other. Every PSI here (sample vs sample, model, per group, per
streaming window) goes through the one share/term kernel
:func:`_psi_terms`.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bucket_counts(
    df: DataFrame, bucket_col: str, weight_col: Optional[str] = None
) -> DataFrame:
    """(bucket, n) — the one-aggregate input both PSI sides need. With
    ``weight_col``, n is the frequency-weight sum (bad weights fail
    loudly in the scan)."""
    if weight_col is not None:
        n = F.coalesce(
            F.sum(_weight_expr(weight_col, "bucket_counts")), F.lit(0.0)
        )
        # a bucket whose rows all carry weight 0 must not exist at all
        # (0-fold replication has no such row) — an n=0 row would inflate
        # the smoothing bucket count k and shift every psi_term
        return (
            df.groupBy(F.col(bucket_col).alias("bucket"))
            .agg(n.alias("n"))
            .filter(F.col("n") > 0)
        )
    return df.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )


def _psi_terms(j: DataFrame, keys: Sequence[str], smoothing: float) -> DataFrame:
    """Smoothed shares and the per-bucket PSI term of a ``(keys…, bucket,
    n_expected, n_actual)`` frame, with totals and the bucket count k per
    key (each key is its own pair of distributions). ``keys=()`` is one
    pair over the whole frame. Output columns: the input's plus
    ``pct_expected, pct_actual, psi_term``."""
    w = Window.partitionBy(*keys)
    k = F.count(F.lit(1)).over(w)
    pe = (F.col("n_expected") + smoothing) / (
        F.sum("n_expected").over(w) + smoothing * k
    )
    pa = (F.col("n_actual") + smoothing) / (
        F.sum("n_actual").over(w) + smoothing * k
    )
    return j.select(
        *keys,
        "bucket",
        "n_expected",
        "n_actual",
        pe.alias("pct_expected"),
        pa.alias("pct_actual"),
        ((pa - pe) * F.log(pa / pe)).alias("psi_term"),
    )


def _psi_from_counts(
    expected_counts: DataFrame,
    actual_counts: DataFrame,
    smoothing: float,
    keys: Sequence[str] = (),
) -> DataFrame:
    """PSI over two ``(keys…, bucket, n_*)`` tables: null-safe full-outer
    join on the keys and the bucket label (a side missing a bucket counts
    0 there), then :func:`_psi_terms`."""
    on = [*keys, "bucket"]
    e = expected_counts.select(
        *[F.col(c).alias(f"__e_{c}") for c in on], "n_expected"
    )
    a = actual_counts.select(
        *[F.col(c).alias(f"__a_{c}") for c in on], "n_actual"
    )
    cond = [F.col(f"__e_{c}").eqNullSafe(F.col(f"__a_{c}")) for c in on]
    j = e.join(a, on=cond, how="full_outer").select(
        *[F.coalesce(f"__e_{c}", f"__a_{c}").alias(c) for c in on],
        F.coalesce("n_expected", F.lit(0)).alias("n_expected"),
        F.coalesce("n_actual", F.lit(0)).alias("n_actual"),
    )
    return _psi_terms(j, keys, smoothing)


def psi(
    expected: DataFrame,
    actual: DataFrame,
    bucket_col: str,
    *,
    smoothing: float = 0.5,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Per-bucket PSI terms between two bucketed samples, plus shares.

    Output: (bucket, n_expected, n_actual, pct_expected, pct_actual,
    psi_term); ``sum(psi_term)`` is the index. ``smoothing`` adds the
    standard half-count to BOTH sides of every bucket (mirroring the WoE
    0.5 smoothing) so a bin empty on one side contributes a large-but-
    finite term instead of ±inf. A null bucket value is a bin like any
    other (matched null-safe on both sides).
    """
    return _psi_from_counts(
        bucket_counts(expected, bucket_col, weight_col).withColumnRenamed(
            "n", "n_expected"
        ),
        bucket_counts(actual, bucket_col, weight_col).withColumnRenamed(
            "n", "n_actual"
        ),
        smoothing,
    )


def _train_counts(model) -> list:
    """(bucket, count) rows for the FITTED bins of a FittedBins artifact —
    the Missing/Excluded summary rows are out of scope (see
    :func:`model_psi`). Counts are floats: a weight_col fit's effective
    counts can be fractional, and an int() here would silently truncate
    the expected distribution."""
    s = model.summary_df
    mask = ~s["bucket"].astype(str).str.contains("Missing|Excluded")
    return [
        (str(b), float(n))
        for b, n in zip(s.loc[mask, "bucket"], s.loc[mask, "count"])
    ]


def _weight_expr(weight_col: str, where: str):
    """Weight column with a task-level guard: a bad weight fails the job
    loudly inside the scan (no validation pass, iv_screen's pattern).

    Scope: the guard evaluates where the weight is CONSUMED — after the
    Missing/Excluded/null-bucket filter — so a corrupt weight on a row
    outside the fitted bins passes silently (it cannot affect the PSI
    either way). Rows that contribute to any count are always guarded."""
    wc = F.col(weight_col).cast("double")
    bad = (
        wc.isNull() | F.isnan(wc) | (wc < 0)
        | (F.abs(wc) == F.lit(float("inf")))
    )
    return F.when(
        bad,
        F.raise_error(
            F.lit(
                f"{where}: weight column '{weight_col}' has a "
                f"null/negative/non-finite value"
            )
        ).cast("double"),
    ).otherwise(wc)


def _fitted_bin_counts(labeled: DataFrame, keys, weight_col, where) -> DataFrame:
    """``(keys…, bucket, n_actual)`` of an interval-labelled frame
    (label in ``__bucket``): rows, or weight sums, per FITTED bin. A NULL
    label (no model for the row's group) and the Missing/Excluded labels
    are out of scope — see :func:`model_psi`."""
    n = (
        F.sum(_weight_expr(weight_col, where))
        if weight_col is not None
        else F.count(F.lit(1))
    )
    return (
        labeled.filter(
            F.col("__bucket").isNotNull()
            & ~F.col("__bucket").rlike("Missing|Excluded")
        )
        .groupBy(*keys, F.col("__bucket").alias("bucket"))
        .agg(n.alias("n_actual"))
    )


def model_psi(
    model,
    actual: DataFrame,
    *,
    input_col: Optional[str] = None,
    smoothing: float = 0.5,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """PSI of a NEW sample against a SAVED ``FittedBins`` artifact — the
    production monitoring loop: fit once, ``save_json``, then score every
    fresh slice against the artifact without refitting or rescanning the
    training data (the artifact's summary table already carries the
    training bin counts; k rows, broadcast). Only the actual frame is
    scanned: one compiled interval lookup + one aggregate.

    Both sides compare the FITTED bins only: the training side excludes
    the Missing/Excluded summary rows, so the actual side's
    Missing/Excluded labels are filtered out of both the counts and the
    denominator too — otherwise an unchanged population with nulls would
    read as drifted (deflated pct_actual in every real bin plus a phantom
    Missing bin). Monitor null-rate drift separately if it matters.
    """
    spark = actual.sparkSession
    e = spark.createDataFrame(
        _train_counts(model), "bucket string, n_expected double"
    )

    a = _fitted_bin_counts(
        model.transform(actual, "interval", input_col or model.x, "__bucket"),
        (), weight_col, "model_psi",
    )
    return _psi_from_counts(F.broadcast(e), a, smoothing)


def binner_psi(
    binner,
    actual: DataFrame,
    *,
    input_col: Optional[str] = None,
    smoothing: float = 0.5,
) -> DataFrame:
    """PSI of a NEW sample against a fitted binner's training
    distribution — :func:`model_psi` on the binner's in-memory model."""
    return model_psi(
        binner._model(), actual,
        input_col=input_col or binner.x, smoothing=smoothing,
    )


def grouped_model_psi(
    grouped,
    actual: DataFrame,
    *,
    input_col: Optional[str] = None,
    group_col: Optional[str] = None,
    smoothing: float = 0.5,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Per-group PSI of a new sample against a saved ``GroupedBins``
    artifact: one compiled per-group interval lookup over the actual
    frame, one (group, bucket) aggregate, and the artifact's training
    counts broadcast — totals are PER GROUP (each group is its own
    distribution; pooling them would let a mix shift masquerade as
    within-group drift). Rows whose group has no model are excluded
    (their lookup yields null). Output adds ``group_col`` in front of
    the :func:`psi` columns; ``sum(psi_term) GROUP BY group`` is each
    group's index.
    """
    group_col = group_col or grouped.group_col
    input_col = input_col or grouped.x
    rows = [
        (str(g), b, n)
        for g, m in sorted(grouped.items(), key=lambda kv: str(kv[0]))
        for b, n in _train_counts(m)
    ]
    spark = actual.sparkSession
    e = spark.createDataFrame(
        rows, f"`{group_col}` string, bucket string, n_expected double"
    )
    a = _fitted_bin_counts(
        grouped.transform(
            actual, assign="interval",
            input_col=input_col, group_col=group_col, output_col="__bucket",
        ),
        (F.col(group_col).cast("string").alias(group_col),),
        weight_col, "grouped_model_psi",
    )
    return _psi_from_counts(F.broadcast(e), a, smoothing, keys=(group_col,))
