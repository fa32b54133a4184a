"""Streaming drift monitoring: event-time-windowed PSI against a saved
model artifact.

The production loop this serves: a model is fitted once and saved
(``FittedBins.save_json`` / the ``fit-woe`` or ``fit-incremental`` jobs);
scoring traffic then flows through Structured Streaming, and population
drift must be visible per event-time window WITHOUT rescanning training
data or stopping the stream.

Split deliberately in two, because Structured Streaming forbids an
aggregate over an aggregate in one query:

- :func:`streaming_bucket_counts` — the STREAMING half: a stateless
  interval lookup (the same compiled expression as the batch
  ``FittedBins.transform``) + ONE watermarked windowed count. Append-mode
  safe → write to any sink (parquet/Kafka/Delta); state is bounded by the
  watermark, shuffle keys are (window, bucket) — k·w cells regardless of
  traffic.
- :func:`psi_over_windows` — the BATCH half: per-window PSI from the sink
  table. The expected distribution is k rows broadcast from the artifact;
  the whole computation is k·w rows, milliseconds at any scale.

The reference has no streaming surface; PSI semantics mirror
operators/drift.py (0.5 smoothing both sides, fitted bins only — see
``model_psi``'s Missing/Excluded rationale).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.drift import _fitted_bin_counts, _psi_terms, _train_counts


def streaming_bucket_counts(
    model,
    stream: DataFrame,
    ts: str,
    *,
    input_col: Optional[str] = None,
    window: str = "10 minutes",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time-windowed fitted-bin counts of a stream.

    Returns a streaming DataFrame ``(window_start, window_end, bucket,
    n_actual)`` — one watermarked windowed aggregate, append-output-mode
    capable (a window's counts emit once, when the watermark passes its
    end). Rows whose value falls in Missing/Excluded are dropped on BOTH
    psi sides, mirroring ``model_psi``.

    Scale: the lookup is stateless (the cut-points are literals in the
    compiled expression); the only state is the windowed count — at most
    ``k_bins × open_windows`` cells per watermark horizon, independent of
    event volume. Adding a sliding ``slide`` multiplies state by the
    overlap factor only.
    """

    from pyspark.sql import types as T

    # watermarks require TIMESTAMP; parquet written without UTC adjustment
    # reads as TIMESTAMP_NTZ — reinterpret under the session zone (pin_utc
    # for determinism) instead of failing EVENT_TIME_IS_NOT_ON_TIMESTAMP
    if isinstance(stream.schema[ts].dataType, T.TimestampNTZType):
        stream = stream.withColumn(ts, F.col(ts).cast("timestamp"))

    win = (
        F.window(F.col(ts), window, slide)
        if slide
        else F.window(F.col(ts), window)
    )
    labeled = model.transform(
        stream.withWatermark(ts, watermark), "interval",
        input_col or model.x, "__bucket",
    )
    return _fitted_bin_counts(
        labeled, (win.alias("__w"),), None, "streaming_bucket_counts"
    ).select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        "bucket",
        "n_actual",
    )


def psi_over_windows(
    counts: DataFrame,
    model,
    *,
    smoothing: float = 0.5,
) -> DataFrame:
    """Per-window PSI terms from a (window_start, window_end, bucket,
    n_actual) table (the sink :func:`streaming_bucket_counts` feeds).

    Every window is compared against the artifact's full expected
    distribution — bins absent from a window count 0 (the smoothed term
    stays finite), so a window that only ever sees one bin reads as
    heavily drifted rather than silently dropping bins from the
    denominator. Output adds ``psi`` (the window's index, repeated per
    row) so ``SELECT DISTINCT window_start, psi`` is the alert feed.

    Plan: expected is k broadcast rows; the grid is windows × k; all
    arithmetic runs over k·w rows. The only input-sized step is reading
    the counts table itself.
    """
    e = counts.sparkSession.createDataFrame(
        # double: a weight_col fit's effective counts can be fractional
        _train_counts(model), "bucket string, n_expected double"
    )
    # fresh attribute ids on the distinct leg (aliased projection), or the
    # grid-vs-counts self-join trips Spark's conflicting-reference check
    windows = counts.select(
        F.col("window_start").alias("__ws"),
        F.col("window_end").alias("__we"),
    ).distinct()
    grid = windows.crossJoin(
        F.broadcast(e.select(F.col("bucket").alias("__b"), "n_expected"))
    )
    j = grid.join(
        counts,
        (F.col("__ws") == F.col("window_start"))
        & (F.col("__we") == F.col("window_end"))
        & (F.col("__b") == F.col("bucket")),
        "left",
    ).select(
        F.col("__ws").alias("window_start"),
        F.col("__we").alias("window_end"),
        F.col("__b").alias("bucket"),
        "n_expected",
        F.coalesce("n_actual", F.lit(0)).alias("n_actual"),
    )
    return _psi_terms(j, ("window_start", "window_end"), smoothing).withColumn(
        "psi",
        F.sum("psi_term").over(
            Window.partitionBy("window_start", "window_end")
        ),
    )
