"""Event-time normalization.

Spark 4 (ANSI) refuses TIMESTAMP_NTZ -> DOUBLE casts, so every operator that
needs numeric event time goes through :func:`epoch_seconds`, which handles
numerics, TIMESTAMP, TIMESTAMP_NTZ and DATE. NTZ/DATE conversion routes via
TIMESTAMP_LTZ and therefore reads the session timezone — engine entry points
pin ``spark.sql.session.timeZone=UTC`` so epoch values match naive-UTC
oracles (DuckDB ``epoch(ts)``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def epoch_seconds(df: DataFrame, col: str) -> Column:
    """Numeric seconds (double, fractional preserved) for a time column."""
    dtype = df.schema[col].dataType
    c = F.col(col)
    if isinstance(dtype, (T.TimestampNTZType, T.DateType)):
        return c.cast("timestamp_ltz").cast("double")
    if isinstance(dtype, T.TimestampType):
        return c.cast("double")
    return c.cast("double")


def epoch_millis(df: DataFrame, col: str) -> Column:
    """EXACT epoch milliseconds (long) for a time column.

    Timestamp columns route through ``unix_micros`` + integer division —
    no floating point anywhere, so a µs-precision event lands in the
    same millisecond on every engine (the naive
    ``(double_seconds * 1000).cast(long)`` truncates an FP product whose
    error sign depends on the value: two engines computing it can
    disagree by 1 ms at frame boundaries). Numeric columns (already
    seconds) keep the double path — they carry no hidden precision — and
    a NaN time is NULL, like a null one (``floor(NaN * 1000)`` cast to
    long would be a finite millisecond).
    """
    dtype = df.schema[col].dataType
    c = F.col(col)
    if isinstance(dtype, (T.TimestampNTZType, T.DateType)):
        c = c.cast("timestamp_ltz")
        dtype = T.TimestampType()
    if isinstance(dtype, T.TimestampType):
        return F.floor(F.unix_micros(c) / F.lit(1000)).cast("long")
    # floor, not cast-truncation: a negative fractional epoch second
    # (pre-1970) must land in the same millisecond as the equivalent
    # timestamp column, or range-frame membership shifts by 1 ms
    d = c.cast("double")
    return F.when(~F.isnan(d), F.floor(d * 1000)).cast("long")


def pin_utc(spark) -> None:
    """Pin the session timezone so NTZ->epoch conversions are tz-stable."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
