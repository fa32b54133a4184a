"""Vector column expressions over ``array<float>`` embeddings.

Pure Spark SQL higher-order functions (zip_with / aggregate) — the dot
product stays in whole-stage codegen, no Python UDF and no UDT conversion.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product accumulated entirely in DOUBLE.

    The elements are widened to double BEFORE the multiply: ``array<float>``
    inputs would otherwise produce float32 products (then summed in double),
    which differs from a pure-double evaluation by ~1e-7 relative — enough
    to flip 6-dp rounding on cosine boundary values against a
    double-precision oracle.
    """
    return F.aggregate(
        F.zip_with(
            a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))
