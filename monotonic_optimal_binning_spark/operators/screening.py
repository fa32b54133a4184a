"""Multi-feature IV screening — the step BEFORE monotone binning.

A scorecard/feature-engineering workflow over hundreds of candidate
features does not fit one :class:`SparkMonotonicBinner` per column: k
separate fits are k full passes over the raw table. ``iv_screen`` ranks
all k features in **at most two passes total, independent of k**:

1. (optional) ONE multi-column ``approxQuantile`` pass derives
   per-feature bucket cut points — Spark computes all k quantile
   sketches in a single scan;
2. ONE aggregation pass: each row explodes into k ``(feature, bucket)``
   pairs (Generate is deliberate — it is also a Catalyst project-collapse
   barrier, so each bucket CASE evaluates once per row), then a single
   ``groupBy(feature, bucket)`` with map-side partial aggregation
   collapses everything to ≤ k·(n_buckets+1) rows before the shuffle.

WoE/IV per bucket then reduces over that aggregate: per-feature totals
are a second algebraic aggregate over the SAME shuffle output
(ReusedExchange — no second input scan) broadcast-joined back, so
nothing downstream of the first aggregation ever touches data
proportional to the input and no step is a per-feature window. The
operator's cost at 100 TB is one scan + one bounded shuffle regardless
of feature count. With ``group_col`` the same single scan screens every
feature within every group (one output row per (group, feature)).

The smoothed WoE formula matches :func:`core.stats.woe_iv` /
/root/reference/src/MOBPY/core/utils.py:152-237:
``rate = (n + s) / (N + s·k)`` per class, ``woe = ln(g_rate/b_rate)``,
``iv = Σ (g_rate − b_rate)·woe`` — the same arithmetic
``q_fixed_bucket_woe`` cross-checks against DuckDB.

Null feature values land in their own ``bucket = -1`` (missing) group and
contribute to IV like any other bucket, mirroring the reference's
separate missing-bin summary row.

``categorical=`` features join the SAME scan: each category value is its
own bucket (null → a missing sentinel). A URL-ish column with 10⁸
distinct values stays AQE-splittable through the totals-join — there is
no window for it to pin a task on. ``bad_rate_monotone`` is NULL for
categorical features — categories have no order to be monotone over;
for numeric features it reduces over a per-feature ``collect_list`` of
at most n_buckets+1 (bucket, bad-rate) points, never the raw rows.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from .evaluation import _bucketize


def quantile_cuts(
    df: DataFrame,
    features: Sequence[str],
    n_buckets: int = 10,
    relative_error: float = 0.001,
) -> Dict[str, List[float]]:
    """Per-feature interior cut points from ONE multi-column
    ``approxQuantile`` pass (Greenwald-Khanna sketches, all k features in
    a single scan). Duplicate quantiles collapse, so constant-ish
    features yield fewer buckets rather than empty ones."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    all_q = df.approxQuantile(list(features), probs, relative_error)
    out: Dict[str, List[float]] = {}
    for feat, qs in zip(features, all_q):
        seen: List[float] = []
        for q in qs:
            if not seen or q > seen[-1]:
                seen.append(q)
        out[feat] = seen
    return out


# sentinel bucket for NULL categorical values; never appears in the output
# (only per-feature aggregates leave this module), so it cannot collide
# with a real category in any user-visible way
_MISSING_CAT = "__missing__"


def iv_screen(
    df: DataFrame,
    features: Sequence[str],
    y_col: str,
    *,
    categorical: Optional[Sequence[str]] = None,
    cuts: Optional[Dict[str, Sequence[float]]] = None,
    n_buckets: int = 10,
    smoothing: float = 0.5,
    relative_error: float = 0.001,
    group_col: Optional[str] = None,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Rank k candidate features by Information Value in ≤2 passes.

    Parameters
    ----------
    cuts : explicit interior cut points per feature (deterministic path,
        used by the oracle harness). When omitted, derived by
        :func:`quantile_cuts` in one extra scan. With ``group_col`` the
        cuts are GLOBAL (shared across groups), which keeps per-group IVs
        comparable on the same bucketing.
    y_col : binary target column (castable to int, 1 = "bad").
    group_col : screen every feature within every group of this column
        (e.g. ``source``) in the same single scan; adds the group column
        to the output.
    weight_col : sample-weight column — counts/bads become frequency-
        weight sums (integer weight k == k-fold replication), matching
        ``SparkMonotonicBinner(weight_col=...)`` so the screen ranks on
        the same weighted IVs the downstream fit will produce. A
        null/negative/non-finite weight fails the job loudly at task
        level (``raise_error`` in the scan — no validation pass).

    Returns one row per feature (or per (group, feature)): ``feature``,
    ``n_buckets`` (non-empty, missing bucket included), ``iv``, and
    ``bad_rate_monotone`` — whether the per-bucket bad rate is monotone
    over the NON-missing buckets in cut order (the cheap screen for
    "will a monotone binning fit this feature without heavy merging").
    """
    features = list(features or [])
    categorical = list(categorical or [])
    if not features and not categorical:
        raise ValueError("iv_screen: empty feature list")
    overlap = set(features) & set(categorical)
    if overlap:
        raise ValueError(
            f"iv_screen: features listed as both numeric and categorical: "
            f"{sorted(overlap)}"
        )
    if features:
        if cuts is None:
            cuts = quantile_cuts(df, features, n_buckets, relative_error)
        missing = [f for f in features if f not in cuts]
        if missing:
            raise ValueError(f"iv_screen: no cuts for features {missing}")

    gcols = [group_col] if group_col else []
    entries = [
        F.struct(
            F.lit(f).alias("feature"),
            _bucketize(F.col(f), cuts[f]).alias("bucket"),
            F.lit(None).cast("string").alias("cat"),
        )
        for f in features
    ] + [
        F.struct(
            F.lit(f).alias("feature"),
            F.lit(None).cast("int").alias("bucket"),
            F.coalesce(F.col(f).cast("string"), F.lit(_MISSING_CAT)).alias(
                "cat"
            ),
        )
        for f in categorical
    ]
    pairs = F.explode(F.array(*entries)).alias("fb")
    y = F.col("__y").cast("long")
    if weight_col is not None:
        wc = F.col(weight_col).cast("double")
        bad_w = (
            wc.isNull()
            | F.isnan(wc)
            | (wc < 0)
            | (F.abs(wc) == F.lit(float("inf")))
        )
        wv = F.when(
            bad_w,
            F.raise_error(
                F.lit(
                    f"iv_screen: weight column '{weight_col}' has a "
                    f"null/negative/non-finite value"
                )
            ).cast("double"),
        ).otherwise(wc)
        base = df.select(
            *gcols, pairs, F.col(y_col).cast("int").alias("__y"),
            wv.alias("__w"),
        ).select(*gcols, "fb.feature", "fb.bucket", "fb.cat", "__y", "__w")
        agg = base.groupBy(*gcols, "feature", "bucket", "cat").agg(
            F.sum("__w").alias("count"),
            F.sum(F.col("__w") * y).alias("bads"),
        # a bucket whose rows all carry weight 0 must not exist at all
        # (replication semantics): it would divide-by-zero the bad rate
        # under ANSI mode and inflate n_buckets/the smoothing k
        ).filter(F.col("count") > 0)
    else:
        agg = (
            df.select(*gcols, pairs, F.col(y_col).cast("int").alias("__y"))
            .select(*gcols, "fb.feature", "fb.bucket", "fb.cat", "__y")
            .groupBy(*gcols, "feature", "bucket", "cat")
            .agg(F.count(F.lit(1)).alias("count"), F.sum(y).alias("bads"))
        )

    pkeys = gcols + ["feature"]
    s = float(smoothing)

    # ONE pipeline for numeric AND categorical features (a filter-split
    # union would push the cat predicate below the aggregate and re-scan
    # the input once per branch): per-feature totals come from a second
    # algebraic aggregate over the SAME shuffle output (ReusedExchange)
    # broadcast-joined back — never a per-feature window, which a
    # 10⁸-category column would pin into a single task.
    tot = agg.groupBy(*pkeys).agg(
        F.sum("count").alias("__tc"),
        F.sum("bads").alias("__tb"),
        F.count(F.lit(1)).alias("__k"),
    )
    j = agg.join(F.broadcast(tot), pkeys)
    goods = F.col("count") - F.col("bads")
    g_rate = (goods + s) / ((F.col("__tc") - F.col("__tb")) + s * F.col("__k"))
    b_rate = (F.col("bads") + s) / (F.col("__tb") + s * F.col("__k"))
    iv_term = (g_rate - b_rate) * F.log(g_rate / b_rate)
    # bad-rate points for the monotone check: NUMERIC real buckets only
    # (a NULL element is skipped by collect_list, so categorical rows and
    # the missing bucket contribute nothing — the collected array is
    # bounded by n_buckets+1 per feature regardless of category counts)
    br_pt = F.when(
        F.col("cat").isNull() & (F.col("bucket") >= 0),
        F.struct(F.col("bucket").alias("b"),
                 (F.col("bads") / F.col("count")).alias("br")),
    )
    res = j.groupBy(*pkeys).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.round(F.sum(iv_term), 6).alias("iv"),
        F.sort_array(F.collect_list(br_pt)).alias("__brs"),
        F.max("cat").alias("__anycat"),
    )
    # consecutive bad-rate steps over the tiny per-feature array; all
    # steps ≥ -eps or all ≤ eps (or no steps) = monotone. NULL for
    # categorical features — categories have no order to be monotone on.
    mono = F.expr(
        """
        CASE WHEN __anycat IS NOT NULL THEN NULL ELSE
          size(__brs) < 2 OR
          forall(zip_with(slice(__brs, 2, size(__brs) - 1),
                          slice(__brs, 1, size(__brs) - 1),
                          (a, b) -> a.br - b.br),
                 st -> st <= 1e-12) OR
          forall(zip_with(slice(__brs, 2, size(__brs) - 1),
                          slice(__brs, 1, size(__brs) - 1),
                          (a, b) -> a.br - b.br),
                 st -> st >= -1e-12)
        END
        """
    )
    return (
        res.withColumn("bad_rate_monotone", mono)
        .drop("__brs", "__anycat")
        .orderBy(*gcols, F.col("iv").desc(), "feature")
    )
