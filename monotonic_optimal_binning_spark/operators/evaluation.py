"""Model-evaluation operators: gains/lift table, KS statistic, AUC.

The scorecard-evaluation companions to WoE binning: once a model (or a
single WoE-encoded feature) produces a score, the questions are always
the same — how concentrated are the positives in the top buckets
(gains/lift), how separated are the two score distributions (KS), and
what is the probability a random positive outranks a random negative
(AUC).  The reference stops at bin summaries and plots
(/root/reference/src/MOBPY/plot/__init__.py); these are the engine-new
metrics a training pipeline runs on every scored slice.

Scale design: every metric here reduces the data in ONE
`groupBy` scan with map-side combine, then finishes on the bounded
aggregated frame:

- :func:`gains_table` buckets by caller-provided cut points (fixed
  literals — reproducible by an ANSI oracle and by a resumed job;
  derive them once from ``approxQuantile`` if you want deciles), so the
  scan is a k-bucket hash aggregate and everything after is k rows.
- :func:`ks_auc` aggregates per DISTINCT score, then runs the ordered
  prefix on the aggregated frame.  For binned/WoE scores that frame is
  k rows (k = number of bins) and the single-partition window is free.
  For raw continuous scores the distinct frame can approach the row
  count — pass ``cuts=`` to pre-bucket (KS/AUC over binned scores is
  the standard reporting convention anyway, and the binned statistic is
  a deterministic function of the cuts, which an oracle can replay).

Ties are handled exactly: AUC uses the trapezoidal / mid-rank
correction ``0.5 * pos_i * neg_i`` inside each tied score group, which
equals the Mann-Whitney U statistic with average ranks.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F


def _bucketize(score, cuts: Sequence[float]):
    """Bucket index from fixed cut points: bucket i means
    cuts[i-1] <= score < cuts[i]; scores below cuts[0] -> 0,
    >= cuts[-1] -> len(cuts); NULL scores -> -1 (their own bucket)."""
    expr = F.when(score.isNull(), F.lit(-1))
    for i, c in enumerate(cuts):
        if i and float(c) <= float(cuts[i - 1]):
            raise ValueError("cuts must be strictly increasing")
        expr = expr.when(score < F.lit(float(c)), F.lit(i))
    return expr.otherwise(F.lit(len(cuts)))


def _auto_cuts(
    base: DataFrame,
    score,
    *,
    max_distinct: int,
    n_buckets: int,
    rel_err: float = 1e-4,
):
    """Scale guard for ``cuts=None``: probe distinct-score cardinality
    with ``approx_count_distinct`` (one cheap action) and, above
    ``max_distinct``, derive quantile cut points so the single-partition
    ordered prefix frame is bounded at any input scale. Returns ``None``
    when the exact distinct-score path is already safe."""
    nd = base.agg(F.approx_count_distinct(score).alias("nd")).first()["nd"]
    if nd <= max_distinct:
        return None
    probs = [i / n_buckets for i in range(1, n_buckets)]
    qs = base.select(score.alias("__s")).approxQuantile("__s", probs, rel_err)
    cuts = sorted({float(q) for q in qs})
    return cuts or None


def gains_table(
    df: DataFrame,
    score_col: str,
    y_col: str,
    cuts: Sequence[float],
    *,
    descending: bool = True,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Per-bucket gains/lift table over fixed score cut points.

    One hash-aggregate scan -> (len(cuts)+1)-row frame with, per bucket
    (ordered best-score-first when ``descending``):

    - ``bucket``        index (len(cuts) = top open interval),
    - ``n``, ``n_pos``  rows / positives in the bucket,
    - ``pos_rate``      bucket precision,
    - ``cum_n``, ``cum_pos``  running totals in score order,
    - ``capture_rate``  cum_pos / total positives (gains),
    - ``lift``          pos_rate / overall rate,
    - ``cum_lift``      (cum_pos/cum_n) / overall rate.

    ``y_col`` must be 0/1 (NULL labels are excluded from every count).
    NULL scores get bucket -1, ordered last, excluded from cumulative
    sums (they contribute no ordering information).

    ``weight_col``: all counts become frequency-weight sums (integer
    weight k == k-fold replication); rates/lifts follow.
    """
    if not cuts:
        raise ValueError("gains_table: cuts must be non-empty")
    y = F.col(y_col).cast("double")
    if weight_col is not None:
        from .drift import _weight_expr

        wv = _weight_expr(weight_col, "gains_table")
        agg = (
            df.select(
                _bucketize(F.col(score_col).cast("double"), cuts).alias(
                    "bucket"
                ),
                y.alias("__y"),
                wv.alias("__w"),
            )
            .groupBy("bucket")
            .agg(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("__y").isNotNull() & (F.col("__w") > 0),
                            F.col("__w"),
                        )
                    ),
                    F.lit(0.0),
                ).alias("n"),
                # zero-weight rows are excluded OUTRIGHT (0 * NaN label
                # would otherwise poison the sum; 0-fold replication has
                # no such row)
                F.coalesce(
                    F.sum(
                        F.when(F.col("__w") > 0, F.col("__w") * F.col("__y"))
                    ),
                    F.lit(0.0),
                ).alias("n_pos"),
            )
            .filter(F.col("n") > 0)
        )
    else:
        agg = (
            df.select(
                _bucketize(F.col(score_col).cast("double"), cuts).alias(
                    "bucket"
                ),
                y.alias("__y"),
            )
            .groupBy("bucket")
            .agg(
                F.count("__y").alias("n"),
                F.coalesce(F.sum("__y"), F.lit(0.0))
                .cast("long")
                .alias("n_pos"),
            )
        )
    order = F.col("bucket").desc() if descending else F.col("bucket").asc()
    # the frame is <= len(cuts)+2 rows: a single-partition window is free
    w = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
    real = F.col("bucket") >= 0
    tot_n = F.sum(F.when(real, F.col("n"))).over(
        Window.partitionBy(F.lit(1))
    )
    tot_pos = F.sum(F.when(real, F.col("n_pos"))).over(
        Window.partitionBy(F.lit(1))
    )
    cum_n = F.sum(F.when(real, F.col("n"))).over(w)
    cum_pos = F.sum(F.when(real, F.col("n_pos"))).over(w)
    rate = F.col("n_pos") / F.col("n")
    overall = tot_pos / tot_n
    out = agg.select(
        "bucket",
        "n",
        "n_pos",
        rate.alias("pos_rate"),
        F.when(real, cum_n).alias("cum_n"),
        F.when(real, cum_pos).alias("cum_pos"),
        F.when(real, cum_pos / tot_pos).alias("capture_rate"),
        F.when(real, rate / overall).alias("lift"),
        F.when(real, (cum_pos / cum_n) / overall).alias("cum_lift"),
    )
    return out.orderBy(F.col("bucket") == -1, order)


def _ks_auc(
    df: DataFrame,
    score_col: str,
    y_col: str,
    keys: Sequence[str],
    *,
    where: str,
    cuts: Optional[Sequence[float]],
    weight_col: Optional[str],
    prebins: str,
    max_distinct: int,
    auto_buckets: int,
) -> DataFrame:
    """KS + AUC per distinct value of the ``keys`` columns: one
    ``groupBy(keys, score)`` scan, prefix windows partitioned by the keys,
    one row per key. With ``keys=()`` the windows span the whole
    (bounded) distinct-score frame and the result is one row."""
    if prebins not in ("auto", "exact"):
        raise ValueError("prebins must be 'auto' or 'exact'")
    y = F.col(y_col).cast("double")
    s = F.col(score_col).cast("double")
    base = df.filter(s.isNotNull() & y.isNotNull())
    if cuts is None and prebins == "auto":
        cuts = _auto_cuts(
            base, s, max_distinct=max_distinct, n_buckets=auto_buckets
        )
    kn = [f"__k{i}" for i in range(len(keys))]
    cols = [F.col(c).alias(k) for c, k in zip(keys, kn)]
    cols += [(_bucketize(s, cuts) if cuts else s).alias("s"), y.alias("__y")]
    if weight_col is not None:
        from .drift import _weight_expr

        cols.append(_weight_expr(weight_col, where).alias("__w"))
        pos_w = F.when(F.col("__w") > 0, F.col("__w"))
        agg = (
            base.select(*cols)
            .groupBy(*kn, "s")
            .agg(
                F.sum(pos_w * F.col("__y")).alias("pos"),
                F.sum(pos_w * (1 - F.col("__y"))).alias("neg"),
            )
            # zero-weight-only score groups carry no mass (and 0 * NaN
            # label would poison the sums)
            .filter((F.col("pos") + F.col("neg")) > 0)
        )
    else:
        agg = (
            base.select(*cols)
            .groupBy(*kn, "s")
            .agg(
                F.sum("__y").cast("long").alias("pos"),
                (F.count("__y") - F.sum("__y")).cast("long").alias("neg"),
            )
        )
    if cuts:
        agg = agg.filter(F.col("s") >= 0)  # NULL-score bucket
    tot = Window.partitionBy(*kn)
    w = tot.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    cum_pos = F.sum("pos").over(w)
    cum_neg = F.sum("neg").over(w)
    p = F.sum("pos").over(tot)
    n = F.sum("neg").over(tot)
    neg_below = cum_neg - F.col("neg")
    per = agg.select(
        *kn,
        F.abs(
            cum_pos.cast("double") / p - cum_neg.cast("double") / n
        ).alias("gap"),
        (
            neg_below.cast("double") * F.col("pos")
            + F.lit(0.5) * F.col("neg") * F.col("pos")
        ).alias("u"),
        p.alias("p"),
        n.alias("n"),
    )
    out = per.groupBy(*kn).agg(
        F.max("gap").alias("ks"),
        (F.sum("u") / (F.first("p") * F.first("n"))).alias("auc"),
        F.first("p").alias("n_pos"),
        F.first("n").alias("n_neg"),
    )
    for c, k in zip(keys, kn):
        out = out.withColumnRenamed(k, c)
    return out


def ks_auc(
    df: DataFrame,
    score_col: str,
    y_col: str,
    *,
    cuts: Optional[Sequence[float]] = None,
    weight_col: Optional[str] = None,
    prebins: str = "auto",
    max_distinct: int = 16384,
    auto_buckets: int = 4096,
) -> DataFrame:
    """Exact KS statistic and tie-aware AUC in one scan + one bounded
    prefix pass.  Returns a single row ``(ks, auc, n_pos, n_neg)``.

    - KS = max over score thresholds of |F_pos(s) − F_neg(s)|.
    - AUC = P(score_pos > score_neg) + 0.5·P(tie)  (Mann-Whitney with
      average ranks), accumulated per distinct score:
      ``Σ (neg_below·pos_i + 0.5·neg_i·pos_i) / (P·N)`` ascending.

    NULL scores and NULL labels are excluded (no ordering information);
    with none left the row is all NULL.
    With ``cuts`` the scores are pre-bucketed (bounded distinct frame at
    any scale — see module docstring).  Without ``cuts`` the default
    ``prebins="auto"`` probes distinct-score cardinality
    (``approx_count_distinct``) and, above ``max_distinct``, auto-buckets
    on ``auto_buckets`` approx quantiles so the global-order prefix
    window is bounded at any scale; binned/WoE scores stay under the
    probe and take the unchanged exact path.  ``prebins="exact"`` forces
    the raw distinct-score prefix (no probe action).

    ``weight_col``: frequency-weighted KS/AUC — pos/neg masses become
    weight sums (weighted ECDFs; weighted Mann-Whitney
    Σ w_i·w_j·[s_i > s_j] + ½·ties over (Σw_pos)(Σw_neg)), so an integer
    weight k equals k-fold replication. Bad weights fail loudly in the
    scan (iv_screen's raise_error pattern); n_pos/n_neg become doubles.
    """
    return _ks_auc(
        df, score_col, y_col, (), where="ks_auc", cuts=cuts,
        weight_col=weight_col, prebins=prebins,
        max_distinct=max_distinct, auto_buckets=auto_buckets,
    )


def ks_auc_grouped(
    df: DataFrame,
    score_col: str,
    y_col: str,
    group_col: str,
    *,
    cuts: Optional[Sequence[float]] = None,
    weight_col: Optional[str] = None,
    prebins: str = "auto",
    max_distinct: int = 16384,
    auto_buckets: int = 4096,
) -> DataFrame:
    """Per-group KS + AUC in one scan: one row per ``group_col`` value
    with ``(group, ks, auc, n_pos, n_neg)``.

    The group is a monitoring segment (source, time slice) or a CV fold
    (compose with :func:`..encoding.fold_assignment` for out-of-fold
    metric stability).  Same math as :func:`ks_auc`; the prefix windows
    are PARTITIONED by group, so the per-group distinct-score frames
    process in parallel and no single task sees more than one group's
    scores.  ``cuts=None`` inherits :func:`ks_auc`'s ``prebins="auto"``
    scale guard — ONE global cardinality probe and ONE shared quantile
    grid (cuts common across groups keep the per-group metrics
    comparable), not a probe per group.
    """
    return _ks_auc(
        df, score_col, y_col, (group_col,), where="ks_auc_grouped",
        cuts=cuts, weight_col=weight_col, prebins=prebins,
        max_distinct=max_distinct, auto_buckets=auto_buckets,
    )
