"""Point-in-time (as-of) join with zero temporal leakage.

The reference has no joins at all (SURVEY.md §2.9); this operator is new per
BASELINE.json north_rule ("event-time as-of merges over sorted doc_id ×
timestamp partitions guarantee zero temporal leakage").

Spark SQL has no native as-of join, so we use the union-and-window plan:

  1. tag left/right rows and union them by (key, ts)
  2. one window ``partitionBy(key).orderBy(ts, side)`` carries the most
     recent right-side values forward with ``last(..., ignorenulls=True)``
  3. filter back to left rows

Why this shape at 100 TB: it costs exactly ONE shuffle of |L|+|R| rows keyed
by the join key (the same lower bound a sort-merge join would pay), the
window sort happens within partitions (spillable, no driver state), and
Catalyst keeps every expression in whole-stage codegen — no Python in the
hot path. Tie-breaking on the ``side`` column gives exact
allow_exact_matches semantics without a range self-join blowup.

Step 2 is :func:`~.windows.backfill` over the tagged union (an as-of
``backward`` is a forward fill, ``forward`` a backward fill), so the join
and the fill share one window plan.

Skew: a single hot key serializes into one task. Mitigations (documented,
benchmarked in BENCH.md): enable AQE skew handling for the shuffle, or
``asof_join_bucketed``: the same union filled with
:func:`~.windows.backfill_bucketed`, which windows per (key, time_bucket)
and carries the newest right value across buckets over a one-row-per-
bucket summary that re-enters the union as one carry row per bucket.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_seconds as _ts_expr
from .windows import _backfill_bucketed, _keys, _trailing_frame, backfill

_SIDE = "__asof_side"
_MATCH_TS = "__asof_matched_ts"


def _asof_names(left, right, on, left_ts, right_ts, value_cols, right_prefix):
    """The preamble of every as-of form: ``(keys, right_ts, value_cols,
    out_names)``, with ``right_ts`` defaulting to ``left_ts``, the value
    columns to every right column but the keys and time, and an output
    name that collides with a left column refused."""
    keys = _keys(on)
    right_ts = right_ts or left_ts
    if value_cols is None:
        value_cols = [
            c for c in right.columns if c not in keys and c != right_ts
        ]
    out_names = [right_prefix + c for c in value_cols]
    for c in out_names:
        if c in left.columns:
            raise ValueError(
                f"output column '{c}' collides with a left column; set "
                f"right_prefix"
            )
    return keys, right_ts, value_cols, out_names


def _asof_fill(
    left, right, on, left_ts, right_ts, value_cols, right_prefix, *,
    backward: bool, allow_exact_matches: bool,
    bucket_seconds: Optional[float] = None,
):
    """The as-of join as a fill over the tagged union: ``(left rows with
    the matched values, _MATCH_TS, _SIDE and __asof_ts, out_names)``.

    Left and right rows are unioned by (key, ts) and the right values are
    filled onto the left rows with :func:`~.windows.backfill` (or
    :func:`~.windows.backfill_bucketed` when ``bucket_seconds`` is given):
    an as-of ``backward`` is a backfill ``forward``, and the reverse.
    """
    keys, right_ts, value_cols, out_names = _asof_names(
        left, right, on, left_ts, right_ts, value_cols, right_prefix
    )
    # Side ordering encodes exact-match eligibility:
    #   backward + exact:  right rows sort BEFORE left at equal ts
    #   backward + !exact: right rows sort AFTER  left at equal ts
    # (mirrored for forward, where the fill looks at following rows)
    if backward:
        right_side, left_side = (0, 1) if allow_exact_matches else (1, 0)
    else:
        right_side, left_side = (1, 0) if allow_exact_matches else (0, 1)

    # value columns keep their NATIVE right-side types (string/struct/array
    # payloads survive; pandas merge_asof parity) — only the left side's
    # null placeholders are cast, to the right schema's type
    lsel = [F.col(c) for c in left.columns]
    lsel += [
        F.lit(None).cast(right.schema[c].dataType).alias(p)
        for c, p in zip(value_cols, out_names)
    ]
    lsel += [
        F.lit(left_side).alias(_SIDE),
        _ts_expr(left, left_ts).alias("__asof_ts"),
        F.lit(None).cast("double").alias(_MATCH_TS),
    ]
    l_tagged = left.select(*lsel)

    rsel = [F.col(k) for k in keys]
    rsel += [
        F.lit(None).cast(left.schema[c].dataType).alias(c)
        for c in left.columns
        if c not in keys
    ]
    rsel += [F.col(c).alias(p) for c, p in zip(value_cols, out_names)]
    rsel += [
        F.lit(right_side).alias(_SIDE),
        _ts_expr(right, right_ts).alias("__asof_ts"),
        _ts_expr(right, right_ts).alias(_MATCH_TS),
    ]
    # a right row with a NULL event time can never be "before" or "after"
    # anything — without this filter it sorts NULLS FIRST and its values
    # leak into every backward match
    r_tagged = right.select(*rsel).filter(F.col("__asof_ts").isNotNull())

    unioned = l_tagged.unionByName(r_tagged)
    fill_cols = out_names + [_MATCH_TS]
    if bucket_seconds is None:
        filled = backfill(
            unioned, fill_cols, keys, "__asof_ts",
            direction="forward" if backward else "backward",
            output_suffix="", tiebreak=[_SIDE],
        )
    else:
        # only right rows hold values, all on one side and none with a
        # null time, so the time alone orders each bucket's summary
        filled = _backfill_bucketed(
            unioned, fill_cols, keys, "__asof_ts", bucket_seconds, "",
            [_SIDE], F.col("__asof_ts"),
        )
    result = filled.filter(F.col(_SIDE) == F.lit(left_side))

    # a left row with a NULL event time matches nothing (it would
    # otherwise sort NULLS FIRST and, in forward mode, grab the earliest
    # right value)
    null_ts = F.col("__asof_ts").isNull()
    for c in fill_cols:
        result = result.withColumn(
            c, F.when(null_ts, F.lit(None)).otherwise(F.col(c))
        )
    return result, out_names


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: Optional[str] = None,
    value_cols: Optional[List[str]] = None,
    *,
    direction: str = "backward",
    allow_exact_matches: bool = True,
    tolerance: Optional[float] = None,
    right_prefix: str = "",
    include_matched_ts: Optional[str] = None,
) -> DataFrame:
    """Join each left row to the temporally closest right row per key.

    Args:
        left: probe side (one output row per input row).
        right: build side providing ``value_cols``.
        on: equality key column(s) (e.g. doc_id / user_id).
        left_ts / right_ts: event-time columns (right_ts defaults to left_ts
            name). Timestamps or numerics.
        direction: 'backward' (right.ts <= left.ts — the zero-leakage
            default) or 'forward' (right.ts >= left.ts).
        allow_exact_matches: whether right.ts == left.ts is eligible.
        tolerance: max |left.ts - right.ts| in seconds; matches farther away
            are nulled (pandas.merge_asof semantics).
        right_prefix: prefix for the emitted value columns.
        include_matched_ts: if set, also emit the matched right timestamp
            (seconds, double) under this name — used by leakage audits.

    Null event times match NOTHING on either side: a null-ts right row is
    dropped (it is never "before" or "after" anything) and a null-ts left
    row gets null values — without this, Spark's NULLS FIRST ordering
    would leak a null-ts right row into every backward match and hand
    forward-mode null-ts left rows the earliest right value.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    result, out_names = _asof_fill(
        left, right, on, left_ts, right_ts, value_cols, right_prefix,
        backward=direction == "backward",
        allow_exact_matches=allow_exact_matches,
    )

    if tolerance is not None:
        too_far = (
            F.abs(F.col("__asof_ts") - F.col(_MATCH_TS)) > F.lit(float(tolerance))
        ) | F.col(_MATCH_TS).isNull()
        for c in out_names:
            result = result.withColumn(
                c, F.when(too_far, F.lit(None)).otherwise(F.col(c))
            )
        result = result.withColumn(
            _MATCH_TS, F.when(too_far, F.lit(None)).otherwise(F.col(_MATCH_TS))
        )

    drop = [_SIDE, "__asof_ts"]
    if include_matched_ts:
        result = result.withColumnRenamed(_MATCH_TS, include_matched_ts)
    else:
        drop.append(_MATCH_TS)
    return result.drop(*drop)


def asof_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: Optional[str] = None,
    value_cols: Optional[List[str]] = None,
    *,
    allow_exact_matches: bool = True,
    right_prefix: str = "",
    max_rows: int = 5_000_000,
    max_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Backward as-of join for a SMALL right side — the dimension-table
    path :func:`asof_join` deliberately doesn't take.

    The union-and-window plan shuffles |L|+|R| rows; when the right side
    is dimension-sized (model releases, config changes, price updates)
    that shuffles a 100 TB left to join against kilobytes. Here the
    whole right side is collected once (guarded), organized into per-key
    sorted timestamp/value arrays, shipped to executors as an EXPLICIT
    ``sc.broadcast`` (fetched once per executor, not per task), and each
    Arrow batch of left rows resolves its matches with one
    ``np.searchsorted`` per key group — the left is never shuffled,
    never sorted: scan → ArrowEval → project.

    Memory contract: the lookup lives in the DRIVER heap once and in
    EVERY executor's Python-worker heap for the query's lifetime. Both
    guards are measured on the ONE collected Arrow table itself (no
    separate count action a nondeterministic right side could bypass),
    and the collect is limit-bounded to ``max_rows + 1`` rows so an
    oversized right side can never materialize whole on the driver
    before the guard fires: ``max_rows`` bounds rows, ``max_bytes``
    bounds the Arrow-buffer payload size (default 256 MB — wide value
    columns hit this long before 5M rows). Over either limit → use
    :func:`asof_join`.

    Semantics match :func:`asof_join(direction="backward")`: most recent
    right value at-or-before (or strictly-before with
    ``allow_exact_matches=False``) each left timestamp, null when none;
    null left timestamps match nothing. As with the window plan, ties in
    right (key, ts) have no deterministic winner — keep them unique.
    Native right-side value types are preserved — including 64-bit
    integers above 2^53 in NULLABLE columns, which a plain ``toPandas``
    would silently round through float64 (they are kept as exact Python
    ints in object arrays instead).
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql import types as T

    keys, right_ts, value_cols, out_names = _asof_names(
        left, right, on, left_ts, right_ts, value_cols, right_prefix
    )

    # the collect itself is BOUNDED by limit(max_rows + 1): a runaway
    # right side materializes at most max_rows+1 rows on the driver before
    # the guard fires, instead of the whole table (which would be the very
    # driver OOM the guard exists to prevent); the row guard still reads
    # off the one collected table, so a nondeterministic right side can't
    # slip between a separate count and the collect
    tbl = right.select(
        *[F.col(k).alias(f"__k{i}") for i, k in enumerate(keys)],
        _ts_expr(right, right_ts).alias("__ts"),
        *[F.col(c) for c in value_cols],
    ).limit(int(max_rows) + 1).toArrow()
    if tbl.num_rows > max_rows:
        raise ValueError(
            f"right side has more than max_rows={max_rows} rows; "
            f"use asof_join (the shuffle plan) for large build sides"
        )
    if tbl.nbytes > max_bytes:
        raise ValueError(
            f"right side is {tbl.nbytes} Arrow bytes > max_bytes="
            f"{max_bytes}; broadcasting it would hold that much in every "
            f"executor's Python heap — use asof_join (the shuffle plan)"
        )
    rpdf = tbl.to_pandas()
    for c in value_cols:
        col = tbl.column(c)
        if pa.types.is_integer(tbl.schema.field(c).type) and col.null_count:
            # Arrow->pandas widens a nullable int column to float64, which
            # silently rounds int64 values above 2^53 — keep exact Python
            # ints (and None) in an object array instead
            rpdf[c] = pd.Series(
                np.asarray(col.to_pylist(), dtype=object), index=rpdf.index
            )
    rpdf = rpdf[rpdf["__ts"].notna()]
    kcols = [f"__k{i}" for i in range(len(keys))]
    # pandas yields 1-tuples when ITERATING a list grouper but scalars
    # from .groups — normalize every key to a plain tuple on both sides
    def _tup(key):
        return key if isinstance(key, tuple) else (key,)

    lookup = {}
    for key, grp in rpdf.groupby(kcols, sort=False, dropna=False):
        g = grp.sort_values("__ts", kind="mergesort")
        lookup[_tup(key)] = (
            g["__ts"].to_numpy(dtype=np.float64),
            [g[c].to_numpy() for c in value_cols],
        )
    # explicit broadcast (not closure capture): one fetch per executor, a
    # visible handle for the memory the guard above just bounded
    bc_lookup = left.sparkSession.sparkContext.broadcast(lookup)

    side = "right" if allow_exact_matches else "left"
    struct_t = T.StructType(
        [
            T.StructField(p, right.schema[c].dataType)
            for c, p in zip(value_cols, out_names)
        ]
    )
    n_vals = len(value_cols)

    @F.pandas_udf(struct_t)
    def _lookup(*cols):
        lookup_v = bc_lookup.value
        kseries, ts = list(cols[:-1]), cols[-1]
        n = len(ts)
        outs = [np.full(n, None, dtype=object) for _ in range(n_vals)]
        kframe = pd.DataFrame({i: s for i, s in enumerate(kseries)})
        tvals = pd.to_numeric(ts, errors="coerce").to_numpy(dtype=np.float64)
        for key, grp_idx in kframe.groupby(
            list(range(len(kseries))), sort=False, dropna=False
        ).groups.items():
            entry = lookup_v.get(_tup(key))
            if entry is None:
                continue
            rts, rvals = entry
            pos = np.asarray(grp_idx)
            t = tvals[pos]
            ok = ~np.isnan(t)
            idx = np.searchsorted(rts, t[ok], side=side) - 1
            hit = idx >= 0
            tgt = pos[ok][hit]
            for j in range(n_vals):
                outs[j][tgt] = rvals[j][idx[hit]]
        return pd.DataFrame({p: outs[j] for j, p in enumerate(out_names)})

    matched = left.withColumn(
        "__m",
        _lookup(
            *[F.col(k) for k in keys], _ts_expr(left, left_ts)
        ),
    )
    return matched.select(
        *left.columns, *[F.col("__m")[p].alias(p) for p in out_names]
    )


def leakage_audit(
    df: DataFrame,
    ts_col: str,
    matched_ts_col: str,
) -> DataFrame:
    """Zero-temporal-leakage audit over an as-of output produced with
    ``include_matched_ts``: one aggregate reporting row/match counts, the
    count of VIOLATIONS (a matched event-time after the observation time —
    must be 0 for a backward as-of), and the worst staleness. This is the
    check a feature platform runs after every point-in-time join; it is
    one scan, no shuffle beyond the final reduce."""
    ts = F.col(ts_col)
    m = F.col(matched_ts_col)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(m).alias("n_matched"),
        F.sum(F.when(m > ts, 1).otherwise(0)).alias("n_leaks"),
        F.max(F.when(m.isNotNull(), ts - m)).alias("max_staleness"),
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    *,
    keys: Sequence[str] = (),
    bucket_width: float,
    closed: str = "both",
) -> DataFrame:
    """Point-in-interval join as a BUCKETED EQUI-JOIN (inner).

    Spark would otherwise plan ``p.v BETWEEN i.lo AND i.hi`` as a
    broadcast-nested-loop (all-pairs per partition). Instead each interval
    explodes into the fixed-width buckets it covers and each point maps to
    exactly ONE bucket, so candidates meet through a hash-partitionable
    equi-join on (keys..., bucket) and the exact BETWEEN filter runs only
    on co-bucketed pairs. Because a point has a single bucket, no
    deduplication is needed. Choose ``bucket_width`` near the typical
    interval length: replication factor per interval is
    ~(len/bucket_width)+1, while too-wide buckets make the post-filter do
    the work.

    ``closed``: 'both' (default), 'left', 'right', 'neither' — which
    interval edges are inclusive.
    """
    bw = float(bucket_width)
    if bw <= 0:
        raise ValueError("bucket_width must be positive")
    preds = {
        "both": lambda p, lo, hi: (p >= lo) & (p <= hi),
        "left": lambda p, lo, hi: (p >= lo) & (p < hi),
        "right": lambda p, lo, hi: (p > lo) & (p <= hi),
        "neither": lambda p, lo, hi: (p > lo) & (p < hi),
    }
    if closed not in preds:
        raise ValueError(f"closed must be one of {sorted(preds)}")
    overlap = set(points.columns) & set(intervals.columns) - set(keys)
    if overlap:
        raise ValueError(
            f"points/intervals share non-key columns {sorted(overlap)}; "
            f"rename before joining"
        )
    pts = points.withColumn(
        "__rb", F.floor(F.col(point_col) / F.lit(bw)).cast("long")
    )
    ints = intervals.withColumn(
        "__rb",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bw)).cast("long"),
                F.floor(F.col(hi_col) / F.lit(bw)).cast("long"),
            )
        ),
    )
    joined = pts.join(ints, on=["__rb", *keys]).filter(
        preds[closed](F.col(point_col), F.col(lo_col), F.col(hi_col))
    )
    return joined.drop("__rb")


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: Optional[str] = None,
    value_cols: Optional[List[str]] = None,
    *,
    bucket_seconds: float,
    allow_exact_matches: bool = True,
    right_prefix: str = "",
) -> DataFrame:
    """Skew-resistant backward as-of join for hot keys: the same rows as
    :func:`asof_join` (backward, no tolerance).

    The same tagged union as :func:`asof_join`, filled with
    :func:`~.windows.backfill_bucketed` instead of
    :func:`~.windows.backfill`: time splits into ``bucket_seconds``
    ranges, so one hot key parallelizes across (key, bucket) tasks
    instead of serializing into one window task. The newest non-null
    right value of the preceding buckets carries over the one-row-per-
    bucket summary, so a left row whose match is many (empty) buckets
    older still finds it; equal timestamps share a bucket, so the
    exact-match tie rule holds inside it.

    Trade-off vs :func:`asof_join`: the union still shuffles once (on
    (key, bucket) instead of key, with one carry row per bucket), plus a
    second read of both inputs for the map-side summary (one row per
    key×bucket) and one shuffle of that summary per key. No join.
    """
    result, _ = _asof_fill(
        left, right, on, left_ts, right_ts, value_cols, right_prefix,
        backward=True, allow_exact_matches=allow_exact_matches,
        bucket_seconds=bucket_seconds,
    )
    return result.drop(_SIDE, "__asof_ts", _MATCH_TS)


def asof_agg_join(
    left: DataFrame,
    right: DataFrame,
    on,
    left_ts: str,
    right_ts: Optional[str] = None,
    *,
    value: str,
    horizons_seconds: Sequence[float],
    stats: Sequence[str] = ("sum", "count"),
    include_current: bool = True,
    prefix: Optional[str] = None,
) -> DataFrame:
    """Point-in-time AGGREGATION join: for each left observation at time
    ``t``, aggregate the right table's ``value`` over the entity's right
    rows in ``[t - h, t]`` for every horizon ``h`` — "the user's activity
    in the last hour / day as of this observation", leakage-free by
    construction (nothing after ``t`` is visible; the as-of join carries
    the LATEST value, this carries trailing aggregates).

    Plan (one shuffle of |L|+|R| for ALL horizons): left probes unioned
    with right contributor rows, every horizon a range frame over the
    SAME (key, ms) Window — the two-table, unchunked form of
    :func:`~.windows._trailing_frame`.

    Semantics: a null/invalid left timestamp matches nothing (count 0,
    null sums — the engine-wide as-of convention); null-ts right rows
    never contribute. ``include_current=False`` ends frames 1 ms before
    the probe (strictly-prior features — use when the right stream can
    contain the observation itself). Ties at the same millisecond are all
    included (range frames are value-based).

    Skew: a hot entity serializes into one task — see
    :func:`asof_agg_join_bucketed`.
    """
    return _trailing_frame(
        left, _keys(on), left_ts, value, horizons_seconds, stats=stats,
        include_current=include_current, prefix=prefix or f"{value}_h",
        right=right, right_ts=right_ts or left_ts,
    )


def asof_agg_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on,
    left_ts: str,
    right_ts: Optional[str] = None,
    *,
    value: str,
    horizons_seconds: Sequence[float],
    stats: Sequence[str] = ("sum", "count"),
    include_current: bool = True,
    prefix: Optional[str] = None,
) -> DataFrame:
    """Skew-safe :func:`asof_agg_join`: identical output, but no task
    ever holds a hot entity's full history — the chunked two-table form
    of :func:`~.windows._trailing_frame` (per horizon ``h``, chunks of
    width ``h``; contributors ghost into the next chunk). Cost: one
    shuffle + one contributor re-read per horizon — the price of skew
    immunity (the plain plan does all horizons in one).
    """
    return _trailing_frame(
        left, _keys(on), left_ts, value, horizons_seconds, stats=stats,
        include_current=include_current, prefix=prefix or f"{value}_h",
        right=right, right_ts=right_ts or left_ts, chunked=True,
    )


def asof_decayed_join(
    left: DataFrame,
    right: DataFrame,
    on,
    left_ts: str,
    right_ts: Optional[str] = None,
    *,
    value: str,
    half_lives_seconds: Sequence[float],
    stats: Sequence[str] = ("sum", "count"),
    include_current: bool = True,
    prefix: Optional[str] = None,
    truncate_half_lives: int = 96,
) -> DataFrame:
    """Point-in-time DECAYED aggregation join: for each left observation
    at time ``t``, the right table's recency-weighted activity
    ``sum_i v_i * 2^{-(t - t_i)/H}`` over the entity's right rows at
    ``t_i <= t`` — the two-table member of the feature matrix
    (:func:`asof_agg_join` = hard window / two tables,
    :func:`~.windows.time_decayed_features` = decayed / one table).
    ``count`` is the decayed event count (fractional), ``mean`` their
    ratio. Leakage-free by construction.

    The decayed two-table form of :func:`~.windows._trailing_frame`:
    contributor weights are re-centred on ghost chunks of width
    ``C = truncate_half_lives * H``, so exponents stay in ``[-T, T)``
    and a hot entity is bounded at two chunks per task. The chunking is
    load-bearing for the exponent range, so each half-life costs one
    shuffle of |L|+|R| (there is no all-half-lives-one-shuffle variant)
    and one right-side scan. Truncation at the default 96 half-lives is
    below double precision (weight < 2^-96). Null/invalid left
    timestamps match nothing (count 0, null sums); null-ts or null-value
    right rows never contribute — the engine-wide as-of convention.
    """
    return _trailing_frame(
        left, _keys(on), left_ts, value, half_lives_seconds, stats=stats,
        include_current=include_current, prefix=prefix or f"{value}_hl",
        right=right, right_ts=right_ts or left_ts, chunked=True,
        truncate_half_lives=truncate_half_lives,
    )


def snapshot_at(
    df: DataFrame,
    key,
    ts: str,
    at,
    *,
    value_cols: Optional[List[str]] = None,
    tiebreak: Optional[str] = None,
    matched_ts_col: str = "as_of_ms",
) -> DataFrame:
    """Point-in-time table state: the latest row per key with
    ``ts <= at`` — "what did each entity look like at T" (training
    snapshot assembly, SCD reconstruction, backtests).

    Scale design: ONE algebraic aggregate — ``max_by(values,
    (ms, tiebreak))`` — so the argmax combines map-side and a hot key
    costs partial-aggregate merges, not a single sorted task (no window,
    no shuffle beyond the groupBy). ``tiebreak`` makes same-millisecond
    ties deterministic (pass a unique id column); without it Spark picks
    an arbitrary tied row. Null event times match nothing. ``at`` is
    epoch seconds (numeric) or anything ``pandas.Timestamp`` accepts.
    """
    from ..functions.timeutil import epoch_millis

    keys = [key] if isinstance(key, str) else list(key)
    if value_cols is None:
        value_cols = [
            c for c in df.columns if c not in keys and c != ts
        ]
    if isinstance(at, (int, float)):
        at_ms = int(round(float(at) * 1000))
    else:
        import pandas as pd

        at_ms = pd.Timestamp(at).value // 1_000_000
    ms = epoch_millis(df, ts)
    ordcols = [ms] + ([F.col(tiebreak)] if tiebreak else [])
    picked = (
        df.filter(ms.isNotNull() & (ms <= F.lit(at_ms)))
        .groupBy(*[F.col(k) for k in keys])
        .agg(
            F.max_by(
                F.struct(
                    ms.alias("__ms"), *[F.col(c) for c in value_cols]
                ),
                F.struct(*ordcols),
            ).alias("__best")
        )
    )
    return picked.select(
        *keys,
        F.col("__best.__ms").alias(matched_ts_col),
        *[F.col(f"__best.{c}").alias(c) for c in value_cols],
    )


def intervalize(
    df: DataFrame,
    key,
    ts: str,
    *,
    tiebreak: Optional[str] = None,
    from_col: str = "valid_from_ms",
    to_col: str = "valid_to_ms",
) -> DataFrame:
    """Turn an event/update stream into SCD-2 validity intervals: each
    row becomes valid from its own timestamp until the key's NEXT update
    (null = still current). ``snapshot_at(T)`` == rows whose interval
    contains T; a range join on the intervals serves arbitrary-time
    lookups without per-probe windows.

    One ``lead`` window per key (ordered by exact epoch-ms, then
    ``tiebreak`` for same-millisecond determinism); null event times are
    dropped (an update with no time has no validity). Same-ms ties
    produce zero-length ``[t, t)`` intervals — closed-open semantics
    keep downstream range joins exact.
    """
    from ..functions.timeutil import epoch_millis

    keys = [key] if isinstance(key, str) else list(key)
    for c in (from_col, to_col):
        if c in df.columns:
            raise ValueError(f"output column '{c}' collides; rename")
    ms = epoch_millis(df, ts)
    order = [F.col(from_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn(from_col, ms)
        .filter(F.col(from_col).isNotNull())
        .withColumn(to_col, F.lead(from_col).over(w))
    )
