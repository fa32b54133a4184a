"""Windowed feature operators: lag/lead, backfill, sessionize, rolling stats.

New per BASELINE.json north_rule (the reference has no window functions,
SURVEY.md §2.9). All pure DataFrame/window compositions — whole-stage
codegen end to end, one shuffle on the partition key per distinct
(partitionBy, orderBy) pair; chaining several of these operators with the
same (key, ts) reuses the exchange.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_millis, epoch_seconds


def _keys(key: str | Sequence[str]):
    return [key] if isinstance(key, str) else list(key)


def horizon_label(h) -> str:
    """Non-lossy column-name fragment for a horizon/half-life in seconds.

    Integral horizons keep the bare-integer form (``3600``); fractional
    ones use ``p`` for the decimal point (``90.2`` -> ``90p2``) so two
    horizons sharing an integer part never alias the same output column.
    """
    hf = float(h)
    if hf.is_integer():
        return str(int(hf))
    return repr(hf).replace(".", "p").replace("-", "m")


def check_output_names(existing: Sequence[str], names: Sequence[str]) -> None:
    """Generated feature names must be pairwise distinct and absent from
    the input — a silent overwrite of a user column (or of a sibling
    horizon's output) is the failure mode this guards."""
    seen = set()
    for n in names:
        if n in seen:
            raise ValueError(
                f"generated output column '{n}' is not unique across "
                f"horizons/stats; set a distinct prefix or horizons"
            )
        seen.add(n)
        if n in existing:
            raise ValueError(
                f"output column '{n}' collides with an existing input "
                f"column; set prefix"
            )


def _order_cols(ts: str, tiebreak: Sequence[str]):
    """Deterministic window ordering: event time first, then tiebreaks
    (equal timestamps otherwise make lag/lead/rolling results run-dependent)."""
    return [ts, *tiebreak]


_B, _G, _PK = "__b", "__g", "__pk"


def _bucket_stitch(
    df: DataFrame,
    key: str | Sequence[str],
    ts: str,
    bucket_seconds: float,
    tiebreak: Sequence[str],
):
    """The one stitch of the ``*_bucketed`` twins: ``(rows, local, across)``.

    ``rows`` is ``df`` plus its time bucket ``__b`` and ``__g = 1``.
    ``local`` windows rows per (key, bucket) in ``(__g, ts, *tiebreak)``
    order, so a hot key spreads over its buckets; ``across`` windows the
    one-row-per-bucket summaries per key in bucket order. A twin carries
    values across buckets over the summaries and hands them back to each
    bucket as carry rows (:func:`_with_carry`), which ``__g`` sorts before
    (0) or after (2) the bucket's own rows: the local window then reads
    the carry as if the neighbouring bucket's rows were there. No join:
    the window's partitioning is null-safe on the keys, and the rows
    shuffle once.

    The bucket of a time is ``floor(t / bucket_seconds)``, a null time
    the lowest long and a NaN time the highest, so buckets in order with
    rows in order inside each are exactly the plain window's NULLS FIRST
    / NaN-last order.
    """
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be positive")
    keys = _keys(key)
    t = epoch_seconds(df, ts)
    bucket = (
        F.when(t.isNull(), F.lit(-(2**63)))
        .when(F.isnan(t), F.lit(2**63 - 1))
        .otherwise(F.floor(t / F.lit(float(bucket_seconds))))
    )
    rows = df.withColumn(_B, bucket).withColumn(_G, F.lit(1))
    local = Window.partitionBy(*keys, _B).orderBy(
        _G, *_order_cols(ts, tiebreak)
    )
    across = Window.partitionBy(*keys).orderBy(_B)
    return rows, local, across


def _order_key(ts: str, tiebreak: Sequence[str]) -> Column:
    """The local window's order as one value, for ``max_by``/``min_by``
    over a bucket (struct order is NULLS FIRST, NaN last, as the window's)."""
    return F.struct(*[F.col(o) for o in _order_cols(ts, tiebreak)])


def _with_carry(rows: DataFrame, carry: DataFrame) -> DataFrame:
    """``rows`` plus the carry rows: ``carry`` holds the keys, ``__b``,
    ``__g`` (0 sorts before the bucket's rows, 2 after) and the carried
    columns; the rows' other columns are null on it."""
    return rows.unionByName(carry, allowMissingColumns=True)


def _drop_carry(out: DataFrame) -> DataFrame:
    return out.filter(F.col(_G) == 1).drop(_B, _G)


def with_lag_lead(
    df: DataFrame,
    cols: Sequence[str],
    key: str | Sequence[str],
    ts: str,
    lags: Sequence[int] = (1,),
    leads: Sequence[int] = (),
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Add ``{col}_lag{k}`` / ``{col}_lead{k}`` columns per entity time line."""
    w = Window.partitionBy(*_keys(key)).orderBy(*_order_cols(ts, tiebreak))
    out = df
    for c in cols:
        for k in lags:
            out = out.withColumn(f"{c}_lag{k}", F.lag(c, k).over(w))
        for k in leads:
            out = out.withColumn(f"{c}_lead{k}", F.lead(c, k).over(w))
    return out


def with_lag_lead_bucketed(
    df: DataFrame,
    cols: Sequence[str],
    key: str | Sequence[str],
    ts: str,
    bucket_seconds: float,
    *,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Skew-resistant lag-1/lead-1: identical output to
    :func:`with_lag_lead` with ``lags=[1], leads=[1]`` — the hot-key fix
    for the per-entity serial window (same decision rule as the other
    ``*_bucketed`` variants).

    Plan (the :func:`_bucket_stitch` shape): lag/lead locally inside
    (key, time-bucket) partitions; each bucket's first and last values
    (``min_by``/``max_by`` over the order key, one summary row per bucket)
    come back as two carry rows: before the bucket, the previous bucket's
    last value (the lag of its first row); after it, the next bucket's
    first value (the lead of its last row). Only lag 1 / lead 1 are
    supported — deeper offsets would need k boundary rows carried per
    bucket; use the plain window for those.
    """
    rows, local, across = _bucket_stitch(df, key, ts, bucket_seconds, tiebreak)
    keys = _keys(key)
    o = _order_key(ts, tiebreak)
    summ = rows.groupBy(*keys, _B).agg(
        *[F.max_by(c, o).alias(f"__last_{c}") for c in cols],
        *[F.min_by(c, o).alias(f"__first_{c}") for c in cols],
    )
    # one summary pass feeds both carry rows of a bucket
    carry = summ.select(
        *keys,
        _B,
        *[F.lag(f"__last_{c}").over(across).alias(f"__prev_{c}") for c in cols],
        *[F.lead(f"__first_{c}").over(across).alias(f"__next_{c}") for c in cols],
    ).select(*keys, _B, F.inline(F.array(*[
        F.struct(F.lit(g).alias(_G), *[F.col(f"{p}{c}").alias(c) for c in cols])
        for g, p in ((0, "__prev_"), (2, "__next_"))
    ])))
    out = _with_carry(rows, carry)
    for c in cols:
        out = out.withColumn(f"{c}_lag1", F.lag(c).over(local)).withColumn(
            f"{c}_lead1", F.lead(c).over(local)
        )
    return _drop_carry(out)


def backfill(
    df: DataFrame,
    cols: Sequence[str],
    key: str | Sequence[str],
    ts: str,
    direction: str = "forward",
    output_suffix: str = "_filled",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Forward-fill (carry last observation) or backward-fill null values.

    forward:  last(col, ignorenulls) over (-inf, current]
    backward: first(col, ignorenulls) over [current, +inf)
    """
    keys = _keys(key)
    order = _order_cols(ts, tiebreak)
    if direction == "forward":
        w = (
            Window.partitionBy(*keys)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        fill = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
    elif direction == "backward":
        w = (
            Window.partitionBy(*keys)
            .orderBy(*order)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        fill = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731
    else:
        raise ValueError(f"direction must be forward|backward, got {direction}")

    out = df
    for c in cols:
        out = out.withColumn(c + output_suffix, fill(c))
    return out


def backfill_bucketed(
    df: DataFrame,
    cols: Sequence[str],
    key: str | Sequence[str],
    ts: str,
    bucket_seconds: float,
    output_suffix: str = "_filled",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Skew-resistant forward-fill: identical output to
    :func:`backfill` (forward direction), without the per-entity serial
    window a hot key would funnel into one task.

    Plan (the :func:`_bucket_stitch` shape): fill LOCALLY inside
    (key, time-bucket) partitions; a one-row-per-bucket summary holds each
    bucket's last non-null value per column (``max_by`` over the order
    key, null values skipped), a window over those summaries carries the
    most recent non-null value of the PRECEDING buckets, and that comes
    back as a carry row before each bucket, where the local fill picks it
    up. ``asof_join_bucketed`` is this fill over the as-of tagged union.

    Trade-off vs :func:`backfill`: the fill is no longer one serial task
    per key, for a second read of the input (its map-side summary) and
    one shuffle of the summary per key (the rows, with one carry row per
    bucket, still shuffle once, on (key, bucket)).
    """
    return _backfill_bucketed(
        df, cols, key, ts, bucket_seconds, output_suffix, tiebreak,
        _order_key(ts, tiebreak),
    )


def _backfill_bucketed(
    df, cols, key, ts, bucket_seconds, output_suffix, tiebreak, last_by
) -> DataFrame:
    """:func:`backfill_bucketed` with ``last_by``, the order that picks a
    bucket's last non-null value. A primitive order keeps that summary a
    hash aggregate; a struct one makes it sort every row before the
    shuffle (on the PLANS.md §2 skew input, 4M right rows, the as-of join
    took 10.0 s with the struct and 7.3 s with its time alone)."""
    rows, local, across = _bucket_stitch(df, key, ts, bucket_seconds, tiebreak)
    keys = _keys(key)
    summ = rows.groupBy(*keys, _B).agg(*[
        F.max_by(c, F.when(F.col(c).isNotNull(), last_by)).alias(c)
        for c in cols
    ])
    before = across.rowsBetween(Window.unboundedPreceding, -1)
    out = _with_carry(rows, summ.select(
        *keys, _B, F.lit(0).alias(_G),
        *[F.last(c, ignorenulls=True).over(before).alias(c) for c in cols],
    ))
    upto = local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for c in cols:
        out = out.withColumn(
            c + output_suffix, F.last(c, ignorenulls=True).over(upto)
        )
    return _drop_carry(out)


def sessionize(
    df: DataFrame,
    key: str | Sequence[str],
    ts: str,
    gap_seconds: float,
    session_col: str = "session_id",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Assign gap-based session ids per entity.

    A new session starts when the time since the previous event exceeds
    ``gap_seconds`` (or at the first event). Session id is the 0-based
    session index within the entity; ``{session_col}_start`` carries the
    session's first event time for global uniqueness via (key, start).
    Streaming analog: F.session_window (streaming/sessions.py).
    """
    keys = _keys(key)
    order = _order_cols(ts, tiebreak)
    w = Window.partitionBy(*keys).orderBy(*order)
    tsd = epoch_seconds(df, ts)
    prev = F.lag(tsd).over(w)
    is_new = F.when(
        prev.isNull() | ((tsd - prev) > F.lit(float(gap_seconds))), 1
    ).otherwise(0)
    out = df.withColumn("__is_new", is_new)
    wrun = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = out.withColumn(session_col, F.sum("__is_new").over(wrun) - 1)
    # session start = carry-forward of each session leader's event time
    # over the SAME (key, order) window the id sum already uses — a
    # min(ts) over a (key, session_id) partition would force a second
    # Exchange + Sort of the full input (measured ~30% of the operator at
    # sf1). Equal by construction: rows are ordered by (ts, tiebreak), so
    # a session's first row carries its minimum ts, and a null/NaN-ts row
    # is always its own singleton session (lag(ts) of the FOLLOWING row
    # is null/NaN, which re-triggers is_new), so null-start sessions
    # cannot mix with real timestamps — pinned by
    # tests/test_windows.py::test_sessionize_start_matches_min_window.
    # struct-wrapped so a NULL-ts leader still carries (a non-null struct
    # holding null) instead of falling through to the previous session's
    # start — min(ts) over a singleton null-ts session is null, and so is
    # this
    out = out.withColumn(
        f"{session_col}_start",
        F.last(
            F.when(F.col("__is_new") == 1, F.struct(F.col(ts).alias("t"))),
            ignorenulls=True,
        ).over(wrun)["t"],
    )
    return out.drop("__is_new")


def sessionize_bucketed(
    df: DataFrame,
    key: str | Sequence[str],
    ts: str,
    gap_seconds: float,
    bucket_seconds: float,
    session_col: str = "session_id",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Skew-resistant sessionize: identical output to :func:`sessionize`
    (same 0-based per-entity session ids and ``{session_col}_start``), but
    no per-entity serial window — the fix for a hot key whose event stream
    is too large for one task's sort.

    Plan (:func:`_bucket_stitch`'s buckets, with a join in place of carry
    rows, as the summary needs the local window): events are sessionized
    LOCALLY inside (key, time-bucket) partitions (parallel across a hot
    key's buckets), each row carrying its local session's start as
    :func:`sessionize` does. A bucket's last row holds its first/last
    time, local session count and last session's start; over those
    summary rows a bucket's first local session merges with the previous
    bucket's last session when the boundary gap is within
    ``gap_seconds``, the cumulative (sessions so far − merges so far)
    gives each bucket's global id offset, and a merged session takes the
    start of the session it continues (chained through buckets that are
    one merged session throughout). One join of the carry back on
    (key, bucket) finishes both.

    Any ``bucket_seconds`` > 0 is correct (merge logic compares adjacent
    EXISTING buckets, so buckets smaller than the gap still chain); choose
    it so one bucket's events fit a task comfortably.
    """
    rows, _, across = _bucket_stitch(df, key, ts, bucket_seconds, tiebreak)
    # its summary needs the local window's results, so the carry joins
    # back; a struct of (keys, bucket) is both the rows' partition and the
    # join key, as struct equality is null-safe on its fields (eqNullSafe
    # on separate columns re-shuffles the full rows)
    rows = rows.withColumn(_PK, F.struct(*_keys(key), _B))
    local = Window.partitionBy(_PK).orderBy(*_order_cols(ts, tiebreak))
    gap = F.lit(float(gap_seconds))
    tsd = F.col("__tsd")
    upto = local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag(tsd).over(local)
    rows = rows.withColumn("__tsd", epoch_seconds(df, ts)).withColumn(
        "__is_new", F.when(prev.isNull() | ((tsd - prev) > gap), 1).otherwise(0)
    )
    rows = (
        rows.withColumn("__lsid", F.sum("__is_new").over(upto) - 1)
        .withColumn(
            "__lstart",
            F.last(
                F.when(F.col("__is_new") == 1, F.struct(F.col(ts).alias("t"))),
                ignorenulls=True,
            ).over(upto),
        )
        .withColumn("__first", F.first(tsd).over(upto))
        .withColumn("__end", F.lead(F.lit(1)).over(local).isNull())
    )
    upto_b = across.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    before = across.rowsBetween(Window.unboundedPreceding, -1)
    prev_last = F.lag(tsd).over(across)
    n_sess = F.col("__lsid") + 1
    merged = F.col("__merge") == 1
    carry = (
        rows.filter("__end")
        .withColumn(
            "__merge",
            F.when(
                prev_last.isNotNull() & ((F.col("__first") - prev_last) <= gap), 1
            ).otherwise(0),
        )
        .select(
            _PK,
            "__merge",
            (
                F.sum(n_sess).over(upto_b) - n_sess - F.sum("__merge").over(upto_b)
            ).alias("__off"),
            # the start of the session the previous bucket ends in: a
            # bucket that is one merged session throughout passes on the
            # start it was handed
            F.last(
                F.when(~(merged & (n_sess == 1)), F.col("__lstart")),
                ignorenulls=True,
            ).over(before).alias("__carry_start"),
        )
    )
    out = rows.join(carry, _PK)
    continues = merged & (F.col("__lsid") == 0)
    out = out.withColumn(
        session_col, (F.col("__lsid") + F.col("__off")).cast("long")
    ).withColumn(
        f"{session_col}_start",
        F.when(continues, F.col("__carry_start")).otherwise(F.col("__lstart"))["t"],
    )
    return out.drop(
        _PK, _B, _G, "__tsd", "__is_new", "__lsid", "__lstart", "__first",
        "__end", "__merge", "__off", "__carry_start",
    )


def rolling_stats(
    df: DataFrame,
    value: str,
    key: str | Sequence[str],
    ts: str,
    *,
    n_rows: Optional[int] = None,
    range_seconds: Optional[float] = None,
    stats: Sequence[str] = ("mean", "sum", "min", "max", "count"),
    prefix: Optional[str] = None,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Trailing-window statistics per entity (row-count or time-range frame).

    The produced columns are exactly the "derived per-window statistics"
    the north_star bins into monotone WoE buckets downstream.
    """
    keys = _keys(key)
    prefix = prefix or f"{value}_roll"
    if (n_rows is None) == (range_seconds is None):
        raise ValueError("specify exactly one of n_rows / range_seconds")

    if n_rows is not None:
        w = (
            Window.partitionBy(*keys)
            .orderBy(*_order_cols(ts, tiebreak))
            .rowsBetween(-(n_rows - 1), Window.currentRow)
        )
    else:
        # rangeBetween requires integral bounds: order by millisecond longs
        w = (
            Window.partitionBy(*keys)
            .orderBy((epoch_seconds(df, ts) * 1000).cast("long"))
            .rangeBetween(-int(round(range_seconds * 1000)), 0)
        )

    fns = {
        "mean": F.avg,
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "count": F.count,
        "stddev": F.stddev_samp,
    }
    out = df
    for s in stats:
        if s not in fns:
            raise ValueError(f"unknown stat '{s}'; choose from {sorted(fns)}")
        out = out.withColumn(f"{prefix}_{s}", fns[s](F.col(value)).over(w))
    return out


def multi_horizon_features(
    df: DataFrame,
    key: str | Sequence[str],
    ts: str,
    value: str,
    horizons_seconds: Sequence[float],
    *,
    stats: Sequence[str] = ("sum", "count"),
    include_current: bool = True,
    prefix: Optional[str] = None,
) -> DataFrame:
    """Point-in-time features at several trailing horizons in ONE pass:
    for each event, aggregate ``value`` over the entity's events in the
    closed window ``[t - h, t]`` for every ``h`` — the feature-store
    "activity in the last hour / day / week as of each event" shape,
    leakage-free by construction (nothing after ``t`` is visible).

    Every horizon is a range frame over ONE (entity, epoch-ms) Window —
    one shuffle and one sort however many horizons (the unchunked
    partitioning of :func:`_trailing_frame`). ``include_current=False``
    ends the frame 1 ms before the event (strictly-prior features, e.g.
    when ``value`` is an outcome of the event itself). An event with a
    null time contributes nothing and gets count 0 / null sums. A
    pathologically hot entity serializes into one task here — see
    :func:`multi_horizon_features_bucketed`.
    """
    return _trailing_frame(
        df, _keys(key), ts, value, horizons_seconds, stats=stats,
        include_current=include_current, prefix=prefix or f"{value}_h",
    )


def multi_horizon_features_bucketed(
    df: DataFrame,
    key: str | Sequence[str],
    ts: str,
    value: str,
    horizons_seconds: Sequence[float],
    *,
    stats: Sequence[str] = ("sum", "count"),
    include_current: bool = True,
    prefix: Optional[str] = None,
) -> DataFrame:
    """Skew-safe :func:`multi_horizon_features`: identical output, but no
    single task ever holds a hot entity's full history — the chunked
    partitioning of :func:`_trailing_frame` (per horizon ``h``, chunks of
    width ``h`` plus next-chunk ghosts). Cost: 2x shuffled rows and one
    shuffle per horizon (the chunking differs per ``h``), the standard
    price of skew immunity.
    """
    return _trailing_frame(
        df, _keys(key), ts, value, horizons_seconds, stats=stats,
        include_current=include_current, prefix=prefix or f"{value}_h",
        chunked=True,
    )


def time_bucket(df: DataFrame, ts: str, seconds: float, out_col: str = "bucket") -> Column:
    """Tumbling-window bucket index for a timestamp/numeric column."""
    return df.withColumn(
        out_col, F.floor(epoch_seconds(df, ts) / F.lit(float(seconds)))
    )


def sliding_window_agg(
    df: DataFrame,
    ts: str,
    width_seconds: int,
    slide_seconds: int,
    *,
    keys: Sequence[str] = (),
    aggs: Optional[dict] = None,
) -> DataFrame:
    """Sliding-window aggregation via the native ``F.window`` generator
    (each row replicates into width/slide overlapping epoch-aligned
    windows — Catalyst's Expand, no join). Output: keys...,
    window_start (epoch seconds, long), one column per agg.

    ``aggs``: {out_name: Column-aggregate}; defaults to a row count.
    """
    if aggs is None:
        aggs = {"n": F.count(F.lit(1))}
    w = F.window(
        F.col(ts), f"{int(width_seconds)} seconds", f"{int(slide_seconds)} seconds"
    )
    # window start is TIMESTAMP(_NTZ); ANSI refuses a direct long cast —
    # route via timestamp_ltz (engine entry points pin session tz = UTC)
    start_epoch = (
        F.col("__w.start").cast("timestamp_ltz").cast("double").cast("long")
    )
    return (
        df.groupBy(*[F.col(k) for k in keys], w.alias("__w"))
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
        .select(
            *keys,
            start_epoch.alias("window_start"),
            *aggs.keys(),
        )
    )


def time_decayed_features(
    df: DataFrame,
    key: str | Sequence[str],
    ts: str,
    value: str,
    half_lives_seconds: Sequence[float],
    *,
    stats: Sequence[str] = ("sum", "count"),
    include_current: bool = True,
    prefix: Optional[str] = None,
    truncate_half_lives: int = 96,
) -> DataFrame:
    """Exponentially time-decayed trailing features: for each event at
    time ``t``, ``sum_i v_i * 2^{-(t - t_i) / H}`` over the entity's
    events at ``t_i <= t`` — the recency-weighted activity counters
    ("decayed transaction count / volume") that fraud and credit feature
    stores serve next to the hard-window :func:`multi_horizon_features`.
    ``count`` is the decayed event count (weight 1 per non-null value,
    fractional by nature); ``mean`` is decayed sum / decayed count.

    Computed by the decayed stats of :func:`_trailing_frame`: chunks of
    width ``C = truncate_half_lives * H`` with next-chunk ghosts, weights
    re-centred on the chunk start so every exponent stays in ``[-T, T)``
    (default ±96 — far inside double range); the same chunking bounds any
    hot entity's task at two chunks.

    Truncation is exact to double precision, not an approximation knob:
    a contributor older than ``T = truncate_half_lives`` half-lives
    carries weight ``< 2^-T`` (default ``2^-96 ~ 1.3e-29``) — adding it
    to any realistically-scaled accumulator cannot change one ulp.
    Lowering ``T`` trades tail mass for chunk width. Null event times
    and null values match nothing and contribute nothing (engine-wide
    convention): a null-time probe emits count 0 / null sum.
    """
    return _trailing_frame(
        df, _keys(key), ts, value, half_lives_seconds, stats=stats,
        include_current=include_current, prefix=prefix or f"{value}_hl",
        chunked=True, truncate_half_lives=truncate_half_lives,
    )


# -- trailing-frame kernel --------------------------------------------------

# columns the kernel adds to the probe side (and drops again)
_FRAME_INTERNAL = (
    "__ms", "__v", "__is_q", "__chunk", "__g", "__e", "__w1", "__wv"
)
# hard-window stats: one aggregate over the frame's contributed values
_HARD_STATS = {
    "sum": F.sum, "count": F.count, "mean": F.avg, "min": F.min, "max": F.max
}
# decayed stats from the frame's weighted sum ``sw``, its weight sum
# ``s1`` and the probe's un-base factor ``u`` (see _trailing_frame)
_DECAYED_STATS = {
    "sum": lambda sw, s1, u: sw * u,
    "count": lambda sw, s1, u: F.coalesce(s1 * u, F.lit(0.0)),
    "mean": lambda sw, s1, u: sw / s1,
}


def _ghosts(rows: DataFrame, width: int, is_q: int) -> DataFrame:
    """Each row in its chunk ``floor(ms / width)`` (flagged ``is_q``) plus
    a ghost copy in the next chunk that only contributes.

    One Generate, NOT a self-union: a union embeds the upstream plan —
    including every previous span's Window — into both branches and
    re-executes it per branch (3 spans once planned 7 Windows / 8
    scans); explode emits both copies in one pass over an upstream
    computed once, and is a project-collapse barrier besides."""
    c = F.floor(F.col("__ms") / F.lit(width))
    copies = F.array(
        F.struct(c.alias("c"), F.lit(is_q).alias("q")),
        F.struct((c + F.lit(1)).alias("c"), F.lit(0).alias("q")),
    )
    return (
        rows.select("*", F.explode(copies).alias("__g"))
        .select("*", F.col("__g.c").alias("__chunk"),
                F.col("__g.q").alias("__is_q"))
        .drop("__g")
    )


def _trailing_frame(
    probes: DataFrame,
    keys: List[str],
    ts: str,
    value: str,
    spans: Sequence[float],
    *,
    stats: Sequence[str],
    include_current: bool,
    prefix: str,
    right: Optional[DataFrame] = None,
    right_ts: Optional[str] = None,
    chunked: bool = False,
    truncate_half_lives: Optional[int] = None,
) -> DataFrame:
    """Aggregate ``value`` over each probe row's trailing entity frame
    ``[t - w, t]`` (``[t - w, t - 1 ms]`` without ``include_current``),
    one ``{prefix}{span}_{stat}`` column per span and stat — the one
    implementation behind the six point-in-time aggregation operators.
    Frame membership is exact on integer epoch milliseconds, and
    same-millisecond ties are all in (range frames are value-based).

    Three selections, each fixed by the calling operator:

    * Row set. ``right=None``: one table — every row is both a probe and
      a contributor (no union, no second scan). Otherwise left probes
      (contributing nothing) are unioned with ``right`` contributor rows.
    * Partitioning. Unchunked: every span is a range frame over ONE
      ``(keys, ms)`` Window — one shuffle and one sort for all spans
      (a single select holds every frame; sequential withColumn would
      leave one Window per expression, since CollapseWindow cannot merge
      across the interleaved Projects). Chunked: per span, rows chunk by
      ``floor(ms / width)`` and every contributor is also ghosted into
      the next chunk (:func:`_ghosts`); the frame reaches back at most
      one width, so a ``(keys, chunk)`` partition — probes in their own
      chunk — sees exactly the global frame while a hot entity is
      bounded at two chunks per task. One shuffle per span.
    * Frame stats. ``truncate_half_lives=None``: hard windows of width
      ``span``, ``sum/count/mean/min/max``. Otherwise decayed
      ``sum/count/mean`` with half-life ``span`` (chunked only): the
      frame is ``T = truncate_half_lives`` half-lives wide, and since a
      windowed aggregate cannot reference the probe row the decay must
      factor as ``2^{-t/H} * sum(v_i 2^{t_i/H})``; each weight's exponent
      is re-centred on its row's chunk start so it stays in ``[-T, T)``,
      and the probe's own un-base factor restores
      ``v_i 2^{(t_i - t)/H}`` exactly.

    Null rule: a row whose event time is null contributes nothing, and a
    null-time probe gets count 0 and null sums (it sorts into the null
    peer group, where nothing contributes); null values never contribute.
    """
    decayed = truncate_half_lives is not None
    fns = _DECAYED_STATS if decayed else _HARD_STATS
    for s in stats:
        if s not in fns:
            raise ValueError(f"unknown stat '{s}'; choose from {sorted(fns)}")
    if decayed and truncate_half_lives < 1:
        raise ValueError("truncate_half_lives must be >= 1")
    for c in _FRAME_INTERNAL:
        if c in probes.columns:
            raise ValueError(f"input column '{c}' shadows an internal name")
    check_output_names(
        probes.columns,
        [f"{prefix}{horizon_label(h)}_{s}" for h in spans for s in stats],
    )
    if any(h <= 0 for h in spans):
        kind = "half-lives" if decayed else "horizons"
        raise ValueError(f"{kind} must be > 0 seconds")
    end = 0 if include_current else -1

    def widths(h):
        h_ms = int(round(float(h) * 1000))
        return h_ms, truncate_half_lives * h_ms if decayed else h_ms

    def frame_rows(out: DataFrame, h=None) -> DataFrame:
        """Probe + contributor rows: ``__ms`` (exact epoch ms), ``__v``
        (the value a row contributes, null for none), ``__is_q`` (probe
        flag, absent when every row is a probe), ``__chunk`` per span h."""
        ms = epoch_millis(out, ts).alias("__ms")
        h_ms, width = (None, None) if h is None else widths(h)
        if right is None:
            rows = out.select("*", ms).withColumn(
                "__v", F.when(F.col("__ms").isNotNull(), F.col(value))
            )
            if width is not None:
                rows = _ghosts(rows, width, 1)
        else:
            contrib = right.select(
                *keys,
                epoch_millis(right, right_ts).alias("__ms"),
                F.col(value).alias("__v"),
            ).filter(F.col("__ms").isNotNull() & F.col("__v").isNotNull())
            probe = out.select("*", ms, F.lit(1).alias("__is_q"))
            if width is None:
                contrib = contrib.withColumn("__is_q", F.lit(0))
            else:
                probe = probe.withColumn(
                    "__chunk", F.floor(F.col("__ms") / F.lit(width))
                )
                contrib = _ghosts(contrib, width, 0)
            rows = probe.unionByName(contrib, allowMissingColumns=True)
        if decayed:
            rows = (
                rows.withColumn(
                    "__e",
                    (F.col("__ms") - F.col("__chunk") * F.lit(width))
                    / F.lit(float(h_ms)),
                )
                .withColumn(
                    "__w1",
                    F.when(F.col("__v").isNotNull(),
                           F.pow(F.lit(2.0), F.col("__e"))),
                )
                .withColumn("__wv", F.col("__w1") * F.col("__v"))
            )
        return rows

    def frame(rows: DataFrame, part: List[str], hs) -> DataFrame:
        cols = []
        for h in hs:
            w = (
                Window.partitionBy(*part)
                .orderBy("__ms")
                .rangeBetween(-widths(h)[1], end)
            )
            for s in stats:
                if decayed:
                    agg = fns[s](
                        F.sum("__wv").over(w),
                        F.sum("__w1").over(w),
                        F.pow(F.lit(2.0), -F.col("__e")),
                    )
                else:
                    agg = fns[s](F.col("__v")).over(w)
                cols.append(agg.alias(f"{prefix}{horizon_label(h)}_{s}"))
        out = rows.select("*", *cols)
        if "__is_q" in rows.columns:
            out = out.filter(F.col("__is_q") == 1)
        return out.drop(*_FRAME_INTERNAL)

    if not chunked:
        return frame(frame_rows(probes), keys, spans)
    out = probes
    for h in spans:
        out = frame(frame_rows(out, h), [*keys, "__chunk"], [h])
    return out
