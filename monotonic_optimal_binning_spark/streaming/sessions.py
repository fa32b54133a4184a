"""Structured Streaming analogs of the windowed operators.

Batch sessionize (operators/windows.py) has a native streaming counterpart
in ``F.session_window``; tumbling aggregation uses ``F.window`` +
watermarks. These helpers return writeStream-ready DataFrames; tests drive
them with the rate/memory sources.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_sessionize(
    events: DataFrame,
    key: str,
    ts: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session aggregates per (key, session_window) with late-data watermark.

    Output: key, session start/end, n_events — the streaming analog of the
    batch gap-based sessionize.
    """
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts), gap).alias("session"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_tumbling_stats(
    events: DataFrame,
    key: str,
    ts: str,
    value: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
    stats: Sequence[str] = ("count", "avg", "sum"),
) -> DataFrame:
    """Tumbling-window statistics per key (watermarked)."""
    fns = {"count": F.count, "avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max}
    aggs = [fns[s](F.col(value)).alias(f"{value}_{s}") for s in stats]
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.col(key), F.window(F.col(ts), window).alias("w"))
        .agg(*aggs)
        .select(
            key, F.col("w.start").alias("window_start"), *[f"{value}_{s}" for s in stats]
        )
    )


def streaming_exact_dedup(
    events: DataFrame,
    content_cols: Sequence[str],
    *,
    shards: int = 256,
    output_mode: str = "append",
    ttl_seconds: float | None = None,
) -> DataFrame:
    """Streaming exact dedup: drop rows whose content was already seen in
    any earlier micro-batch (custom stateful operator via
    ``applyInPandasWithState``).

    The content fingerprint (JVM-side xxhash64) is sharded with
    ``pmod(fp, shards)`` and each shard keeps its seen-set as group state —
    state is partitioned across executors instead of one global set, which
    is the shape that scales: shard count bounds per-task state and the
    shuffle key is uniform by construction (a hash). Within a batch the
    FIRST arrival of a fingerprint survives (streaming arrival order; batch
    :func:`operators.dedup.exact_dedup` is the deterministic-winner analog).

    State hygiene: by default (``ttl_seconds=None``) the seen-set grows
    with the number of distinct fingerprints forever — exact dedup state
    must not silently expire. For unbounded corpus-scale streams pass
    ``ttl_seconds`` to bound it: a fingerprint not sighted (emitted OR
    dropped — re-sightings refresh recency, a sliding TTL) for that long
    is forgotten, so its next arrival passes again. Eviction is two-level:
    expired ENTRIES are pruned whenever their shard processes a batch, and
    fully idle SHARDS are evicted by the engine's processing-time timeout.

    Trigger caveat: with ``ttl_seconds`` set, run the query with a
    continuous trigger (``processingTime=...``) — processing-time
    timeouts never let an ``availableNow``/``once`` query conclude on
    current Spark (4.1.x) builds (observed: termination hangs with the
    timeout conf enabled even when no timeout is armed). TTL semantics
    are wall-clock anyway, which only a continuous trigger honors.
    """
    import time as _time

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    fp = F.xxhash64(*[F.col(c) for c in content_cols])
    ev = events.withColumn("__fp", fp).withColumn(
        "__shard", F.pmod(F.col("__fp"), F.lit(shards)).cast("int")
    )
    out_schema = ev.schema

    def _dedup(key, pdf_iter, state: GroupState):
        seen = set(state.get[0]) if state.exists else set()
        for pdf in pdf_iter:
            keep = (~pdf["__fp"].isin(seen)) & (
                ~pdf["__fp"].duplicated(keep="first")
            )
            new = pdf[keep]
            seen.update(int(v) for v in new["__fp"])
            if len(new):
                yield new
        state.update((sorted(seen),))

    def _dedup_ttl(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        now = _time.time()
        seen = {}
        if state.exists:
            vals = state.get
            seen = {
                int(f): float(t)
                for f, t in zip(vals[0], vals[1])
                if t > now - ttl_seconds
            }
        for pdf in pdf_iter:
            keep = (~pdf["__fp"].isin(list(seen))) & (
                ~pdf["__fp"].duplicated(keep="first")
            )
            new = pdf[keep]
            for v in pdf["__fp"]:
                seen[int(v)] = now
            if len(new):
                yield new
        fps = sorted(seen)
        state.update((fps, [seen[f] for f in fps]))
        state.setTimeoutDuration(int(ttl_seconds * 1000))

    if ttl_seconds is None:
        fn, st_schema, conf = (
            _dedup, "seen array<bigint>", GroupStateTimeout.NoTimeout
        )
    else:
        fn, st_schema, conf = (
            _dedup_ttl,
            "seen array<bigint>, last array<double>",
            GroupStateTimeout.ProcessingTimeTimeout,
        )

    out = ev.groupBy("__shard").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=st_schema,
        outputMode=output_mode,
        timeoutConf=conf,
    )
    return out.drop("__fp", "__shard")


def streaming_asof_enrich(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    value_cols: Sequence[str],
    *,
    right_prefix: str = "",
    output_mode: str = "append",
    reorder_within: float | None = None,
    state_ttl_seconds: float | None = None,
) -> DataFrame:
    """Streaming point-in-time enrichment: each left event gets the most
    recent right-side values AT OR BEFORE its timestamp (backward as-of,
    zero temporal leakage) — a custom stateful operator via
    ``applyInPandasWithState``.

    Plan: the two streams union with a side tag, group by the join key, and
    each key's state carries (last right ts, last right values). Within a
    micro-batch rows are sorted by (ts, side) with right-before-left at
    equal ts (exact-match semantics of the batch :func:`operators.asof
    .asof_join`); across micro-batches the state carries the newest right
    row forward, and the carried value is applied ONLY to left rows whose
    event time is at or after the state's right-side ts — a left row
    arriving late (older event time than the carried right row) gets null
    rather than a value from its temporal future, enforcing the
    zero-leakage contract instead of merely documenting it. A right row
    arriving with an event time OLDER than the carried right-side frontier
    never advances or overrides that frontier: lefts at or past the
    frontier always see the newest eligible value, and the late right is
    never applied retroactively. (It can still serve a left BELOW the
    frontier that shares its micro-batch — best-effort for late lefts,
    which otherwise get null — so a late left's value can depend on batch
    slicing; only the at-or-past-frontier behavior is deterministic.)

    ``reorder_within`` (seconds, optional) upgrades the documented
    order assumption to an ENFORCED bounded-disorder guarantee: rows are
    held in per-key state and only processed once the key's event-time
    frontier (max ts seen) passes ``row_ts + reorder_within``, so any
    disorder within the bound is sorted out before matching — a late right
    row IS applied retroactively to lefts still inside the buffer. The
    cost is the streaming-standard one: output is delayed by the bound,
    and rows within ``reorder_within`` of a key's CURRENT frontier stay
    buffered until later data for that key advances it — there is no
    end-of-stream flush (a bounded replay that simply stops withholds the
    final window; append a sentinel event past the bound per key to force
    the flush).

    ``state_ttl_seconds`` (optional) bounds total state for streams whose
    key universe grows forever (doc ids, session ids): a key with no
    arrivals on either side for that long has its carried as-of state
    (and any reorder buffer) evicted by the engine's processing-time
    timeout — a left row for the key arriving after eviction is enriched
    with null, exactly as if the key were new. Default ``None`` keeps
    state forever (the zero-forgetting contract). Same trigger caveat as
    :func:`streaming_exact_dedup`: use a continuous trigger with TTL
    (``availableNow`` hangs with the timeout conf on Spark 4.1.x).

    ``value_cols`` are carried as doubles in state (fixed state schema).
    Output: left rows + prefixed value columns.
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_names = [right_prefix + c for c in value_cols]
    l_tagged = left.select(
        F.col(on).alias("__k"),
        F.col(ts).cast("double").alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__payload"),
        *[F.lit(None).cast("double").alias(f"__v{i}") for i in range(len(value_cols))],
    )
    r_tagged = right.select(
        F.col(on).alias("__k"),
        F.col(ts).cast("double").alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(
            l_tagged.schema["__payload"].dataType
        ).alias("__payload"),
        *[
            F.col(c).cast("double").alias(f"__v{i}")
            for i, c in enumerate(value_cols)
        ],
    )
    # a null-ts right row must never enter state: float(None) -> NaN would
    # poison the frontier permanently (NaN >= x is False for every later
    # row). Null-ts LEFT rows stay — they emit with null values (batch
    # asof_join parity), enforced in _process_block.
    r_tagged = r_tagged.filter(F.col("__ts").isNotNull())
    unioned = l_tagged.unionByName(r_tagged)

    out_schema = T.StructType(
        list(left.schema.fields)
        + [T.StructField(n, T.DoubleType()) for n in out_names]
    )
    state_schema = "ts double, " + ", ".join(
        f"v{i} double" for i in range(len(value_cols))
    )
    n_vals = len(value_cols)
    left_fields = [f.name for f in left.schema.fields]

    def _process_block(pdf, cur):
        # fully vectorized block body (no per-row Python): the (ts, side)
        # sort puts each left row after every eligible right row, so the
        # matching right row index is prefix_count_of_rights - 1; index -1
        # falls back to the carried state value. Mutates ``cur`` with the
        # block's newest right row (monotone) and returns the enriched
        # left-row frame (or None).
        import numpy as np

        out = None
        pdf = pdf.sort_values(["__ts", "__side"], kind="mergesort")
        is_right = (pdf["__side"].to_numpy() == 0)
        is_left = ~is_right
        if is_left.any():
            prefix_rights = np.cumsum(is_right)[is_left]  # per left row
            match_idx = prefix_rights - 1
            left_ts = pdf["__ts"].to_numpy(dtype=float)[is_left]
            # null-ts left rows match NOTHING (they sort last under NaN
            # and would otherwise grab the block's final right row)
            match_idx = np.where(np.isnan(left_ts), -1, match_idx)
            # the carried state value is only eligible when the state's
            # right-side ts is AT OR BEFORE the left row's event time —
            # a left row arriving in a later micro-batch with an OLDER
            # event time must NOT see a right value from its temporal
            # future (the zero-leakage contract); it gets null instead
            if cur[0] is None:
                state_ok = np.zeros(left_ts.shape, dtype=bool)
            else:
                state_ok = cur[0] <= left_ts
            # a LATE right row inside this block can sort before a left row
            # while the CARRIED state is newer: the state must win whenever
            # it is eligible (<= left ts) and strictly newer than the
            # in-block match, or the late right would regress the as-of
            # frontier for this block's lefts
            rts = pdf["__ts"].to_numpy(dtype=float)[is_right]
            if len(rts):
                matched_ts = rts[np.clip(match_idx, 0, None)]
            else:
                matched_ts = np.full(left_ts.shape, -np.inf)
            state_newer = state_ok & (
                (match_idx < 0)
                | ((cur[0] if cur[0] is not None else -np.inf) > matched_ts)
            )
            out = pd.DataFrame(
                [_payload_tuple(p) for p in pdf["__payload"].to_numpy()[is_left]],
                columns=left_fields,
            )
            for i, name in enumerate(out_names):
                rv = pdf[f"__v{i}"].to_numpy(dtype=float)[is_right]
                state_v = np.nan if cur[1 + i] is None else cur[1 + i]
                col = np.where(
                    state_newer,
                    state_v,
                    np.where(
                        match_idx >= 0,
                        rv[np.clip(match_idx, 0, None)] if len(rv) else np.nan,
                        np.nan,
                    ),
                )
                # nullable Float64 so no-match NaN arrives as SQL NULL
                # (matching the batch as-of), not as a NaN double
                out[name] = pd.array(col, dtype="Float64")
        if is_right.any():
            last = int(np.nonzero(is_right)[0][-1])
            new_ts = float(pdf["__ts"].iloc[last])
            # monotone state: a right row arriving LATE (older than the
            # carried state) must not regress the as-of frontier
            if cur[0] is None or new_ts >= cur[0]:
                cur[0] = new_ts
                for i in range(n_vals):
                    v = pdf[f"__v{i}"].iloc[last]
                    cur[1 + i] = None if pd.isna(v) else float(v)
        return out

    def _payload_tuple(p):
        # payload structs arrive as dicts from Arrow batches but as Rows
        # when round-tripped through buffered state — normalize positionally
        if p is None:
            return tuple([None] * len(left_fields))
        if isinstance(p, dict):
            return tuple(p.get(f) for f in left_fields)
        if hasattr(p, "asDict"):
            return tuple(p.asDict().get(f) for f in left_fields)
        return tuple(p)

    def _arm_ttl(state: GroupState):
        if state_ttl_seconds is not None:
            state.setTimeoutDuration(int(state_ttl_seconds * 1000))

    def _enrich(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        cur = list(state.get) if state.exists else [None] * (1 + n_vals)
        # concatenate the key's WHOLE micro-batch before sorting: pdf_iter
        # yields Arrow-batch-sized chunks, and sorting each chunk alone
        # would leave disorder ACROSS chunk boundaries unresolved for keys
        # with more rows than one Arrow batch (a right in chunk 2 would be
        # invisible to a later-ts left in chunk 1)
        chunks = list(pdf_iter)
        if chunks:
            pdf = chunks[0] if len(chunks) == 1 else pd.concat(
                chunks, ignore_index=True
            )
            out = _process_block(pdf, cur)
            if out is not None and len(out):
                yield out
        state.update(tuple(cur))
        _arm_ttl(state)

    buf_cols = ["__ts", "__side", "__payload"] + [
        f"__v{i}" for i in range(n_vals)
    ]

    # Arrow->pandas widens a struct's integer children to float64 when the
    # column carries nulls (right rows have a null payload), and the JVM
    # state converter silently NULLS a float written into a Long/Int state
    # field — so payload values must be coerced back to their declared
    # types before entering state
    def _field_coercer(dt):
        if isinstance(
            dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        ):
            return lambda v: (
                None if v is None or (isinstance(v, float) and pd.isna(v))
                else int(v)
            )
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return lambda v: (
                None if v is None or (isinstance(v, float) and pd.isna(v))
                else float(v)
            )
        return lambda v: v

    payload_coercers = [
        _field_coercer(f.dataType) for f in left.schema.fields
    ]

    def _coerce_payload(values):
        return {
            name: fn(v)
            for name, fn, v in zip(left_fields, payload_coercers, values)
        }

    def _enrich_reorder(key, pdf_iter, state: GroupState):
        import numpy as np

        if state.hasTimedOut:
            state.remove()
            return
        cur = [None] * (1 + n_vals)
        buf_rows = []
        if state.exists:
            vals = list(state.get)
            cur = list(vals[: 1 + n_vals])
            for e in vals[1 + n_vals] or []:
                if hasattr(e, "asDict"):
                    e = e.asDict(recursive=False)
                elif not isinstance(e, dict):
                    e = dict(zip(["ts", "side", "payload"]
                                 + [f"v{i}" for i in range(n_vals)], e))
                buf_rows.append(
                    [e["ts"], e["side"], e["payload"]]
                    + [e[f"v{i}"] for i in range(n_vals)]
                )
        frames = [pd.DataFrame(buf_rows, columns=buf_cols)] if buf_rows else []
        frames += [pdf[buf_cols] for pdf in pdf_iter]
        if not frames:
            state.update(tuple(cur) + ([],))
            _arm_ttl(state)
            return
        allrows = pd.concat(frames, ignore_index=True)
        if not len(allrows):
            state.update(tuple(cur) + ([],))
            _arm_ttl(state)
            return
        # frontier watermark: only rows more than reorder_within behind the
        # newest event are processed — disorder inside the bound is fully
        # sorted out (a late right row reaches lefts still in the buffer)
        frontier = float(allrows["__ts"].max())
        ts_arr = allrows["__ts"].to_numpy(dtype=float)
        # null-ts left rows can never pass a <= comparison — release them
        # immediately (they emit with null values) or they'd sit in the
        # buffer forever
        ready_mask = (ts_arr <= (frontier - reorder_within)) | np.isnan(
            ts_arr
        )
        ready = allrows[ready_mask]
        pending = allrows[~ready_mask]
        if len(ready):
            out = _process_block(ready, cur)
            if out is not None and len(out):
                yield out
        new_buf = [
            {
                "ts": float(r[0]),
                "side": int(r[1]),
                "payload": None
                if r[2] is None
                or (isinstance(r[2], float) and pd.isna(r[2]))
                else _coerce_payload(_payload_tuple(r[2])),
            }
            | {f"v{i}": (None if pd.isna(v) else float(v))
               for i, v in enumerate(r[3:])}
            # name=None -> plain tuples (itertuples mangles the __-prefixed
            # column names otherwise)
            for r in pending.itertuples(index=False, name=None)
        ]
        state.update(tuple(cur) + (new_buf,))
        _arm_ttl(state)

    if reorder_within is None:
        fn, st_schema = _enrich, state_schema
    else:
        payload_t = l_tagged.schema["__payload"].dataType
        st_schema = T.StructType(
            [T.StructField("ts", T.DoubleType())]
            + [T.StructField(f"v{i}", T.DoubleType()) for i in range(n_vals)]
            + [
                T.StructField(
                    "buf",
                    T.ArrayType(
                        T.StructType(
                            [
                                T.StructField("ts", T.DoubleType()),
                                T.StructField("side", T.IntegerType()),
                                T.StructField("payload", payload_t),
                            ]
                            + [
                                T.StructField(f"v{i}", T.DoubleType())
                                for i in range(n_vals)
                            ]
                        )
                    ),
                )
            ]
        )
        fn = _enrich_reorder

    out = unioned.groupBy("__k").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=st_schema,
        outputMode=output_mode,
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if state_ttl_seconds is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
    return out


def streaming_woe_lookup(events: DataFrame, model, value_col: str) -> DataFrame:
    """Apply a fitted FittedBins model to a stream (stateless compiled
    lookup — the same expression as the batch ``transform``; works under
    writeStream)."""
    return model.transform(events, "woe", value_col, f"{value_col}_woe")
