"""Distributed monotonic optimal binning (the engine's fitted-transform core).

Execution shape (SURVEY.md §3.1, BASELINE.json north_star):

  fit   = ONE distributed scan ``groupBy(partition_tag, group_key).agg(...)``
          producing per-candidate-bin sufficient statistics (algebraic
          aggregates → Catalyst partial+final hash aggregation, map-side
          combine; raw rows never leave executors), then a bounded
          driver-side PAVA + statistical-merge pass over the collected k-row
          table (k = distinct x, or ≤ prebins via quantile pre-binning).
  transform = cut-points compiled into one Catalyst expression with
          ``np.searchsorted`` semantics, no Python worker (the reference's per-row
          ``Series.apply`` at /root/reference/src/MOBPY/binning/mob.py:468 is
          exactly the anti-pattern this replaces).

Result semantics (bins table, summary with WoE/IV, labels, Missing/Excluded
handling) match the reference MonotonicBinner
(/root/reference/src/MOBPY/binning/mob.py) allclose / byte-for-byte.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field
from typing import Any, Dict, Iterable, List, Optional, Sequence, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import artifacts
from ..config import DEFAULT_CONFIG, EngineConfig
from ..core.blocks import Block
from ..core.constraints import BinningConstraints
from ..core.merge import MergeMetrics, MergeStrategy, merge_adjacent
from ..core.pava import GroupStats, fit_pava
from ..core.stats import woe_iv
from ..exceptions import DataError, NotFittedError
from ..functions.labels import bucket_labels
from ..functions.lookup import dispatch, literal, name, serve_sql, tabulate

_NUMERIC_SPARK_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.BooleanType,
)

_FLOATY_SPARK_TYPES = (T.FloatType, T.DoubleType)


def _null_or_nan(col: Column, dtype: T.DataType) -> Column:
    """pandas-isna-compatible predicate: NULL, and NaN for float columns.

    Spark treats NaN as an ordinary value (not NULL); pandas ``isna`` treats
    it as missing — the reference routes NaN x to the Missing partition
    (/root/reference/src/MOBPY/core/utils.py:334-336).
    """
    pred = col.isNull()
    if isinstance(dtype, _FLOATY_SPARK_TYPES):
        pred = pred | F.isnan(col)
    return pred


def _check_numeric(df: DataFrame, name: str) -> T.DataType:
    if name not in df.columns:
        raise DataError(
            f"Missing columns in DataFrame: ['{name}']. "
            f"Available columns: {df.columns[:10]}"
        )
    dtype = df.schema[name].dataType
    if not isinstance(dtype, _NUMERIC_SPARK_TYPES):
        raise DataError(f"Column '{name}' must be numeric, but got dtype={dtype}")
    return dtype


def _is_binary_values(vals: Sequence[float]) -> bool:
    """Reference is_binary_series flexible mode
    (/root/reference/src/MOBPY/core/utils.py:71-121): ≤2 unique non-null
    values, integer-like, and either {0,1} or a single unique value."""
    if len(vals) == 0 or len(vals) > 2:
        return False
    ints = []
    for v in vals:
        iv = int(v)
        if iv != v:
            return False
        ints.append(iv)
    return set(ints) == {0, 1} or len(vals) == 1


def _detect_binary_from_stats(c_rows, eps: float = 1e-9, weighted: bool = False):
    """Binary-target detection from the collected per-group sufficient
    statistics — costs ZERO extra distributed passes (the obvious
    ``distinct().limit(3)`` probe is a second full scan of the input).

    y is binary iff (a) the union of per-group {ymin, ymax} has ≤2 distinct
    values passing the reference's integer-like {0,1}/single-value rules
    (/root/reference/src/MOBPY/core/utils.py:71-121), and (b) every group's
    (n, sum, sum2) moments are consistent with a two-point distribution on
    exactly those values — which rules out interior values that happen not
    to be any group's min or max.

    Returns (is_binary, recode) where recode mirrors the reference's
    min->0/max->1 mapping (/root/reference/src/MOBPY/binning/mob.py:216-227;
    effectively unreachable for numeric inputs, kept for parity).
    """
    rows = [r for r in c_rows if r["n_y"] and r["n_y"] > 0]
    if not rows:
        return False, None
    vals = set()
    for r in rows:
        vals.add(float(r["ymin"]))
        vals.add(float(r["ymax"]))
        if len(vals) > 2:
            return False, None
    svals = sorted(vals)
    if not _is_binary_values(svals):
        return False, None
    if len(svals) == 2:
        lo, hi = svals
        span = hi - lo
        for r in rows:
            n = float(r["n_y"]) if weighted else int(r["n_y"])
            mn, mx = float(r["ymin"]), float(r["ymax"])
            if mn == mx:
                continue  # single-valued group: trivially two-point
            s, s2 = float(r["sum_y"]), float(r["sum_y2"])
            n_lo = (n * mx - s) / span
            if not weighted:
                # unweighted counts are integers; a fractional n_lo rules
                # out a two-point distribution immediately
                if abs(n_lo - round(n_lo)) > eps * max(1.0, n):
                    return False, None
                n_lo = round(n_lo)
            if n_lo < -eps * max(1.0, n) or n_lo > n * (1.0 + eps):
                return False, None
            # two-point support on {mn, mx} MAXIMIZES s2 for the given
            # (n, s): any interior y mass strictly lowers it, so equality
            # here discriminates even without the integrality check
            # (which weighted effective counts cannot use)
            s2_expect = n_lo * mn * mn + (n - n_lo) * mx * mx
            if abs(s2_expect - s2) > eps * max(1.0, abs(s2)):
                return False, None
    recode = None
    if len(svals) == 2 and set(svals) != {0.0, 1.0}:
        recode = (svals[0], svals[1])
    return True, recode


def _recode_c_rows(c_rows, lo: float, hi: float):
    """Apply the reference's binary min->0/max->1 recode ALGEBRAICALLY on
    the collected sufficient statistics (y' = (y-lo)/(hi-lo), so
    sum' = (sum - n*lo)/span, sum2' = (sum2 - 2*lo*sum + n*lo^2)/span^2) —
    the raw rows were aggregated once, before detection was possible."""
    span = hi - lo
    out = []
    for r in c_rows:
        d = dict(r.asDict()) if hasattr(r, "asDict") else dict(r)
        n = d["n_y"]
        if n and n > 0:
            s, s2 = float(d["sum_y"]), float(d["sum_y2"])
            d["sum_y"] = (s - n * lo) / span
            d["sum_y2"] = (s2 - 2.0 * lo * s + n * lo * lo) / (span * span)
            d["ymin"] = (float(d["ymin"]) - lo) / span
            d["ymax"] = (float(d["ymax"]) - lo) / span
        out.append(d)
    return out


def _suff_stats_agg(
    work: DataFrame, group_cols, y_eff, nonfinite_y, xd, w=None
) -> DataFrame:
    """THE distributed pass: one shuffle on the group columns; every
    aggregate is algebraic → full map-side partial aggregation.

    With ``w`` (a double Column of sample weights), every count becomes a
    weight sum — frequency-weight semantics, so an integer weight k is
    EXACTLY k-fold row replication (the property test pins this). Rows
    with weight 0 contribute to nothing, including extrema and the group
    representative; bad weights (null / negative / NaN / ±inf) are tallied
    per group in ``n_bad_w`` and rejected driver-side, still in ONE scan.
    """
    if w is None:
        return work.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(y_eff).alias("n_y"),
            F.sum(y_eff).alias("sum_y"),
            F.sum(y_eff * y_eff).alias("sum_y2"),
            F.min(y_eff).alias("ymin"),
            F.max(y_eff).alias("ymax"),
            F.avg(y_eff).alias("ymean"),
            F.stddev_samp(y_eff).alias("ystd"),
            F.sum(nonfinite_y).alias("n_nonfinite"),
            F.min(xd).alias("x_rep"),
        )
    bad_w = (
        w.isNull() | F.isnan(w) | (w < 0) | (F.abs(w) == F.lit(float("inf")))
    )
    wv = F.when(~bad_w, w)  # null (skipped by sums) when the weight is bad
    pos = wv > 0  # zero-weight rows define no extrema / representative
    # weight carried by observed-y rows; zero-weight rows are excluded
    # OUTRIGHT rather than multiplied in — 0.0 * inf would poison the
    # sums with NaN while the (pos-gated) nonfinite counter missed it
    wy = F.when(y_eff.isNotNull() & pos, wv)
    n_y = F.coalesce(F.sum(wy), F.lit(0.0))
    s = F.sum(wy * y_eff)
    s2 = F.sum(wy * y_eff * y_eff)
    # frequency-weight sample variance: matches stddev_samp under k-fold
    # replication and the _rebucket_stats / BinStats.merge refold identity
    var = (s2 - s * s / n_y) / (n_y - F.lit(1.0))
    return work.groupBy(*group_cols).agg(
        F.coalesce(F.sum(wv), F.lit(0.0)).alias("n_rows"),
        n_y.alias("n_y"),
        s.alias("sum_y"),
        s2.alias("sum_y2"),
        F.min(F.when(pos, y_eff)).alias("ymin"),
        F.max(F.when(pos, y_eff)).alias("ymax"),
        F.when(n_y > 0, s / n_y).alias("ymean"),
        F.when(
            n_y > 1, F.sqrt(F.greatest(var, F.lit(0.0)))
        ).alias("ystd"),
        F.sum(F.when(pos, nonfinite_y).otherwise(0)).alias("n_nonfinite"),
        F.min(F.when(pos, xd)).alias("x_rep"),
        F.sum(F.when(bad_w, 1).otherwise(0)).alias("n_bad_w"),
    )


def _count_val(v):
    """Count cast that stays exact for weighted (float) counts: integral
    values render as Python int — unweighted and w==1.0 output is
    byte-identical to the historical ``int(...)`` cast — while fractional
    effective counts survive as floats instead of silently truncating."""
    if v is None:
        return 0
    f = float(v)
    i = int(f)
    return i if i == f else f


def _rebucket_stats(stats_df: DataFrame, splits: List[float], extra_keys=()) -> DataFrame:
    """Re-aggregate already-computed EXACT sufficient statistics into
    quantile buckets — every aggregate is algebraic, so bucket stats are a
    pure fold of the cached per-x stats and the input is NOT re-scanned
    (this is the auto-mode high-cardinality fallback path). Only C-tag rows
    re-bucket; Missing/Excluded rows keep their own group keys."""
    from pyspark.ml.feature import Bucketizer

    c = stats_df.filter(F.col("tag") == "C").withColumn(
        "_xb", F.col("gkey").cast("double")
    )
    c = Bucketizer(
        splits=splits, inputCol="_xb", outputCol="_b", handleInvalid="keep"
    ).transform(c)
    n = F.sum("n_y")
    s = F.sum("sum_y")
    s2 = F.sum("sum_y2")
    var = (s2 / n - (s / n) ** 2) * n / (n - 1)
    return c.groupBy(
        *[F.col(k) for k in extra_keys], "tag", F.col("_b").alias("gkey")
    ).agg(
        F.sum("n_rows").alias("n_rows"),
        n.alias("n_y"),
        s.alias("sum_y"),
        s2.alias("sum_y2"),
        F.min("ymin").alias("ymin"),
        F.max("ymax").alias("ymax"),
        F.when(n > 0, s / n).alias("ymean"),
        F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0)))).alias("ystd"),
        F.sum("n_nonfinite").alias("n_nonfinite"),
        F.min("x_rep").alias("x_rep"),
        *(
            [F.sum("n_bad_w").alias("n_bad_w")]
            if "n_bad_w" in stats_df.columns
            else []
        ),
    )


def _json_float(v):
    """Strict-JSON encoding of a float-ish scalar: NaN -> None, ±inf ->
    "-inf"/"inf" strings, everything else a plain float (ints pass through)."""
    if v is None:
        return None
    f = float(v)
    if math.isnan(f):
        return None
    if math.isinf(f):
        return "inf" if f > 0 else "-inf"
    if isinstance(v, (int, np.integer)):
        return int(v)
    return f


def _parse_float(v):
    """Inverse of :func:`_json_float` (None -> NaN for array contexts)."""
    if v is None:
        return float("nan")
    if isinstance(v, str):
        return float(v)
    return v


@dataclass
class FittedBins:
    """Driver-side fitted model; small and picklable for broadcast.

    lefts/rights use -inf/+inf sentinels and half-open [left, right)
    semantics: first bin (-inf, c1), middle [ci, ci+1), last [cn, +inf)
    (/root/reference/src/MOBPY/binning/mob.py:60-63).
    """

    x: str
    y: str
    lefts: np.ndarray
    rights: np.ndarray
    labels: List[str]
    is_binary: bool
    resolved_sign: str
    woes: Optional[np.ndarray]
    exclude_values: Optional[List[Any]]
    bins_df: pd.DataFrame
    summary_df: pd.DataFrame
    diagnostics: Dict[str, Any] = field(default_factory=dict)

    def to_dict(self) -> Dict[str, Any]:
        """STRICT-JSON-safe model export (reference model-export surface:
        /root/reference/src/MOBPY/binning/mob.py:307-335 bins table +
        core/pava.py:441-469 block dicts; plus everything transform needs,
        so a saved model serves lookups without refitting).

        Infinite bin edges encode as the strings "-inf"/"inf" and NaN as
        null, so the artifact parses under any strict JSON reader (Python's
        default would otherwise emit the non-standard Infinity/NaN literals).
        """
        def _floats(a):
            return [_json_float(v) for v in a]

        return {
            "x": self.x,
            "y": self.y,
            "lefts": _floats(self.lefts),
            "rights": _floats(self.rights),
            "labels": list(self.labels),
            "is_binary": bool(self.is_binary),
            "resolved_sign": self.resolved_sign,
            "woes": _floats(self.woes) if self.woes is not None else None,
            "exclude_values": self.exclude_values,
            "bins": [
                {k: _json_float(v) for k, v in rec.items()}
                for rec in self.bins_df.to_dict(orient="records")
            ],
            "summary": self.summary_df.replace({np.nan: None}).to_dict(
                orient="records"
            ),
            "diagnostics": self.diagnostics,
        }

    @classmethod
    def from_dict(cls, d: Dict[str, Any]) -> "FittedBins":
        summary = pd.DataFrame(d["summary"])
        # None -> NaN for numeric columns (JSON has no NaN)
        for c in summary.columns:
            if c != "bucket":
                summary[c] = pd.to_numeric(summary[c], errors="coerce")
        bins = pd.DataFrame(
            [{k: _parse_float(v) for k, v in rec.items()} for rec in d["bins"]]
        )
        return cls(
            x=d["x"],
            y=d["y"],
            lefts=np.asarray([_parse_float(v) for v in d["lefts"]], dtype=float),
            rights=np.asarray([_parse_float(v) for v in d["rights"]], dtype=float),
            labels=list(d["labels"]),
            is_binary=d["is_binary"],
            resolved_sign=d["resolved_sign"],
            woes=(
                np.asarray([_parse_float(v) for v in d["woes"]], dtype=float)
                if d["woes"] is not None
                else None
            ),
            exclude_values=d["exclude_values"],
            bins_df=bins,
            summary_df=summary,
            diagnostics=d.get("diagnostics", {}),
        )

    @classmethod
    def from_cuts(
        cls,
        x: str,
        cuts: Sequence[float],
        woes: Sequence[float],
        *,
        y: str = "y",
        exclude_values: Optional[List[Any]] = None,
    ) -> "FittedBins":
        """Bring-your-own-bins serving artifact: build a transform-ready
        model from explicit interior cut points and per-bin WoE values
        (len(woes) == len(cuts) + 1), no fit required.

        The use case is serving bins fixed by policy, regulation, or an
        external modeling system: the resulting artifact supports the
        same ``transform`` / ``save_json`` / :class:`Scorecard` surface
        as a fitted one. Edges use the fitter's half-open [left, right)
        sentinel convention (reference semantics:
        /root/reference/src/MOBPY/binning/mob.py:60-63).
        """
        from ..functions.labels import bucket_labels

        cuts = [float(c) for c in cuts]
        if sorted(cuts) != cuts or len(set(cuts)) != len(cuts):
            raise ValueError("from_cuts: cuts must be strictly increasing")
        if len(woes) != len(cuts) + 1:
            raise ValueError(
                "from_cuts: need len(cuts)+1 woes "
                f"(got {len(woes)} for {len(cuts)} cuts)"
            )
        lefts = np.asarray([-np.inf] + cuts, dtype=float)
        rights = np.asarray(cuts + [np.inf], dtype=float)
        labels = bucket_labels(lefts, rights)
        w = np.asarray(woes, dtype=float)
        bins = pd.DataFrame({"left": lefts, "right": rights, "woe": w})
        summary = pd.DataFrame({"bucket": labels, "woe": w})
        return cls(
            x=x,
            y=y,
            lefts=lefts,
            rights=rights,
            labels=labels,
            is_binary=True,
            resolved_sign="manual",
            woes=w,
            exclude_values=(
                list(exclude_values) if exclude_values else None
            ),
            bins_df=bins,
            summary_df=summary,
            diagnostics={"constructed": "from_cuts"},
        )

    def save_json(self, path: str) -> None:
        artifacts.save_json(self.to_dict(), path)

    @classmethod
    def load_json(cls, path: str) -> "FittedBins":
        return cls.from_dict(artifacts.load_json(path))

    def _bin_index(self, fvals: np.ndarray) -> np.ndarray:
        """Bin of each float value: ``searchsorted`` over the right edges,
        stepped back where a value falls left of its bin's left edge."""
        idx = np.searchsorted(self.rights, fvals, side="right")
        np.minimum(idx, len(self.rights) - 1, out=idx)
        fix = (idx > 0) & (fvals < self.lefts[idx])
        idx[fix] -= 1
        return idx

    def assign_batch(self, values: pd.Series, assign: str) -> pd.Series:
        """Vectorized bin assignment of a pandas Series (the driver-side
        twin of :meth:`transform`)."""
        vals = values.to_numpy()
        fvals = vals.astype(float, copy=False)
        idx = self._bin_index(fvals)

        is_missing = pd.isna(values).to_numpy()
        if self.exclude_values:
            is_excluded = np.isin(fvals, np.asarray(self.exclude_values, dtype=float))
            is_excluded &= ~is_missing
        else:
            is_excluded = np.zeros(len(vals), dtype=bool)

        if assign != "interval":
            out = self._mode_values(assign)[idx].astype(float)
            out[is_missing | is_excluded] = np.nan
            return pd.Series(out)
        # interval labels
        label_arr = np.asarray(self.labels, dtype=object)
        out = label_arr[idx]
        if is_excluded.any():
            # reference formats with the raw input value: f"Excluded:{val}"
            # (/root/reference/src/MOBPY/binning/mob.py:434)
            exc_idx = np.nonzero(is_excluded)[0]
            out = out.copy()
            for i in exc_idx:
                out[i] = f"Excluded:{vals[i]}"
        if is_missing.any():
            out = out.copy()
            out[is_missing] = "Missing"
        return pd.Series(out)

    def _mode_values(self, assign: str) -> np.ndarray:
        """Per-bin values of a numeric ``assign`` mode."""
        if assign == "woe" and self.woes is None:
            raise ValueError("assign='woe' requires binary target")
        if assign not in ("left", "right", "woe"):
            raise ValueError(f"Unknown assign mode: {assign}")
        return {"left": self.lefts, "right": self.rights, "woe": self.woes}[assign]

    def lookup_sql(self, input_col: str, bin_values: Sequence, *, dtype: str = "double",
                   missing: Any = None, excluded: Any = None) -> str:
        """SQL of ``bin_values[bin of input_col]``
        (:func:`..functions.lookup.serve_sql`), each step's bin read off
        :meth:`assign_batch`'s own index. NULL/NaN inputs give
        ``missing``; excluded ones (matched as floats, like
        ``assign_batch``'s ``np.isin``) give ``excluded``, a value or a
        function of the excluded float returning SQL."""
        edges = np.unique(np.concatenate([self.rights[:-1], self.lefts[1:]]))
        bins = tabulate(self._bin_index, edges)
        ex = excluded if callable(excluded) else lambda _: literal(excluded, dtype)
        return serve_sql(
            input_col, edges, [bin_values[i] for i in bins], dtype=dtype,
            missing=literal(missing, dtype),
            special=[(float(v), ex(float(v))) for v in self.exclude_values or ()],
        )

    def assign_sql(self, input_col: str, assign: str, in_type=None) -> str:
        """SQL of one ``assign`` mode (see :meth:`transform`); the input's
        Spark type ``in_type`` sets how 'interval' prints
        ``Excluded:{v}``."""
        if assign != "interval":
            return self.lookup_sql(input_col, self._mode_values(assign))
        return self.lookup_sql(
            input_col, self.labels, dtype="string", missing="Missing",
            excluded=lambda v: _excluded_label(input_col, v, in_type),
        )

    def transform(
        self,
        df: DataFrame,
        assign: str = "interval",
        input_col: Optional[str] = None,
        output_col: Optional[str] = None,
    ) -> DataFrame:
        """Serving-side lookup: score a DataFrame straight from the
        artifact (no binner / fit state required — this is what a
        ``load_json``'d model does in production). ``assign``:
        'interval' (label), 'left', 'right', or 'woe'. Compiled, no Python
        worker; equals :meth:`assign_batch` with NaN served as NULL."""
        input_col = input_col or self.x
        output_col = output_col or f"{input_col}_{assign}"
        in_type = None
        if assign == "interval" and self.exclude_values:
            in_type = df.select(input_col).schema[0].dataType
        return df.withColumn(
            output_col, F.expr(self.assign_sql(input_col, assign, in_type))
        )


def _excluded_label(input_col: str, v: float, in_type) -> str:
    """SQL of ``f"Excluded:{raw}"`` as :meth:`FittedBins.assign_batch`
    prints the raw input that matched excluded float ``v``: the column's
    numpy dtype sets the text (``7`` for ints, ``1e-05`` for doubles), not
    Spark's double-to-string cast (``1.0E-5``). Integral and decimal
    inputs print exactly through Spark's cast; floats from a driver-side
    literal, with a matched zero's sign read off the row."""
    x = name(input_col)
    if isinstance(in_type, (T.IntegralType, T.DecimalType)):
        return f"concat('Excluded:', CAST({x} AS STRING))"
    if isinstance(in_type, T.BooleanType):
        return literal(f"Excluded:{bool(v)}")
    if v == 0.0:
        return f"IF(startswith(CAST({x} AS STRING), '-'), 'Excluded:-0.0', 'Excluded:0.0')"
    fmt = np.float32 if isinstance(in_type, T.FloatType) else np.float64
    return literal(f"Excluded:{fmt(v)}")


#: distinguishes "no frozen bucketing supplied" from "frozen EXACT
#: grouping" (None) in _collect_stats_rows
_UNSET = object()


def _canon_stats_key(tag: str, gkey):
    """Driver-side merge key for a stats row. Spark's groupBy pools NaN
    group keys together and null keys together (but apart from each
    other) — mirror that exactly so merging per-partition artifacts
    reproduces what a single groupBy over the union would have built."""
    if gkey is None:
        return (tag, "null")
    g = float(gkey)
    if math.isnan(g):
        return (tag, "nan")
    return (tag, g)  # +0.0 == -0.0 in dict keys, matching Spark groupBy


def _merge_opt(a, b, fn):
    """Fold two nullable stats (Spark aggregates return null over empty
    y-groups): null is the identity on either side."""
    if a is None:
        return b
    if b is None:
        return a
    return fn(a, b)


def _encode_stat(v):
    """Strict-JSON stats value: like :func:`_json_float` but NaN keeps its
    identity (Spark groups NaN x apart from null x, and the artifact must
    round-trip that distinction in ``gkey``)."""
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return _json_float(v)


def _decode_stat(v):
    """Inverse of :func:`_encode_stat`: None stays None (a Spark null, NOT
    NaN — ``ymean is None`` drives Missing-row defaults downstream)."""
    if v is None:
        return None
    if isinstance(v, str):
        return float(v)  # "nan" / "inf" / "-inf"
    return v


#: per-row stats fields in artifact order; (field, merge kind)
_STATS_FIELDS = (
    ("n_rows", "sum_int"),
    ("n_y", "sum_int"),
    ("sum_y", "sum"),
    ("sum_y2", "sum"),
    ("ymin", "min"),
    ("ymax", "max"),
    ("ymean", "derived"),
    ("ystd", "derived"),
    ("n_nonfinite", "sum_int"),
    ("x_rep", "min"),
)


@dataclass
class BinStats:
    """Mergeable sufficient statistics of a MOB fit — the incremental-refit
    checkpoint artifact.

    Everything the driver-side solve needs, none of the data: per-(tag,
    gkey) algebraic aggregates (counts, y sums / squares / extrema) plus
    the FROZEN bucketing they were computed under. Every statistic is
    algebraic, so artifacts from disjoint partitions merge associatively
    in O(k) driver time — refitting yesterday's corpus + today's
    partition costs ONE scan of today's partition, never a rescan of
    history (the reference refits from raw rows every time,
    /root/reference/src/MOBPY/binning/mob.py:229-260):

        day1  = binner.collect_stats(df_day1, label="2024-01-01")
        both  = binner.collect_stats(df_day2, prior=day1, label="2024-01-02")
        model = binner.fit_from_stats(both).model_

    ``splits`` is the bucketing the rows were aggregated under (None =
    exact distinct-x grouping); a ``prior`` freezes it, so the merged
    artifact equals the stats of one pass over the union with those
    splits. ``lineage`` keeps one entry per folded partition (per-
    partition row counts + group counts — the checkpoint/metrics trail).
    """

    x: str
    y: str
    splits: Optional[List[float]]
    exclude_values: Optional[List[Any]]
    rows: List[Dict[str, Any]]
    lineage: List[Dict[str, Any]] = field(default_factory=list)
    #: set on per-group artifacts (collect_group_stats): rows then carry a
    #: "_g" group value and the solve yields one model per group
    group_col: Optional[str] = None
    #: set when the stats are frequency-weighted (counts are weight sums,
    #: possibly fractional); partitions collected under different weight
    #: columns must not merge
    weight_col: Optional[str] = None

    # ---------- algebra ----------

    def _check_compatible(self, other: "BinStats") -> None:
        if (self.x, self.y) != (other.x, other.y):
            raise ValueError(
                f"cannot merge stats of ({self.x!r}, {self.y!r}) with "
                f"({other.x!r}, {other.y!r})"
            )
        if self.group_col != other.group_col:
            raise ValueError(
                f"cannot merge stats grouped by {self.group_col!r} with "
                f"stats grouped by {other.group_col!r}"
            )
        if self.weight_col != other.weight_col:
            raise ValueError(
                f"cannot merge stats weighted by {self.weight_col!r} with "
                f"stats weighted by {other.weight_col!r}"
            )
        if (self.exclude_values or None) != (other.exclude_values or None):
            raise ValueError(
                "cannot merge stats collected under different "
                "exclude_values — the partition predicates differ"
            )
        a, b = self.splits, other.splits
        if (a is None) != (b is None) or (
            a is not None and list(a) != list(b)
        ):
            raise ValueError(
                "cannot merge stats collected under different bucketings; "
                "pass prior= to collect_stats so new partitions reuse the "
                "frozen splits"
            )

    def merge(self, other: "BinStats") -> "BinStats":
        """Associative fold of two artifacts (neither is mutated): row
        groups with the same (tag, gkey) combine algebraically; derived
        stats (mean/std) are recomputed from the merged sums with the
        same formula the distributed rebucket path uses."""
        self._check_compatible(other)
        acc: Dict[Any, Dict[str, Any]] = {}
        for r in (*self.rows, *other.rows):
            g = r.get("_g")
            if isinstance(g, float) and math.isnan(g):
                gk = "nan"  # Spark pools NaN group keys; so do we
            else:
                gk = g
            k = (gk, *_canon_stats_key(r["tag"], r["gkey"]))
            a = acc.get(k)
            if a is None:
                acc[k] = {"tag": r["tag"], "gkey": r["gkey"], **{
                    f: r[f] for f, _ in _STATS_FIELDS
                }}
                if self.group_col is not None:
                    acc[k]["_g"] = g
                continue
            for f, kind in _STATS_FIELDS:
                if kind == "sum_int":
                    # integral-preserving: unweighted artifacts keep exact
                    # Python ints, weighted ones fold as floats
                    a[f] = _count_val((a[f] or 0) + (r[f] or 0))
                elif kind == "sum":
                    a[f] = _merge_opt(a[f], r[f], lambda p, q: p + q)
                elif kind == "min":
                    a[f] = _merge_opt(a[f], r[f], min)
                elif kind == "max":
                    a[f] = _merge_opt(a[f], r[f], max)
        rows = []
        for a in acc.values():
            n, s, s2 = a["n_y"], a["sum_y"], a["sum_y2"]
            if n and s is not None:
                a["ymean"] = s / n
            else:
                a["ymean"] = None
            if n and n > 1 and s is not None and s2 is not None:
                # same identity as _rebucket_stats' distributed fold
                var = (s2 / n - (s / n) ** 2) * n / (n - 1)
                a["ystd"] = math.sqrt(max(var, 0.0))
            else:
                a["ystd"] = None
            rows.append(a)
        return BinStats(
            x=self.x,
            y=self.y,
            splits=list(self.splits) if self.splits is not None else None,
            exclude_values=(
                list(self.exclude_values) if self.exclude_values else None
            ),
            rows=rows,
            lineage=[*self.lineage, *other.lineage],
            group_col=self.group_col,
            weight_col=self.weight_col,
        )

    # ---------- (de)serialization ----------

    def to_dict(self) -> Dict[str, Any]:
        return {
            "kind": "mob_bin_stats",
            "version": 1,
            "x": self.x,
            "y": self.y,
            "splits": (
                [_encode_stat(s) for s in self.splits]
                if self.splits is not None
                else None
            ),
            "exclude_values": self.exclude_values,
            "group_col": self.group_col,
            "weight_col": self.weight_col,
            "lineage": self.lineage,
            "rows": [
                {
                    **(
                        # float group values need the NaN/inf-safe string
                        # codec (plus a marker so a string group that
                        # LOOKS like "nan" isn't mangled on the way back)
                        {"g": _encode_stat(r["_g"]), "g_float": True}
                        if isinstance(r.get("_g"), float)
                        else {"g": r["_g"]} if "_g" in r else {}
                    ),
                    "tag": r["tag"],
                    "gkey": _encode_stat(r["gkey"]),
                    **{f: _encode_stat(r[f]) for f, _ in _STATS_FIELDS},
                }
                for r in self.rows
            ],
        }

    @classmethod
    def from_dict(cls, d: Dict[str, Any]) -> "BinStats":
        if d.get("kind") != "mob_bin_stats":
            raise ValueError(
                f"not a BinStats artifact (kind={d.get('kind')!r})"
            )
        grouped = d.get("group_col") is not None
        rows = [
            {
                **(
                    {
                        "_g": (
                            _decode_stat(r.get("g"))
                            if r.get("g_float")
                            else r.get("g")
                        )
                    }
                    if grouped
                    else {}
                ),
                "tag": r["tag"],
                "gkey": _decode_stat(r["gkey"]),
                **{
                    f: (
                        None
                        if r[f] is None
                        else _count_val(r[f]) if kind == "sum_int"
                        else _decode_stat(r[f])
                    )
                    for f, kind in _STATS_FIELDS
                },
            }
            for r in d["rows"]
        ]
        return cls(
            x=d["x"],
            y=d["y"],
            splits=(
                [_decode_stat(s) for s in d["splits"]]
                if d.get("splits") is not None
                else None
            ),
            exclude_values=d.get("exclude_values"),
            rows=rows,
            lineage=list(d.get("lineage") or []),
            group_col=d.get("group_col"),
            weight_col=d.get("weight_col"),
        )

    def save_json(self, path: str) -> None:
        artifacts.save_json(self.to_dict(), path)

    @classmethod
    def load_json(cls, path: str) -> "BinStats":
        return cls.from_dict(artifacts.load_json(path))

    # ---------- introspection ----------

    def totals(self) -> Dict[str, Any]:
        """Row counts (weight sums when weighted) per partition tag
        across all folded inputs."""
        out = {"clean": 0, "missing": 0, "excluded": 0}
        names = {"C": "clean", "M": "missing", "E": "excluded"}
        for r in self.rows:
            out[names[r["tag"]]] += _count_val(r["n_rows"])
        for k in out:
            out[k] = _count_val(out[k])
        return out


def _collect_stats_rows(
    binner: "SparkMonotonicBinner",
    df: DataFrame,
    group_col: Optional[str] = None,
    frozen_splits=_UNSET,
):
    """THE distributed pass of every fit: one scan of ``df`` to collected
    per-(tag, gkey) sufficient-statistic rows. With ``group_col`` the
    aggregate keys lead with the group value (``_g``), so one scan serves
    every group; the single fit is the same scan with no group key.

    Returns ``(stats_rows, splits)`` where ``splits`` is the quantile
    bucketing actually used (None = exact distinct-x grouping).
    ``frozen_splits`` (incremental refits) bypasses the prebins policy
    entirely: a prior artifact's bucketing is reused as-is so stats stay
    algebraically mergeable across partitions.

    With ``weight_col`` set, null/negative/non-finite weights (tallied
    inside the same scan) are rejected and cells whose total weight is
    zero are dropped — they carry no effective data, and an all-zero
    cell's extrema/representative are null by construction.

    Binary detection, and the reference's binary recode (MOBPY
    binning/mob.py:216-227, clean partition only), both happen
    DRIVER-SIDE on the collected statistics (_detect_binary_from_stats /
    _recode_c_rows): the fit is one full scan of the input, plus one
    approxQuantile pass when pre-binning.
    """
    x_clean, x_missing, x_excluded, y_val = binner._predicates(df)
    w = None
    if binner.weight_col is not None:
        _check_numeric(df, binner.weight_col)
        w = F.col(binner.weight_col).cast("double")
    keys = [F.col(group_col).alias("_g")] if group_col else []
    tag = (
        F.when(x_missing, F.lit("M"))
        .when(x_excluded, F.lit("E"))
        .otherwise(F.lit("C"))
    )
    xd = F.col(binner.x).cast("double")
    nonfinite_y = F.when(
        y_val.isNotNull() & (F.abs(y_val) == F.lit(float("inf"))), 1
    ).otherwise(0)

    def _scan(splits: Optional[List[float]] = None) -> DataFrame:
        """The stats aggregate: by distinct x, or by quantile bucket of
        clean x when ``splits`` is given (Missing/Excluded rows keep
        their own x either way)."""
        work = df.withColumn("_mob_tag", tag)
        gkey = xd
        if splits is not None:
            from pyspark.ml.feature import Bucketizer

            work = Bucketizer(
                splits=splits,
                inputCol="_mob_xb",
                outputCol="_mob_bucket",
                handleInvalid="keep",
            ).transform(work.withColumn("_mob_xb", F.when(x_clean, xd)))
            gkey = F.when(
                F.col("_mob_tag") == "C", F.col("_mob_bucket")
            ).otherwise(xd)
        return _suff_stats_agg(
            work,
            [*keys, F.col("_mob_tag").alias("tag"), gkey.alias("gkey")],
            y_val,
            nonfinite_y,
            xd,
            w,
        )

    guard = binner.AUTO_EXACT_MAX_GROUPS
    if frozen_splits is not _UNSET:
        splits = (
            None if frozen_splits is None else [float(s) for s in frozen_splits]
        )
        if splits is None and binner.prebins == "auto":
            # frozen EXACT grouping: a prior artifact grouped by distinct
            # x, so this partition must too — but an auto policy only
            # chose exact because cardinality was low, so keep its guard:
            # a high-cardinality new partition should fail loudly (refit
            # with int prebins), not OOM the driver
            stats = _scan().limit(guard + 1).collect()
            if len(stats) > guard:
                cell = f"{group_col}, {binner.x}" if group_col else binner.x
                raise DataError(
                    f"incremental partition has more than {guard} distinct "
                    f"({cell}, tag) cells but the prior stats were collected "
                    f"with exact grouping; refit from scratch with an "
                    f"integer prebins policy to bound the artifact"
                )
        else:
            stats = _scan(splits).collect()
    elif binner.prebins == "auto":
        # ONE upstream scan on the common path: the exact aggregate is
        # collected behind a LIMIT guard (bounding the TOTAL, all-groups
        # collect), unpersisted — when it returns <= guard rows the result
        # is complete and exact (reference-identical) and no cache was
        # written for nothing. Only when the guard trips does the fallback
        # persist the aggregate (so the rebucket + M/E collects fill and
        # reuse one cache) and fold it into quantile buckets; that rare
        # high-cardinality path pays the aggregate twice (probe + cache
        # fill) plus the approxQuantile probe of df — the trade that keeps
        # the fast path persist-free.
        stats_df = _scan()
        stats = stats_df.limit(guard + 1).collect()
        splits = None
        if len(stats) > guard:
            stats_df = stats_df.persist()
            splits = binner._prebin_splits(
                df, x_clean, k=binner.config.default_prebins
            )
            if splits is not None:
                stats = _rebucket_stats(
                    stats_df, splits, extra_keys=("_g",) if group_col else ()
                ).collect()
                stats += stats_df.filter(F.col("tag") != "C").collect()
            else:
                # degenerate x (no finite interior quantiles): the guard
                # overflow can then only come from M/E tag rows
                stats = stats_df.collect()
            stats_df.unpersist()
    else:
        splits = binner._prebin_splits(df, x_clean)
        stats = _scan(splits).collect()

    if binner.weight_col is not None:
        bad = sum(int(r["n_bad_w"] or 0) for r in stats)
        if bad > 0:
            raise DataError(
                f"weight column '{binner.weight_col}' has {bad} "
                f"null/negative/non-finite values"
            )
        stats = [r for r in stats if (r["n_rows"] or 0) > 0]
    return stats, splits


def _stats_artifact(
    binner: "SparkMonotonicBinner",
    df: DataFrame,
    group_col: Optional[str],
    prior: Optional[BinStats],
    label: Optional[str],
) -> BinStats:
    """One scan of ``df`` → a :class:`BinStats` partition (per
    ``group_col`` group when set), folded into ``prior`` under the prior's
    frozen bucketing (the prior is not mutated)."""
    if prior is not None and prior.weight_col != binner.weight_col:
        raise ValueError(
            f"prior stats were weighted by {prior.weight_col!r}, "
            f"binner weights by {binner.weight_col!r}"
        )
    stats, splits = _collect_stats_rows(
        binner, df, group_col, _UNSET if prior is None else prior.splits
    )
    rows = [r.asDict() for r in stats]
    names = {"C": "n_clean", "M": "n_missing", "E": "n_excluded"}
    entry: Dict[str, Any] = {
        "label": label,
        **dict.fromkeys(names.values(), 0),
        # a single fit counts its clean cells, a grouped fit its groups
        "n_groups": (
            len({r["_g"] for r in rows})
            if group_col
            else sum(r["tag"] == "C" for r in rows)
        ),
    }
    for r in rows:
        entry[names[r["tag"]]] += _count_val(r["n_rows"])
    for k in names.values():
        entry[k] = _count_val(entry[k])
    part = BinStats(
        x=binner.x,
        y=binner.y,
        splits=splits,
        exclude_values=(
            list(binner.exclude_values) if binner.exclude_values else None
        ),
        rows=rows,
        lineage=[entry],
        group_col=group_col,
        weight_col=binner.weight_col,
    )
    return prior.merge(part) if prior is not None else part


def _check_artifact(stats: BinStats, exclude_values, weight_col) -> None:
    """Refuse to solve an artifact collected under other partition
    predicates or another weighting than the solve asks for."""
    if (stats.exclude_values or None) != (
        list(exclude_values) if exclude_values else None
    ):
        raise ValueError(
            "stats were collected under different exclude_values than "
            "requested — Excluded partitions would disagree"
        )
    if stats.weight_col != weight_col:
        raise ValueError(
            f"stats were weighted by {stats.weight_col!r}, solve "
            f"requested weight_col={weight_col!r}"
        )


class SparkMonotonicBinner:
    """End-to-end monotonic optimal binning on a Spark DataFrame.

    Args:
        x: feature column (numeric).
        y: target column (numeric; binary targets unlock WoE/IV).
        sign: '+', '-', or 'auto' (Pearson corr of x vs group mean).
        strict: merge equal-mean plateaus after PAVA.
        constraints: BinningConstraints (fractions resolved at fit time).
        exclude_values: special codes reported separately (e.g. [-999]).
        merge_strategy: HIGHEST_PVALUE (Welch t-test) | SMALLEST_LOSS |
            BALANCED_SIZE.
        prebins: candidate-group policy.
            ``"auto"`` (DEFAULT, the scale-safe path): the exact
            distinct-x aggregate is collected behind a ``LIMIT
            AUTO_EXACT_MAX_GROUPS + 1`` guard — low-cardinality x groups
            exactly in that one scan (reference parity for free); when the
            guard trips, the aggregate is folded into
            ``config.default_prebins`` quantile buckets so the driver
            collect is bounded to kilobytes at ANY input size.
            ``None`` / ``"exact"``: exact distinct-x grouping, matching the
            reference verbatim (/root/reference/src/MOBPY/core/pava.py:268)
            — the parity-test mode; a driver OOM hazard on continuous x at
            10^12 rows, hence opt-in.
            ``int``: always pre-bin to that many quantile buckets.
    """

    #: "auto" groups exactly while the exact aggregate has at most this
    #: many rows (well inside driver-collect comfort); above it, quantile
    #: pre-binning bounds the collected state regardless of cardinality
    AUTO_EXACT_MAX_GROUPS = 1024

    def __init__(
        self,
        x: str,
        y: str,
        *,
        sign: str = "auto",
        strict: bool = True,
        constraints: Optional[BinningConstraints] = None,
        exclude_values: Optional[Iterable] = None,
        merge_strategy: Union[MergeStrategy, str] = MergeStrategy.HIGHEST_PVALUE,
        prebins: Union[int, str, None] = "auto",
        prebin_relative_error: float = 0.001,
        weight_col: Optional[str] = None,
        config: EngineConfig = DEFAULT_CONFIG,
    ):
        self.x = x
        self.y = y
        self.sign = sign
        self.weight_col = weight_col
        self.strict = strict
        self.constraints = constraints or BinningConstraints()
        self.exclude_values = list(exclude_values) if exclude_values else None
        if isinstance(merge_strategy, str):
            merge_strategy = MergeStrategy(merge_strategy)
        self.merge_strategy = merge_strategy
        self.prebins = prebins
        self.prebin_relative_error = prebin_relative_error
        self.config = config

        self.model_: Optional[FittedBins] = None
        self.merge_metrics_: Optional[MergeMetrics] = None
        #: per-iteration block-table snapshots across both merge phases
        #: (reference core/merge.py:413,629-638) — kept on the binner, NOT in
        #: the broadcastable FittedBins, so transforms stay lean
        self.merge_history_: List[List[Dict[str, Any]]] = []
        self.fit_metrics_: Dict[str, Any] = {}
        self._pava_result = None
        self._groups: List[GroupStats] = []

    # ---------- fit ----------

    def _predicates(self, df: DataFrame):
        x_dtype = _check_numeric(df, self.x)
        y_dtype = _check_numeric(df, self.y)
        xc = F.col(self.x)
        x_missing = _null_or_nan(xc, x_dtype)
        if self.exclude_values:
            x_excluded = (~x_missing) & xc.isin(self.exclude_values)
        else:
            x_excluded = F.lit(False)
        x_clean = (~x_missing) & (~x_excluded)

        y_raw = F.col(self.y).cast("double")
        # NaN y behaves like null (pandas dropna semantics in PAVA,
        # /root/reference/src/MOBPY/core/pava.py:251)
        y_val = F.when(~_null_or_nan(F.col(self.y), y_dtype), y_raw)
        return x_clean, x_missing, x_excluded, y_val

    def _static_prebins(self) -> Optional[int]:
        """Resolve an explicit (non-auto) prebins policy to a bucket count
        (None = exact grouping)."""
        if self.prebins is None or self.prebins == "exact":
            return None
        if isinstance(self.prebins, str):
            if self.prebins == "auto":
                raise ValueError("auto prebins is resolved inside fit()")
            raise ValueError(
                f"prebins must be 'auto', 'exact', None or an int, "
                f"got {self.prebins!r}"
            )
        return int(self.prebins)

    def _prebin_splits(
        self, df: DataFrame, x_clean, k: Optional[int] = None
    ) -> Optional[List[float]]:
        if k is None:
            k = self._static_prebins()
        if not k or k < 2:
            return None
        probs = [i / k for i in range(1, k)]
        # NOTE (r8 measurement): the Greenwald-Khanna pass is already
        # parallel here — parquet scans split to defaultParallelism via
        # minPartitionNum, and an explicit repartition(32) measured
        # SLOWER (1.28 s vs 0.74 s at sf1: the shuffle + its
        # sort-before-repartition cost more than the sketch). The ~0.7 s
        # at sf1 is the sketch itself (6M inserts at rel_err=0.001),
        # paid only on the approx-prebin path; exact mode never runs it.
        qs = (
            df.filter(x_clean)
            .select(F.col(self.x).cast("double").alias("_x"))
            .approxQuantile("_x", probs, self.prebin_relative_error)
        )
        interior = sorted(set(q for q in qs if q is not None and math.isfinite(q)))
        if not interior:
            return None
        return [float("-inf")] + interior + [float("inf")]

    def fit(self, df: DataFrame) -> "SparkMonotonicBinner":
        t0 = time.time()
        stats, splits = _collect_stats_rows(self, df)
        self.model_ = self._solve_from_stats(stats, splits is not None)
        self.fit_metrics_["fit_seconds"] = time.time() - t0
        return self

    def collect_stats(
        self,
        df: DataFrame,
        *,
        prior: Optional[BinStats] = None,
        label: Optional[str] = None,
    ) -> BinStats:
        """One scan of ``df`` → a mergeable :class:`BinStats` artifact
        (the incremental-fit path; :meth:`fit` = ``collect_stats`` +
        :meth:`fit_from_stats` in one call).

        With ``prior``, this partition is aggregated under the prior's
        FROZEN bucketing and folded into it (the prior is not mutated) —
        the returned artifact equals stats computed in one pass over the
        union, at the cost of scanning only the new partition.
        """
        if prior is not None and (prior.x, prior.y) != (self.x, self.y):
            raise ValueError(
                f"prior stats are for ({prior.x!r}, {prior.y!r}), "
                f"binner is ({self.x!r}, {self.y!r})"
            )
        return _stats_artifact(self, df, None, prior, label)

    def fit_from_stats(self, stats: BinStats) -> "SparkMonotonicBinner":
        """Driver-only solve from a (possibly merged) artifact: binary
        detection + PAVA + greedy merge over k rows, NO Spark scan — the
        refit endpoint of the incremental loop. The artifact's bucketing
        is authoritative; the binner's prebins policy is not consulted."""
        if stats.group_col is not None:
            raise ValueError(
                f"artifact is grouped by {stats.group_col!r}; solve it "
                f"with fit_groups_from_stats"
            )
        if (stats.x, stats.y) != (self.x, self.y):
            raise ValueError(
                f"stats are for ({stats.x!r}, {stats.y!r}), binner is "
                f"({self.x!r}, {self.y!r})"
            )
        _check_artifact(stats, self.exclude_values, self.weight_col)
        t0 = time.time()
        self.model_ = self._solve_from_stats(
            stats.rows,
            stats.splits is not None,
            weighted=stats.weight_col is not None,
        )
        self.fit_metrics_["fit_seconds"] = time.time() - t0
        self.fit_metrics_["n_partitions"] = len(stats.lineage)
        return self

    def _solve_from_stats(self, stats, prebinned, weighted=None) -> FittedBins:
        """Driver-side solve over collected (tag, gkey) sufficient-statistic
        rows: binary detection + PAVA + merge + bins/summary assembly.
        Shared by the single fit and the fused per-group fit (one scan for
        ALL groups). ``weighted`` overrides the binner's own weight flag
        (fit_from_stats solves ARTIFACT rows, whose weightedness is the
        artifact's property, not the binner's)."""
        if weighted is None:
            weighted = self.weight_col is not None
        c_rows = sorted(
            (r for r in stats if r["tag"] == "C"),
            key=lambda r: (r["x_rep"] is None, r["x_rep"]),
        )
        m_rows = [r for r in stats if r["tag"] == "M"]
        e_rows = sorted((r for r in stats if r["tag"] == "E"), key=lambda r: r["gkey"])

        is_binary, recode = _detect_binary_from_stats(c_rows, weighted=weighted)
        if recode is not None:
            c_rows = _recode_c_rows(c_rows, *recode)

        n_nonfinite = sum(r["n_nonfinite"] for r in c_rows)
        if n_nonfinite > 0:
            raise DataError(
                f"Column '{self.y}' contains {n_nonfinite} non-finite values "
                f"(inf or -inf)"
            )

        total_n = _count_val(sum(r["n_rows"] for r in c_rows))
        if total_n == 0:
            raise DataError(
                "No clean rows after removing missing/excluded values."
            )
        total_pos = (
            _count_val(sum(r["sum_y"] or 0.0 for r in c_rows))
            if is_binary
            else 0
        )

        groups = [
            GroupStats(
                x=float(r["x_rep"]),
                count=_count_val(r["n_y"]),
                sum=float(r["sum_y"]),
                sum2=float(r["sum_y2"]),
                ymin=float(r["ymin"]),
                ymax=float(r["ymax"]),
            )
            for r in c_rows
            if r["n_y"] > 0
        ]
        if not groups:
            raise DataError(
                f"No rows with non-missing {self.x} and {self.y} for PAVA"
            )

        constraints = self.constraints.copy()
        constraints.resolve(total_n=total_n, total_pos=total_pos)

        pava = fit_pava(groups, sign=self.sign, strict=self.strict, config=self.config)
        self._pava_result = pava
        self._groups = groups
        metrics = MergeMetrics()
        history: List[List[Dict[str, Any]]] = []
        merged = merge_adjacent(
            pava.blocks,
            constraints,
            is_binary,
            strategy=self.merge_strategy,
            config=self.config,
            metrics=metrics,
            history=history,
        )
        self.merge_metrics_ = metrics
        self.merge_history_ = history

        bins_df = self._blocks_to_df(merged)
        summary_df = self._build_summary(bins_df, m_rows, e_rows, is_binary)
        total_n_missing = _count_val(sum(r["n_rows"] for r in m_rows))
        total_n_excluded = _count_val(sum(r["n_rows"] for r in e_rows))

        lefts = bins_df["left"].to_numpy(dtype=float)
        rights = bins_df["right"].to_numpy(dtype=float)
        labels = bucket_labels(lefts, rights)
        woes = None
        if is_binary:
            mask = ~summary_df["bucket"].str.contains("Missing|Excluded")
            woes = summary_df.loc[mask, "woe"].to_numpy(dtype=float)

        self.fit_metrics_ = {
            "groups_collected": len(groups),
            "total_n": total_n,
            "total_pos": total_pos,
        }
        return FittedBins(
            x=self.x,
            y=self.y,
            lefts=lefts,
            rights=rights,
            labels=labels,
            is_binary=is_binary,
            resolved_sign=pava.resolved_sign,
            woes=woes,
            exclude_values=self.exclude_values,
            bins_df=bins_df,
            summary_df=summary_df,
            diagnostics={
                "partition_summary": {
                    "clean": total_n,
                    "missing": total_n_missing,
                    "excluded": total_n_excluded,
                },
                "is_binary": is_binary,
                "resolved_sign": pava.resolved_sign,
                "n_pava_blocks": len(pava.blocks),
                "n_initial_groups": pava.n_initial_groups,
                "n_final_bins": len(merged),
                "prebinned": prebinned,
                "merge_phase1_iterations": metrics.phase1_iterations,
                "merge_phase2_iterations": metrics.phase2_iterations,
                "merge_history_len": len(history),
            },
        )

    # ---------- result tables ----------

    @staticmethod
    def _blocks_to_df(blocks: List[Block]) -> pd.DataFrame:
        """Bins table with re-derived edges
        (/root/reference/src/MOBPY/binning/mob.py:545-591)."""
        if not blocks:
            return pd.DataFrame(
                columns=["left", "right", "n", "sum", "mean", "std", "min", "max"]
            )
        rows = []
        for i, block in enumerate(blocks):
            left = float("-inf") if i == 0 else block.left
            right = (
                float("inf") if i == len(blocks) - 1 else blocks[i + 1].left
            )
            rows.append(
                {
                    "left": left,
                    "right": right,
                    "n": block.n,
                    "sum": block.sum,
                    "mean": block.mean,
                    "std": block.std,
                    "min": block.ymin,
                    "max": block.ymax,
                }
            )
        return pd.DataFrame(rows)

    def _build_summary(
        self,
        bins_df: pd.DataFrame,
        m_rows: List,
        e_rows: List,
        is_binary: bool,
    ) -> pd.DataFrame:
        """Summary table incl. Missing / Excluded:<v> rows and WoE/IV
        (/root/reference/src/MOBPY/binning/mob.py:593-706)."""
        rows = []
        for _, b in bins_df.iterrows():
            rows.append(
                {
                    "bucket": bucket_labels(
                        np.array([b["left"]]), np.array([b["right"]])
                    )[0],
                    "count": _count_val(b["n"]),
                    "sum": b["sum"],
                    "mean": b["mean"],
                    "std": b["std"],
                    "min": b["min"],
                    "max": b["max"],
                }
            )

        def _stat(r, key, default=np.nan):
            v = r[key]
            return default if v is None else v

        for r in m_rows:
            if r["n_rows"] > 0:
                rows.append(
                    {
                        "bucket": "Missing",
                        "count": _count_val(r["n_rows"]),
                        # pandas .sum() over all-NaN returns 0.0
                        "sum": r["sum_y"] if r["sum_y"] is not None else 0.0,
                        "mean": _stat(r, "ymean"),
                        "std": _stat(r, "ystd"),
                        "min": _stat(r, "ymin"),
                        "max": _stat(r, "ymax"),
                    }
                )

        for r in e_rows:
            # label uses the column's Python scalar, matching the pandas
            # groupby key repr (int column -> "Excluded:-999",
            # float -> "Excluded:-999.0")
            rows.append(
                {
                    "bucket": f"Excluded:{r['gkey']}",
                    "count": _count_val(r["n_rows"]),
                    "sum": r["sum_y"] if r["sum_y"] is not None else 0.0,
                    "mean": _stat(r, "ymean"),
                    "std": _stat(r, "ystd"),
                    "min": _stat(r, "ymin"),
                    "max": _stat(r, "ymax"),
                }
            )

        summary = pd.DataFrame(rows)
        total_count = summary["count"].sum()
        summary["count_pct"] = summary["count"] / total_count * 100

        if is_binary:
            bads = summary["sum"].astype(float)
            goods = summary["count"] - bads
            numeric_mask = ~summary["bucket"].str.contains("Missing|Excluded")
            numeric_idx = summary.index[numeric_mask]
            summary["woe"] = np.nan
            summary["iv"] = 0.0
            if len(numeric_idx) > 0:
                comp = woe_iv(
                    goods.loc[numeric_idx].to_numpy(),
                    bads.loc[numeric_idx].to_numpy(),
                    smoothing=0.5,
                    epsilon=self.config.epsilon,
                    return_components=True,
                )
                summary.loc[numeric_idx, "woe"] = comp["woe"]
                summary.loc[numeric_idx, "iv"] = comp["iv"]

        base_cols = ["bucket", "count", "count_pct", "sum", "mean", "std", "min", "max"]
        if is_binary:
            base_cols.extend(["woe", "iv"])
        return summary[base_cols]

    # ---------- accessors ----------

    def _model(self) -> FittedBins:
        if self.model_ is None:
            raise NotFittedError("Call fit() before accessing results")
        return self.model_

    def bins_(self) -> pd.DataFrame:
        return self._model().bins_df.copy()

    def summary_(self) -> pd.DataFrame:
        return self._model().summary_df.copy()

    def get_diagnostics(self) -> Dict[str, Any]:
        d = dict(self._model().diagnostics)
        d["merge_history"] = self.merge_history_
        return d

    def pava_blocks_(self, as_dict: bool = True):
        """PAVA blocks before constraint merging
        (/root/reference/src/MOBPY/binning/mob.py:497-519)."""
        self._model()
        blocks = self._pava_result.blocks
        if as_dict:
            return [b.as_dict() for b in blocks]
        return [(b.left, b.right, b.n, b.sum, b.sum2, b.ymin, b.ymax) for b in blocks]

    def pava_groups_(self) -> pd.DataFrame:
        """Pre-PAVA grouped statistics with cumulative columns
        (/root/reference/src/MOBPY/core/pava.py:284-293)."""
        self._model()
        g = pd.DataFrame(
            {
                "x": [gr.x for gr in self._groups],
                "count": [gr.count for gr in self._groups],
                "sum": [gr.sum for gr in self._groups],
                "sum2": [gr.sum2 for gr in self._groups],
                "ymin": [gr.ymin for gr in self._groups],
                "ymax": [gr.ymax for gr in self._groups],
            }
        )
        g["cum_count"] = g["count"].cumsum().astype(float)
        g["cum_sum"] = g["sum"].cumsum()
        g["cum_mean"] = g["cum_sum"] / g["cum_count"]
        g["group_mean"] = g["sum"] / g["count"]
        return g

    @property
    def resolved_sign_(self) -> str:
        return self._model().resolved_sign

    def summary_spark(self, spark) -> DataFrame:
        """Summary as a Spark DataFrame (for sinks / downstream joins)."""
        pdf = self.summary_().replace({np.nan: None})
        return spark.createDataFrame(pdf)

    # ---------- transform ----------

    def transform(
        self,
        df: DataFrame,
        assign: str = "interval",
        input_col: Optional[str] = None,
        output_col: Optional[str] = None,
    ) -> DataFrame:
        """Map a raw column to bin assignments (a compiled lookup, see
        :meth:`FittedBins.transform`).

        assign: 'interval' (label), 'left', 'right', or 'woe'.
        Delegates to :meth:`FittedBins.transform` — identical to scoring
        from a saved ``model.json``.
        """
        return self._model().transform(
            df, assign=assign, input_col=input_col, output_col=output_col
        )


class GroupedBins:
    """Per-group fitted models (e.g. one per ``source``) served by one
    compiled lookup expression.

    Fitting them is the per-source execution shape: partition-parallel
    candidate-bin statistics from one ``groupBy(group, tag, gkey)``
    aggregate, then a bounded driver-side monotone merge per group; the
    final cut points compile into the transform's single expression.
    """

    def __init__(
        self,
        group_col: str,
        x: str,
        y: str,
        models: Dict[Any, FittedBins],
        merge_histories: Optional[Dict[Any, list]] = None,
    ):
        self.group_col = group_col
        self.x = x
        self.y = y
        self.models = models
        # per-group merge-iteration snapshots (driver-side observability;
        # deliberately NOT serialized by save_json — the serving artifact
        # stays lean, lineage counters live in each model's diagnostics)
        self.merge_histories = merge_histories or {}

    def __getitem__(self, group):
        return self.models[group]

    def items(self):
        return self.models.items()

    def save_json(self, path: str) -> None:
        """Persist all per-group models (broadcastable serving artifact)."""
        payload = {
            "group_col": self.group_col,
            "x": self.x,
            "y": self.y,
            "models": [[g, m.to_dict()] for g, m in sorted(
                self.models.items(), key=lambda kv: str(kv[0])
            )],
        }
        artifacts.save_json(payload, path, indent=None)

    @classmethod
    def load_json(cls, path: str) -> "GroupedBins":
        d = artifacts.load_json(path)
        models = {g: FittedBins.from_dict(md) for g, md in d["models"]}
        return cls(d["group_col"], d["x"], d["y"], models)

    def summary_pdf(self) -> pd.DataFrame:
        """All per-group summaries stacked with a leading group column."""
        frames = []
        for g, m in sorted(self.models.items(), key=lambda kv: str(kv[0])):
            f = m.summary_df.copy()
            f.insert(0, self.group_col, g)
            frames.append(f)
        return pd.concat(frames, ignore_index=True)

    def transform(
        self,
        df: DataFrame,
        assign: str = "woe",
        input_col: Optional[str] = None,
        group_col: Optional[str] = None,
        output_col: Optional[str] = None,
    ) -> DataFrame:
        """Per-group bin lookup as one compiled expression: equality on the
        group key picks the group's :meth:`FittedBins.assign_sql`. No join,
        no per-group scans, no Python. Unseen and NULL/NaN group keys, and
        non-binary groups under 'woe', yield NULL."""
        input_col = input_col or self.x
        group_col = group_col or self.group_col
        output_col = output_col or f"{input_col}_{assign}"
        in_type = None
        if assign == "interval" and any(m.exclude_values for m in self.models.values()):
            in_type = df.select(input_col).schema[0].dataType
        branches = [
            (g, m.assign_sql(input_col, assign, in_type))
            for g, m in sorted(self.models.items(), key=lambda kv: str(kv[0]))
            # non-binary group: WoE undefined -> NULL
            if not (assign == "woe" and m.woes is None)
        ]
        dtype = "string" if assign == "interval" else "double"
        return df.withColumn(output_col, F.expr(dispatch(name(group_col), branches, dtype)))


def fit_binners_per_group(
    df: DataFrame,
    group_col: str,
    x: str,
    y: str,
    *,
    prebins: Union[int, str, None] = "auto",
    prebin_relative_error: float = 0.001,
    config: EngineConfig = DEFAULT_CONFIG,
    **binner_kwargs,
) -> GroupedBins:
    """Fit one binner per distinct ``group_col`` value in ONE distributed scan.

    Plan: a single ``groupBy(group, tag, gkey)`` aggregation produces the
    candidate-bin sufficient statistics for every group simultaneously
    (plus, when pre-binning is active, one approxQuantile pass for shared
    split points). The driver then detects binary targets and solves
    PAVA+merge per group over k-row slices of the collected stats —
    milliseconds per group regardless of input size.

    When pre-binning is active (``"auto"`` resolving high-cardinality, or an
    explicit int) the quantile split points are GLOBAL — shared across all
    groups — by design: one approxQuantile pass instead of one per group.
    Fits therefore equal independent per-group fits only in exact mode
    (``prebins="exact"``).
    """
    tmpl = SparkMonotonicBinner(
        x, y, prebins=prebins, prebin_relative_error=prebin_relative_error,
        config=config, **binner_kwargs,
    )
    stats, splits = _collect_stats_rows(tmpl, df, group_col)
    return _solve_groups(
        stats, splits is not None, group_col, x, y,
        prebins=prebins, prebin_relative_error=prebin_relative_error,
        config=config, **binner_kwargs,
    )


def _solve_groups(
    stats,
    prebinned: bool,
    group_col: str,
    x: str,
    y: str,
    *,
    prebins="auto",
    prebin_relative_error: float = 0.001,
    config: EngineConfig = DEFAULT_CONFIG,
    weighted=None,
    **binner_kwargs,
) -> GroupedBins:
    """Driver-side per-group solve over collected (or merged) stats rows."""
    by_group: Dict[Any, list] = {}
    for r in stats:
        by_group.setdefault(r["_g"], []).append(r)

    models: Dict[Any, FittedBins] = {}
    histories: Dict[Any, list] = {}
    solver = SparkMonotonicBinner(
        x, y, prebins=prebins, prebin_relative_error=prebin_relative_error,
        config=config, **binner_kwargs,
    )
    for g in sorted(by_group, key=lambda v: (v is None, str(v))):
        models[g] = solver._solve_from_stats(
            by_group[g], prebinned, weighted=weighted
        )
        histories[g] = solver.merge_history_
    return GroupedBins(group_col, x, y, models, merge_histories=histories)


def collect_group_stats(
    df: DataFrame,
    group_col: Optional[str] = None,
    x: Optional[str] = None,
    y: Optional[str] = None,
    *,
    prior: Optional[BinStats] = None,
    label: Optional[str] = None,
    prebins: Union[int, str, None] = "auto",
    prebin_relative_error: float = 0.001,
    config: EngineConfig = DEFAULT_CONFIG,
    **binner_kwargs,
) -> BinStats:
    """Per-group sibling of :meth:`SparkMonotonicBinner.collect_stats`:
    ONE scan collects every group's mergeable sufficient statistics; with
    ``prior``, this partition folds into it under the prior's frozen
    bucketing (columns default from the prior). Solve the merged artifact
    with :func:`fit_groups_from_stats` — the per-source daily refit never
    rescans history."""
    if prior is not None:
        group_col = group_col or prior.group_col
        x = x or prior.x
        y = y or prior.y
        if (prior.group_col, prior.x, prior.y) != (group_col, x, y):
            raise ValueError(
                f"prior stats are ({prior.group_col!r}, {prior.x!r}, "
                f"{prior.y!r}); requested ({group_col!r}, {x!r}, {y!r})"
            )
    if not (group_col and x and y):
        raise ValueError("group_col, x, and y are required without a prior")
    tmpl = SparkMonotonicBinner(
        x, y, prebins=prebins, prebin_relative_error=prebin_relative_error,
        config=config, **binner_kwargs,
    )
    return _stats_artifact(tmpl, df, group_col, prior, label)


def fit_groups_from_stats(
    stats: BinStats,
    *,
    prebins: Union[int, str, None] = "auto",
    prebin_relative_error: float = 0.001,
    config: EngineConfig = DEFAULT_CONFIG,
    **binner_kwargs,
) -> GroupedBins:
    """Driver-only per-group solve from a (possibly merged) grouped
    artifact — no Spark scan."""
    if stats.group_col is None:
        raise ValueError(
            "artifact is ungrouped; use SparkMonotonicBinner.fit_from_stats"
        )
    _check_artifact(
        stats,
        binner_kwargs.get("exclude_values"),
        binner_kwargs.get("weight_col"),
    )
    return _solve_groups(
        stats.rows, stats.splits is not None, stats.group_col,
        stats.x, stats.y,
        prebins=prebins, prebin_relative_error=prebin_relative_error,
        config=config, weighted=stats.weight_col is not None,
        **binner_kwargs,
    )
