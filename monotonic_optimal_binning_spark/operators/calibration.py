"""Score calibration: isotonic regression + reliability/ECE table.

A scored model's last mile before decisions is calibration — making the
score mean what it says. Two standard tools:

- :func:`isotonic_calibrate`: distributed isotonic regression, the
  nonparametric monotone calibrator (Zadrozny & Elkan, KDD'02).  Reuses
  the engine's binning architecture verbatim: ONE ``groupBy(score)``
  scan reduces to per-distinct-score sufficient statistics, the PAVA
  pool-adjacent-violators pass runs driver-side on the k collected rows
  (:mod:`..core.pava` — the same kernel the monotone binner uses, cited
  to /root/reference/src/MOBPY/core/pava.py:358-406), and serving is a
  compiled step-function lookup.  A cheap ``approx_count_distinct``
  probe keeps the driver collect bounded: high-cardinality raw scores
  are quantile-prebinned first.

- :func:`calibration_table`: the reliability diagram's data — per fixed
  score bucket, predicted-vs-observed rate and the bucket's weighted
  ECE term, in one hash-aggregate scan (fixed cut points, so an ANSI
  oracle and a resumed job reproduce it exactly).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from .. import artifacts
from ..core.pava import GroupStats, fit_pava
from ..exceptions import DataError
from ..functions.lookup import dispatch, name, serve_sql, step_sql, tabulate
from .evaluation import _bucketize

__all__ = [
    "IsotonicCalibration",
    "GroupedIsotonicCalibration",
    "isotonic_calibrate",
    "isotonic_calibrate_grouped",
    "calibration_table",
]


@dataclass
class IsotonicCalibration:
    """Driver-side fitted step function (kilobytes; compiled into the
    serving expression).

    ``bounds`` are the k-1 INNER block boundaries in fit-key space
    (half-open blocks, the core PAVA convention): a key equal to a
    boundary belongs to the block to its right, so lookup is
    ``searchsorted(bounds, key, side='right')`` — which also clamps
    naturally at both open ends without storing ±inf (JSON-safe).
    ``cuts`` is non-None for prebinned fits: raw scores are first mapped
    to their quantile bucket's upper-cut key (top bucket -> a finite
    sentinel above every cut) before the block lookup.
    """

    score_col: str
    bounds: np.ndarray
    values: np.ndarray
    resolved_sign: str
    n_groups: int
    cuts: Optional[np.ndarray] = None
    cut_sentinel: Optional[float] = None

    def predict_batch(self, scores: pd.Series) -> pd.Series:
        vals = scores.to_numpy(dtype=float, na_value=np.nan)
        nan_mask = np.isnan(vals)
        keys = vals
        if self.cuts is not None and len(self.cuts):
            ki = np.searchsorted(self.cuts, vals, side="right")
            key_space = np.append(self.cuts, self.cut_sentinel)
            keys = key_space[np.minimum(ki, len(self.cuts))]
        idx = np.searchsorted(self.bounds, keys, side="right")
        out = self.values[idx].astype(float)
        out[nan_mask] = np.nan  # no score, no calibrated score
        return pd.Series(out)

    def lookup_sql(self, input_col: str) -> str:
        """:meth:`predict_batch` as one step function over the raw score:
        its only breakpoints are the prebin cuts (or, unprebinned, the
        block bounds), so the prebin mapping and the block lookup compose
        on the driver into one table. NULL/NaN scores give NULL."""
        edges = self.cuts if self.cuts is not None and len(self.cuts) else self.bounds
        steps = tabulate(lambda v: self.predict_batch(pd.Series(v)).to_numpy(), edges)
        return serve_sql(input_col, edges, steps)

    def transform(
        self,
        df: DataFrame,
        input_col: Optional[str] = None,
        output_col: Optional[str] = None,
    ) -> DataFrame:
        """Append :meth:`predict_batch`'s score (NaN as NULL), compiled."""
        input_col = input_col or self.score_col
        output_col = output_col or f"{input_col}_calibrated"
        return df.withColumn(output_col, F.expr(self.lookup_sql(input_col)))

    def to_dict(self) -> dict:
        return {
            "score_col": self.score_col,
            "bounds": [float(v) for v in self.bounds],
            "values": [float(v) for v in self.values],
            "resolved_sign": self.resolved_sign,
            "n_groups": int(self.n_groups),
            "cuts": (
                [float(v) for v in self.cuts]
                if self.cuts is not None
                else None
            ),
            "cut_sentinel": (
                float(self.cut_sentinel)
                if self.cut_sentinel is not None
                else None
            ),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "IsotonicCalibration":
        return cls(
            score_col=d["score_col"],
            bounds=np.asarray(d["bounds"], dtype=float),
            values=np.asarray(d["values"], dtype=float),
            resolved_sign=d["resolved_sign"],
            n_groups=int(d["n_groups"]),
            cuts=(
                np.asarray(d["cuts"], dtype=float)
                if d.get("cuts") is not None
                else None
            ),
            cut_sentinel=d.get("cut_sentinel"),
        )

    def save_json(self, path: str) -> None:
        artifacts.save_json(self.to_dict(), path)

    @classmethod
    def load_json(cls, path: str) -> "IsotonicCalibration":
        return cls.from_dict(artifacts.load_json(path))


#: "auto" collects exact distinct scores up to this many groups; above,
#: quantile prebinning bounds the driver collect at any cardinality
AUTO_EXACT_MAX_GROUPS = 1024
_PREBIN_DEFAULT = 256


def _apply_prebins(base: DataFrame, prebins, prebin_relative_error: float):
    """Shared bounded-collect policy: 'auto' probes distinct fit keys and
    quantile-prebins above :data:`AUTO_EXACT_MAX_GROUPS`; 'exact' skips
    the probe; an int forces that many quantile buckets. Returns the
    (possibly rebinned) frame plus the cut array + top-bucket sentinel.
    All non-``__s`` columns pass through untouched."""
    if prebins == "auto":
        probe = base.agg(
            F.approx_count_distinct("__s").alias("n")
        ).first()["n"]
        prebins = None if probe <= AUTO_EXACT_MAX_GROUPS else _PREBIN_DEFAULT
    elif prebins == "exact":
        prebins = None
    cuts_arr = None
    sentinel = None
    if prebins is not None:
        n_q = int(prebins)
        if n_q < 2:
            raise ValueError("prebins must be >= 2")
        qs = base.approxQuantile(
            "__s", [i / n_q for i in range(1, n_q)], prebin_relative_error
        )
        cuts = sorted(set(qs))
        if cuts:
            # rebin each score to its bucket's UPPER CUT: the fit keys
            # stay in (cut) score space and serving replays the same
            # raw->key mapping; the top open bucket gets a finite
            # sentinel strictly above every cut
            sentinel = cuts[-1] + max(1.0, abs(cuts[-1]))
            keep = [c for c in base.columns if c != "__s"]
            rebin = step_sql("`__s`", cuts, cuts + [sentinel])
            base = base.select(F.expr(rebin).alias("__s"), *keep)
            cuts_arr = np.asarray(cuts, dtype=float)
    return base, cuts_arr, sentinel


def isotonic_calibrate(
    df: DataFrame,
    score_col: str,
    y_col: str,
    *,
    sign: str = "auto",
    strict: bool = False,
    prebins: object = "auto",
    prebin_relative_error: float = 0.001,
    weight_col: Optional[str] = None,
) -> IsotonicCalibration:
    """Fit isotonic regression of ``y_col`` on ``score_col``.

    One distributed ``groupBy`` scan to per-score sufficient statistics;
    PAVA pools the k collected rows driver-side; NULL scores/labels are
    excluded (the serving transform passes NULL scores through as NULL).
    ``strict=False`` (default) keeps PAVA's natural plateaus — a
    calibrator wants them; ``sign`` as in the binner ('+', '-', 'auto').
    ``prebins``: 'auto' (exact while the probe says <= 1024 distinct,
    else 256 quantile buckets), 'exact', or an int bucket count.
    ``weight_col``: frequency-weighted isotonic fit — block means become
    Σw·y / Σw; bad weights fail loudly in the scan. Replication
    equivalence (integer weight k == k-fold replication) holds EXACTLY in
    ``prebins='exact'`` mode; when pre-binning engages, the quantile cut
    points come from the UNWEIGHTED score distribution (approxQuantile
    has no frequency arg), so bucket granularity — not the weighted block
    means within buckets — can differ from the replicated fit.
    With no clean row the PAVA solve raises ``DataError``.
    """
    return _iso_fit(
        df, score_col, y_col, where="isotonic_calibrate", sign=sign,
        strict=strict, prebins=prebins,
        prebin_relative_error=prebin_relative_error, weight_col=weight_col,
    )[None]


def _iso_fit(
    df: DataFrame,
    score_col: str,
    y_col: str,
    group_col: Optional[str] = None,
    *,
    where: str,
    max_collect: Optional[int] = None,
    sign: str,
    strict: bool,
    prebins: object,
    prebin_relative_error: float,
    weight_col: Optional[str],
) -> dict:
    """One ``groupBy([group,] score)`` scan, then a driver-side PAVA solve
    per group: ``{group value: IsotonicCalibration}``. Without
    ``group_col`` every clean row is the one group ``None``, solved even
    when empty. ``max_collect`` bounds the collected stat rows (None:
    unbounded)."""
    s = F.col(score_col).cast("double")
    y = F.col(y_col).cast("double")
    # NaN is not null: a parquet-borne NaN score/label passes isNotNull,
    # poisons the PAVA block means and breaks the sorted precondition of
    # the driver solve — NaN-as-missing, like the binner
    clean = s.isNotNull() & y.isNotNull() & ~F.isnan(s) & ~F.isnan(y)
    cols = [s.alias("__s"), y.alias("__y")]
    keys = []
    if group_col is not None:
        g = F.col(group_col)
        clean = clean & g.isNotNull()
        # a float NaN group key would fan out into one dict entry per row
        # (nan != nan); unknown groups serve NULL anyway
        if dict(df.dtypes).get(group_col) in ("float", "double"):
            clean = clean & ~F.isnan(g)
        cols.insert(0, g.alias("__g"))
        keys = ["__g"]
    if weight_col is not None:
        from .drift import _weight_expr

        cols.append(_weight_expr(weight_col, where).alias("__w"))
    base, cuts_arr, sentinel = _apply_prebins(
        df.filter(clean).select(*cols), prebins, prebin_relative_error
    )
    stats = base.groupBy(*keys, "__s").agg(*_iso_aggs(weight_col))
    if max_collect is not None:
        stats = stats.limit(max_collect + 1)
    rows = stats.collect()
    if max_collect is not None and len(rows) > max_collect:
        raise ValueError(
            f"{where}: > {max_collect} (group, score) "
            f"stat rows; raise max_collect or coarsen prebins"
        )
    per_group: dict = {} if keys else {None: []}
    for r in rows:
        if weight_col is not None and not r["n"] > 0:
            continue  # zero-weight-only score group carries no mass
        per_group.setdefault(r["__g"] if keys else None, []).append(r)
    if not keys and not per_group[None]:
        raise DataError(
            f"{where}: empty input — no row with a non-null, non-NaN "
            f"'{score_col}' and '{y_col}'"
            + (f" and a positive '{weight_col}'" if weight_col else "")
            + " to fit"
        )
    return {
        gv: _solve_iso(
            sorted(grows, key=lambda r: r["__s"]), score_col,
            sign=sign, strict=strict, cuts_arr=cuts_arr,
            sentinel=sentinel,
        )
        for gv, grows in per_group.items()
    }


def _iso_aggs(weight_col: Optional[str]):
    """Per-distinct-score sufficient statistics (algebraic, map-side
    combinable) of :func:`_iso_fit`."""
    if weight_col is not None:
        wc = F.col("__w")
        pos = wc > 0  # zero-weight rows define no extrema
        return [
            F.coalesce(F.sum(wc), F.lit(0.0)).alias("n"),
            F.sum(F.when(pos, wc * F.col("__y"))).alias("sy"),
            F.sum(
                F.when(pos, wc * F.col("__y") * F.col("__y"))
            ).alias("sy2"),
            F.min(F.when(pos, F.col("__y"))).alias("mn"),
            F.max(F.when(pos, F.col("__y"))).alias("mx"),
        ]
    return [
        F.count("__y").alias("n"),
        F.sum("__y").alias("sy"),
        F.sum(F.col("__y") * F.col("__y")).alias("sy2"),
        F.min("__y").alias("mn"),
        F.max("__y").alias("mx"),
    ]


def _solve_iso(
    rows, score_col, *, sign, strict, cuts_arr, sentinel
) -> IsotonicCalibration:
    """Driver-side PAVA solve over one group's collected per-score stats
    rows (must already be sorted by ``__s``)."""
    groups = [
        GroupStats(
            x=float(r["__s"]),
            count=int(r["n"]) if float(r["n"]) == int(r["n"]) else float(r["n"]),
            sum=float(r["sy"]), sum2=float(r["sy2"]),
            ymin=float(r["mn"]), ymax=float(r["mx"]),
        )
        for r in rows
    ]
    res = fit_pava(groups, sign=sign, strict=strict)
    # inner boundaries only: block i is [bounds[i-1], bounds[i]) in key
    # space (core half-open convention); ±inf ends stay implicit
    bounds = np.asarray([b.right for b in res.blocks[:-1]], dtype=float)
    values = np.asarray([b.mean for b in res.blocks], dtype=float)
    return IsotonicCalibration(
        score_col=score_col,
        bounds=bounds,
        values=values,
        resolved_sign=res.resolved_sign,
        n_groups=len(groups),
        cuts=cuts_arr,
        cut_sentinel=sentinel,
    )


@dataclass
class GroupedIsotonicCalibration:
    """Per-group fitted isotonic step functions (one
    :class:`IsotonicCalibration` per group value; kilobytes per group,
    compiled into one serving expression). Unknown/NULL groups calibrate to NULL
    — at serving time an unseen segment has no fitted curve, and a loud
    NaN beats a silently-global answer."""

    group_col: str
    score_col: str
    models: dict

    def transform(
        self,
        df: DataFrame,
        input_col: Optional[str] = None,
        output_col: Optional[str] = None,
        group_col: Optional[str] = None,
    ) -> DataFrame:
        """Append each group's compiled calibrated score (equality on the
        group key picks the group's :meth:`IsotonicCalibration.lookup_sql`)."""
        input_col = input_col or self.score_col
        output_col = output_col or f"{input_col}_calibrated"
        gcol = group_col or self.group_col
        branches = [(gv, m.lookup_sql(input_col)) for gv, m in self.models.items()]
        return df.withColumn(
            output_col, F.expr(dispatch(name(gcol), branches))
        )

    def to_dict(self) -> dict:
        for k in self.models:
            if not isinstance(k, (str, int, float, bool, type(None))):
                raise ValueError(
                    f"group key {k!r} ({type(k).__name__}) is not "
                    f"JSON-serializable; cast the group column first"
                )
        return {
            "group_col": self.group_col,
            "score_col": self.score_col,
            "groups": [
                {"key": k, "model": m.to_dict()}
                for k, m in self.models.items()
            ],
        }

    @classmethod
    def from_dict(cls, d: dict) -> "GroupedIsotonicCalibration":
        return cls(
            group_col=d["group_col"],
            score_col=d["score_col"],
            models={
                g["key"]: IsotonicCalibration.from_dict(g["model"])
                for g in d["groups"]
            },
        )

    def save_json(self, path: str) -> None:
        artifacts.save_json(self.to_dict(), path)

    @classmethod
    def load_json(cls, path: str) -> "GroupedIsotonicCalibration":
        return cls.from_dict(artifacts.load_json(path))


def isotonic_calibrate_grouped(
    df: DataFrame,
    score_col: str,
    y_col: str,
    group_col: str,
    *,
    sign: str = "auto",
    strict: bool = False,
    prebins: object = "auto",
    prebin_relative_error: float = 0.001,
    weight_col: Optional[str] = None,
    max_collect: int = 200_000,
) -> GroupedIsotonicCalibration:
    """Per-group isotonic regression in ONE grouped scan (the
    ``fit_binners_per_group`` pattern): ``groupBy(group, score)`` reduces
    every group's data to per-distinct-score sufficient statistics
    simultaneously, then k independent driver-side PAVA solves — adding a
    group adds zero scans. NULL groups are excluded (no segment to
    calibrate).

    ``prebins='auto'`` probes GLOBAL distinct-score cardinality and,
    above the exact threshold, prebins on ONE shared quantile grid — a
    common key space keeps per-group curves comparable and costs one
    probe, not one per group. The driver collect is bounded by
    ``max_collect`` total (group, score) stat rows and fails loudly
    beyond it (raise the limit or coarsen ``prebins`` for extreme
    group × score cardinality).
    """
    models = _iso_fit(
        df, score_col, y_col, group_col,
        where="isotonic_calibrate_grouped", max_collect=max_collect,
        sign=sign, strict=strict, prebins=prebins,
        prebin_relative_error=prebin_relative_error, weight_col=weight_col,
    )
    return GroupedIsotonicCalibration(
        group_col=group_col, score_col=score_col, models=models
    )


def calibration_table(
    df: DataFrame,
    p_col: str,
    y_col: str,
    cuts: Sequence[float],
    *,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Reliability-diagram data over fixed probability cut points: per
    bucket ``(bucket, n, avg_p, avg_y, gap, ece_term)`` where ``gap =
    |avg_p - avg_y|`` and ``ece_term = n/total * gap`` (sum of the
    column = expected calibration error). One hash-aggregate scan;
    NULL labels excluded, NULL predictions get bucket -1 with NULL
    calibration columns. ``weight_col``: counts/averages become
    frequency-weighted (integer weight k == k-fold replication)."""
    if not cuts:
        raise ValueError("calibration_table: cuts must be non-empty")
    p = F.col(p_col).cast("double")
    y = F.col(y_col).cast("double")
    if weight_col is not None:
        from .drift import _weight_expr

        wv = _weight_expr(weight_col, "calibration_table")
        # zero-weight rows contribute nothing, including to the products
        # (0 * NaN prediction/label would otherwise poison the averages)
        wpos = F.when(F.col("__w") > 0, F.col("__w"))
        wsum = F.coalesce(F.sum(wpos), F.lit(0.0))
        agg = (
            df.filter(y.isNotNull())
            .select(
                _bucketize(p, cuts).alias("bucket"), p.alias("__p"),
                y.alias("__y"), wv.alias("__w"),
            )
            .groupBy("bucket")
            .agg(
                wsum.alias("n"),
                F.when(
                    wsum > 0, F.sum(wpos * F.col("__p")) / wsum
                ).alias("avg_p"),
                F.when(
                    wsum > 0, F.sum(wpos * F.col("__y")) / wsum
                ).alias("avg_y"),
            )
            # an all-zero-weight bucket carries no mass: drop it rather
            # than emit a zero-count row (ANSI-safe either way via the
            # guards above)
            .filter(F.col("n") > 0)
        )
    else:
        agg = (
            df.filter(y.isNotNull())
            .select(_bucketize(p, cuts).alias("bucket"), p.alias("__p"),
                    y.alias("__y"))
            .groupBy("bucket")
            .agg(
                F.count("__y").alias("n"),
                F.avg("__p").alias("avg_p"),
                F.avg("__y").alias("avg_y"),
            )
        )
    real = F.col("bucket") >= 0
    total = F.sum(F.when(real, F.col("n"))).over(
        Window.partitionBy(F.lit(1))
    )
    gap = F.abs(F.col("avg_p") - F.col("avg_y"))
    return agg.select(
        "bucket",
        "n",
        F.when(real, F.col("avg_p")).alias("avg_p"),
        "avg_y",
        F.when(real, gap).alias("gap"),
        F.when(real, F.col("n") / total * gap).alias("ece_term"),
    ).orderBy("bucket")
