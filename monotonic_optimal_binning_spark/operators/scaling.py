"""Feature statistics artifact + serve-side scaling transforms.

The preprocessing layer next to the binner: fit per-column statistics
ONCE on the training slice, freeze them in a JSON artifact, and serve
``impute`` / ``clip`` / ``standardize`` / ``robust_scale`` as pure
codegen expressions built from the artifact's literals. The point is
train/serve-skew safety — the serving job never recomputes statistics on
its own slice (the classic leak: standardizing a scoring batch by the
batch's own mean silently shifts every feature), and it never rescans
training data.

Scale design (100 TB):

- The fit is ONE aggregation scan producing 9 algebraic statistics per
  column (no shuffle wider than a single reduced row) plus ONE
  multi-column quantile pass — ``approxQuantile`` computes every
  column's sketch in the same scan; ``exact=True`` switches to Spark's
  exact ``percentile`` aggregate (sort-based; use at test scale or when
  the oracle needs interpolated-quantile equality).
- Transforms are expression-only: no UDF, no broadcast join, no extra
  scan. The artifact is kilobytes and lives in the plan as literals, so
  whole-stage codegen fuses the arithmetic into the reading stage.
- The artifact records null counts per column, so an imputation audit
  (how many values WILL be filled) costs zero additional passes.

The reference has no preprocessing layer (it consumes clean pandas
columns, /root/reference/src/MOBPY/binning/mob.py:137-156); this module
is engine-new surface for the feature-engineering pipeline.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, functions as F

from .. import artifacts
__all__ = [
    "FeatureStats",
    "fit_feature_stats",
    "impute",
    "clip",
    "standardize",
    "robust_scale",
]


def _json_num(v):
    if v is None:
        return None
    f = float(v)
    if math.isnan(f):
        return "nan"
    if math.isinf(f):
        return "inf" if f > 0 else "-inf"
    return f


def _from_json_num(v):
    if v is None:
        return None
    return float(v)


@dataclass
class FeatureStats:
    """Frozen per-column statistics: the serving contract.

    ``stats[col]`` holds ``count`` (non-null), ``n_null``, ``mean``,
    ``std`` (sample), ``min``, ``max``, ``q_lo``, ``median``, ``q_hi``
    where the quantile probabilities are recorded in ``quantile_probs``
    (default 0.25 / 0.5 / 0.75).
    """

    stats: Dict[str, Dict[str, Any]]
    quantile_probs: List[float] = field(
        default_factory=lambda: [0.25, 0.5, 0.75]
    )
    exact_quantiles: bool = False

    def columns(self) -> List[str]:
        return list(self.stats)

    def _col(self, col: str) -> Dict[str, Any]:
        if col not in self.stats:
            raise KeyError(
                f"no fitted statistics for column {col!r}; fitted: "
                f"{sorted(self.stats)}"
            )
        return self.stats[col]

    def iqr(self, col: str) -> Optional[float]:
        s = self._col(col)
        if s["q_hi"] is None or s["q_lo"] is None:
            return None
        return s["q_hi"] - s["q_lo"]

    # ---------- (de)serialization ----------

    def to_dict(self) -> Dict[str, Any]:
        return {
            "kind": "mob_feature_stats",
            "version": 1,
            "quantile_probs": list(self.quantile_probs),
            "exact_quantiles": self.exact_quantiles,
            "stats": {
                c: {k: (_json_num(v) if k != "count" and k != "n_null" else int(v))
                    for k, v in s.items()}
                for c, s in self.stats.items()
            },
        }

    @classmethod
    def from_dict(cls, d: Dict[str, Any]) -> "FeatureStats":
        if d.get("kind") != "mob_feature_stats":
            raise ValueError(
                f"not a FeatureStats artifact (kind={d.get('kind')!r})"
            )
        stats = {
            c: {
                k: (
                    int(v)
                    if k in ("count", "n_null")
                    else (float(v) if isinstance(v, str) else _from_json_num(v))
                )
                for k, v in s.items()
            }
            for c, s in d["stats"].items()
        }
        return cls(
            stats=stats,
            quantile_probs=[float(p) for p in d["quantile_probs"]],
            exact_quantiles=bool(d.get("exact_quantiles", False)),
        )

    def save_json(self, path: str) -> None:
        artifacts.save_json(self.to_dict(), path)

    @classmethod
    def load_json(cls, path: str) -> "FeatureStats":
        return cls.from_dict(artifacts.load_json(path))


def fit_feature_stats(
    df: DataFrame,
    cols: Sequence[str],
    *,
    quantile_probs: Sequence[float] = (0.25, 0.5, 0.75),
    relative_error: float = 1e-3,
    exact: bool = False,
    weight_col: Optional[str] = None,
) -> FeatureStats:
    """ONE aggregation scan over ``cols`` → a :class:`FeatureStats`
    artifact.

    ``exact=False`` (default, the scale path): quantiles come from the
    same single aggregate via ``percentile_approx`` (Greenwald-Khanna
    sketch, mergeable map-side — still one scan, one reduced row).
    ``exact=True``: Spark's exact interpolated ``percentile`` aggregate —
    matches ANSI ``quantile_cont`` definitions bit-for-bit modulo float
    summation order; the oracle-parity mode.

    ``weight_col``: frequency-weighted statistics — counts/null-mass/
    moments become weight sums (integer weight k == k-fold replication).
    Quantiles come from Spark's exact ``percentile(col, probs,
    frequency)``, so weights must be non-negative INTEGERS (validated in
    the same scan — fractional weights raise; pre-round or rescale them)
    and the ``exact``/``relative_error`` knobs are ignored (the weighted
    path is always replication-exact). Bad weights (null/negative/
    non-finite) fail loudly in the scan. MEMORY CAVEAT: the exact
    frequency percentile buffers every distinct (value, frequency) pair
    per column in executor memory (no sketch alternative accepts
    weights) — on high-cardinality continuous features, pre-round the
    feature or fit unweighted.
    """
    if len(quantile_probs) != 3:
        raise ValueError(
            "quantile_probs must be (lo, median, hi); got "
            f"{list(quantile_probs)}"
        )
    probs = [float(p) for p in quantile_probs]
    wv = None
    if weight_col is not None:
        from .drift import _weight_expr

        # shared null/negative/non-finite guard, plus the integer check
        # the frequency percentile demands
        guarded = _weight_expr(weight_col, "fit_feature_stats")
        wv = F.when(
            guarded != F.floor(guarded),
            F.raise_error(
                F.lit(
                    f"fit_feature_stats: weight column '{weight_col}' "
                    f"must be INTEGER-valued (weighted quantiles use "
                    f"Spark's frequency percentile)"
                )
            ).cast("double"),
        ).otherwise(guarded)
    aggs: List[Column] = []
    for c in cols:
        xc = F.col(c).cast("double")
        # NaN behaves like null for statistics (pandas dropna semantics,
        # matching the binner's y handling); only floating source columns
        # can carry NaN
        if _is_floating(df, c):
            xv = F.when(xc.isNotNull() & ~F.isnan(xc), xc)
        else:
            xv = xc
        if wv is not None:
            wx = F.when(xv.isNotNull() & (wv > 0), wv)  # weight on valid x
            n = F.coalesce(F.sum(wx), F.lit(0.0))
            sx = F.sum(wx * xv)
            sx2 = F.sum(wx * xv * xv)
            var = (sx2 - sx * sx / n) / (n - F.lit(1.0))
            aggs.append(n.alias(f"{c}__count"))
            aggs.append(
                (F.coalesce(F.sum(wv), F.lit(0.0)) - n).alias(f"{c}__n_null")
            )
            aggs.append(F.when(n > 0, sx / n).alias(f"{c}__mean"))
            aggs.append(
                F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0))))
                .alias(f"{c}__std")
            )
            aggs.append(F.min(F.when(wv > 0, xv)).alias(f"{c}__min"))
            aggs.append(F.max(F.when(wv > 0, xv)).alias(f"{c}__max"))
            # exact interpolated percentile with integer frequencies ==
            # the replicated dataset's exact percentile; zero-weight rows
            # get frequency 0 and contribute nothing
            q = F.percentile(
                xv, F.lit(probs), wv.cast("long")
            )
            aggs.append(q.alias(f"{c}__q"))
            continue
        aggs.append(F.count(xv).alias(f"{c}__count"))
        aggs.append((F.count(F.lit(1)) - F.count(xv)).alias(f"{c}__n_null"))
        aggs.append(F.avg(xv).alias(f"{c}__mean"))
        aggs.append(F.stddev_samp(xv).alias(f"{c}__std"))
        aggs.append(F.min(xv).alias(f"{c}__min"))
        aggs.append(F.max(xv).alias(f"{c}__max"))
        if exact:
            q = F.percentile(xv, F.lit(probs))
        else:
            q = F.percentile_approx(
                xv, F.lit(probs), F.lit(int(1.0 / relative_error))
            )
        aggs.append(q.alias(f"{c}__q"))
    row = df.agg(*aggs).collect()[0]
    stats: Dict[str, Dict[str, Any]] = {}
    for c in cols:
        qs = row[f"{c}__q"] or [None, None, None]
        stats[c] = {
            "count": int(row[f"{c}__count"]),
            "n_null": int(row[f"{c}__n_null"]),  # integer weights => ints
            "mean": _opt_float(row[f"{c}__mean"]),
            "std": _opt_float(row[f"{c}__std"]),
            "min": _opt_float(row[f"{c}__min"]),
            "max": _opt_float(row[f"{c}__max"]),
            "q_lo": _opt_float(qs[0]),
            "median": _opt_float(qs[1]),
            "q_hi": _opt_float(qs[2]),
        }
    return FeatureStats(
        stats=stats, quantile_probs=probs, exact_quantiles=exact
    )


def _is_floating(df: DataFrame, col: str) -> bool:
    t = dict(df.dtypes).get(col, "")
    return t in ("double", "float")


def _opt_float(v):
    return None if v is None else float(v)


def _fill_value(stats: FeatureStats, col: str, strategy) -> float:
    if isinstance(strategy, (int, float)) and not isinstance(strategy, bool):
        return float(strategy)
    s = stats._col(col)
    if strategy in ("median", "mean", "min", "max"):
        v = s[strategy]
        if v is None:
            raise ValueError(
                f"column {col!r} has no fitted {strategy!r} (all-null "
                f"training slice); impute with an explicit constant"
            )
        return float(v)
    raise ValueError(
        f"unknown impute strategy {strategy!r}: use 'median', 'mean', "
        f"'min', 'max', or a numeric constant"
    )


def impute(
    df: DataFrame,
    stats: FeatureStats,
    cols: Optional[Sequence[str]] = None,
    *,
    strategy: Union[str, float] = "median",
    suffix: str = "",
) -> DataFrame:
    """Fill null/NaN with the TRAINING slice's statistic (never the
    scoring batch's own). Pure ``coalesce``/``nanvl`` codegen."""
    cols = list(cols) if cols is not None else stats.columns()
    out = df
    for c in cols:
        fill = F.lit(_fill_value(stats, c, strategy))
        xc = F.col(c).cast("double")
        expr = F.coalesce(
            F.nanvl(xc, fill) if _is_floating(df, c) else xc, fill
        )
        out = out.withColumn(c + suffix if suffix else c, expr)
    return out


def clip(
    df: DataFrame,
    stats: FeatureStats,
    cols: Optional[Sequence[str]] = None,
    *,
    lower: Optional[str] = "q_lo",
    upper: Optional[str] = "q_hi",
    k_iqr: Optional[float] = None,
    suffix: str = "",
) -> DataFrame:
    """Winsorize to artifact bounds. ``lower``/``upper`` name artifact
    statistics (``q_lo``/``q_hi``/``min``/``max``/``median``) or pass
    ``k_iqr`` for Tukey fences ``[q_lo - k·IQR, q_hi + k·IQR]`` (k=1.5
    is the boxplot rule). Nulls pass through untouched."""
    cols = list(cols) if cols is not None else stats.columns()
    out = df
    for c in cols:
        s = stats._col(c)
        if k_iqr is not None:
            iqr = stats.iqr(c)
            if iqr is None:
                raise ValueError(f"column {c!r} has no fitted IQR")
            lo = s["q_lo"] - k_iqr * iqr
            hi = s["q_hi"] + k_iqr * iqr
        else:
            lo = s[lower] if lower is not None else None
            hi = s[upper] if upper is not None else None
        xc = F.col(c).cast("double")
        expr = xc
        if lo is not None:
            expr = F.greatest(expr, F.lit(float(lo)))
        if hi is not None:
            expr = F.least(expr, F.lit(float(hi)))
        # greatest/least skip nulls (a null would resurrect as the bound)
        # and order NaN above everything (NaN would clip to the UPPER
        # bound): gate so null stays null and NaN passes through unchanged
        valid = xc.isNotNull()
        if _is_floating(df, c):
            valid = valid & ~F.isnan(xc)
        expr = F.when(valid, expr).otherwise(xc)
        out = out.withColumn(c + suffix if suffix else c, expr)
    return out


def standardize(
    df: DataFrame,
    stats: FeatureStats,
    cols: Optional[Sequence[str]] = None,
    *,
    suffix: str = "_z",
) -> DataFrame:
    """z-score with the TRAINING mean/std. Zero/undefined std → 0.0 for
    valid values (a constant training column carries no signal); null and
    NaN inputs both yield null in the derived column."""
    cols = list(cols) if cols is not None else stats.columns()
    out = df
    for c in cols:
        s = stats._col(c)
        xc = F.col(c).cast("double")
        valid = xc.isNotNull()
        if _is_floating(df, c):
            valid = valid & ~F.isnan(xc)
        if s["std"] is None or s["std"] == 0.0 or s["mean"] is None:
            expr = F.when(valid, F.lit(0.0))
        else:
            expr = F.when(valid, (xc - F.lit(s["mean"])) / F.lit(s["std"]))
        out = out.withColumn(c + suffix, expr)
    return out


def robust_scale(
    df: DataFrame,
    stats: FeatureStats,
    cols: Optional[Sequence[str]] = None,
    *,
    suffix: str = "_r",
) -> DataFrame:
    """(x − median) / IQR with TRAINING quantiles — outlier-insensitive
    sibling of :func:`standardize`. Zero IQR → 0.0 for valid values; null
    and NaN inputs both yield null in the derived column."""
    cols = list(cols) if cols is not None else stats.columns()
    out = df
    for c in cols:
        s = stats._col(c)
        iqr = stats.iqr(c)
        xc = F.col(c).cast("double")
        valid = xc.isNotNull()
        if _is_floating(df, c):
            valid = valid & ~F.isnan(xc)
        if iqr is None or iqr == 0.0 or s["median"] is None:
            expr = F.when(valid, F.lit(0.0))
        else:
            expr = F.when(valid, (xc - F.lit(s["median"])) / F.lit(iqr))
        out = out.withColumn(c + suffix, expr)
    return out
