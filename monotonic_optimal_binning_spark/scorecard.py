"""Credit-scorecard points scaling over fitted WoE models.

The classic last mile of a WoE pipeline (Siddiqi, *Credit Risk
Scorecards*, Wiley 2006): a logistic model over WoE-encoded features is
rescaled so scores are human-readable integers anchored at
``base_points`` for ``base_odds`` (good:bad) with ``pdo`` points
doubling the odds:

    factor = pdo / ln 2
    offset = base_points - factor * ln(base_odds)
    points_i(bin) = offset/k + factor * (coef_i * woe_bin + intercept/k)

so that  sum_i points_i = offset + factor * (intercept + sum coef*woe)
= offset + factor * ln(odds_good) — the textbook allocation that spreads
the intercept and offset evenly over the k features.  The engine's WoE
is ln(good_dist/bad_dist), so the model here is framed on the log-odds
of GOOD (``intercept`` = ln(odds good:bad) at WoE zero): with the
default ``coef=1`` a good-heavy bin earns MORE points, and a logistic
fit on P(bad) plugs in with its coefficients and intercept negated.

Missing / excluded values carry no evidence (WoE 0 = population prior)
and receive each feature's *neutral* points ``points_i(woe=0)`` — an
applicant about whom nothing is known scores exactly
``base_points + factor*ln(base_odds_model/base_odds)``.

Rounding is half-UP (``floor(x + 0.5)``), not banker's: integer points
must be reproducible by an ANSI SQL oracle and by every serving stack,
and round-half-even differs between numpy and SQL engines.

Scale design: :meth:`Scorecard.transform` is ONE narrow stage — each
feature's bin→points lookup is the same compiled comparison tree as
:meth:`FittedBins.transform`, with the precomputed points of every bin
as its literal leaves, and the total is a row-local sum. No shuffle,
no join, no collect and no Python worker at any input size.

The reference stops at per-bin WoE summaries
(/root/reference/src/MOBPY/binning/mob.py:307-335); points scaling is
engine-new surface.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Dict, List, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from . import artifacts
from .operators.binning import FittedBins

__all__ = ["Scorecard"]


def _round_half_up(a: np.ndarray) -> np.ndarray:
    return np.floor(a + 0.5)


@dataclass
class Scorecard:
    """PDO-scaled points card over per-feature :class:`FittedBins`.

    Args:
        models: feature name -> fitted binary model (WoE present).
        coefs: coefficient per feature in the log-odds-of-GOOD model
            (default 1.0 each — the expert-scorecard convention; negate
            a logistic-on-bad fit's coefficients).
        intercept: log-odds of GOOD at WoE zero (negate a
            logistic-on-bad fit's intercept).
        pdo: points to double the odds.
        base_points: score anchored at ``base_odds``.
        base_odds: good:bad odds at ``base_points``.
        round_points: emit integer per-bin points (half-up).
    """

    models: Dict[str, FittedBins]
    coefs: Optional[Dict[str, float]] = None
    intercept: float = 0.0
    pdo: float = 20.0
    base_points: float = 600.0
    base_odds: float = 50.0
    round_points: bool = True
    _coefs: Dict[str, float] = field(init=False, repr=False)

    def __post_init__(self) -> None:
        if not self.models:
            raise ValueError("Scorecard: at least one model required")
        for name, m in self.models.items():
            if m.woes is None:
                raise ValueError(
                    f"Scorecard: model for {name!r} has no WoE "
                    "(binary target required)"
                )
        self._coefs = dict(self.coefs or {})
        extra = set(self._coefs) - set(self.models)
        if extra:
            raise ValueError(f"Scorecard: coefs for unknown features {extra}")
        for name in self.models:
            self._coefs.setdefault(name, 1.0)
        if self.pdo <= 0 or self.base_odds <= 0:
            raise ValueError("pdo and base_odds must be > 0")

    # ---------------------------------------------------------- scaling --

    @property
    def factor(self) -> float:
        return self.pdo / math.log(2.0)

    @property
    def offset(self) -> float:
        return self.base_points - self.factor * math.log(self.base_odds)

    def _points_of_woe(self, feature: str, woe: np.ndarray) -> np.ndarray:
        k = len(self.models)
        raw = (
            self.offset / k
            + self.factor * (self._coefs[feature] * woe + self.intercept / k)
        )
        return _round_half_up(raw) if self.round_points else raw

    def neutral_points(self, feature: str) -> float:
        """Points for a missing/excluded value (WoE 0, the prior)."""
        return float(self._points_of_woe(feature, np.zeros(1))[0])

    # ----------------------------------------------------------- tables --

    def points_table_(self) -> pd.DataFrame:
        """Per-(feature, bin) points, plus each feature's neutral row."""
        rows: List[dict] = []
        for name, m in self.models.items():
            pts = self._points_of_woe(name, np.asarray(m.woes, dtype=float))
            for label, woe, p in zip(m.labels, m.woes, pts):
                rows.append(
                    {
                        "feature": name,
                        "bucket": label,
                        "woe": float(woe),
                        "points": float(p),
                    }
                )
            rows.append(
                {
                    "feature": name,
                    "bucket": "Missing/Excluded",
                    "woe": 0.0,
                    "points": self.neutral_points(name),
                }
            )
        return pd.DataFrame(rows, columns=["feature", "bucket", "woe", "points"])

    # -------------------------------------------------------- transform --

    def transform(
        self,
        df: DataFrame,
        *,
        output_col: str = "score",
        keep_feature_points: bool = False,
        input_cols: Optional[Dict[str, str]] = None,
    ) -> DataFrame:
        """Append the total score (and optionally per-feature points).

        One narrow stage: per feature, a compiled lookup
        (:meth:`FittedBins.lookup_sql`) maps the raw column to its bin's
        precomputed points (missing/excluded -> neutral points); the
        score is the row-local sum. ``input_cols``
        remaps feature -> column when serving names differ from fit
        names.
        """
        cols = input_cols or {}
        parts = []
        out = df
        for name, m in self.models.items():
            # a NaN bin WoE scores like missing: the prior
            pts = self._points_of_woe(name, np.nan_to_num(m.woes, nan=0.0))
            neutral = self.neutral_points(name)
            sql = m.lookup_sql(cols.get(name, m.x), pts, missing=neutral, excluded=neutral)
            pcol = f"{name}_points"
            out = out.withColumn(pcol, F.expr(sql))
            parts.append(pcol)
        total = sum((F.col(c) for c in parts[1:]), F.col(parts[0]))
        if self.round_points:
            total = total.cast("long")
        out = out.withColumn(output_col, total)
        if not keep_feature_points:
            out = out.drop(*parts)
        return out

    def best_points(self, feature: str) -> float:
        """Max attainable points for the feature (best bin or neutral)."""
        m = self.models[feature]
        pts = self._points_of_woe(feature, np.asarray(m.woes, dtype=float))
        return float(max(pts.max(), self.neutral_points(feature)))

    def reason_codes(
        self,
        df: DataFrame,
        *,
        top_k: int = 3,
        output_col: str = "reasons",
        score_col: Optional[str] = "score",
        input_cols: Optional[Dict[str, str]] = None,
        keep_feature_points: bool = False,
    ) -> DataFrame:
        """Append per-row adverse-action reason codes: the ``top_k``
        features costing the most points versus their best attainable
        bin (deficit > 0 only), ordered deficit-descending with
        feature-name tie-break — the FCRA/ECOA serving requirement that
        every declined score be explainable.

        Row-local after the same one-stage points lookup as
        :meth:`transform`: deficits are plain column arithmetic against
        driver-constant per-feature maxima, and the top-k is an
        ``array_sort``/``slice`` over k elements — no shuffle, no
        per-row Python. ``score_col=None`` skips the total score.
        """
        if top_k < 1:
            raise ValueError("top_k must be >= 1")
        out = self.transform(
            df,
            output_col=score_col or "__score_tmp",
            keep_feature_points=True,
            input_cols=input_cols,
        )
        if score_col is None:
            out = out.drop("__score_tmp")
        entries = F.array(
            *[
                F.struct(
                    # negated deficit: ascending struct sort = largest
                    # deficit first, name-ascending tie-break
                    (
                        F.col(f"{name}_points") - F.lit(self.best_points(name))
                    ).alias("nd"),
                    F.lit(name).alias("f"),
                )
                for name in self.models
            ]
        )
        adverse = F.filter(F.array_sort(entries), lambda s: s["nd"] < 0)
        reasons = F.transform(
            F.slice(adverse, 1, top_k), lambda s: s["f"]
        )
        out = out.withColumn(output_col, reasons)
        if not keep_feature_points:
            out = out.drop(*[f"{n}_points" for n in self.models])
        return out

    # ------------------------------------------------------ persistence --

    def to_dict(self) -> dict:
        return {
            "models": {k: m.to_dict() for k, m in self.models.items()},
            "coefs": self._coefs,
            "intercept": self.intercept,
            "pdo": self.pdo,
            "base_points": self.base_points,
            "base_odds": self.base_odds,
            "round_points": self.round_points,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "Scorecard":
        return cls(
            models={
                k: FittedBins.from_dict(v) for k, v in d["models"].items()
            },
            coefs=dict(d["coefs"]),
            intercept=float(d["intercept"]),
            pdo=float(d["pdo"]),
            base_points=float(d["base_points"]),
            base_odds=float(d["base_odds"]),
            round_points=bool(d["round_points"]),
        )

    def save_json(self, path: str) -> None:
        artifacts.save_json(self.to_dict(), path)

    @classmethod
    def load_json(cls, path: str) -> "Scorecard":
        return cls.from_dict(artifacts.load_json(path))
