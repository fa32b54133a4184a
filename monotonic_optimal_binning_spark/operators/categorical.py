"""Categorical WoE encoding — the non-numeric half of a scorecard.

The reference engine bins NUMERIC features only
(/root/reference/src/MOBPY/binning/mob.py:173-305 sorts x and pools
adjacent intervals; categories have no order to pool along). Scorecard
pipelines still need their string features — source, domain, language,
campaign — encoded as WoE. ``fit_categorical_woe`` does it Spark-first
and bounded at any cardinality:

* ONE ``groupBy(x)`` scan with algebraic aggregates (count, sum(y)) —
  map-side combine, single shuffle on the category key;
* the driver collects only the TOP ``max_categories`` categories by
  frequency (deterministic tie-break on the category value); the long
  tail — a URL-ish column can have billions of distinct values — is
  POOLED into one ``__other__`` bucket whose totals come from a second
  tiny aggregation of the same per-category frame, never a second scan
  of the raw input. Driver state is ≤ max_categories + 2 rows no matter
  the input;
* nulls get their own ``Missing`` bucket (mirrors the reference's
  missing partition);
* WoE/IV arithmetic is :func:`core.stats.woe_iv` (same smoothing/clip
  semantics as the numeric path, /root/reference/src/MOBPY/core/utils.py:152-237).

Transform is a broadcast hash join on a (category, WoE) table (no
Python worker, one hash probe per row): unseen categories at serving time fall back to
the ``__other__`` WoE — the right default for production scoring, where
a brand-new category is exactly "a category too rare to have been in
the top-N at training time". ``CatBins`` round-trips through strict JSON
like :class:`operators.binning.FittedBins`.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import artifacts
from ..functions.lookup import literal, name

OTHER = "__other__"
MISSING = "Missing"


@dataclass
class CatBins:
    """Driver-side fitted categorical encoder; small and picklable."""

    x: str
    y: str
    woes: Dict[str, float]  # category -> woe (includes OTHER and MISSING)
    ivs: Dict[str, float]
    counts: Dict[str, int]
    bads: Dict[str, int]
    smoothing: float
    summary_df: pd.DataFrame = field(repr=False, default=None)

    @property
    def total_iv(self) -> float:
        return float(sum(self.ivs.values()))

    def to_dict(self) -> Dict[str, Any]:
        def _f(v):
            return None if v is None or (
                isinstance(v, float) and math.isnan(v)
            ) else float(v)

        return {
            "x": self.x,
            "y": self.y,
            "smoothing": self.smoothing,
            "categories": [
                {
                    "category": c,
                    "count": int(self.counts[c]),
                    "bads": int(self.bads[c]),
                    "woe": _f(self.woes[c]),
                    "iv": _f(self.ivs[c]),
                }
                for c in self.woes
            ],
        }

    @classmethod
    def from_dict(cls, d: Dict[str, Any]) -> "CatBins":
        # mirror to_dict's _f: a NaN woe/iv serializes as None and must
        # round-trip (float(None) would crash on a legitimate artifact)
        def _f(v):
            return float("nan") if v is None else float(v)

        woes = {r["category"]: _f(r["woe"]) for r in d["categories"]}
        ivs = {r["category"]: _f(r["iv"]) for r in d["categories"]}
        counts = {r["category"]: int(r["count"]) for r in d["categories"]}
        bads = {r["category"]: int(r["bads"]) for r in d["categories"]}
        out = cls(
            x=d["x"], y=d["y"], woes=woes, ivs=ivs, counts=counts,
            bads=bads, smoothing=float(d["smoothing"]),
        )
        out.summary_df = out._summary()
        return out

    def save_json(self, path: str) -> None:
        artifacts.save_json(self.to_dict(), path)

    @classmethod
    def load_json(cls, path: str) -> "CatBins":
        return cls.from_dict(artifacts.load_json(path))

    def _summary(self) -> pd.DataFrame:
        cats = list(self.woes)
        return pd.DataFrame(
            {
                "bucket": cats,
                "count": [self.counts[c] for c in cats],
                "bads": [self.bads[c] for c in cats],
                "woe": [self.woes[c] for c in cats],
                "iv": [self.ivs[c] for c in cats],
            }
        )

    def summary_(self) -> pd.DataFrame:
        return self.summary_df.copy()

    def transform(
        self,
        df: DataFrame,
        input_col: Optional[str] = None,
        output_col: Optional[str] = None,
    ) -> DataFrame:
        """WoE lookup by a broadcast hash join on a (category, WoE)
        table: no shuffle, no Python, one hash probe per row at any
        category count. The input is read as a string, as the fit reads it.

        Null → the ``Missing`` WoE; a category never seen at fit time →
        the ``__other__`` WoE (documented fallback semantics).
        """
        input_col = input_col or self.x
        output_col = output_col or f"{input_col}_woe"
        woe = {c: literal(w, "double") for c, w in self.woes.items()}
        other = woe.get(OTHER, "CAST(NULL AS double)")
        missing = woe.get(MISSING, "CAST(NULL AS double)")
        # the coalesce serves an unseen category, and one whose WoE is NaN
        # (NULL), the __other__ WoE
        table = df.sparkSession.createDataFrame(
            [(c, None if math.isnan(w) else float(w)) for c, w in self.woes.items()],
            "__cat_key string, __cat_woe double",
        )
        x = name(input_col)
        hit = F.expr(f"CAST({x} AS STRING)") == F.col("__cat_key")
        sql = (
            f"CASE WHEN {x} IS NULL THEN {missing} "
            f"ELSE coalesce(__cat_woe, {other}) END"
        )
        return (
            df.join(F.broadcast(table), hit, "left")
            .withColumn(output_col, F.expr(sql))
            .drop("__cat_key", "__cat_woe")
        )


def fit_categorical_woe(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    max_categories: int = 10_000,
    min_samples: int = 1,
    smoothing: float = 0.5,
) -> CatBins:
    """Fit a categorical WoE encoder in ONE scan of the input.

    ``max_categories`` bounds driver state at any input cardinality;
    ``min_samples`` additionally pools categories rarer than this count
    into ``__other__`` even inside the top-N. Ranking tie-break is
    deterministic: (count desc, category asc).
    """
    from ..core.stats import woe_iv

    if max_categories < 1:
        raise ValueError("max_categories must be >= 1")

    per_cat = (
        df.select(
            F.col(x_col).cast("string").alias("__x"),
            F.col(y_col).cast("long").alias("__y"),
        )
        .filter(F.col("__y").isNotNull())  # numeric path drops null-y rows
        .groupBy("__x")
        .agg(F.count(F.lit(1)).alias("count"), F.sum("__y").alias("bads"))
    )
    # totals reduce the PER-CATEGORY frame (tiny vs raw), not the input
    tot = per_cat.agg(
        F.sum("count").alias("tc"), F.sum("bads").alias("tb")
    ).first()
    total_count = int(tot["tc"] or 0)
    total_bads = int(tot["tb"] or 0)
    if total_count == 0:
        raise ValueError(f"fit_categorical_woe: no rows in {x_col}")

    top = (
        per_cat.filter(F.col("__x").isNotNull())
        .orderBy(F.col("count").desc(), F.col("__x").asc())
        .limit(int(max_categories))
        .collect()
    )
    null_row = per_cat.filter(F.col("__x").isNull()).first()

    kept = [
        (r["__x"], int(r["count"]), int(r["bads"] or 0))
        for r in top
        if int(r["count"]) >= int(min_samples)
    ]
    reserved = {c for c, _, _ in kept} & {OTHER, MISSING}
    if reserved:
        # the artifact keys buckets by name: a literal category equal to a
        # reserved bucket would silently overwrite the pooled/missing WoE
        raise ValueError(
            f"fit_categorical_woe: column {x_col!r} contains reserved "
            f"category value(s) {sorted(reserved)}; rename them upstream"
        )
    kept_count = sum(c for _, c, _ in kept)
    kept_bads = sum(b for _, _, b in kept)
    miss_count = int(null_row["count"]) if null_row else 0
    miss_bads = int(null_row["bads"] or 0) if null_row else 0
    other_count = total_count - kept_count - miss_count
    other_bads = total_bads - kept_bads - miss_bads

    cats: List[str] = [c for c, _, _ in kept]
    counts = [c for _, c, _ in kept]
    bads = [b for _, _, b in kept]
    cats.append(OTHER)
    counts.append(other_count)
    bads.append(other_bads)
    if miss_count:
        cats.append(MISSING)
        counts.append(miss_count)
        bads.append(miss_bads)

    goods = np.asarray(counts, dtype=float) - np.asarray(bads, dtype=float)
    comp = woe_iv(
        goods, np.asarray(bads, dtype=float),
        smoothing=smoothing, return_components=True,
    )
    out = CatBins(
        x=x_col,
        y=y_col,
        woes={c: float(w) for c, w in zip(cats, comp["woe"])},
        ivs={c: float(v) for c, v in zip(cats, comp["iv"])},
        counts=dict(zip(cats, (int(c) for c in counts))),
        bads=dict(zip(cats, (int(b) for b in bads))),
        smoothing=float(smoothing),
    )
    out.summary_df = out._summary()
    return out
