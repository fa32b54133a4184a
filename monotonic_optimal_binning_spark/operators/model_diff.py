"""Model-shift analysis between two fitted binnings (the refit-promotion
gate).

``fit-incremental`` produces a new ``model.json`` every fold; before
promoting it over the serving model the operational questions are
(a) how far did the WoE step function move, and (b) what fraction of
production rows would actually score differently. Both are answered
here without re-fitting anything:

- :func:`woe_shift_table` is pure driver-side interval algebra over the
  two models' cut points — the real line is refined into the union
  partition, and each refined interval carries both models' WoE and the
  exact delta. No data, no scan, no distributional assumption.
- :func:`transform_churn` is ONE distributed pass over a scoring slice:
  both models' assignments run as the same compiled lookup the
  serving transform uses, and a single algebraic aggregate reduces to
  row counts and WoE-delta moments. Nothing wider than one reduced row
  leaves the executors.

The reference has no model-versioning surface (each run refits from raw
rows, /root/reference/src/MOBPY/binning/mob.py:229-260); this is
engine-new operational tooling around the serialized-artifact loop.
"""

from __future__ import annotations

import math
from typing import Dict, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.lookup import tabulate
from .binning import FittedBins

__all__ = ["woe_shift_table", "transform_churn", "bin_stability", "summarize_bin_stability"]


def _check_comparable(old: FittedBins, new: FittedBins) -> None:
    if old.x != new.x:
        raise ValueError(
            f"models bin different features: {old.x!r} vs {new.x!r}"
        )
    if not (old.is_binary and new.is_binary):
        raise ValueError(
            "woe comparison needs two binary-target models (non-binary "
            "fits have no WoE)"
        )


def woe_shift_table(old: FittedBins, new: FittedBins) -> pd.DataFrame:
    """Exact WoE delta over the refined interval partition.

    Returns one row per interval of the union partition of both models'
    cut points: ``left``, ``right``, ``old_label``, ``new_label``,
    ``old_woe``, ``new_woe``, ``woe_delta`` (new − old), plus
    ``label_changed`` (label IDENTITY: a moved boundary renames both
    adjacent bins even where the ordinal assignment is unchanged). ``.attrs["max_abs_woe_delta"]`` carries the L∞
    distance between the two step functions — the single number a
    promotion gate thresholds on.
    """
    _check_comparable(old, new)
    # interior boundaries of both models; the refined partition's edges
    edges = sorted(
        {float(v) for v in (*old.lefts, *new.lefts)} - {float("-inf")}
    )
    lefts = np.array([float("-inf"), *edges])
    rights = np.array([*edges, float("inf")])

    def _lookup(model: FittedBins):
        idx = tabulate(model._bin_index, edges)  # each refined interval's bin
        return [model.labels[i] for i in idx], np.asarray(model.woes, float)[idx]

    old_labels, old_woes = _lookup(old)
    new_labels, new_woes = _lookup(new)
    out = pd.DataFrame(
        {
            "left": lefts,
            "right": rights,
            "old_label": old_labels,
            "new_label": new_labels,
            "old_woe": old_woes,
            "new_woe": new_woes,
            "woe_delta": new_woes - old_woes,
        }
    )
    out["label_changed"] = out["old_label"] != out["new_label"]
    out.attrs["max_abs_woe_delta"] = float(np.abs(out["woe_delta"]).max())
    return out


def transform_churn(
    df: DataFrame,
    old: FittedBins,
    new: FittedBins,
    input_col: Optional[str] = None,
    *,
    woe_eps: float = 1e-12,
) -> Dict[str, float]:
    """ONE scan of a scoring slice → promotion-impact metrics.

    Returns ``n`` (non-null feature rows), ``n_label_changed`` (rows
    whose assigned interval LABEL differs — label identity, not ordinal
    position: moving one boundary renames both adjacent bins, and every
    row in them scores against a redefined bin), ``n_woe_changed``
    (|Δwoe| > ``woe_eps`` — the score-impact churn a promotion gate
    should threshold on), ``label_churn`` / ``woe_churn`` (fractions),
    ``max_abs_woe_delta`` and ``mean_abs_woe_delta`` — all from a single
    algebraic aggregate over the serving transform's compiled label
    and WoE lookups (zero shuffles wider than the final reduced row).
    """
    _check_comparable(old, new)
    input_col = input_col or old.x
    scored = df
    for tag, model in (("old", old), ("new", new)):
        for assign, out in (("interval", "bin"), ("woe", "woe")):
            scored = model.transform(
                scored, assign=assign, input_col=input_col,
                output_col=f"__{tag}_{out}",
            )
    delta = F.abs(F.col("__new_woe") - F.col("__old_woe"))
    valid = F.col("__old_woe").isNotNull() & F.col("__new_woe").isNotNull()
    row = scored.agg(
        F.sum(F.when(valid, 1).otherwise(0)).alias("n"),
        F.sum(
            F.when(valid & (F.col("__old_bin") != F.col("__new_bin")), 1)
            .otherwise(0)
        ).alias("n_label_changed"),
        F.sum(F.when(valid & (delta > woe_eps), 1).otherwise(0)).alias(
            "n_woe_changed"
        ),
        F.max(F.when(valid, delta)).alias("max_abs_woe_delta"),
        F.avg(F.when(valid, delta)).alias("mean_abs_woe_delta"),
    ).collect()[0]
    n = int(row["n"] or 0)
    return {
        "n": n,
        "n_label_changed": int(row["n_label_changed"] or 0),
        "n_woe_changed": int(row["n_woe_changed"] or 0),
        "label_churn": (int(row["n_label_changed"] or 0) / n) if n else 0.0,
        "woe_churn": (int(row["n_woe_changed"] or 0) / n) if n else 0.0,
        "max_abs_woe_delta": float(row["max_abs_woe_delta"] or 0.0),
        "mean_abs_woe_delta": float(row["mean_abs_woe_delta"] or 0.0),
    }


def bin_stability(
    df: DataFrame,
    x: str,
    y: str,
    id_col: str,
    *,
    n_folds: int = 5,
    salt: str = "binstab",
    prebins="auto",
    **binner_kwargs,
):
    """K-fold refit stability of the binning itself — the robustness
    question BEFORE promoting a model: do the cut points and WoEs this
    fit produces survive resampling, or is the model an artifact of one
    data slice?

    Plan shape: fold assignment is the deterministic md5-threshold
    bucketing the sampling/OOF-encoding operators share
    (partition/rerun-invariant, reproducible in plain SQL), and ALL
    ``n_folds`` fits run as ONE grouped sufficient-statistics scan + k
    driver PAVA/merge solves (:func:`fit_binners_per_group`) — the cost
    is one aggregate pass regardless of ``n_folds``, not k refits.

    Returns ``(long_df, models)``: one row per (fold, bin) —
    ``fold, bin, left, right, woe, n_bins`` (bins ordered by left edge;
    ``woe`` NULL for non-binary fits) — plus the per-fold ``FittedBins``
    dict for downstream use. Aggregate the long table for dispersion
    (see :func:`summarize_bin_stability`).

    Note on prebinning: like the grouped fitter, ``prebins='auto'``
    resolves quantile split points GLOBALLY (one approxQuantile pass
    shared by every fold) — per-fold fits equal fully independent fits
    only under ``prebins='exact'``.
    """
    from .binning import fit_binners_per_group
    from .encoding import fold_assignment

    base = df.withColumn("__fold", fold_assignment(F.col(id_col), n_folds, salt))
    gb = fit_binners_per_group(
        base, "__fold", x, y, prebins=prebins, **binner_kwargs
    )
    records = []
    for fold, m in sorted(gb.models.items()):
        k = len(m.lefts)
        for i in range(k):
            w = None
            if m.woes is not None:
                wv = float(m.woes[i])
                w = None if math.isnan(wv) else wv
            records.append(
                (int(fold), i, float(m.lefts[i]), float(m.rights[i]), w, k)
            )
    long_df = df.sparkSession.createDataFrame(
        records,
        "fold int, bin int, left double, right double, woe double, "
        "n_bins int",
    )
    return long_df, gb.models


def summarize_bin_stability(long_pdf: pd.DataFrame) -> pd.DataFrame:
    """Dispersion metrics over :func:`bin_stability`'s long table
    (driver-side — the table is n_folds × n_bins rows): per bin index,
    how many folds produced it and how far its left edge and WoE moved.
    A stable model has every fold agreeing on ``n_bins``, zero-width
    edge ranges, and small WoE ranges."""
    g = long_pdf.groupby("bin")

    def _rng(lo, hi):
        # inf - inf is NaN; an edge every fold agrees on (incl. the
        # first bin's -inf) has range 0 by definition
        return np.where(hi.to_numpy() == lo.to_numpy(), 0.0, hi - lo)

    lmin, lmax = g["left"].min(), g["left"].max()
    wmin, wmax = g["woe"].min(), g["woe"].max()
    out = pd.DataFrame(
        {
            "folds_present": g["fold"].nunique(),
            "left_min": lmin,
            "left_max": lmax,
            "left_range": _rng(lmin, lmax),
            "woe_min": wmin,
            "woe_max": wmax,
            "woe_range": _rng(wmin, wmax),
        }
    ).reset_index()
    return out
