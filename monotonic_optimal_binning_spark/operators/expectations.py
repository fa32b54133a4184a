"""Declarative data-quality expectations verified in ONE scan.

A 100 TB feature pipeline ingests tables it does not control; the step
before profiling/screening is asserting the contract: key columns
non-null, ids unique, codes inside the accepted set, numerics inside
physical bounds, row counts in the expected band. Checking those one
query at a time is one job per constraint; :func:`run_checks` compiles
EVERY row-level expectation into a single global aggregate — conditional
counts and algebraic moments, all map-side combinable, shuffle traffic =
one partial-agg row per partition — then evaluates pass/fail on the
driver over the one collected row. Uniqueness rides the same aggregate
(``approx_count_distinct`` HyperLogLog by default, or an exact
``count(distinct struct(...))`` when the tolerance is zero); referential
integrity (:func:`referential_check`) is the one constraint that
genuinely needs a second relation, costed as a broadcast-able anti-join.

The reference validates its inputs imperatively per-fit
(/root/reference/src/MOBPY/binning/mob.py:120-168: column existence,
numeric dtype, binary-target checks before every fit); this generalizes
that contract into a declarative, one-scan, persistable gate usable on
any table — the deequ/great-expectations shape re-expressed as a single
Catalyst aggregate.

Metric semantics (each expectation emits ``observed`` in [0, 1] or the
raw statistic):

- ``not_null``      observed = non-null rows / all rows
- ``in_set`` / ``between`` / ``regex``
                    observed = matching NON-NULL rows / non-null rows
                    (null handling is ``not_null``'s job; NaN fails
                    ``between`` numerically)
- ``unique``        observed = distinct key tuples / all rows (struct
                    packing counts null-bearing tuples too)
- ``row_count``     observed = row count
- ``stat``          observed = mean/min/max/sum/stddev of the column

Empty input makes every ratio vacuously 1.0 (contract on zero rows is
not violated) and ``row_count`` 0.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from .. import artifacts

_RATIO_KINDS = ("not_null", "in_set", "between", "regex", "unique")
_STATS = {
    "mean": F.mean,
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "stddev": F.stddev_pop,
}

RESULT_SCHEMA = (
    "name string, kind string, column string, observed double, "
    "bound_lo double, bound_hi double, passed boolean"
)


@dataclass
class Expectation:
    """One declarative constraint; build via the ``expect_*`` helpers.

    JSON-serializable (``to_dict``/``from_dict``) so a check suite is a
    persistable artifact the ``expect`` job can re-run per ingest."""

    kind: str
    name: str
    column: Optional[str] = None
    columns: Optional[List[str]] = None
    min_ratio: float = 1.0
    lo: Optional[float] = None
    hi: Optional[float] = None
    values: Optional[List] = None
    pattern: Optional[str] = None
    stat: Optional[str] = None
    exact: bool = True

    def to_dict(self) -> dict:
        return {k: v for k, v in asdict(self).items() if v is not None}

    @staticmethod
    def from_dict(d: dict) -> "Expectation":
        return Expectation(**d)


def expect_not_null(column: str, min_ratio: float = 1.0, name: str = None):
    return Expectation("not_null", name or f"not_null({column})",
                       column=column, min_ratio=float(min_ratio))


def expect_in_set(column: str, values: Sequence, min_ratio: float = 1.0,
                  name: str = None):
    return Expectation("in_set", name or f"in_set({column})",
                       column=column, values=list(values),
                       min_ratio=float(min_ratio))


def expect_between(column: str, lo: float = None, hi: float = None,
                   min_ratio: float = 1.0, name: str = None):
    """Share of non-null values in ``[lo, hi]``; ``None`` leaves that side
    open (as in :func:`expect_row_count` / :func:`expect_stat`)."""
    return Expectation("between", name or f"between({column})",
                       column=column,
                       lo=None if lo is None else float(lo),
                       hi=None if hi is None else float(hi),
                       min_ratio=float(min_ratio))


def expect_regex(column: str, pattern: str, min_ratio: float = 1.0,
                 name: str = None):
    return Expectation("regex", name or f"regex({column})",
                       column=column, pattern=pattern,
                       min_ratio=float(min_ratio))


def expect_unique(columns, min_ratio: float = 1.0, exact: bool = True,
                  name: str = None):
    cols = [columns] if isinstance(columns, str) else list(columns)
    return Expectation("unique", name or f"unique({','.join(cols)})",
                       columns=cols, min_ratio=float(min_ratio),
                       exact=exact)


def expect_row_count(lo: float = None, hi: float = None, name: str = None):
    return Expectation("row_count", name or "row_count",
                       lo=None if lo is None else float(lo),
                       hi=None if hi is None else float(hi))


def expect_stat(column: str, stat: str, lo: float = None, hi: float = None,
                name: str = None):
    if stat not in _STATS:
        raise ValueError(f"unknown stat '{stat}'; choose from {sorted(_STATS)}")
    return Expectation("stat", name or f"{stat}({column})", column=column,
                       stat=stat,
                       lo=None if lo is None else float(lo),
                       hi=None if hi is None else float(hi))


def _validate(df: DataFrame, exps: Sequence[Expectation]) -> None:
    cols = set(df.columns)
    seen = set()
    for e in exps:
        if e.name in seen:
            raise ValueError(f"duplicate expectation name '{e.name}'")
        seen.add(e.name)
        need = ([e.column] if e.column else []) + (e.columns or [])
        for c in need:
            if c not in cols:
                raise ValueError(
                    f"expectation '{e.name}' references missing column "
                    f"'{c}'"
                )


def run_checks(
    df: DataFrame,
    expectations: Sequence[Expectation],
    *,
    rsd: float = 0.02,
) -> DataFrame:
    """Evaluate every expectation against ``df`` in ONE aggregate scan.

    Returns a k-row DataFrame (one per expectation, input order):
    ``name, kind, column, observed, bound_lo, bound_hi, passed``.
    Ratio kinds pass when ``observed >= min_ratio``; ``row_count`` and
    ``stat`` pass when ``lo <= observed <= hi`` (absent bound =
    unbounded). ``unique`` with ``exact=False`` estimates via
    HyperLogLog (``rsd``) inside the same scan — pair it with a
    ``min_ratio`` slack of at least ``rsd``; ``exact=True`` (default)
    runs one column-pruned ``distinct().count()`` job per expectation,
    concurrently with the aggregate scan.

    Each of those exact-unique jobs re-scans ``df`` (re-running its
    whole lineage), so pass a deterministic or persisted input: a frame
    built on ``rand()``, a non-deterministic sample or a source that
    changes between reads can give the uniqueness counts and the row
    count of different data.
    """
    exps = list(expectations)
    if not exps:
        raise ValueError("no expectations given")
    _validate(df, exps)

    aggs = [F.count(F.lit(1)).alias("__n")]
    exact_unique: List[int] = []
    for i, e in enumerate(exps):
        c = F.col(e.column) if e.column else None
        if e.kind == "not_null":
            aggs.append(F.count(c).alias(f"__m{i}"))
        elif e.kind == "in_set":
            aggs.append(F.count(F.when(c.isin(e.values), 1)).alias(f"__m{i}"))
            aggs.append(F.count(c).alias(f"__d{i}"))
        elif e.kind == "between":
            inside = c.isNotNull()  # the share is of non-null values
            if e.lo is not None:
                inside = inside & (c >= F.lit(e.lo))
            if e.hi is not None:
                inside = inside & (c <= F.lit(e.hi))
            aggs.append(F.count(F.when(inside, 1)).alias(f"__m{i}"))
            aggs.append(F.count(c).alias(f"__d{i}"))
        elif e.kind == "regex":
            aggs.append(F.count(F.when(c.rlike(e.pattern), 1)).alias(f"__m{i}"))
            aggs.append(F.count(c).alias(f"__d{i}"))
        elif e.kind == "unique":
            key = F.struct(*[F.col(k) for k in e.columns])
            if e.exact:
                # handled as a separate concurrent job below: folding an
                # exact count-distinct into this aggregate makes Catalyst
                # rewrite the WHOLE scan through a 2x Expand (every row
                # duplicated, all agg inputs widened with nulls) and the
                # near-unique keys defeat partial aggregation — measured
                # 4x the cost of a column-pruned distinct().count() on
                # the same data (sf1 lineitem: 3.96 s vs 0.92 s)
                exact_unique.append(i)
            else:
                aggs.append(
                    F.approx_count_distinct(key, rsd).alias(f"__m{i}")
                )
        elif e.kind == "stat":
            aggs.append(_STATS[e.stat](c.cast("double")).alias(f"__m{i}"))
        elif e.kind == "row_count":
            pass  # __n is already aggregated
        else:
            raise ValueError(f"unknown expectation kind '{e.kind}'")

    # exact-unique counts run as their own column-pruned
    # distinct().count() jobs, CONCURRENTLY with the row-level aggregate
    # (guide §2.6: independent jobs back-fill each other's stragglers;
    # the Spark scheduler interleaves them inside one application).
    # distinct-then-count equals count(distinct struct(...)) exactly:
    # the struct is never null, so both count every distinct key tuple,
    # nulls included.
    unique_counts = {}
    if exact_unique:
        from concurrent.futures import ThreadPoolExecutor

        def _distinct_count(cols: List[str]) -> int:
            return df.select(*[F.col(c) for c in cols]).distinct().count()

        with ThreadPoolExecutor(
            max_workers=len(exact_unique) + 1
        ) as pool:
            futures = {
                i: pool.submit(_distinct_count, exps[i].columns)
                for i in exact_unique
            }
            row = df.agg(*aggs).collect()[0]
            for i, fut in futures.items():
                unique_counts[i] = fut.result()
    else:
        row = df.agg(*aggs).collect()[0]
    n = row["__n"]
    records = []
    for i, e in enumerate(exps):
        lo = hi = None
        if e.kind == "row_count":
            observed = float(n)
            lo, hi = e.lo, e.hi
        elif e.kind == "stat":
            v = row[f"__m{i}"]
            observed = None if v is None else float(v)
            lo, hi = e.lo, e.hi
        elif e.kind == "not_null":
            observed = 1.0 if n == 0 else float(row[f"__m{i}"]) / n
            lo = e.min_ratio
        elif e.kind == "unique":
            m = unique_counts[i] if i in unique_counts else row[f"__m{i}"]
            observed = 1.0 if n == 0 else float(m) / n
            lo = e.min_ratio
        else:  # in_set / between / regex: ratio over non-null rows
            d = row[f"__d{i}"]
            observed = 1.0 if d == 0 else float(row[f"__m{i}"]) / d
            lo = e.min_ratio
        if observed is None:
            # a BOUNDED stat over zero rows cannot attest — but an
            # unbounded one (no lo, no hi) cannot be violated either
            passed = lo is None and hi is None
        else:
            passed = (lo is None or observed >= lo) and (
                hi is None or observed <= hi
            )
        records.append(
            (
                e.name, e.kind, e.column or ",".join(e.columns or []),
                observed,
                None if lo is None else float(lo),
                None if hi is None else float(hi),
                bool(passed),
            )
        )
    return df.sparkSession.createDataFrame(records, RESULT_SCHEMA)


def referential_check(
    df: DataFrame,
    column: str,
    ref: DataFrame,
    ref_column: str,
    *,
    max_violations: int = 0,
    name: str = None,
) -> DataFrame:
    """Referential containment: every non-null ``df.column`` value must
    exist in ``ref.ref_column`` (dimension membership — the one check
    that needs a second relation). Costed as a LEFT ANTI equi-join that
    Catalyst/AQE broadcasts when the DISTINCT reference key set is small
    (the usual dim-table case); ``observed`` = violating row count.
    Same result schema as :func:`run_checks`, so suites union cleanly.
    """
    viol = (
        df.select(F.col(column))
        .filter(F.col(column).isNotNull())
        .join(
            ref.select(F.col(ref_column).alias(column)).distinct(),
            on=column,
            how="left_anti",
        )
        .count()
    )
    rec = [
        (
            name or f"subset({column})", "subset", column, float(viol),
            None, float(max_violations), viol <= max_violations,
        )
    ]
    return df.sparkSession.createDataFrame(rec, RESULT_SCHEMA)


def save_suite(expectations: Sequence[Expectation], path: str) -> None:
    artifacts.save_json([e.to_dict() for e in expectations], path)


def load_suite(path: str) -> List[Expectation]:
    return [Expectation.from_dict(d) for d in artifacts.load_json(path)]
