"""Step-function lookups (sorted interior ``edges`` plus one more value,
read as ``values[searchsorted(edges, x, side="right")]``) compiled to SQL
text that ``F.expr`` parses once: ``F.when`` costs several py4j round trips
per node (about 4 ms each on a 4-vCPU VM). Spark orders ``-0.0`` equal to
``0.0`` and NaN above ``+inf``, as numpy does. None and NaN values compile
to a typed NULL, as the pandas UDFs these lookups replaced returned them
(Arrow turns a returned NaN into NULL)."""

from __future__ import annotations

import datetime
import decimal
import math
from typing import Any, Iterable, Optional, Sequence, Tuple

import numpy as np


def name(col_name: str) -> str:
    """SQL reference to the column ``F.col(col_name)`` reads; a name with
    backticks is taken as already quoted."""
    if "`" in col_name:
        return col_name
    return ".".join(f"`{part}`" for part in col_name.split("."))


def literal(value: Any, dtype: Optional[str] = None) -> str:
    """SQL literal of ``value`` typed ``dtype`` ('double' or 'string'),
    or by its Python type (group keys); None and NaN are a NULL."""
    if isinstance(value, np.generic):
        value = value.item()
    if value is None or (isinstance(value, float) and math.isnan(value)):
        return f"CAST(NULL AS {dtype})" if dtype else "NULL"
    if dtype == "double" or isinstance(value, float):
        v = float(value)  # repr is the shortest string that parses back
        return f"CAST('{v}' AS DOUBLE)" if math.isinf(v) else f"{v!r}D"
    if isinstance(value, bool):
        return str(value).lower()
    if isinstance(value, int):
        return str(value) if abs(value) < 2**31 else f"{value}L"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, decimal.Decimal):
        return f"{value}BD"
    if isinstance(value, datetime.datetime):
        return f"TIMESTAMP '{value.isoformat(' ')}'"
    if isinstance(value, datetime.date):
        return f"DATE '{value.isoformat()}'"
    raise TypeError(f"no SQL literal for {value!r} ({type(value).__name__})")


def when(cases: Iterable[Tuple[str, str]], default: str) -> str:
    """``CASE WHEN c THEN v ... ELSE default END`` over SQL fragments."""
    arms = "".join(f" WHEN {c} THEN {v}" for c, v in cases)
    return f"CASE{arms} ELSE {default} END" if arms else default


def step_sql(
    x: str, edges: Sequence[float], values: Sequence, dtype: str = "double"
) -> str:
    """``values[searchsorted(edges, x, side='right')]`` for a DOUBLE SQL
    expression ``x`` (NaN reads the last value); edges between identical
    leaves are dropped. A balanced comparison tree of literals: ⌈log2 k⌉
    compares per row for k distinct leaves."""
    leaves, cuts = [literal(values[0], dtype)], []
    for e, v in zip(edges, values[1:]):
        if literal(v, dtype) != leaves[-1]:  # -0.0D != 0.0D; NULL == NULL
            cuts.append(literal(e, "double"))
            leaves.append(literal(v, dtype))

    def tree(lo: int, hi: int) -> str:
        if lo == hi:
            return leaves[lo]
        mid = (lo + hi + 1) // 2  # cuts[mid - 1] splits leaf mid-1 | mid
        return (
            f"CASE WHEN {x} < {cuts[mid - 1]} THEN {tree(lo, mid - 1)} "
            f"ELSE {tree(mid, hi)} END"
        )

    return tree(0, len(leaves) - 1)


def serve_sql(
    input_col: str, edges: Sequence[float], steps: Sequence, *,
    dtype: str = "double", missing: str = "NULL", special: Iterable = (),
) -> str:
    """Serving lookup of a numeric column: NULL/NaN inputs give the SQL
    ``missing``, an input equal to a ``special`` ``(float, SQL)`` pair's
    float gives its SQL, and the rest read the step function."""
    x = name(input_col)
    xd = f"CAST({x} AS DOUBLE)"
    cases = [(f"({x} IS NULL OR isnan({xd}))", missing)]
    cases += [(f"{xd} = {literal(v, 'double')}", s) for v, s in special]
    return when(cases, step_sql(xd, edges, steps, dtype))


def tabulate(fn, edges: Sequence[float]) -> list:
    """Values of a right-continuous step function ``fn`` (vectorized over
    floats, breakpoints among ``edges``) on each step: step 0 is read at
    ``-inf``, step i at ``edges[i-1]``."""
    return list(fn(np.concatenate([[-np.inf], np.asarray(edges, float)])))


def dispatch(key: str, branches: Iterable[Tuple[Any, str]], dtype: str = "double") -> str:
    """The branch SQL whose group key equals the SQL expression ``key``;
    NULL/NaN branch keys are skipped, an unmatched or NULL key gives NULL."""
    keyed = ((literal(k), expr) for k, expr in branches)
    arms = ((f"{key} = {k}", e) for k, e in keyed if k != "NULL")
    return when(arms, f"CAST(NULL AS {dtype})")
