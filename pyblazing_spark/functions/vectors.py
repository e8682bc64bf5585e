"""Vector math over ``array<float>`` embedding columns.

Two tiers:

- **Expression tier** (dot/norm/cosine/...): ``F.zip_with`` +
  ``F.aggregate``. No Arrow round-trip, but higher-order functions
  evaluate INTERPRETED (outside whole-stage codegen) — fine for a few
  thousand rows, ~100x slower than numpy per element. Use for ad-hoc
  expressions and tiny inputs.
- **Batch tier** (:func:`cosine_udf`): Arrow-batched pandas UDF doing
  one numpy einsum per batch. Measured ~10x faster than the expression
  tier on 64-dim pair scoring at 125k pairs; this is the hot-path tier —
  every shipped similarity/dedup operator uses it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


#: The repo-standard cross-engine rounding nudge for float scores that
#: feed an argmin/argmax or a rounded-hash compare.  Rationale
#: (documented at length in operators/similarity.py
#: ``centroid_assign_with_dist``): numpy rounds half-to-even, DuckDB
#: half-away-from-zero, Spark HALF_UP — and some IEEE doubles DO sit
#: exactly on a decimal half boundary, where the rules genuinely
#: disagree.  Adding 1e-9 BEFORE rounding on BOTH engines pushes values
#: off exact boundaries; residual risk is only the ~1e-13 cross-engine
#: arithmetic drift any rounded float compare carries.  Every
#: float-distance/score oracle must use one of the three forms below on
#: the Spark side and the matching ``+ 1e-9`` in its DuckDB SQL
#: (lint-enforced by tests/test_queries.py::test_vector_oracles_carry_tie_nudge).
TIE_NUDGE = 1e-9


def nudge_round_sql(expr: str, dp: int) -> str:
    """SQL text form: ``round(expr + 1e-9, dp)`` — paste into oracles."""
    return f"round({expr} + 1e-9, {dp})"


def nudge_round(col: Column, dp: int) -> Column:
    """Column form for DataFrame pipelines."""
    return F.round(col + F.lit(TIE_NUDGE), dp)


def nudge_round_np(arr, dp: int):
    """numpy form for Arrow-batched kernels."""
    return np.round(arr + TIE_NUDGE, dp)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float-array columns (double result)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """L2 norm."""
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL if either vector has zero norm."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_udf(a: Column, b: Column) -> Column:
    """Vectorized cosine similarity: numpy einsum over Arrow batches.

    The batch arrives as two Series of arrays; one ``np.stack`` + matrix
    row-dot computes the whole batch. NULL-free inputs assumed (embedding
    columns are dense by construction)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(xs: pd.Series, ys: pd.Series) -> pd.Series:
        n = len(xs)
        if n == 0:
            return pd.Series([], dtype="float64")
        out = np.full(n, np.nan)
        xv, yv = xs.to_numpy(), ys.to_numpy()
        # NULL rows or ragged lengths get NaN (matching the expression
        # tier's NULL) instead of crashing np.stack.
        lens = [
            (len(x) if x is not None else -1, len(y) if y is not None else -2)
            for x, y in zip(xv, yv)
        ]
        valid = np.array([lx == ly and lx > 0 for lx, ly in lens])
        if valid.any():
            try:
                X = np.stack(xv[valid])
                Y = np.stack(yv[valid])
            except ValueError:  # mixed lengths across valid rows
                for i in np.flatnonzero(valid):
                    x, y = np.asarray(xv[i], float), np.asarray(yv[i], float)
                    if x.shape == y.shape:
                        d = np.linalg.norm(x) * np.linalg.norm(y)
                        out[i] = float(x @ y) / d if d else np.nan
                return pd.Series(out)
            num = np.einsum("ij,ij->i", X, Y)
            den = np.linalg.norm(X, axis=1) * np.linalg.norm(Y, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                out[valid] = num / den
        return pd.Series(out)

    return _cos(a, b)


def scale(a: Column, s: Column) -> Column:
    """Multiply every element by a scalar column."""
    return F.transform(a, lambda x: x * s)


def unit(a: Column) -> Column:
    """Normalize to unit length (element type becomes double)."""
    n = norm(a)
    return F.transform(a, lambda x: x / n)
