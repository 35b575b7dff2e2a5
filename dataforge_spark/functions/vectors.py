"""Vector math over ``array<float>`` embedding columns — pure Column
expressions (F.zip_with / F.aggregate), JVM-side, no UDFs. These are the
building blocks for similarity search and embedding near-dup detection."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def l2_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


# ---------------------------------------------------------------------------
# Arrow-batched scoring — the HOT-PATH variants. The pure-Column versions
# above are the readable reference implementation (and stay exact for
# oracles), but higher-order-function expressions are interpreted, NOT
# whole-stage-codegen'd: per-element lambda dispatch on every pair. For
# similarity scoring over millions of pairs the measured fix (same pattern
# as similarity/lsh.py's bucket matmul) is one numpy matmul per Arrow
# batch.
# ---------------------------------------------------------------------------


def to_matrix(vals: list, dim: int) -> tuple[np.ndarray, "np.ndarray | None"]:
    """Arrow batch of array-typed values → ``(n, dim)`` float64 matrix plus
    a bad-row mask (or None when the batch is clean). NULL, ragged-length
    (not ``dim`` wide), or non-numeric rows are zeroed and flagged instead
    of failing the task — shared by every batched vector scorer (cosine,
    LSH buckets, IVF assignment). The clean path is a single vectorized
    ``np.array``; the row-wise salvage only runs when that fails."""
    try:
        X = np.array(vals, dtype=np.float64)
        if X.ndim == 2 and X.shape[1] == dim:
            return X, None
        raise ValueError
    except (ValueError, TypeError):
        X = np.zeros((len(vals), dim), dtype=np.float64)
        bad = np.zeros(len(vals), dtype=bool)
        for i, x in enumerate(vals):
            if x is None or len(x) != dim:
                bad[i] = True
                continue
            try:
                X[i] = np.asarray(x, dtype=np.float64)
            except (ValueError, TypeError):
                bad[i] = True
        return X, bad


def batch_cosine_udf():
    """Pairwise cosine(a, b) as an Arrow-batched pandas UDF: one
    vectorized row-wise dot + norm per batch (float64). Zero-norm inputs
    score 0.0, matching ``cosine`` above; NULL or ragged-length vectors
    score NULL (the Column formulation's behavior) instead of failing
    the task."""

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        a, b = a.tolist(), b.tolist()
        # Each row pair is judged by its own lengths, never by the widest
        # row of the Arrow batch, so a row's score cannot depend on which
        # rows share its batch. Rows are scored in groups of equal width.
        la = np.array([-1 if x is None else len(x) for x in a], dtype=np.int64)
        lb = np.array([-1 if y is None else len(y) for y in b], dtype=np.int64)
        out = np.full(len(a), np.nan)  # NaN leaves the UDF as NULL
        for d in np.unique(la[(la >= 0) & (la == lb)]):
            idx = np.flatnonzero((la == d) & (lb == d))
            X, bad_x = to_matrix([a[i] for i in idx], int(d))
            Y, bad_y = to_matrix([b[i] for i in idx], int(d))
            num = np.einsum("nd,nd->n", X, Y)
            den = np.linalg.norm(X, axis=1) * np.linalg.norm(Y, axis=1)
            s = np.where(den > 0, num / np.where(den > 0, den, 1.0), 0.0)
            for bad in (bad_x, bad_y):
                if bad is not None:
                    s[bad] = np.nan
            out[idx] = s
        return pd.Series(out)

    return cos
