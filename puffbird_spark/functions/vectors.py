"""Vector math over ``array<float|double>`` embedding columns, as native
higher-order-function expressions (BASELINE.json north star: similarity
search). JVM-side fold — no Python boundary; for very wide vectors a Pandas
UDF kernel can be swapped in, but at 64-1024 dims the HOF fold wins by
skipping Arrow transfer entirely.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import RELEASE_DP


def as_double(vec: str | Column) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold — matches single-threaded oracle evaluation order
    as closely as floating point allows; downstream consumers round."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Zero-norm inputs (empty docs, padding embeddings) release 0.0 —
    "no similarity" — NEVER NaN: Spark orders NaN ABOVE every number
    (non-IEEE), so an unguarded 0/0 makes a zero vector pass
    ``cosine >= t`` filters and WIN every desc-ranked top-k, silently
    diverging from an IEEE oracle. Same convention as the blocked
    profile kernel (operators/similarity.py).

    NULL inputs stay NULL (SQL semantics): a NULL embedding — or a
    zip_with length-mismatch producing a NULL fold — must NOT collapse
    to 0.0, which would silently rank NULL-embedding rows above
    negative cosines in desc top-k and diverge from the DuckDB oracle's
    NULL-in/NULL-out arithmetic."""
    den = norm(a) * norm(b)
    return (
        F.when(den.isNull(), F.lit(None).cast("double"))
        .when(den > F.lit(0.0), dot(a, b) / den)
        .otherwise(F.lit(0.0))
    )


def cosine_rounded(a: Column, b: Column) -> Column:
    """Cosine rounded for cross-engine comparison and deterministic
    ranking (ties then break on an id column)."""
    return F.round(cosine(a, b), RELEASE_DP)


def cosine_rounded_arrow():
    """Arrow-batched twin of :func:`cosine_rounded`: one numpy einsum per
    batch instead of an interpreted HOF fold per row.

    Measured ~40µs/pair for the HOF fold at dim=64 (interpreted, outside
    codegen) vs ~0.1µs/pair here — the pair-scoring stage of every ANN
    tail is the hot loop, so the Arrow transfer pays for itself thousands
    of times over. Rounding replays Spark's HALF_UP (numpy's round is
    half-even); requires equal-length vectors (ANN paths guarantee it).
    """
    import numpy as np
    import pandas as pd

    scale = float(10 ** RELEASE_DP)

    def kernel(a, b):
        if not len(a):
            return pd.Series([], dtype="float64")
        A = np.array(a.tolist(), dtype=np.float64)
        B = np.array(b.tolist(), dtype=np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
            np.einsum("ij,ij->i", B, B))
        # zero-norm guard — the HOF twin's 0.0 convention (see cosine())
        with np.errstate(divide="ignore", invalid="ignore"):
            x = np.where(den > 0, num / den, 0.0)
        rounded = np.where(
            x >= 0,
            np.floor(x * scale + 0.5) / scale,
            np.ceil(x * scale - 0.5) / scale,
        )
        return pd.Series(rounded)

    return F.pandas_udf(kernel, returnType="double")
