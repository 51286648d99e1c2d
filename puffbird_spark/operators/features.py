"""Feature engineering for model-training pipelines: the hashing trick
and weight-of-evidence encoding.

Scale design: both operators are dimension-bounded — the hashing trick
maps an unbounded vocabulary into a FIXED bucket space with no
vocabulary build (no global distinct pass, no driver-side dictionary),
which is the whole point at 100 TB: Vowpal-Wabbit/Weinberger 2009
hashing needs zero coordination across executors. WOE aggregates to
category grain (output-sized) and joins back broadcast-style.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import RELEASE_DP
from ..functions.hashing import md5_bucket, md5_sign

__all__ = ["hashed_features", "woe_encoding"]


def hashed_features(
    df: DataFrame,
    id_col: str,
    tokens_col: str | Column,
    n_buckets: int = 64,
) -> DataFrame:
    """Hashing-trick featurizer (Weinberger 2009): each token maps to
    ``bucket = md5(token) % n_buckets`` with a +/-1 sign from a disjoint
    digest span (the signed variant keeps collision noise zero-mean).
    Output is sparse: one row per (id, bucket) with the signed sum
    ``weight`` and the bucket's raw token count ``n_tokens``.

    Determinism: md5 of the token itself — no RNG, no vocabulary, no
    fit step; any engine (and the SQL oracle) reproduces the exact
    vector. One explode + one groupBy on (id, bucket); only tokens'
    16-byte digests shuffle."""
    toks = (
        F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    )
    t = df.select(
        F.col(id_col), F.explode(toks).alias("__tok")
    ).select(
        id_col,
        md5_bucket("__tok", n_buckets, start=1).alias("bucket"),
        md5_sign("__tok", start=9).alias("__sign"),
    )
    return t.groupBy(id_col, "bucket").agg(
        F.sum("__sign").cast("long").alias("weight"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )


def woe_encoding(
    df: DataFrame,
    cat_col: str,
    label_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Weight-of-evidence category encoding: ``ln(((pos_c + a) /
    (POS + 2a)) / ((neg_c + a) / (NEG + 2a)))`` per category, with
    symmetric additive smoothing ``a`` so single-class categories stay
    finite. Returns category-grain rows (category, n, n_pos, woe) —
    output-sized, broadcast-joinable back onto the training frame.
    One shuffle (the category groupBy); the global totals are a 1-row
    aggregate broadcast into the expression."""
    lab = F.col(label_col).cast("double")
    per = df.groupBy(cat_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(lab).cast("long").alias("n_pos"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("__N"),
        F.sum("n_pos").cast("long").alias("__P"),
    )
    a = float(alpha)
    j = per.crossJoin(F.broadcast(tot))
    woe = F.log(
        ((F.col("n_pos") + F.lit(a)) / (F.col("__P") + F.lit(2 * a)))
        / (
            (F.col("n") - F.col("n_pos") + F.lit(a))
            / (F.col("__N") - F.col("__P") + F.lit(2 * a))
        )
    )
    return j.select(
        cat_col, "n", "n_pos", F.round(woe, RELEASE_DP).alias("woe")
    )
