"""Hashed linear text classifier scoring — the fastText-shaped quality
model (Joulin et al., 2016: bag of hashed token features x a weight
vector -> sigmoid), the other standard quality filter next to LM
perplexity (``operators/lm.py``). Model-based quality filtering is how
the big public corpora (GPT-3/CCNet-style "looks like reference text"
classifiers) prune crawl data.

Spark-first shape:

1. **features** — the hashing trick, scan-local: each whitespace token
   maps to ``int(md5(seed:tok)[:8 hex]) mod dim``. No vocabulary, no
   fitting pass, no Python — one codegen expression per token.
2. **weights** — a ``(bucket, weight)`` DataFrame of ``dim`` rows that
   broadcast-joins the exploded tokens (dim is model-sized: 2^20 buckets
   is ~8 MB — always broadcastable). :func:`hashed_weights` provides a
   deterministic stand-in (uniform [-0.5, 0.5) md5 draws) so the whole
   pipeline is oracle-replayable; a real deployment passes its trained
   vector as the same two-column DataFrame (e.g. read from parquet).
3. **score** — one ``id``-keyed aggregation: 9-dp decimal-snapped weight
   sums (exact, order/partitioning independent), mean + bias, sigmoid.

At 100 TB: tokenize+hash fuse into the scan, the weight join is
broadcast (zero shuffle), and the only exchange is the per-doc
aggregation keyed on the document id — the same shuffle any per-doc
stat pays. No collect, no Python row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import RELEASE_DP

#: 2^32 — the draw denominator for 8 hex chars.
_HEX8 = 4294967296.0


def _hex8_int(col):
    """First 8 md5 hex chars as a bigint in [0, 2^32)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def hashed_weights(
    spark: SparkSession, dim: int, seed: str = "qw"
) -> DataFrame:
    """Deterministic stand-in weight vector: ``dim`` rows of
    ``(bucket, weight)`` with weight a 9-dp uniform draw in [-0.5, 0.5)
    from ``md5(seed + 'v:' + bucket)`` — any engine can replay it, which
    is what makes the classifier gate hash-checkable end to end."""
    draw = _hex8_int(
        F.concat(F.lit(seed), F.lit("v:"), F.col("id").cast("string"))
    )
    return spark.range(dim).select(
        F.col("id").alias("bucket"),
        F.round(draw / F.lit(_HEX8) - 0.5, 9)
        .cast("decimal(20,9)")
        .alias("weight"),
    )


def linear_quality_score(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    dim: int = 256,
    seed: str = "qw",
    bias: float = 0.0,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Score each document under a hashed linear model: returns
    ``(id_col, n_tokens, score, p_keep)`` where ``score`` is the 6-dp
    mean bucket weight + bias and ``p_keep = sigmoid(score)`` (6 dp).
    Filter ``p_keep >= threshold`` to keep "reference-like" text.

    ``weights`` is any ``(bucket, weight decimal(20,9))`` DataFrame —
    trained coefficients in production; the :func:`hashed_weights`
    stand-in (same ``dim``/``seed``) when omitted.
    """
    if dim < 1:
        # dim=0 silently scored nothing (probe b10)
        raise ValueError(f"dim must be >= 1, got {dim}")
    if weights is None:
        weights = hashed_weights(docs.sparkSession, dim, seed)
    toks = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
        )
        .select(
            id_col,
            (_hex8_int(F.concat(F.lit(seed), F.lit(":"), F.col("__tok")))
             % F.lit(dim)).alias("bucket"),
        )
    )
    score = F.round(
        F.sum("weight").cast("double") / F.count(F.lit(1)) + F.lit(bias), 6
    )
    return (
        toks.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            score.alias("score"),
        )
        .withColumn(
            "p_keep", F.round(1.0 / (1.0 + F.exp(-F.col("score"))), 6)
        )
    )


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    smoothing: float = 10.0,
) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing (the
    Micci-Barreca 2001 categorical encoder every gradient-boosting
    pipeline uses) — replace a high-cardinality category with the
    smoothed mean of the target over the category's OTHER rows::

        enc_i = (S_c − y_i + m·prior) / (n_c − 1 + m)

    Leaving the own row out is the leakage defense (a category of one
    would otherwise encode its own label verbatim); ``m`` shrinks rare
    categories toward the global prior. For a 0/1 target everything is
    integer until the final division (prior is one fixed double
    expression), so encodings replay exactly. One keyed aggregate
    broadcast back — the fact table never shuffles. Adds
    ``target_enc`` to the input columns; NULL targets are excluded
    (no label to encode). ``smoothing`` must be positive: at m=0 a
    singleton category's denominator is 0 (and LOO there is genuinely
    undefined — there are no other rows to encode from)."""
    if smoothing <= 0:
        raise ValueError(
            f"smoothing must be > 0 (singleton categories divide by "
            f"zero at m=0), got {smoothing}")
    y = F.col(target_col).cast("long")
    base = df.filter(y.isNotNull())
    stats = base.groupBy(cat_col).agg(
        F.sum(y).alias("__s"), F.count(F.lit(1)).alias("__n"))
    glob = base.agg(F.sum(y).alias("__gs"),
                    F.count(F.lit(1)).alias("__gn"))
    prior = F.col("__gs").cast("double") / F.col("__gn")
    enc = F.round(
        ((F.col("__s") - y).cast("double")
         + F.lit(smoothing) * prior)
        / ((F.col("__n") - 1).cast("double") + F.lit(smoothing)), RELEASE_DP)
    return (
        base.join(F.broadcast(stats), cat_col)
        .crossJoin(F.broadcast(glob))
        .withColumn("target_enc", enc)
        .drop("__s", "__n", "__gs", "__gn")
    )
