"""N-gram language-model perplexity scoring — the CCNet-style quality
filter (Wenzek et al., LREC 2020: train a LM on a trusted corpus, score
candidate documents, drop the high-perplexity tail). The reference has no
LM surface; this is EXT north-star coverage for training-data curation.

Shape, Spark-first:

1. **train** — token-bigram counts over the trusted corpus: one explode
   of consecutive-pair structs + a ``(prev, w)``-keyed aggregation
   (map-side partial combine; shuffles counts, never text). Context
   totals are a second, strictly smaller agg over the bigram table, and
   the vocabulary size is a one-row scalar that broadcasts.
2. **score** — each candidate document's bigrams LEFT-join the count
   tables on their natural keys (``(prev, w)`` then ``prev``) and fold
   into an add-alpha log-probability:

       p(w | prev) = (c(prev, w) + a) / (c(prev) + a * V)

   Unseen bigrams and unseen contexts degrade gracefully to the
   smoothing floor (that is the point of alpha). The per-document score
   is the average negative log-probability — monotone with perplexity
   (ppl = exp(score)) without exposing a cross-engine ``exp``.

Determinism: each bigram's log-prob is rounded to 9 dp and snapped to
``decimal(20,9)`` before the per-document sum, so the aggregate is exact
and partitioning/order independent (the ``embedding_centroids`` policy);
the final average is rounded to 6 dp.

At 100 TB: the bigram table is vocabulary-bounded, not corpus-bounded —
for real text it plateaus around |V|·k rows, and the scoring joins are
plain co-keyed shuffle joins that AQE handles. No collect anywhere; the
vocabulary scalar rides a broadcast cross-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import RELEASE_DP


def _bigrams(
    df: DataFrame, text_col: str, extra: list[str],
    drop_empty: bool = False,
) -> DataFrame:
    """Explode whitespace-token consecutive pairs: one struct<p,w> row
    per bigram, scan-local (no shuffle). ``drop_empty`` filters empty
    split segments first (mirrored in oracles via ``list_filter``);
    the >= 2-token eligibility check then applies to the FILTERED
    token list."""
    toks = F.split(F.col(text_col), " ")
    if drop_empty:
        toks = F.filter(toks, lambda x: x != F.lit(""))
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(*extra, toks.alias("__toks"))
        .filter(F.size("__toks") >= 2)
        .select(
            *extra,
            F.explode(
                F.expr(
                    "transform(slice(__toks, 1, size(__toks) - 1),"
                    " (p, i) -> struct(p, element_at(__toks, i + 2) AS w))"
                )
            ).alias("__bg"),
        )
        .select(*extra, F.col("__bg.p").alias("p"), F.col("__bg.w").alias("w"))
    )


def bigram_counts(
    train: DataFrame, text_col: str, drop_empty: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the LM: returns ``(bi, ctx, voc)`` — bigram counts keyed on
    ``(p, w)``, context totals keyed on ``p``, and a one-row vocabulary
    size.

    The corpus is scanned ONCE: the bigram table is vocabulary-bounded,
    so it localCheckpoints (the ``hll_rollup`` policy — without it every
    derived branch replays the full corpus scan+agg: measured 4
    FileScans in the end-to-end plan, 2 after). Both derivations then
    read the materialized table: context totals are a sum over it, and
    the vocabulary is the distinct tokens over its (p, w) union —
    EXACTLY the training vocabulary, because every token of a
    >= 2-token document appears in at least one bigram as prev or
    next (and single-token docs are excluded from training by
    definition)."""
    bg = _bigrams(train, text_col, [], drop_empty=drop_empty)
    bi = bg.groupBy("p", "w").agg(F.count(F.lit(1)).alias("c"))
    bi = bi.localCheckpoint(eager=True)
    ctx = bi.groupBy("p").agg(F.sum("c").alias("cc"))
    voc = (
        bi.select(F.explode(F.array("p", "w")).alias("t"))
        .agg(F.countDistinct("t").alias("v"))
    )
    return bi, ctx, voc


def perplexity_score(
    docs: DataFrame,
    train: DataFrame,
    text_col: str,
    id_col: str,
    alpha: float = 0.5,
    drop_empty: bool = False,
) -> DataFrame:
    """Score every document of ``docs`` (with >= 2 tokens) under the
    bigram LM trained on ``train``: returns
    ``(id_col, n_bigrams, avg_neg_logp)`` where ``avg_neg_logp`` is the
    6-dp average negative natural-log probability (perplexity =
    ``exp(avg_neg_logp)`` — monotone, so filters threshold this score
    directly)."""
    bi, ctx, voc = bigram_counts(train, text_col, drop_empty=drop_empty)
    bg = _bigrams(docs, text_col, [F.col(id_col)], drop_empty=drop_empty)
    lp = F.round(
        F.log(
            (F.coalesce(F.col("c"), F.lit(0)) + F.lit(alpha))
            / (F.coalesce(F.col("cc"), F.lit(0))
               + F.lit(alpha) * F.col("v"))
        ),
        9,
    ).cast("decimal(20,9)")
    return (
        bg.join(bi, ["p", "w"], "left")
        .join(ctx, ["p"], "left")
        .crossJoin(F.broadcast(voc))
        .select(id_col, lp.alias("__lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("__lp").cast("double") / (-F.count(F.lit(1))), 6
            ).alias("avg_neg_logp"),
        )
    )


def kneser_ney_score(
    docs: DataFrame,
    train: DataFrame,
    text_col: str,
    id_col: str,
    discount: float = 0.75,
    alpha: float = 0.5,
    drop_empty: bool = False,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; the
    Chen & Goodman 1999 interpolated form every KenLM-style toolkit
    ships) — the standard upgrade over add-alpha for curation-grade
    perplexity filters, because it models how many CONTEXTS a word
    completes rather than how often it occurs:

        P(w|p) = max(c(p,w) - D, 0)/c(p) + D·N1+(p,·)/c(p) · Pcont(w)
        Pcont(w) = (N1+(·,w) + a) / (N1+(·,·) + a·V)

    with fixed discount ``D``; a document bigram whose context ``p``
    was never seen in training backs off to ``Pcont`` alone, and the
    add-``a`` floor on the continuation distribution keeps unseen
    words scoreable (the deterministic practical fix for strict KN's
    zero). Returns ``(id_col, n_bigrams, avg_neg_logp)`` like
    :func:`perplexity_score` — same 9-dp log snap to decimal before
    the order-independent sum, 6-dp average.

    Scale shape identical to the add-alpha path plus two more
    vocabulary-bounded tables (per-context distinct-continuation
    counts, per-word distinct-context counts) — all derive from the
    ONE materialized bigram table; scalars ride one-row broadcast cross
    joins.
    """
    if not (0.0 < discount < 1.0):
        raise ValueError("discount must be in (0, 1)")
    bi, ctx, voc = bigram_counts(train, text_col, drop_empty=drop_empty)
    # distinct continuations per context and distinct contexts per word
    # — both over the already-materialized vocabulary-bounded bi table
    t1p = bi.groupBy("p").agg(F.count(F.lit(1)).alias("t1p"))
    cw = bi.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    tot = bi.agg(F.count(F.lit(1)).alias("n1p"))
    bg = _bigrams(docs, text_col, [F.col(id_col)], drop_empty=drop_empty)
    pcont = (
        (F.coalesce(F.col("cw"), F.lit(0)) + F.lit(alpha))
        / (F.col("n1p") + F.lit(alpha) * F.col("v")))
    seen = (
        F.greatest(
            F.coalesce(F.col("c"), F.lit(0)) - F.lit(discount), F.lit(0.0)
        ) / F.col("cc")
        + F.lit(discount) * F.col("t1p") / F.col("cc") * pcont)
    lp = F.round(
        F.log(F.when(F.col("cc").isNotNull(), seen).otherwise(pcont)), 9
    ).cast("decimal(20,9)")
    return (
        bg.join(bi, ["p", "w"], "left")
        .join(ctx, ["p"], "left")
        .join(t1p, ["p"], "left")
        .join(cw, ["w"], "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(voc))
        .select(id_col, lp.alias("__lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("__lp").cast("double") / (-F.count(F.lit(1))), 6
            ).alias("avg_neg_logp"),
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 200,
) -> DataFrame:
    """Zipf's-law fit over the corpus token distribution (Zipf 1949):
    OLS of ``ln(count)`` on ``ln(rank)`` over the exact top-``top_n``
    tokens — the corpus-health check every curation pipeline runs (a
    natural corpus fits slope ~ -1; template/boilerplate floods
    flatten the head, dedup failures steepen it). Returns ONE row:
    ``(n_ranks, slope, intercept, r2)``.

    Shape: one token count (explode + groupBy on the token — digests
    of the shuffle class every text op here uses), one TakeOrdered for
    the top-N (count desc, token tie-break — deterministic), then the
    OLS sums over 9-dp-snapped logs as exact decimals (order-free) and
    a one-row closed form. ``top_n`` bounds the regression frame, not
    the count — the heavy stage stays the single groupBy."""
    toks = df.select(
        F.explode(F.split(F.col(text_col), " ")).alias("__tok")
    ).filter(F.col("__tok") != "")
    counts = toks.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("long").alias("__cnt"))
    top = counts.orderBy(
        F.desc("__cnt"), F.asc("__tok")).limit(int(top_n))
    ranked = top.select(
        "__cnt",
        F.row_number().over(
            Window.orderBy(F.desc("__cnt"), F.asc("__tok"))
        ).alias("__rank"),
    )
    x = F.round(F.log(F.col("__rank").cast("double")), 9).cast(
        "decimal(20,9)")
    y = F.round(F.log(F.col("__cnt").cast("double")), 9).cast(
        "decimal(20,9)")
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"), F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.min(y).alias("ymin"), F.max(y).alias("ymax"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r2 = (
        (n * sxy - sx * sy) * (n * sxy - sx * sy)
        / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    )
    # Degeneracy guards (probe batch 5: ANSI division-by-zero) are
    # STRUCTURAL, not float-zero tests — ranks are distinct so the x
    # variance is 0 iff n == 1, and the y variance is 0 iff every
    # count in the head ties (min == max on the exact decimal logs, a
    # real shape: a uniform or fully-deduplicated sample). Slope and
    # intercept need x variance; r2 additionally needs y variance.
    # Degenerate fits read NULL, never a crash or an Inf/NaN.
    fit_ok = F.col("n") > 1
    yvar_ok = F.col("ymin") != F.col("ymax")
    return s.select(
        F.col("n").alias("n_ranks"),
        F.when(fit_ok, F.round(slope, RELEASE_DP)).alias("slope"),
        F.when(
            fit_ok, F.round((sy - slope * sx) / n, RELEASE_DP)
        ).alias("intercept"),
        F.when(
            fit_ok & yvar_ok, F.round(r2, RELEASE_DP)).alias("r2"),
    )
