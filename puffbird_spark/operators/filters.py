"""Composable quality-filter pipeline with drop accounting — the audit
layer every production curation pipeline carries (Dolma, RedPajama,
FineWeb all publish per-rule removal rates): you never ship a filter
chain without knowing what each rule costs you.

A pipeline is an ordered list of ``(rule_name, keep_predicate)``. The
semantics are short-circuit: a document is attributed to the FIRST rule
it fails (the order-dependent number operators actually want — it tells
you what each rule removes *given everything before it*), alongside an
order-independent "fails this rule at all" count per rule.

Execution shape: the whole classification is ONE scan-local CASE chain
(``coalesce(when(...))``) plus conditional sums in a single global
aggregation — one pass over the corpus, a one-row result exploded into
the per-rule audit. No shuffle of documents at all; at 100 TB this
costs exactly one read. NULL predicates (e.g. a rule over NULL text)
count as failures — a filter that cannot evaluate must not silently
pass documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions import RELEASE_DP

#: audit row name for documents that pass every rule
KEPT = "__kept"


def _fail(pred: Column) -> Column:
    """A rule fails unless its keep-predicate is literally TRUE — NULL
    (unevaluable) fails."""
    return ~F.coalesce(pred, F.lit(False))


def apply_filters(
    df: DataFrame, rules: list[tuple[str, Column]]
) -> DataFrame:
    """The survivors: rows passing EVERY rule (scan-local, one filter)."""
    keep = F.lit(True)
    for _, pred in rules:
        keep = keep & ~_fail(pred)
    return df.filter(keep)


def filter_audit(
    df: DataFrame, rules: list[tuple[str, Column]]
) -> DataFrame:
    """Per-rule drop accounting in ONE pass: returns
    ``(rule, n_first_fail, n_fail_any)`` with one row per rule plus the
    ``__kept`` row (``n_first_fail`` = survivors, ``n_fail_any`` = 0).
    ``sum(n_first_fail)`` over all rows == total documents, always —
    the audit is a partition of the corpus."""
    names = [n for n, _ in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names in {names}")
    first_fail = F.coalesce(
        *[F.when(_fail(p), F.lit(n)) for n, p in rules], F.lit(KEPT)
    )
    aggs = [
        F.sum(F.when(F.col("__ff") == n, 1).otherwise(0))
        .cast("long").alias(f"__first_{i}")
        for i, n in enumerate(names)
    ] + [
        F.sum(F.when(_fail(p), 1).otherwise(0))
        .cast("long").alias(f"__any_{i}")
        for i, (_, p) in enumerate(rules)
    ] + [
        F.sum(F.when(F.col("__ff") == KEPT, 1).otherwise(0))
        .cast("long").alias("__kept_n")
    ]
    one = df.withColumn("__ff", first_fail).agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(n).alias("rule"),
                F.col(f"__first_{i}").alias("n_first_fail"),
                F.col(f"__any_{i}").alias("n_fail_any"),
            )
            for i, n in enumerate(names)
        ],
        F.struct(
            F.lit(KEPT).alias("rule"),
            F.col("__kept_n").alias("n_first_fail"),
            F.lit(0).cast("long").alias("n_fail_any"),
        ),
    )
    return one.select(F.explode(rows).alias("r")).select(
        "r.rule", "r.n_first_fail", "r.n_fail_any"
    )


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stopwords: list[str],
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_frac: float = 0.8,
    max_symbol_ratio: float = 0.1,
    min_stopwords: int = 2,
    max_top_bigram_char_frac: float = 0.2,
) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, Table A1 —
    the pretraining filter set MassiveText/RefinedWeb/FineWeb all
    descend from), adapted to this engine's whitespace-token world:

    - word count within ``[min_words, max_words]``;
    - mean word length within ``[min_mean_word_len, max_...]``;
    - fraction of words containing an alphabetic char
      >= ``min_alpha_word_frac``;
    - symbol-to-word ratio (``#`` and ``...`` occurrences)
      <= ``max_symbol_ratio``;
    - at least ``min_stopwords`` DISTINCT stopwords present (the
      "has real sentences" signal);
    - characters inside the most frequent bigram
      <= ``max_top_bigram_char_frac`` of non-space characters (the
      repetition rule; top bigram ties break lexicographically).

    Everything is exact integer counting with at most one division per
    metric, so every emitted metric AND every verdict bit replays in
    SQL. One per-doc bigram aggregation (the only shuffle beyond the
    scan) joined back; all other rules are scan-local expressions.
    Returns per-doc metrics, per-rule booleans, and the AND verdict
    ``passes_gopher``."""
    toks = F.split(F.col(text_col), " ")
    nw = F.size(toks)
    chars = F.length(F.regexp_replace(F.col(text_col), " ", ""))
    mwl = chars.cast("double") / nw
    alpha = F.size(F.filter(
        toks, lambda x: x.rlike("[a-zA-Z]"))).cast("double") / nw
    hashes = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "#", ""))
    ellip = (F.length(F.col(text_col)) - F.length(
        F.replace(F.col(text_col), F.lit("..."), F.lit("")))) / 3
    symr = (hashes + ellip).cast("double") / nw
    nstop = F.size(F.array_intersect(
        F.array_distinct(toks), F.lit(list(stopwords))))
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__t"),
        nw.alias("n_words"),
        F.round(mwl, RELEASE_DP).alias("mean_word_len"),
        F.round(alpha, RELEASE_DP).alias("alpha_word_frac"),
        F.round(symr, RELEASE_DP).alias("symbol_ratio"),
        nstop.alias("n_stopwords"),
        chars.alias("__chars"),
    )
    bi = (
        base.filter(F.col("n_words") >= 2)   # sequence(0, -1) descends!
        # bind the token array ONCE — a split() inside the transform
        # lambda re-tokenizes per element (measured 5.0 -> 1.5s at
        # sf0.1; the CDC fence lesson, expression edition)
        .select("__id", "__chars",
                F.split(F.col("__t"), " ").alias("__tk"))
        .select(
            "__id", "__chars",
            F.explode(F.expr(
                "transform(sequence(0, size(__tk) - 2),"
                " i -> concat(element_at(__tk, i + 1), ' ',"
                " element_at(__tk, i + 2)))")).alias("bg"))
        .groupBy("__id", "__chars", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql.window import Window
    w = Window.partitionBy("__id").orderBy(F.desc("c"), F.asc("bg"))
    top_bi = (
        bi.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "__id",
            F.round(
                (F.col("c") * (F.length("bg") - 1)).cast("double")
                / F.col("__chars"), RELEASE_DP).alias("top_bigram_char_frac"))
    )
    out = base.drop("__t", "__chars").join(top_bi, "__id", "left") \
        .withColumn("top_bigram_char_frac",
                    F.coalesce("top_bigram_char_frac", F.lit(0.0)))
    rules = {
        "ok_word_count": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "ok_mean_word_len": (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        "ok_alpha_words": F.col("alpha_word_frac") >= min_alpha_word_frac,
        "ok_symbol_ratio": F.col("symbol_ratio") <= max_symbol_ratio,
        "ok_stopwords": F.col("n_stopwords") >= min_stopwords,
        "ok_repetition":
            F.col("top_bigram_char_frac") <= max_top_bigram_char_frac,
    }
    for name, pred in rules.items():
        out = out.withColumn(name, pred)
    verdict = F.lit(True)
    for name in rules:
        verdict = verdict & F.col(name)
    return out.withColumn("passes_gopher", verdict) \
        .withColumnRenamed("__id", id_col)
