"""Distributed BPE tokenizer training (Sennrich et al., ACL 2016 —
"Neural Machine Translation of Rare Words with Subword Units"): learn a
merge table from corpus word frequencies, the step that turns a raw
corpus into a tokenizer. The reference has no tokenizer surface; this is
EXT north-star coverage (the `text_tokens_bpe` gate only *applies* a
BPE-ish regex — this *learns* the merges).

Spark-first shape (the k-means pattern — bounded driver state, scan-local
apply):

1. **word table** — one aggregation: distinct words with occurrence
   counts. BPE's working set is the VOCABULARY, not the corpus; every
   later pass runs over vocab-sized data no matter how big the corpus.
2. **per round** — pair counts are one explode + one keyed agg over the
   current symbol encodings, weighted by word count; the argmax pair
   (count desc, then lexicographic — deterministic ties) collects to the
   driver (ONE row per round) and is re-applied as a scan-local
   left-to-right fold with the pair as plan literals. Lineage is
   truncated per round (localCheckpoint, the CC policy) so R rounds stay
   R shallow jobs, not one 2^R-deep plan.
3. **output** — the learned merge list, plus :func:`bpe_segment` to
   apply any merge table to text scan-locally.

The greedy fold implements standard non-overlapping leftmost matching
('aaa' under merge (a,a) -> ['aa','a']), pinned by unit test against a
from-scratch reference implementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..plans import _release


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Distinct whitespace words with occurrence counts — the
    vocab-sized working set BPE actually trains on."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )


def _merge_fold(sym: Column, a: str, b: str) -> Column:
    """Scan-local greedy leftmost merge of adjacent (a, b) -> a+b over a
    symbol array, with the pair as plan literals."""
    ab = F.lit(a + b)
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(ab)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def pair_counts(enc: DataFrame) -> DataFrame:
    """Weighted adjacent-symbol pair counts over the current encodings:
    one explode + one (a, b)-keyed agg; ``enc`` must carry
    ``(word, wc, s: array<string>)``."""
    pairs = F.expr(
        "transform(slice(s, 1, size(s) - 1),"
        " (x, i) -> struct(x AS a, element_at(s, i + 2) AS b))")
    return (
        enc.filter(F.size("s") >= 2)
        .select("wc", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("wc").alias("n"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    rounds: int = 10,
) -> list[tuple[str, str]]:
    """Learn up to ``rounds`` BPE merges from the corpus. Returns the
    ordered merge list; driver traffic is ONE (a, b, count) row per
    round regardless of corpus size. Stops early when no pair is left.
    Ties break deterministically: highest count, then lexicographic
    (a, b) — the same rule the oracle and the reference replay. Each
    round's encodings are released once the next round's are
    materialized, and the last before returning: nothing stays pinned."""
    enc = word_counts(df, text_col).select(
        "word", "wc", F.split(F.col("word"), "").alias("s"))
    enc = enc.localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(rounds):
        top = (
            pair_counts(enc)
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        nxt = enc.withColumn(
            "s", _merge_fold(F.col("s"), a, b)).localCheckpoint(eager=True)
        _release(enc)
        enc = nxt
    _release(enc)
    return merges


def bpe_segment(
    text: Column, merges: list[tuple[str, str]]
) -> Column:
    """Apply a learned merge table to a whitespace-tokenized text column
    scan-locally: returns ``array<string>`` of subword units (words
    segmented independently, merges in learned order — standard BPE
    application). The merge table rides the plan as literals; cost is
    |merges| folds per word, zero shuffle, zero Python."""
    words = F.split(text, " ")

    def seg(w: Column) -> Column:
        s = F.split(w, "")
        for a, b in merges:
            s = _merge_fold(s, a, b)
        return s

    return F.flatten(F.transform(words, seg))
