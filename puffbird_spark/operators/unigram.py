"""Distributed unigram-LM tokenizer training (Kudo, ACL 2018 —
"Subword Regularization: Improving Neural Network Translation Models
with Multiple Subword Candidates"; the SentencePiece `--model_type
unigram` default): learn a piece vocabulary with log-probabilities by
EM over Viterbi segmentations — the SECOND of the two subword
tokenizers every pretraining pipeline actually ships (BPE is
``operators/bpe.py``). The reference has no tokenizer surface; this is
EXT north-star coverage.

Spark-first shape (the ``bpe_train`` discipline — bounded driver
state, corpus-sized work only in keyed aggregations):

1. **word table** — one aggregation: distinct words with occurrence
   counts. The EM working set is the VOCABULARY, not the corpus.
2. **seed** — piece candidates are all word substrings up to
   ``max_piece_len``, counted with word weights (one generate + one
   keyed agg), kept top-``seed_size`` by (count desc, piece asc) plus
   ALL single characters (coverage guarantee — a char piece is never
   pruned, so every word always has a segmentation).
3. **per EM round** — E-step: Viterbi-segment each DISTINCT word
   under the current piece log-probs; the piece table is vocab-sized
   and rides to executors as a broadcast closure of an Arrow-batched
   pandas UDF (the documented UDF escape hatch — a per-word DP with
   dict lookups is exactly what built-in operators can't express;
   the BPE trainer's merge fold is the contrast case that could).
   M-step: ONE keyed agg over the exploded winning segmentations,
   word-weighted. Unused non-char pieces drop; char pieces floor at
   count 1 (deterministic, keeps coverage).
4. **prune** — final vocab is top-``vocab_size`` by (count desc,
   piece asc), chars always retained.

Determinism (the house ladder): counts are exact ints; ``logp =
round(ln(count / total), 9)`` — every EM input is a 9-dp-snapped
double, and the Viterbi DP adds them in the same left-to-right order
in every engine, so scores are bit-identical. Viterbi ties break
(score desc at 9 dp, then FEWER pieces, then smallest '|'-joined
segmentation in BYTE order — '|' is 0x7C, after every letter, so this
last rung prefers the longer early piece) — pinned against a
from-scratch
reference implementation in unit tests, and replayed move-for-move by
the ``text_unigram_segment`` gate's recursive-CTE oracle.

This is the fixed-rounds deterministic core of Kudo's trainer: real
SentencePiece also does sub-EM with an L-BFGS-free digamma update and
prunes by likelihood LOSS rather than raw count; the count-ranked
prune keeps the whole pipeline exactly replayable cross-engine, which
is what the correctness gate needs. The segmenter contract is the
full Kudo Viterbi decode.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from ..plans import _release
from .bpe import word_counts

#: score a character absent from the piece table (guarantees every
#: word segments; standard unknown-piece floor)
UNK_LOGP = -10.0


def seed_piece_counts(
    df: DataFrame,
    text_col: str,
    max_piece_len: int = 4,
) -> DataFrame:
    """Substring piece candidates with word-weighted occurrence counts
    — the unigram trainer's seed statistic (Kudo 2018 §3.2 seeds from
    frequent substrings): every substring of every distinct word up to
    ``max_piece_len`` chars, one occurrence per (start, length) site.
    One generate + one keyed agg; vocab-sized input, map-side
    combinable. Returns ``(piece, n)``."""
    w = word_counts(df, text_col)
    pieces = F.expr(
        f"""flatten(transform(
            sequence(1, char_length(word)),
            i -> transform(
                sequence(i, least(char_length(word),
                                  i + {int(max_piece_len)} - 1)),
                j -> substring(word, i, j - i + 1))))""")
    return (
        w.select(F.explode(pieces).alias("piece"), F.col("wc"))
        .groupBy("piece").agg(F.sum("wc").cast("long").alias("n")))


def _logp_map(counts: list[tuple[str, int]]) -> dict[str, float]:
    """Snap a (piece, count) table to the 9-dp log-prob dict both the
    kernel and the oracle consume; exact int total."""
    total = sum(c for _, c in counts)
    return {
        p: round(math.log(c / total), 9) for p, c in counts if c > 0}


def viterbi_segment_py(
    word: str, logp: dict[str, float], max_piece_len: int = 4,
) -> tuple[list[str], float]:
    """Single-word Viterbi decode under a piece log-prob table — the
    pure-Python kernel shared by the Arrow UDF and the from-scratch
    test reference. Unknown single chars score :data:`UNK_LOGP`;
    ties break (score desc at 9 dp, fewer pieces, lexicographically
    smallest '|'-joined segmentation). Returns (pieces, score)."""
    n = len(word)
    # best[i] = (neg-ish score, n_pieces, seg-string, pieces) for
    # word[:i]; the tuple ordering IS the tie-break
    best: list[tuple[float, int, str, list[str]]] = [
        (0.0, 0, "", [])] * (n + 1)
    for i in range(1, n + 1):
        cand = None
        for ln in range(1, min(max_piece_len, i) + 1):
            piece = word[i - ln:i]
            lp = logp.get(piece)
            if lp is None:
                if ln > 1:
                    continue
                lp = UNK_LOGP
            ps, pn, pseg, ppieces = best[i - ln]
            seg = piece if not pseg else pseg + "|" + piece
            key = (round(ps + lp, 9), -(pn + 1), seg)
            if cand is None or (key[0], key[1]) > (cand[0][0], cand[0][1]) \
                    or ((key[0], key[1]) == (cand[0][0], cand[0][1])
                        and key[2] < cand[0][2]):
                cand = (key, ppieces + [piece])
        best[i] = (cand[0][0], -cand[0][1], cand[0][2], cand[1])
    sc, _, _, pieces = best[n]
    return pieces, sc


def viterbi_segment_udf(
    logp: dict[str, float], max_piece_len: int = 4,
) -> Column:
    """Factory for the Arrow-batched Viterbi segmenter: returns a
    callable pandas UDF mapping a word column to its winning
    ``array<string>`` segmentation. The piece table is captured in
    the UDF closure (vocab-sized — exactly what Spark broadcasts with
    the serialized task)."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    table = dict(logp)
    mpl = int(max_piece_len)

    # no type hints: `from __future__ import annotations` would leave
    # them as unresolvable strings for the pandas_udf inspector
    def _seg_fn(words):
        return pd.Series([
            None if w is None
            else viterbi_segment_py(w, table, mpl)[0]
            for w in words])

    return pandas_udf(_seg_fn, "array<string>")


def unigram_segment_text(
    text: Column, logp: dict[str, float], max_piece_len: int = 4,
) -> Column:
    """Segment a whole TEXT column under a piece table: whitespace
    words decode independently (the tokenizer application contract —
    ``bpe_segment``'s shape), concatenated in order. One Arrow batch
    per scan partition, zero shuffle; the split happens inside the
    kernel so no explode/regroup round-trip is needed. Returns
    ``array<string>``; NULL text stays NULL."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    table = dict(logp)
    mpl = int(max_piece_len)

    def _seg_text_fn(texts):
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            pieces: list[str] = []
            for w in t.split(" "):
                if w:
                    pieces.extend(viterbi_segment_py(w, table, mpl)[0])
            out.append(pieces)
        return pd.Series(out)

    return pandas_udf(_seg_text_fn, "array<string>")(text)


def unigram_train(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 64,
    seed_size: int = 256,
    max_piece_len: int = 4,
    em_rounds: int = 2,
) -> list[tuple[str, int, float]]:
    """Learn a unigram-LM piece vocabulary from the corpus (module
    docstring has the full shape). Driver traffic is one vocab-sized
    collect per EM round (≤ ``seed_size`` rows — the ``bpe_train``
    bounded-driver-state contract, table-sized instead of row-sized
    because EM re-broadcasts the whole model each round). Returns the
    final ``[(piece, count, logp)]`` sorted (count desc, piece asc),
    at most ``vocab_size`` entries plus any remaining single chars."""
    words = word_counts(df, text_col).select("word", "wc")
    words = words.localCheckpoint(eager=True)

    seed = seed_piece_counts(df, text_col, max_piece_len)
    chars = (
        seed.filter(F.length("piece") == 1)
        .select("piece", "n"))
    multi = (
        seed.filter(F.length("piece") > 1)
        .orderBy(F.desc("n"), F.asc("piece"))
        .limit(int(seed_size)))
    vocab = {r["piece"]: int(r["n"])
             for r in chars.unionByName(multi).collect()}

    for _ in range(int(em_rounds)):
        seg = viterbi_segment_udf(_logp_map(sorted(vocab.items())),
                                  max_piece_len)
        used = (
            words.select(F.explode(seg(F.col("word"))).alias("piece"),
                         F.col("wc"))
            .groupBy("piece").agg(F.sum("wc").cast("long").alias("n")))
        counts = {r["piece"]: int(r["n"]) for r in used.collect()}
        # chars never drop (coverage); unused multi-char pieces do
        vocab = {
            p: counts.get(p, 1 if len(p) == 1 else 0)
            for p in vocab
            if len(p) == 1 or counts.get(p, 0) > 0}
    _release(words)  # the rest is driver-side

    ranked = sorted(
        vocab.items(), key=lambda kv: (-kv[1], kv[0]))
    kept = [p for p, _ in ranked[:int(vocab_size)]]
    kept += [p for p, _ in ranked[int(vocab_size):] if len(p) == 1]
    final = {p: vocab[p] for p in kept}
    lp = _logp_map(sorted(final.items()))
    return sorted(
        ((p, c, lp[p]) for p, c in final.items()),
        key=lambda t: (-t[1], t[0]))
