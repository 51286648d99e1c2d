"""Sequence packing: assign documents to fixed token-budget training
contexts.

Two standard semantics, both sharded so packing is embarrassingly
parallel (packs never cross shards — exactly how a distributed pipeline
keeps this O(n/K) per worker with zero coordination):

- :func:`pack_spanning` — GPT-style concat-then-cut: documents are laid
  end-to-end in shard order and cut every ``budget`` tokens, so a document
  may span packs. A pure prefix-sum over one window — whole-stage codegen,
  one shuffle on the shard key, closed-form and therefore exactly
  SQL-oracle-able.
- :func:`pack_greedy` — no-split greedy fill: a document goes to the
  current pack if it fits, else opens the next one. A sequential
  recurrence with no closed form, run per shard as one Arrow-batched
  ``applyInPandas`` pass (each shard's loop is a few-µs-per-row numpy-free
  scan; the shard count bounds the sequential chain length).

At real scale the shard key would be a hash of the id; the modulo used
here keeps the DuckDB oracle byte-identical. Documents longer than the
budget occupy a pack alone (spanning: they span; greedy: they overflow
their own pack — documented, matches common packers that defer long-doc
truncation to the tokenizer stage).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sharded_tokens(
    docs: DataFrame, id_col: str, tokens_col, shards: int
) -> DataFrame:
    return docs.select(
        F.col(id_col),
        (F.col(id_col) % F.lit(shards)).alias("shard"),
        F.size(tokens_col).alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)


def pack_spanning(
    docs: DataFrame,
    tokens_col,
    id_col: str = "doc_id",
    budget: int = 2048,
    shards: int = 8,
) -> DataFrame:
    """Concat-then-cut packing: per shard, documents are concatenated in
    ``id_col`` order and cut every ``budget`` tokens.

    Returns one row per document: ``shard, doc_id, n_tokens,
    start_offset`` (tokens before this doc in its shard), ``first_pack``
    / ``last_pack`` (packs this doc lands in) and ``n_packs_spanned``.

    One Exchange on the shard key; the running sum is a single window
    pass inside codegen. ~1000 executors each own shards/1000 of the
    corpus — no global coordination, no driver state.
    """
    t = _sharded_tokens(docs, id_col, tokens_col, shards)
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    out = t.select(
        "shard",
        id_col,
        "n_tokens",
        start.alias("start_offset"),
    )
    first = F.floor(F.col("start_offset") / budget)
    last = F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / budget)
    return out.select(
        "shard",
        id_col,
        "n_tokens",
        "start_offset",
        first.alias("first_pack"),
        last.alias("last_pack"),
        (last - first + 1).alias("n_packs_spanned"),
    )


def pack_token_budget(
    docs: DataFrame,
    key: str,
    domain: str,
    tokens_col: str,
    budgets,
    seq_len: int = 2048,
    seed: str = "budget",
    default_budget: int = 0,
) -> DataFrame:
    """FUSED mixture + packing: fill each domain's token budget in
    deterministic hash order AND lay the selected documents into
    fixed-``seq_len`` training contexts — one pass.

    Run separately (``token_budget_sample`` then ``pack_spanning``) the
    pipeline pays two prefix-sum structures and an extra shuffle onto the
    shard key. But the budget filter is PREFIX-CLOSED in hash order:
    every row ahead of a kept row is also kept, so the running token
    total over all rows IS the running total over the kept stream —
    the same ``grouped_prefix_sum`` output serves as both the budget
    cutoff and the packing offset. Two balanced exchanges total,
    skew-proof (a 90% domain never becomes one task), and packs never
    cross domains (domain = shard).

    Returns one row per KEPT document: ``key, domain, n_tokens,
    cum_tokens`` (inclusive running total = budget check), ``start_offset``
    (tokens before this doc in its domain's packed stream), ``first_pack /
    last_pack / n_packs_spanned`` (spanning semantics of
    :func:`pack_spanning`, pack identity = (domain, pack)).
    """
    from .splits import _domain_budget, _draw_prefix_sum

    # n_tokens > 0 matches pack_spanning's layout filter: zero-token
    # docs occupy no context and are excluded here too, so the fused
    # output differs from token_budget_sample (which keeps them — they
    # consume no budget) exactly on empty documents.
    d = docs.select(
        F.col(key), F.col(domain), F.col(tokens_col).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    d = _draw_prefix_sum(d, key, seed, [domain], "n_tokens", "cum_tokens")
    kept = d.filter(
        F.col("cum_tokens") <= _domain_budget(domain, budgets, default_budget))
    start = (F.col("cum_tokens") - F.col("n_tokens")).alias("start_offset")
    first = F.floor(F.col("start_offset") / seq_len)
    last = F.floor((F.col("cum_tokens") - 1) / seq_len)
    return kept.select(
        key, domain, "n_tokens", "cum_tokens", start
    ).select(
        key, domain, "n_tokens", "cum_tokens", "start_offset",
        first.alias("first_pack"),
        last.alias("last_pack"),
        (last - first + 1).alias("n_packs_spanned"),
    )


def pack_greedy(
    docs: DataFrame,
    tokens_col,
    id_col: str = "doc_id",
    budget: int = 2048,
    shards: int = 8,
) -> DataFrame:
    """No-split greedy packing: per shard in ``id_col`` order, a document
    joins the current pack iff it fits in the remaining budget, else it
    opens the next pack. Documents longer than ``budget`` occupy a pack
    alone.

    Returns ``shard, doc_id, n_tokens, pack_id, pack_fill`` (fill AFTER
    placing the doc). Pack identity is ``(shard, pack_id)``.

    The recurrence has no closed form, so each shard runs one
    ``applyInPandas`` scan — the Python loop is O(rows/shard) with no
    per-row serialization beyond the single Arrow batch each way.
    """
    t = _sharded_tokens(docs, id_col, tokens_col, shards)

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, ignore_index=True)
        pack_ids, fills = [], []
        pack, fill = 0, 0
        for tok in pdf["n_tokens"]:
            if fill > 0 and fill + tok > budget:
                pack += 1
                fill = 0
            fill += int(tok)
            pack_ids.append(pack)
            fills.append(fill)
        pdf["pack_id"] = pack_ids
        pdf["pack_fill"] = fills
        return pdf

    schema = (
        f"{id_col} long, shard long, n_tokens int, "
        "pack_id long, pack_fill long"
    )
    return (
        t.repartition("shard")
        .groupBy("shard")
        .applyInPandas(assign, schema)
        .select("shard", id_col, "n_tokens", "pack_id", "pack_fill")
    )
