"""Sequence packing, decontamination, and chunking operators.

pack_greedy is differentially tested against an independent Python
replay of the greedy recurrence (the operator itself runs through
applyInPandas inside Spark — the replay here shares no code with it).
"""

import random

from pyspark.sql import functions as F

from puffbird_spark.functions.text import chunk_windows, tokens
from puffbird_spark.operators.decontam import contamination
from puffbird_spark.operators.packing import pack_greedy, pack_spanning


def _greedy_replay(tok_by_id, budget):
    """Independent greedy recurrence: {doc_id: (pack_id, fill_after)}."""
    out = {}
    pack, fill = 0, 0
    for did in sorted(tok_by_id):
        tok = tok_by_id[did]
        if fill > 0 and fill + tok > budget:
            pack += 1
            fill = 0
        fill += tok
        out[did] = (pack, fill)
    return out


def test_pack_greedy_matches_python_replay(spark):
    rng = random.Random(7)
    rows = [(i, "w " * rng.randint(1, 40)) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["shard"], r["doc_id"]): (r["pack_id"], r["pack_fill"])
        for r in pack_greedy(df, tokens("text"), budget=64, shards=4).collect()
    }
    toks = {i: len(t.split(" ")) for i, t in rows}
    for shard in range(4):
        expected = _greedy_replay(
            {i: toks[i] for i in toks if i % 4 == shard}, 64)
        for did, (pack, fill) in expected.items():
            assert got[(shard, did)] == (pack, fill), (shard, did)


def test_pack_greedy_oversized_doc_alone(spark):
    df = spark.createDataFrame(
        [(0, "w " * 10), (4, "w " * 100), (8, "w " * 10)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: (r["pack_id"], r["pack_fill"])
           for r in pack_greedy(df, tokens("text"), budget=32,
                                shards=4).collect()}
    # all shard 0, in id order: 11 fits pack0; 101 > budget opens pack1
    # alone (overflows it); 11 opens pack2
    assert out[0] == (0, 11)
    assert out[4] == (1, 101)
    assert out[8] == (2, 11)


def test_pack_spanning_invariants(spark):
    rng = random.Random(11)
    rows = [(i, "w " * rng.randint(1, 50)) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pack_spanning(df, tokens("text"), budget=128, shards=4).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r["doc_id"])
        offset = 0
        for r in docs:
            # offsets are the exact concatenation layout
            assert r["start_offset"] == offset
            assert r["first_pack"] == offset // 128
            assert r["last_pack"] == (offset + r["n_tokens"] - 1) // 128
            assert r["n_packs_spanned"] == (
                r["last_pack"] - r["first_pack"] + 1)
            offset += r["n_tokens"]


def test_pack_token_budget_fused_invariants(spark, sf_dir):
    """The fused mixture+packing pass must (a) equal both
    token_budget_sample and the budget filter over grouped_prefix_sum's
    range path (no slice-id column: range partition + checkpoint) on
    membership and running totals — the prefix-closure argument made
    concrete — and (b) lay the kept stream out contiguously per domain
    with exact spanning-pack arithmetic.

    Both references filter to n_tokens > 0: the fused packer excludes
    zero-token docs (they occupy no context — pack_spanning's filter),
    while token_budget_sample keeps them (they consume no budget); an
    injected empty doc pins that asymmetry."""
    from conftest import load
    from puffbird_spark.operators.packing import pack_token_budget
    from puffbird_spark.operators.splits import (
        grouped_prefix_sum, hash_draw, token_budget_sample)

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars").unionByName(
        spark.createDataFrame(
            [(990001, "src0", 0)], "doc_id long, source string, n_chars int"))
    budgets = {"src0": 4000, "src1": 2500}
    budget = (F.when(F.col("source") == "src0", 4000)
              .when(F.col("source") == "src1", 2500).otherwise(1500))
    ref = grouped_prefix_sum(
        docs.filter(F.col("n_chars") > 0).withColumn(
            "draw", hash_draw(F.col("doc_id"), "pack")),
        ["source"], ["draw", "doc_id"], "n_chars", "cum_tokens",
    ).filter(F.col("cum_tokens") <= budget)
    sample = token_budget_sample(
        docs, "doc_id", "source", "n_chars", budgets, seed="pack",
        default_budget=1500).filter(F.col("n_chars") > 0)
    fused = pack_token_budget(
        docs, "doc_id", "source", "n_chars", budgets, seq_len=512,
        seed="pack", default_budget=1500)
    for other in (ref, sample):
        j = fused.select("doc_id", "cum_tokens").join(
            other.select("doc_id", F.col("cum_tokens").alias("c2")),
            "doc_id")
        assert fused.count() == other.count() == j.count()
        assert j.filter(F.col("cum_tokens") != F.col("c2")).count() == 0
    # contiguous layout per domain + exact span arithmetic
    by_domain = {}
    for r in fused.collect():
        by_domain.setdefault(r["source"], []).append(r)
    for src, rows in by_domain.items():
        rows.sort(key=lambda r: r["cum_tokens"])
        offset = 0
        for r in rows:
            assert r["start_offset"] == offset, src
            assert r["first_pack"] == offset // 512
            assert r["last_pack"] == (offset + r["n_tokens"] - 1) // 512
            assert r["n_packs_spanned"] == (
                r["last_pack"] - r["first_pack"] + 1)
            offset += r["n_tokens"]


def test_pack_token_budget_no_domain_funnel(spark, sf_dir):
    """Plan contract for the fused packer and for the range path of the
    prefix sum it rides on: the data-bearing window is partitioned by
    the slice id (never by domain alone — a dominant domain must not
    become one task)."""
    from conftest import load
    from puffbird_spark.operators.packing import pack_token_budget
    from puffbird_spark.operators.splits import grouped_prefix_sum

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars")
    outs = [
        pack_token_budget(
            docs, "doc_id", "source", "n_chars", {"src0": 4000},
            seq_len=512, default_budget=1500),
        grouped_prefix_sum(
            docs, ["source"], ["doc_id"], "n_chars", "cum_tokens"),
    ]
    for out in outs:
        phys = out._jdf.queryExecution().executedPlan().toString()
        data_windows = [ln for ln in phys.splitlines()
                        if "Window" in ln and "__pb_local" in ln]
        assert data_windows, phys
        assert all("__pb_pid" in ln for ln in data_windows), phys


def test_contamination_counts(spark):
    train = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w v"), (3, "a b c x q")],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(100, "a b c d")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           contamination(train, ev, n=3).collect()}
    # eval grams: {a b c, b c d}; doc1 has both of its 3 grams' overlap=2/3
    assert out[1]["n_contaminated"] == 2
    assert out[1]["n_grams"] == 3
    assert abs(out[1]["contamination"] - round(2 / 3, 6)) < 1e-9
    # doc2 shares nothing and must be absent (map-side filtered)
    assert 2 not in out
    # doc3 shares only "a b c"
    assert out[3]["n_contaminated"] == 1


def test_chunk_windows_cover_and_overlap(spark):
    df = spark.createDataFrame(
        [(1, " ".join(str(i) for i in range(10)))], ["doc_id", "text"])
    rows = (
        df.select(F.explode(chunk_windows(tokens("text"), width=4,
                                          stride=3)).alias("c"))
        .select("c.*").collect()
    )
    chunks = [r["chunk"] for r in sorted(rows, key=lambda r: r["chunk_id"])]
    assert chunks[0] == "0 1 2 3"
    assert chunks[1] == "3 4 5 6"          # stride 3 overlaps 1 token
    assert chunks[-1] == "9"               # tail window is short
    assert [r["chunk_tokens"] for r in rows] == [4, 4, 4, 1]
