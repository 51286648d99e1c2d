"""Operator tests: as-of join, dedup family, similarity search, multimodal
plumbing — semantics asserted against hand-computed or brute-force truth."""

import pytest
from pyspark.sql import functions as F

from puffbird_spark.operators.asof import asof_join
from puffbird_spark.operators import dedup as DD
from puffbird_spark.operators.multimodal import (
    DECODED_SCHEMA, decode_features, with_media_meta,
)
from puffbird_spark.operators.similarity import (
    cosine_topk, ivf_topk, lsh_bucket_topk,
)


# ------------------------------------------------------------------ #
# as-of join
# ------------------------------------------------------------------ #

def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [(1, 10, "L10"), (1, 5, "L5"), (2, 7, "L7")], ["k", "lts", "lval"]
    )
    right = spark.createDataFrame(
        [(1, 4, "R4"), (1, 9, "R9"), (1, 11, "R11"), (3, 1, "R1")],
        ["k", "rts", "rval"],
    )
    out = asof_join(left, right, on=["k"], left_ts="lts", right_ts="rts")
    got = {r["lval"]: (r["rts"], r["rval"]) for r in out.collect()}
    assert got == {
        "L10": (9, "R9"),   # latest <= 10
        "L5": (4, "R4"),
        "L7": (None, None),  # key 2 has no rights: left-join NULLs
    }


def test_asof_join_null_keys_never_match(spark):
    """SQL equi-join key semantics, the convention the DuckDB ``ASOF
    LEFT JOIN ON l.k = r.k`` oracle declares: a NULL key matches
    NOTHING. The union+window plan would otherwise group NULL keys into
    one partition and match them (window partitioning treats NULL as a
    value) — a silent divergence from the join formulation on data the
    gates never produce."""
    left = spark.createDataFrame(
        [(None, 15, "Lnull"), ("k", 10, "L10")],
        "k string, lts long, lval string")
    right = spark.createDataFrame(
        [(None, 12, "Rnull"), ("k", 9, "R9")],
        "k string, rts long, rval string")
    out = asof_join(left, right, on=["k"], left_ts="lts", right_ts="rts")
    got = {r["lval"]: (r["rts"], r["rval"]) for r in out.collect()}
    assert got == {
        "Lnull": (None, None),  # NULL key: unmatched, NOT paired w/ Rnull
        "L10": (9, "R9"),
    }


def test_asof_join_inclusive_and_strict(spark):
    left = spark.createDataFrame([(1, 10, "L")], ["k", "lts", "lval"])
    right = spark.createDataFrame([(1, 10, "Req")], ["k", "rts", "rval"])
    inc = asof_join(left, right, on=["k"], left_ts="lts", right_ts="rts")
    assert inc.collect()[0]["rval"] == "Req"  # <= matches same instant
    strict = asof_join(left, right, on=["k"], left_ts="lts", right_ts="rts",
                       strict=True)
    assert strict.collect()[0]["rval"] is None  # < does not


# ------------------------------------------------------------------ #
# dedup family
# ------------------------------------------------------------------ #

@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the quick brown fox jumps over the sleepy dog"),        # near dup
        (3, "completely different words appear in this one here"),
        (4, "another unrelated document with its own content text"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(dup_docs):
    out = DD.exact_dedup(dup_docs, "text", "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 2, 3, 4]
    groups = DD.exact_dedup_groups(dup_docs, "text", "doc_id")
    dup_group = [r for r in groups.collect() if r["n_dups"] == 2]
    assert len(dup_group) == 1 and dup_group[0]["keep_id"] == 0


def test_jaccard_pairs(dup_docs):
    out = DD.jaccard_pairs(dup_docs, "text", "doc_id", threshold=0.4, n=3)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert got[(0, 1)] == 1.0          # exact dup
    assert (0, 2) in got and 0.4 <= got[(0, 2)] < 1.0
    assert all(a != 3 and b != 3 for a, b in got)  # unrelated doc stays out


def test_minhash_lsh_finds_exact_and_near_dups(dup_docs):
    # r=1 banding (bands=num_hashes): candidate probability for a
    # jaccard-0.4 pair is 1-(1-0.4)^32 ≈ 1, so the assertion is not
    # seed-dependent; production configs trade recall for fewer candidates
    pairs = DD.minhash_candidate_pairs(
        dup_docs, "text", "doc_id", num_hashes=32, bands=32, n=3
    )
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert got.get((0, 1)) == 1.0
    assert (0, 2) in got and 0.1 <= got[(0, 2)] <= 0.8
    assert (3, 4) not in got  # unrelated docs share no shingle


def test_minhash_md5_hasher_matches_xxhash_semantics(dup_docs):
    """The md5 hasher changes the hash primitive, not the semantics:
    exact dups still estimate 1.0, near dups land in (0,1), unrelated
    docs never pair. Invalid hasher names fail loudly."""
    pairs = DD.minhash_candidate_pairs(
        dup_docs, "text", "doc_id", num_hashes=16, bands=16, n=3,
        hasher="md5",
    )
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert got.get((0, 1)) == 1.0
    assert (0, 2) in got and 0.0 < got[(0, 2)] < 1.0
    assert (3, 4) not in got
    with pytest.raises(ValueError, match="hasher"):
        DD.shingle_hashes(F.col("x"), hasher="sha9000")


def test_char_jaccard_pairs(dup_docs):
    """Char-5-gram kind: exact dup = 1.0; short-text edge yields empty
    shingles (no crash, no pair)."""
    out = DD.jaccard_pairs(dup_docs, "text", "doc_id", threshold=0.5,
                           n=5, kind="char")
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert got[(0, 1)] == 1.0
    assert (0, 2) in got
    with pytest.raises(ValueError, match="kind"):
        DD.jaccard_pairs(dup_docs, "text", "doc_id", kind="byte")


def test_char_shingles_short_text(spark):
    from puffbird_spark.functions.text import char_shingles

    df = spark.createDataFrame([("abc",), ("abcdef",)], ["t"])
    got = {r["t"]: r["sh"] for r in
           df.select("t", char_shingles("t", n=5).alias("sh")).collect()}
    assert got["abc"] == []
    assert got["abcdef"] == ["abcde", "bcdef"]


def test_simhash_pairs(dup_docs):
    out = DD.simhash_pairs(dup_docs, "text", "doc_id", max_hamming=10)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert got.get((0, 1)) == 0        # identical docs: identical simhash
    assert (3, 4) not in got           # unrelated docs: far apart


# ------------------------------------------------------------------ #
# similarity search
# ------------------------------------------------------------------ #

def test_cosine_topk_exact(spark):
    import math
    vecs = {
        0: [1.0, 0.0], 1: [0.9, 0.1], 2: [0.0, 1.0], 3: [-1.0, 0.0],
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], ["vec_id", "embedding"]
    )
    out = cosine_topk(df, df.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(out.collect(), key=lambda r: -r["cosine"])
    assert [r["cand_id"] for r in rows] == [1, 2]
    expected = 0.9 / math.sqrt(0.9 ** 2 + 0.1 ** 2)
    assert abs(rows[0]["cosine"] - round(expected, 6)) < 1e-9


def test_lsh_banding_config():
    for t in (0.2, 0.5, 0.8):
        b, r = DD.lsh_banding_config(t, num_hashes=32)
        assert b * r == 32 and b >= 1 and r >= 1
    # higher threshold → steeper curve further right → more rows per band
    _, r_lo = DD.lsh_banding_config(0.2, num_hashes=128)
    _, r_hi = DD.lsh_banding_config(0.9, num_hashes=128)
    assert r_hi > r_lo
    # the S-curve midpoint (1/b)^(1/r) should land near the threshold
    b, r = DD.lsh_banding_config(0.5, num_hashes=128)
    assert abs((1.0 / b) ** (1.0 / r) - 0.5) < 0.25
    with pytest.raises(ValueError):
        DD.lsh_banding_config(1.5)


def test_minhash_threshold_matches_explicit_bands(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    b, _ = DD.lsh_banding_config(0.5, num_hashes=32)
    via_threshold = DD.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=32, threshold=0.5
    )
    explicit = DD.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=32, bands=b
    )
    assert sorted(map(tuple, via_threshold.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_lsh_directed_probes_recall(spark, sf_dir):
    """Query-directed probing: 4 extra buckets should recover at least the
    recall of the full Hamming-1 sweep's floor, and every hit must carry
    the exact brute-force cosine."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, q, k=5)
    e = {(r["query_id"], r["cand_id"]) for r in exact.collect()}

    def recall(df):
        a = {(r["query_id"], r["cand_id"]) for r in df.collect()}
        return len(e & a) / len(e)

    primary = recall(lsh_bucket_topk(emb, q, dim=64, k=5, planes=4, probes=0))
    directed = recall(lsh_bucket_topk(
        emb, q, dim=64, k=5, planes=4, directed_probes=4))
    assert directed >= primary
    assert directed >= 0.3
    # directed with every 1+2-bit flip covers a superset of Hamming-1
    all_flips = recall(lsh_bucket_topk(
        emb, q, dim=64, k=5, planes=4, directed_probes=10))
    hamming1 = recall(lsh_bucket_topk(
        emb, q, dim=64, k=5, planes=4, probes=1))
    assert all_flips >= hamming1


def test_lsh_default_is_directed_multiprobe(spark, sf_dir):
    """With neither probe knob set, the operator sizes directed probing
    from target_scan_fraction (default 0.5 — r7 flip, VERDICT r6 #6):
    ceil(0.5 * 2^planes) - 1 probes, capped by the 1-3 bit flip-mask
    budget — bit-equal to passing that count explicitly."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    # planes=4: ceil(0.5*16)-1 = 7 probes, under the budget (14)
    default = lsh_bucket_topk(emb, q, dim=64, k=5, planes=4)
    explicit = lsh_bucket_topk(
        emb, q, dim=64, k=5, planes=4, directed_probes=7)
    assert sorted(map(tuple, default.collect())) == sorted(
        map(tuple, explicit.collect()))


def test_lsh_scan_fraction_capped_by_mask_budget(spark, sf_dir):
    """A fraction deeper than the 1-3 bit flip budget clamps to the
    budget instead of fabricating masks; bad fractions are rejected."""
    from puffbird_spark.operators.similarity import directed_mask_budget

    assert directed_mask_budget(4) == 4 + 6 + 4
    assert directed_mask_budget(6) == 6 + 15 + 20
    assert directed_mask_budget(2) == 2 + 1  # no 3-subsets of 2 planes
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    clamped = lsh_bucket_topk(
        emb, q, dim=64, k=5, planes=4, target_scan_fraction=1.0)
    explicit = lsh_bucket_topk(
        emb, q, dim=64, k=5, planes=4, directed_probes=14)
    assert sorted(map(tuple, clamped.collect())) == sorted(
        map(tuple, explicit.collect()))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="target_scan_fraction"):
        lsh_bucket_topk(emb, q, dim=64, k=5, planes=4,
                        target_scan_fraction=0.0)


def test_ivf_full_probe_is_exact(spark, sf_dir):
    """nprobe == n_centroids scans every cell — must equal brute force
    exactly (same rounded cosines, same tie-breaks)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, q, k=5)
    full = ivf_topk(emb, q, dim=64, k=5, n_centroids=8, nprobe=8,
                    sample_size=256)
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, full.collect()))


def test_ivf_partial_probe_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    e = {(r["query_id"], r["cand_id"])
         for r in cosine_topk(emb, q, k=5).collect()}

    def recall(nprobe):
        got = ivf_topk(emb, q, dim=64, k=5, n_centroids=8, nprobe=nprobe,
                       sample_size=256)
        a = {(r["query_id"], r["cand_id"]) for r in got.collect()}
        return len(e & a) / len(e)

    r2, r8 = recall(2), recall(8)
    assert 0.0 < r2 <= r8 == 1.0
    # determinism: same seed, same result
    one = ivf_topk(emb, q, dim=64, k=5, n_centroids=8, nprobe=2,
                   sample_size=256)
    two = ivf_topk(emb, q, dim=64, k=5, n_centroids=8, nprobe=2,
                   sample_size=256)
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, two.collect()))


def test_lsh_recall_against_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, q, k=5)
    approx = lsh_bucket_topk(emb, q, dim=64, k=5, planes=4, probes=1)
    e = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["cand_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3  # 4 planes + Hamming-1 multiprobe
    # every LSH hit must carry the same (rounded) cosine as brute force
    exact_cos = {(r["query_id"], r["cand_id"]): r["cosine"]
                 for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["cand_id"])
        if key in exact_cos:
            assert exact_cos[key] == r["cosine"]


# ------------------------------------------------------------------ #
# multimodal plumbing
# ------------------------------------------------------------------ #

def test_multimodal_decode_pipeline(spark):
    rows = [("f1.bin", bytearray(b"hello world")),
            ("f2.bin", bytearray(b"")),
            ("f3.bin", bytearray(bytes(range(256))))]
    df = spark.createDataFrame(rows, ["path", "content"])
    tagged = with_media_meta(df, media_type="image", fmt="bin")
    meta = {r["path"]: r["meta"] for r in tagged.collect()}
    assert meta["f1.bin"]["size_bytes"] == 11
    assert meta["f1.bin"]["media_type"] == "image"

    out = decode_features(df, dim=8)
    assert out.schema == DECODED_SCHEMA
    got = {r["path"]: r for r in out.collect()}
    assert got["f1.bin"]["size_bytes"] == 11
    assert len(got["f1.bin"]["feature"]) == 8
    assert got["f2.bin"]["feature"] == [0.0] * 8
    assert abs(sum(got["f3.bin"]["feature"]) - 1.0) < 1e-3
    # deterministic: same blob -> same digest/feature on re-run
    again = {r["path"]: r for r in decode_features(df, dim=8).collect()}
    assert again["f3.bin"]["digest"] == got["f3.bin"]["digest"]
    assert again["f3.bin"]["feature"] == got["f3.bin"]["feature"]


def test_binary_file_source_end_to_end(spark, tmp_path_factory):
    """read_binary_dir -> with_media_meta -> decode_features over real
    files on disk (the actual multimodal ingest path)."""
    import os
    from puffbird_spark.operators.multimodal import read_binary_dir

    d = tmp_path_factory.mktemp("blobs")
    (d / "img1.bin").write_bytes(b"\x89PNGfakebytes" * 10)
    (d / "img2.bin").write_bytes(bytes(range(128)))
    (d / "skip.txt").write_text("not a blob")

    df = read_binary_dir(spark, str(d), glob="*.bin")
    assert df.count() == 2
    assert {"path", "content", "length"} <= set(df.columns)
    tagged = with_media_meta(df, media_type="image", fmt="bin")
    feats = decode_features(tagged, dim=8)
    got = {os.path.basename(r["path"]): r for r in feats.collect()}
    assert set(got) == {"img1.bin", "img2.bin"}
    assert got["img1.bin"]["size_bytes"] == 130
    assert len(got["img2.bin"]["feature"]) == 8


def test_hypertable_rollup_single_pass(spark, sf_dir):
    """Multi-granularity rollup: values equal per-granularity groupBys,
    and the plan has exactly one shuffle for N granularities."""
    from puffbird_spark import plans as P
    from puffbird_spark.operators.rollup_time import hypertable_rollup
    from puffbird_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    out = hypertable_rollup(
        ev, "ts", ["event_type"],
        aggs={"n": F.count(F.lit(1))},
        granularities=["hour", "day"],
    )
    assert P.count_exchanges(out) == 1
    got = {(r["granularity"], r["bucket_start"], r["event_type"]): r["n"]
           for r in out.collect()}
    for g in ("hour", "day"):
        expected = {
            (g, r["b"], r["event_type"]): r["n"]
            for r in ev.groupBy(F.date_trunc(g, "ts").alias("b"), "event_type")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        subset = {k: v for k, v in got.items() if k[0] == g}
        assert subset == expected


def test_count_min_sketch(spark, sf_dir):
    """Native CMS (operators/sketch.py): estimates never undercount and
    overcount by at most ~eps*N (one-sided error)."""
    from puffbird_spark.operators.sketch import cms_estimate, count_min_sketch

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_returnflag")
    sketch = count_min_sketch(li, "l_returnflag", width=2048, depth=5)
    est = {r["l_returnflag"]: r["estimate"] for r in
           cms_estimate(sketch, li, "l_returnflag",
                        width=2048, depth=5).collect()}
    true_counts = {r["l_returnflag"]: r["n"] for r in
                   li.groupBy("l_returnflag").agg(
                       F.count(F.lit(1)).alias("n")).collect()}
    total = sum(true_counts.values())
    for flag, n in true_counts.items():
        assert n <= est[flag] <= n + 0.01 * total
    # absent value estimates ~0 (collision mass only)
    absent = spark.createDataFrame([("ZZZ",)], ["l_returnflag"])
    ae = cms_estimate(sketch, absent, "l_returnflag",
                      width=2048, depth=5).collect()[0]["estimate"]
    assert ae <= 0.01 * total


# ------------------------------------------------------------------ #
# round-2 defect fixes (ADVICE r1)
# ------------------------------------------------------------------ #

def test_simhash_radius_complete_vs_brute_force(spark, sf_dir):
    """Segment count derives from max_hamming (pigeonhole): the bucketed
    candidate pairs must contain EVERY pair within the radius. Brute-force
    all signature pairs in Python and compare exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    sigs = docs.select(
        F.col("doc_id").alias("id"),
        DD.simhash(DD.tokens("text")).alias("sh"),
    ).collect()
    by_id = {r["id"]: r["sh"] for r in sigs}
    ids = sorted(by_id)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin((by_id[a] ^ by_id[b]) & ((1 << 64) - 1)).count("1")
            if d <= 6:
                want[(a, b)] = d
    out = DD.simhash_pairs(docs, "text", "doc_id", max_hamming=6)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    got = {(min(a, b), max(a, b)): h for (a, b), h in got.items()}
    assert got == want


def test_simhash_max_hamming_validated(dup_docs):
    with pytest.raises(ValueError, match="max_hamming"):
        DD.simhash_pairs(dup_docs, "text", "doc_id", max_hamming=64)


def test_lsh_full_radius_probe_equals_exact(spark, sf_dir):
    """probes=planes sweeps every bucket (all masks up to Hamming 8 over an
    8-bit code) — the candidate set is the whole corpus, so the result must
    equal brute-force cosine_topk exactly. Fails if probes>1 silently
    behaved like probes=1 (the r1 defect)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(120)
    queries = emb.limit(8)
    exact = cosine_topk(emb, queries, k=3)
    full = lsh_bucket_topk(emb, queries, dim=64, k=3, planes=8, probes=8)
    key = lambda df: sorted(
        (r["query_id"], r["cand_id"], r["cosine"]) for r in df.collect()
    )
    assert key(full) == key(exact)


def test_replicated_join_rejects_outer(spark):
    from puffbird_spark.operators.skew import replicated_join

    fact = spark.createDataFrame([(1, "a")], ["k", "v"])
    dim = spark.createDataFrame([(1, "d")], ["k", "d"])
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="inner.*left"):
            replicated_join(fact, dim, ["k"], salt_buckets=4, how=how)
    assert replicated_join(fact, dim, ["k"], salt_buckets=4).count() == 1


def test_asof_tiebreak_string_and_invalid(spark):
    """Tiebreak keeps its native type: a string tiebreak resolves same-ts
    rows deterministically (largest wins) instead of silently becoming
    NULL; a non-orderable tiebreak raises."""
    from puffbird_spark.errors import PuffbirdSparkError

    left = spark.createDataFrame([(1, 10)], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, 10, "a", 1.0), (1, 10, "b", 2.0)], ["k", "rts", "tag", "val"]
    )
    out = asof_join(left, right, ["k"], "ts", "rts", tiebreak="tag")
    assert out.collect()[0]["val"] == 2.0  # 'b' > 'a': largest tiebreak wins

    bad = right.withColumn("tag", F.array(F.lit(1)))
    with pytest.raises(PuffbirdSparkError, match="non-orderable"):
        asof_join(left, bad, ["k"], "ts", "rts", tiebreak="tag")


# ------------------------------------------------------------------ #
# sessionization (gaps-and-islands)
# ------------------------------------------------------------------ #

def test_sessionize_gaps_and_islands(spark):
    import datetime as dt

    from puffbird_spark.operators.sessionize import session_stats, sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: two sessions (gap of 20 min between event 2 and 3)
        (1, 1, t0),
        (2, 1, t0 + dt.timedelta(minutes=5)),
        (3, 1, t0 + dt.timedelta(minutes=25, seconds=1)),
        # user 2: one session, same-ts tie resolved by event_id
        (4, 2, t0),
        (5, 2, t0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    out = sessionize(df, "ts", ["user_id"], 900, ["event_id"])
    got = {r["event_id"]: r["session_seq"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1, 5: 1}

    stats = session_stats(df, "ts", ["user_id"], 900, ["event_id"])
    by_key = {(r["user_id"], r["session_seq"]): r for r in stats.collect()}
    s11 = by_key[(1, 1)]
    assert s11["n_events"] == 2 and s11["duration_sec"] == 300
    assert s11["session_end"] == t0 + dt.timedelta(minutes=20)
    assert by_key[(1, 2)]["n_events"] == 1
    assert by_key[(2, 1)]["n_events"] == 2


def test_sessionize_single_shuffle_plan(spark, sf_dir):
    """The one-shuffle claim: both window passes and the stats groupBy
    share one Exchange on the session keys."""
    from puffbird_spark.operators.sessionize import session_stats
    from puffbird_spark.plans import count_exchanges
    from puffbird_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    st = session_stats(ev, "ts", ["user_id"], 900, ["event_id"])
    assert count_exchanges(st) == 1


# ------------------------------------------------------------------ #
# connected components / cluster resolution
# ------------------------------------------------------------------ #

def test_connected_components_shapes(spark):
    """Chain (forces multiple propagation rounds), triangle, and a lone
    pair resolve to min-id components."""
    from puffbird_spark.operators.graph import connected_components, dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),  # triangle
         (20, 21)],                   # pair
        ["id_a", "id_b"],
    )
    got = {r["vertex"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    cl = dedup_clusters(pairs)
    canon = {r["doc_id"] for r in cl.collect() if r["is_canonical"]}
    assert canon == {1, 10, 20}


def test_merge_upsert_semantics(spark):
    from puffbird_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["k", "name", "val"],
    )
    updates = spark.createDataFrame(
        [(2, 99.0, False),   # matched-update
         (3, None, True),    # matched-delete
         (4, 40.0, False)],  # insert (name absent -> NULL)
        "k long, val double, is_del boolean",
    )
    out = {r["k"]: (r["name"], r["val"])
           for r in merge_upsert(target, updates, ["k"],
                                 delete_col="is_del").collect()}
    assert out == {1: ("a", 10.0), 2: ("b", 99.0), 4: (None, 40.0)}

    with pytest.raises(ValueError, match="widen"):
        merge_upsert(target, updates.withColumnRenamed("val", "other"),
                     ["k"], delete_col="is_del")


def test_z_value_matches_python_reference(spark):
    from puffbird_spark.operators.layout import z_value, zorder_repartition

    rows = [(0, 0), (1, 0), (0, 1), (255, 255), (170, 85), (3, 200)]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = {(r["a"], r["b"]): r["z"] for r in
           df.select("a", "b", z_value(["a", "b"], bits=8).alias("z")).collect()}

    def ref(a, b):
        z = 0
        for i in range(8):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    assert got == {(a, b): ref(a, b) for a, b in rows}
    with pytest.raises(ValueError, match="at least 2"):
        z_value(["a"])
    with pytest.raises(ValueError, match="signed long"):
        z_value(["a", "b"], bits=32)

    # clustering: range partitioning on z keeps both columns local
    out = zorder_repartition(df, ["a", "b"], bits=8, num_partitions=2)
    assert sorted(map(tuple, out.collect())) == sorted(rows)


def test_merge_modes_agree_and_empty_updates(spark):
    """Broadcast (two-pass) and full-outer merge modes must be
    semantically identical; an empty update batch is the identity."""
    from puffbird_spark.operators.merge import merge_upsert

    t = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    u = spark.createDataFrame(
        [(2, "z", False), (3, "n", False), (1, None, True)],
        "k long, v string, is_del boolean",
    )
    fast = sorted(map(tuple, merge_upsert(t, u, ["k"],
                                          delete_col="is_del").collect()))
    slow = sorted(map(tuple, merge_upsert(
        t, u, ["k"], delete_col="is_del", broadcast_updates=False
    ).collect()))
    assert fast == slow == [(2, "z"), (3, "n")]

    empty = spark.createDataFrame([], "k long, v string, is_del boolean")
    assert sorted(map(tuple, merge_upsert(
        t, empty, ["k"], delete_col="is_del").collect())) == \
        [(1, "a"), (2, "b")]


def test_connected_components_long_chain_converges(spark):
    """ADVICE r2: a path graph much longer than max_iter must still
    converge (path-halving makes rounds O(log diameter)), and a genuinely
    exhausted budget must WARN instead of silently splitting the
    component."""
    import warnings as w

    from puffbird_spark.operators.graph import connected_components

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        comp = {r["vertex"]: r["component"]
                for r in connected_components(pairs, max_iter=10).collect()}
    assert not [c for c in caught if "no fixpoint" in str(c.message)]
    assert comp == {i: 0 for i in range(n)}

    with pytest.warns(RuntimeWarning, match="no fixpoint"):
        connected_components(pairs, max_iter=2).collect()


def test_merge_duplicate_and_null_update_keys(spark):
    """ADVICE r2: duplicate update keys must not silently fan out target
    rows. Default mode raises (SQL MERGE's multiple-source-match error);
    last_wins reduces deterministically by version; NULL source keys
    never match and insert — in BOTH join modes."""
    from puffbird_spark.operators.merge import merge_upsert

    t = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    dup = spark.createDataFrame(
        [(2, "first", 1), (2, "second", 2), (3, "n", 1)],
        "k long, v string, ver long",
    )
    with pytest.raises(ValueError, match="duplicate key"):
        merge_upsert(t, dup.drop("ver"), ["k"])
    for bcast in (True, False):
        got = sorted(map(tuple, merge_upsert(
            t, dup, ["k"], broadcast_updates=bcast,
            on_duplicate="last_wins", version_col="ver",
        ).collect()))
        assert got == [(1, "a"), (2, "second"), (3, "n")]
    # equal versions: deterministic tie-break on remaining columns desc
    tie = spark.createDataFrame(
        [(2, "x", 1), (2, "y", 1)], "k long, v string, ver long")
    got = sorted(map(tuple, merge_upsert(
        t, tie, ["k"], on_duplicate="last_wins", version_col="ver",
    ).collect()))
    assert got == [(1, "a"), (2, "y")]
    with pytest.raises(ValueError, match="version_col"):
        merge_upsert(t, tie, ["k"], on_duplicate="last_wins")
    # NULL update key: never matches, inserts (SQL MERGE NOT MATCHED)
    nullkey = spark.createDataFrame([(None, "z")], "k long, v string")
    for bcast in (True, False):
        got = sorted(map(tuple, merge_upsert(
            t, nullkey, ["k"], broadcast_updates=bcast,
        ).collect()), key=str)
        assert got == [(1, "a"), (2, "b"), (None, "z")]


def test_connected_components_empty_input(spark):
    from puffbird_spark.operators.graph import connected_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0


def _union_find_components(edges):
    """Reference labels: {(vertex, min vertex of its component)} from a
    plain Python union-find over the same edge list."""
    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(v, find(v)) for v in list(parent)}


def test_minlabel_cc_matches_union_find_on_shapes(spark):
    """Min-label must label chain, triangle, lone pair, and a 33-vertex
    path (many propagation rounds) with each component's minimum."""
    from puffbird_spark.operators.graph import connected_components

    edges = ([(1, 2), (2, 3), (3, 4),
              (10, 11), (11, 12), (10, 12),
              (20, 21)] + [(100 + i, 101 + i) for i in range(32)])
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {(r["vertex"], r["component"])
           for r in connected_components(pairs).collect()}
    assert got == _union_find_components(edges)


def test_minlabel_cc_matches_union_find_random_graphs(spark):
    """Differential: seeded random graphs (sparse, duplicate edges, both
    orientations) — min-label must produce the exact (vertex, component)
    set of a Python union-find."""
    import random

    from puffbird_spark.operators.graph import connected_components

    for seed, n, m in [(7, 60, 45), (11, 80, 120), (13, 50, 200)]:
        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {(r["vertex"], r["component"])
               for r in connected_components(pairs).collect()}
        assert got == _union_find_components(edges), f"seed={seed}"


def test_incremental_dedup_replays_to_full_dedup(spark, sf_dir):
    """Feeding id-ordered batches through incremental_dedup (appending
    each accepted batch's digests to the state) must reproduce exactly
    the survivor set of one-shot exact_dedup over the whole corpus."""
    from puffbird_spark.operators.dedup import exact_dedup, incremental_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    full = {r["doc_id"] for r in
            exact_dedup(docs, "text", "doc_id").select("doc_id").collect()}
    edges = [0, 150, 300, 10**9]
    state = spark.createDataFrame([], "digest string")
    kept = set()
    for lo, hi in zip(edges, edges[1:]):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        out = incremental_dedup(batch, state, "text", "doc_id")
        kept |= {r["doc_id"] for r in out.select("doc_id").collect()}
        state = state.unionByName(out.select("digest")).distinct()\
            .localCheckpoint(eager=True)
    assert kept == full


def test_incremental_dedup_null_text(spark):
    """NULL-text rows share the NULL digest group: exactly ONE survivor
    corpus-wide under batch replay, matching one-shot exact_dedup
    (ADVICE r5 medium — a plain-equality join dropped or re-admitted
    NULL-text rows)."""
    from puffbird_spark.operators.dedup import exact_dedup, incremental_dedup

    rows = [(1, "a"), (2, None), (3, "a"), (4, None), (5, "b"), (6, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = {r["doc_id"] for r in
            exact_dedup(docs, "text", "doc_id").select("doc_id").collect()}
    assert full == {1, 2, 5}
    state = spark.createDataFrame([], "digest string")
    kept = set()
    for lo, hi in ((1, 4), (4, 7)):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        out = incremental_dedup(batch, state, "text", "doc_id")
        kept |= {r["doc_id"] for r in out.select("doc_id").collect()}
        state = state.unionByName(out.select("digest")).distinct() \
            .localCheckpoint(eager=True)
    assert kept == full


def test_top_k_frequent_matches_exact(spark, sf_dir):
    """Misra-Gries candidates + exact recount must equal the plain
    exact groupBy top-k — at the default capacity AND at a small
    capacity that still satisfies the pigeonhole guarantee on this
    corpus — with guarantee_ok true."""
    from puffbird_spark.functions.text import tokens
    from puffbird_spark.operators.sketch import top_k_frequent

    toks = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.explode(tokens("text")).alias("token"))
    expected = [(r["token"], r["n"]) for r in
                toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("n"), F.asc("token")).limit(10).collect()]
    for cap in (4096, 256):
        got = top_k_frequent(toks, "token", k=10, capacity=cap).collect()
        assert [(r["item"], r["n_occurrences"]) for r in got] == expected
        assert all(r["guarantee_ok"] for r in got), cap


def test_top_k_frequent_guarantee_audit_flips(spark):
    """When capacity is too small for the corpus (kth count <= N/cap),
    the result must SAY so: guarantee_ok false, never a silently
    wrong-but-confident answer."""
    from puffbird_spark.operators.sketch import top_k_frequent

    # 400 distinct singletons: kth count 1, N=400, capacity 16 -> 16 <= 400
    df = spark.range(400).select(F.concat(F.lit("tok"), "id").alias("t"))
    got = top_k_frequent(df, "t", k=5, capacity=16).collect()
    assert got and not any(r["guarantee_ok"] for r in got)


def test_mg_summary_superset_property():
    """Pure-kernel check: every item with count > n/capacity survives the
    per-partition fold regardless of arrival order (the pigeonhole basis
    of the distributed guarantee)."""
    import random

    import pandas as pd

    from puffbird_spark.operators.sketch import _mg_summaries

    rng = random.Random(3)
    heavy = ["h1"] * 300 + ["h2"] * 200
    noise = [f"n{i}" for i in range(500)]
    stream = heavy + noise
    rng.shuffle(stream)
    # feed in uneven batches, as mapInPandas would
    batches, i = [], 0
    while i < len(stream):
        step = rng.randint(1, 97)
        batches.append(pd.DataFrame({"item": stream[i:i + step]}))
        i += step
    out = list(_mg_summaries(capacity=8)(iter(batches)))[0]
    kept = set(out["item"])
    assert len(kept) <= 8
    # n=1000, capacity 8 -> anything over 125 occurrences must survive
    assert {"h1", "h2"} <= kept


def test_parse_image_header_formats():
    """Real pure-Python header decode across the four container formats."""
    import struct
    from puffbird_spark.operators.multimodal import (
        encode_png, parse_image_header,
    )

    assert parse_image_header(encode_png(17, 9)) == ("png", 17, 9)
    assert parse_image_header(encode_png(1, 1, seed=7)) == ("png", 1, 1)

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 8
    assert parse_image_header(gif) == ("gif", 320, 200)

    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 640, -480) + b"\x00" * 8
    assert parse_image_header(bmp) == ("bmp", 640, 480)  # top-down abs()

    # minimal JPEG: SOI, APP0 skip segment, SOF0 with height=240 width=360
    jpeg = (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"
            + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 240, 360) + b"\x03\x00\x00\x00")
    assert parse_image_header(jpeg) == ("jpeg", 360, 240)

    assert parse_image_header(None) == (None, None, None)
    assert parse_image_header(b"") == (None, None, None)
    assert parse_image_header(b"\x89PNG\r\n\x1a") == (None, None, None)
    assert parse_image_header(b"garbage bytes here") == (None, None, None)


def test_png_encode_is_standards_valid():
    """The fixture PNG is a real PNG: signature, CRC-correct chunks, and
    the IDAT inflates to exactly height*(1+width) filtered scanlines."""
    import struct
    import zlib
    from puffbird_spark.operators.multimodal import encode_png

    blob = encode_png(5, 3, seed=42)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    pos, chunks = 8, []
    while pos < len(blob):
        (length,) = struct.unpack(">I", blob[pos:pos + 4])
        tag = blob[pos + 4:pos + 8]
        payload = blob[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", blob[pos + 8 + length:pos + 12 + length])
        assert crc == zlib.crc32(tag + payload) & 0xFFFFFFFF
        chunks.append((tag, payload))
        pos += 12 + length
    assert [t for t, _ in chunks] == [b"IHDR", b"IDAT", b"IEND"]
    raw = zlib.decompress(chunks[1][1])
    assert len(raw) == 3 * (1 + 5)
    # deterministic given (w, h, seed)
    assert blob == encode_png(5, 3, seed=42)
    assert blob != encode_png(5, 3, seed=43)


def test_decode_features_real_headers(spark):
    """The mapInPandas decode stage recovers true PNG dimensions."""
    from puffbird_spark.operators.multimodal import (
        decode_features, encode_png,
    )

    rows = [("a.png", bytearray(encode_png(12, 7))),
            ("b.png", bytearray(encode_png(3, 30))),
            ("c.bin", bytearray(b"not an image"))]
    df = spark.createDataFrame(rows, ["path", "content"])
    got = {r["path"]: r for r in decode_features(df).collect()}
    assert (got["a.png"]["format"], got["a.png"]["width"],
            got["a.png"]["height"]) == ("png", 12, 7)
    assert (got["b.png"]["width"], got["b.png"]["height"]) == (3, 30)
    assert got["c.bin"]["format"] is None
    assert got["c.bin"]["width"] is None


def test_binned_range_join_matches_naive(spark):
    """Differential: binned result == naive theta-join result, across bin
    widths (including widths much smaller/larger than the intervals) and
    intervals that span many bins, touch bin edges, or are degenerate."""
    from pyspark.sql import functions as F

    from puffbird_spark.operators.rangejoin import binned_range_join

    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(
            [-250, -100, -1, 0, 1, 49, 50, 99, 100, 101, 250, 999])],
        ["pid", "v"],
    )
    iv = spark.createDataFrame(
        [(0, -300.0, -200.0), (1, -50.0, 50.0), (2, 0.0, 0.0),
         (3, 100.0, 100.0), (4, 90.0, 260.0), (5, 500.0, 400.0),
         (6, None, 100.0)],
        "iid long, lo double, hi double",
    )
    naive = {
        (r["pid"], r["iid"])
        for r in pts.crossJoin(iv)
        .filter((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
        .collect()
    }
    for w in (7.0, 50.0, 100.0, 1000.0):
        got = {
            (r["pid"], r["iid"])
            for r in binned_range_join(pts, iv, "v", "lo", "hi", w).collect()
        }
        assert got == naive, f"bin_width={w}"


def test_bloom_decontamination_no_false_negatives(spark):
    """Bloom guarantee: every doc sharing a gram with the eval set tests
    positive; a disjoint doc tests negative at this filter size (fp rate
    ~0 for a handful of grams in 2^10 bits)."""
    from puffbird_spark.operators.decontam import (
        bloom_contaminated, bloom_filter_words)

    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string")
    tr = spark.createDataFrame(
        [(1, "alpha beta gamma epsilon"),      # shares 'alpha beta gamma'
         (2, "zeta eta theta iota kappa"),     # disjoint
         (3, "one two three four five six")],  # disjoint
        "doc_id long, text string")
    from pyspark.sql import functions as F2
    from puffbird_spark.functions.text import shingles, tokens
    grams = ev.select(
        F2.explode(shingles(tokens("text"), 3)).alias("gram")).distinct()
    words = bloom_filter_words(grams, "gram", m_bits=1024, k=5)
    flags = {r["doc_id"]: r["bloom_hit"] for r in
             bloom_contaminated(tr, words, n=3, k=5).collect()}
    assert flags[1] is True
    assert flags[2] is False and flags[3] is False
    # the words really are signed JVM longs
    assert all(-(2**63) <= w < 2**63 for w in words)


def test_bloom_probe_plan_shapes(spark):
    """Plan contract of the HOF probe: scan-local, no Exchange at all,
    fused with the scan. (r5 profiling showed the r4 slowness was
    literal plan construction, not HOF interpretation; see
    decontam.py.)"""
    from puffbird_spark.operators.decontam import bloom_contaminated

    tr = spark.createDataFrame(
        [(1, "alpha beta gamma epsilon")], "doc_id long, text string")
    words = [0] * 16  # 1024-bit empty filter: plan shape is what matters

    hof = bloom_contaminated(tr, words, n=3, k=5)
    phys = hof._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys, phys


def test_shingles_null_text_empty_array(spark):
    """shingles(tokens(text)) NEVER yields a NULL array: size(NULL) is
    NULL so the short-doc guard falls to its otherwise(empty-array)
    branch for NULL text too (ADVICE r5)."""
    from puffbird_spark.functions.text import shingles, tokens

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b"), (4, "a b c d")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id", shingles(tokens("text"), 3).alias("sh")).collect()}
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert got[4] == ["a b c", "b c d"]


def test_bloom_probe_covers_exact_contamination(spark, sf_dir):
    """The Bloom probe flags every doc the exact ``contamination`` join
    flags (no false negatives) — on the real documents table AND on the
    edge cases the exists() semantics pin down (NULL text — tokens()
    maps it to an empty token list, so the flag is false, not NULL —
    short text with an empty shingle array, duplicated grams)."""
    from puffbird_spark.functions.text import shingles, tokens
    from puffbird_spark.operators.decontam import (
        bloom_contaminated, bloom_filter_words, contamination)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    tr = docs.filter(F.col("doc_id") % 20 != 0)
    grams = ev.select(
        F.explode(shingles(tokens("text"), 3)).alias("gram")).distinct()
    words = bloom_filter_words(grams, "gram", m_bits=1 << 14, k=5)

    edge = spark.createDataFrame(
        [(900001, None),                     # NULL text -> empty tokens
         (900002, ""),                       # empty text
         (900003, "two words"),              # < n tokens: empty shingles
         (900004, "dup dup dup dup dup")],   # one distinct gram, repeated
        "doc_id long, text string")
    probe = tr.select("doc_id", "text").unionByName(edge)

    got = {r["doc_id"]: r["bloom_hit"] for r in bloom_contaminated(
        probe, words, n=3, k=5).collect()}
    exact = {r["doc_id"] for r in contamination(
        probe, ev, n=3).collect()}
    assert exact and all(got[d] is True for d in exact)
    assert got[900001] is False
    assert got[900003] is False


def test_minhash_signature_kernel_gate_equality(
        spark, sf_dir, force_kernel):
    """The batch-size-gated signature kernels (Arrow numpy vs native
    Column formulation behind a fence) must produce identical candidate
    pair sets — the gate decision may never change results."""
    docs = load_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def pairs(use_arrow):
        force_kernel("minhash_signature", use_arrow)
        df = DD.minhash_candidate_pairs(
            docs, "text", "doc_id", num_hashes=16, bands=4, n=3,
            hasher="md5")
        return {(r["id_a"], r["id_b"], r["est_jaccard"])
                for r in df.collect()}

    assert pairs(True) == pairs(False)


def test_sq_topk_exact_after_rerank(spark, sf_dir):
    """int8 scalar quantization + overfetch-4 re-rank reproduces
    brute-force top-5 EXACTLY on the gate corpus (ids, order, cosines),
    and the quantizer's reconstruction error is bounded by scale/2 per
    dimension."""
    import numpy as np

    from puffbird_spark.operators.similarity import (
        cosine_topk, sq_dequantize, sq_minmax, sq_quantize, sq_topk)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, q, k=5, est_queries=10)
    approx = sq_topk(emb, q, dim=64, k=5, overfetch=4, est_queries=10)
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, approx.collect()))

    lo, hi = sq_minmax(emb, "embedding", 64)
    scale = (hi - lo) / 255.0
    scale[scale == 0.0] = 1.0
    row = emb.select(
        F.col("embedding").cast("array<double>").alias("orig"),
        sq_dequantize(
            sq_quantize("embedding", lo, scale), lo, scale).alias("rec"),
    ).first()
    err = np.abs(np.array(row["orig"]) - np.array(row["rec"]))
    assert (err <= scale / 2 + 1e-9).all()


def test_pq_topk_recall_and_compression(spark, sf_dir):
    """PQ codes are m smallints (the 32x-compressed representation);
    encode->decode reconstruction is each subvector's nearest centroid;
    recall@5 after exact re-rank clears the gate floor with headroom."""
    import numpy as np

    from puffbird_spark.operators.similarity import (
        _pq_decode_udf, _pq_encode_udf, cosine_topk, pq_topk,
        train_pq_codebooks)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["cand_id"]) for r in cosine_topk(
        emb, q, k=5, est_queries=10).select("query_id", "cand_id").collect()}
    ann = {(r["query_id"], r["cand_id"]) for r in pq_topk(
        emb, q, dim=64, k=5, overfetch=8).select(
        "query_id", "cand_id").collect()}
    assert len(exact & ann) / len(exact) >= 0.8

    books = train_pq_codebooks(emb, dim=64, m=8)
    row = emb.select(
        F.col("embedding").cast("array<double>").alias("v"),
        _pq_decode_udf(books)(
            _pq_encode_udf(books)(F.col("embedding").cast("array<double>"))
        ).alias("rec"),
        _pq_encode_udf(books)(
            F.col("embedding").cast("array<double>")).alias("codes"),
    ).first()
    assert len(row["codes"]) == 8  # m byte codes per vector
    v, rec = np.array(row["v"]), np.array(row["rec"])
    # reconstruction must be the argmin centroid per subspace: verify
    # against a numpy replay
    for j in range(8):
        sub = v[j * 8:(j + 1) * 8]
        d2 = ((books[j] - sub[None, :]) ** 2).sum(axis=1)
        assert (rec[j * 8:(j + 1) * 8] == books[j][d2.argmin()]).all()

    with pytest.raises(ValueError, match="divisible"):
        train_pq_codebooks(emb, dim=64, m=7)


def test_kmv_merge_equals_one_shot(spark, sf_dir):
    """Bottom-k sketches merge losslessly: sketching two shards
    independently and merging must be BIT-EQUAL to sketching the whole
    corpus in one shot (the property that makes per-shard/per-day
    sketch persistence valid)."""
    from puffbird_spark.operators.sketch import kmv_merge, kmv_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = kmv_sample(docs, "doc_id", "n_chars", k=64,
                      group_cols=["source"])
    a = kmv_sample(docs.filter(F.col("doc_id") % 2 == 0), "doc_id",
                   "n_chars", k=64, group_cols=["source"])
    b = kmv_sample(docs.filter(F.col("doc_id") % 2 == 1), "doc_id",
                   "n_chars", k=64, group_cols=["source"])
    merged = kmv_merge(a, b, k=64, group_cols=["source"])
    key = lambda r: (r["source"], r["__draw"], r["__key"])  # noqa: E731
    assert sorted(map(key, merged.collect())) == \
        sorted(map(key, full.collect()))


def test_kmv_sketch_bounded_and_quantile_accuracy(spark, sf_dir):
    """The sketch never exceeds k rows per group, and the sample
    quantile's realized rank error is within the classic
    4*sqrt(q(1-q)/k) bound (deterministic draw -> not flaky)."""
    import math

    from puffbird_spark.operators.sketch import kmv_quantiles, kmv_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = 256
    sketch = kmv_sample(docs, "doc_id", "n_chars", k=k)
    sizes = sketch.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
    assert sizes <= k
    qs = [0.1, 0.5, 0.9]
    est = {r["q"]: r["est"] for r in
           kmv_quantiles(sketch, qs).collect()}
    n = docs.count()
    for q in qs:
        e = est[q]
        below = docs.filter(F.col("n_chars") < e).count()
        realized = below / n
        assert abs(realized - q) <= 4 * math.sqrt(q * (1 - q) / k) + 2 / k, \
            (q, realized)


def test_bloom_pruned_join_bit_equal_and_prunes(spark, sf_dir):
    """Bloom-pruned join == plain join bit for bit; the scan-local probe
    really shrinks the fact side (>= true matches, < full fact), and
    fact-preserving join types are rejected."""
    import pytest

    from puffbird_spark.operators.bloomjoin import (
        _SAFE_JOIN_TYPES, bloom_join_filter, bloom_pruned_join)
    from puffbird_spark.operators.decontam import _bloom_bit_exprs

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey")
    part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_size") == 1).select("p_partkey", "p_brand")
    got = bloom_pruned_join(li, part, "l_partkey", "p_partkey",
                            m_bits=1 << 17)
    plain = li.join(part, li["l_partkey"] == part["p_partkey"])
    key = lambda r: (r["l_orderkey"], r["l_linenumber"],  # noqa: E731
                     r["p_brand"])
    assert sorted(map(key, got.collect())) == \
        sorted(map(key, plain.collect()))
    # the probe predicate alone keeps all matches but far from all rows
    words = bloom_join_filter(part, "p_partkey", m_bits=1 << 17)
    hits = _bloom_bit_exprs(words, 5)
    n_pruned = li.filter(hits(F.col("l_partkey").cast("long"))).count()
    assert plain.count() <= n_pruned < li.count()
    for bad in ("left", "full", "right", "left_anti"):
        assert bad not in _SAFE_JOIN_TYPES
        with pytest.raises(ValueError, match="match-only"):
            bloom_pruned_join(li, part, "l_partkey", "p_partkey", how=bad)


def test_duplicate_spans_constructed(spark):
    """Two docs sharing an exact 25-token span (plus unique prefixes)
    must both report a 25-token max dup span; a fully unique doc
    reports zero; a doc shorter than one window is excluded."""
    from puffbird_spark.operators.dedup import duplicate_spans

    shared = " ".join(f"s{i}" for i in range(25))
    rows = [
        (1, "a1 a2 a3 a4 a5 " + shared),
        (2, "b1 b2 b3 b4 b5 b6 " + shared),
        (3, " ".join(f"u{i}" for i in range(40))),
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           duplicate_spans(df, "text", "doc_id", n=20).collect()}
    assert set(got) == {1, 2, 3}  # doc 4 has no full window
    # shared span of 25 tokens -> 25 - 20 + 1 = 6 consecutive dup
    # windows -> max span 6 + 19 = 25 tokens
    for d in (1, 2):
        assert got[d]["n_dup_windows"] == 6, got[d]
        assert got[d]["max_dup_span_tokens"] == 25, got[d]
    assert got[3]["n_dup_windows"] == 0
    assert got[3]["max_dup_span_tokens"] == 0
    assert got[3]["n_windows"] == 21


def test_snapshot_time_travel_semantics(spark, tmp_path_factory):
    """Snapshot table: append builds on the parent's shard set,
    overwrite starts fresh, old versions stay bit-stable after later
    commits, and bad reads raise."""
    import pytest

    from puffbird_spark.operators.layout import (
        read_snapshot, snapshot_versions, write_snapshot)

    path = str(tmp_path_factory.mktemp("snap") / "tbl")
    a = spark.range(0, 10).withColumn("tag", F.lit("a"))
    b = spark.range(10, 15).withColumn("tag", F.lit("b"))
    c = spark.range(100, 103).withColumn("tag", F.lit("c"))
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, path)
    assert write_snapshot(spark, a, path) == 1
    assert write_snapshot(spark, b, path) == 2          # append
    assert write_snapshot(spark, c, path, mode="overwrite") == 3
    assert snapshot_versions(spark, path) == [1, 2, 3]
    ids = lambda v: sorted(  # noqa: E731
        r["id"] for r in read_snapshot(spark, path, v).collect())
    assert ids(1) == list(range(10))
    assert ids(2) == list(range(15))                    # v1 + appended b
    assert ids(3) == [100, 101, 102]                    # overwrite reset
    assert ids(None) == [100, 101, 102]                 # latest
    with pytest.raises(ValueError, match="version 9"):
        read_snapshot(spark, path, 9)
    with pytest.raises(ValueError, match="mode"):
        write_snapshot(spark, a, path, mode="merge")


def test_kmeans_numpy_replay_and_invariants(spark, sf_dir):
    """The final assignment must match an independent numpy replay of
    the full trajectory (seed pick -> assign -> decimal-snapped means ->
    assign), every cluster must be non-empty on the gate corpus, and
    k > n raises."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pytest

    from puffbird_spark.operators.clustering import kmeans_assign
    from puffbird_spark.operators.splits import hash_draw

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {r["vec_id"]: (r["cluster"], r["d2"]) for r in
           kmeans_assign(emb, "vec_id", "embedding", k=8, iters=1)
           .collect()}
    # numpy replay
    rows = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"),
        hash_draw(F.col("vec_id"), "kmeans").alias("d")).collect()
    rows_np = {r["vec_id"]: np.array(r["v"]) for r in rows}
    seeds = sorted(rows, key=lambda r: (r["d"], r["vec_id"]))[:8]
    cents = np.stack([rows_np[r["vec_id"]] for r in seeds])

    def assign(c):
        out = {}
        for vid, v in rows_np.items():
            d2 = np.round((v * v).sum() - 2 * (c * v).sum(axis=1)
                          + (c * c).sum(axis=1), 6)
            cid = int(np.lexsort((np.arange(len(c)), d2))[0])
            out[vid] = (cid, float(d2[cid]))
        return out

    a1 = assign(cents)
    new = np.zeros_like(cents)
    for cid in range(8):
        members = [rows_np[v] for v, (c, _) in a1.items() if c == cid]
        assert members, f"cluster {cid} empty"
        for p in range(cents.shape[1]):
            s = sum(Decimal(repr(m[p])).quantize(
                Decimal("1e-12"), rounding=ROUND_HALF_UP)
                for m in members)
            new[cid, p] = float(s) / len(members)
    a2 = assign(new)
    mismatches = [v for v in got if got[v][0] != a2[v][0]]
    assert not mismatches, mismatches[:5]
    with pytest.raises(ValueError, match="exceeds"):
        kmeans_assign(emb.limit(3), "vec_id", "embedding", k=8)


def test_semantic_dedup_subset_of_exact(spark, sf_dir):
    """SemDeDup members must be a SUBSET of the exact all-pairs
    near-dup membership (the within-cluster restriction can only lose
    pairs, never invent them), and on the gate corpus it recovers most
    of them."""
    from puffbird_spark.functions.vectors import as_double, cosine_rounded
    from puffbird_spark.operators.clustering import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # k=4 on the small test corpus: recall of the cluster restriction
    # tracks cluster size (n/k), so fewer/larger clusters recover more
    # of the exact pair set (the gate runs k=8 at the driver's sf0.01)
    sem = {r["vec_id"] for r in
           semantic_dedup(emb, "vec_id", "embedding", k=4,
                          threshold=0.45).collect()}
    e = emb.select("vec_id", as_double("embedding").alias("v"))
    a, b = e.alias("a"), e.alias("b")
    exact_pairs = (
        a.crossJoin(b)
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cosine_rounded(F.col("a.v"), F.col("b.v")) >= 0.45)
        .select(F.col("a.vec_id").alias("x"), F.col("b.vec_id").alias("y"))
        .collect())
    exact = {r["x"] for r in exact_pairs} | {r["y"] for r in exact_pairs}
    assert sem <= exact
    assert exact and len(sem) / len(exact) >= 0.7, (len(sem), len(exact))


def test_strip_boilerplate_lines_constructed(spark):
    """A banner shared by 3 docs is stripped (min_docs=3), a line
    shared by only 2 docs survives, order is preserved, and an
    all-boilerplate doc returns the empty string."""
    from puffbird_spark.operators.dedup import strip_boilerplate_lines

    banner = "COOKIE BANNER ACCEPT ALL"
    rows = [
        (1, f"{banner}\nunique one\nshared pair"),
        (2, f"{banner}\nshared pair\nunique two"),
        (3, f"unique three\n{banner}"),
        (4, banner),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           strip_boilerplate_lines(df, min_docs=3).collect()}
    assert got[1]["clean_text"] == "unique one\nshared pair"
    assert got[2]["clean_text"] == "shared pair\nunique two"
    assert got[3]["clean_text"] == "unique three"
    assert got[4]["clean_text"] == ""          # row preserved, emptied
    assert [got[i]["n_boiler_lines"] for i in (1, 2, 3, 4)] == [1, 1, 1, 1]
    assert got[1]["n_lines"] == 3


# ------------------------------------------------------------------ #
# bigram LM perplexity (operators/lm.py)
# ------------------------------------------------------------------ #

def test_perplexity_score_matches_python_replay(spark):
    import math

    train_rows = [(0, "a b a c"), (2, "a b b")]
    all_rows = train_rows + [(1, "a b z"), (3, "q"), (4, None)]
    docs = spark.createDataFrame(all_rows, ["doc_id", "text"])
    train = docs.filter(F.col("doc_id") % 2 == 0)

    from puffbird_spark.operators.lm import perplexity_score

    out = {
        r["doc_id"]: (r["n_bigrams"], r["avg_neg_logp"])
        for r in perplexity_score(docs, train, "text", "doc_id").collect()
    }

    # python replay: counts over train, add-0.5 smoothing, 9dp snap
    bi, ctx, voc = {}, {}, set()
    for _, t in train_rows:
        toks = t.split(" ")
        voc.update(toks)
        for p, w in zip(toks, toks[1:]):
            bi[(p, w)] = bi.get((p, w), 0) + 1
            ctx[p] = ctx.get(p, 0) + 1
    v = len(voc)

    def score(text):
        toks = text.split(" ")
        lps = [
            round(math.log(
                (bi.get((p, w), 0) + 0.5) / (ctx.get(p, 0) + 0.5 * v)), 9)
            for p, w in zip(toks, toks[1:])
        ]
        return len(lps), round(-sum(lps) / len(lps), 6)

    expect = {i: score(t) for i, t in all_rows[:3]}
    # doc 3 (one token) and doc 4 (NULL) produce no bigrams -> absent
    assert out == expect
    # doc 1's "b z" bigram is unseen -> exercises the smoothing floor
    assert ("b", "z") not in bi


# ------------------------------------------------------------------ #
# hashed linear quality classifier (operators/classifier.py)
# ------------------------------------------------------------------ #

def test_linear_quality_score_with_trained_weights(spark):
    """The production path: caller-supplied (bucket, weight) table."""
    import hashlib
    import math
    from decimal import Decimal

    from puffbird_spark.operators.classifier import linear_quality_score

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "c"), (3, None)], ["doc_id", "text"])
    dim = 4
    w = {b: Decimal(b) / 10 - Decimal("0.15") for b in range(dim)}
    weights = spark.createDataFrame(
        [(b, w[b]) for b in range(dim)], "bucket long, weight decimal(20,9)")

    out = {
        r["doc_id"]: (r["n_tokens"], r["score"], r["p_keep"])
        for r in linear_quality_score(
            docs, "text", "doc_id", dim=dim, weights=weights).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(f"qw:{tok}".encode()).hexdigest()[:8], 16) % dim

    for doc_id, text in [(1, "a b a"), (2, "c")]:
        toks = text.split(" ")
        score = round(float(sum(w[bucket(t)] for t in toks)) / len(toks), 6)
        p = round(1 / (1 + math.exp(-score)), 6)
        assert out[doc_id] == (len(toks), score, p)
    assert 3 not in out  # NULL text drops

    # weight join must be broadcast: no exchange on the weights side
    plan = linear_quality_score(
        docs, "text", "doc_id", dim=dim, weights=weights
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ------------------------------------------------------------------ #
# file-level data skipping (operators/layout.py)
# ------------------------------------------------------------------ #

def test_pruned_read_equals_full_filter(spark, tmp_path_factory):
    from puffbird_spark.operators.layout import file_stats, pruned_read

    path = str(tmp_path_factory.mktemp("skip") / "t")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    (df.repartitionByRange(5, "k").sortWithinPartitions("k")
       .write.parquet(path))

    stats = file_stats(spark, path, ["k"])
    srows = stats.collect()
    assert len(srows) == 5
    # ranged+sorted write => disjoint per-file [min,max] intervals
    spans = sorted((r["min_k"], r["max_k"]) for r in srows)
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))

    out, n_read, n_total = pruned_read(spark, path, "k", 100, 150,
                                       stats=stats)
    expect = df.filter(F.col("k").between(100, 150))
    assert sorted(r["k"] for r in out.collect()) == sorted(
        r["k"] for r in expect.collect())
    assert n_total == 5 and 1 <= n_read < n_total

    # no file overlaps -> zero files read, empty result, schema intact
    empty, n_read0, _ = pruned_read(spark, path, "k", 5000, 6000,
                                    stats=stats)
    assert n_read0 == 0 and empty.count() == 0
    assert empty.columns == ["k", "v"]


def test_snapshot_diff_append_fast_path(spark, tmp_path_factory):
    """Append-only diff must read ONLY the new shards (no join, no old
    data) and classify everything as insert."""
    from puffbird_spark.operators.layout import (
        snapshot_diff, write_snapshot)

    path = str(tmp_path_factory.mktemp("cdc") / "t")
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    d2 = spark.createDataFrame([(3, "c")], ["k", "v"])
    assert write_snapshot(spark, d1, path) == 1
    assert write_snapshot(spark, d2, path) == 2

    diff = snapshot_diff(spark, path, 1, 2, ["k"])
    assert sorted((r["k"], r["change"]) for r in diff.collect()) == [
        (3, "insert")]
    # fast path: the plan scans only the v2 shard — no join operator
    plan = diff._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "shard-v00002" in plan and "shard-v00001" not in plan

    # identical versions diff to an empty feed
    assert snapshot_diff(spark, path, 2, 2, ["k"]).count() == 0


def test_snapshot_diff_general_path(spark, tmp_path_factory):
    from puffbird_spark.operators.layout import (
        snapshot_diff, write_snapshot)

    path = str(tmp_path_factory.mktemp("cdc2") / "t")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    v2 = spark.createDataFrame(
        [(2, "B"), (3, "c"), (4, "d")], ["k", "v"])
    write_snapshot(spark, v1, path)
    write_snapshot(spark, v2, path, mode="overwrite")
    got = sorted(
        (r["k"], r["change"])
        for r in snapshot_diff(spark, path, 1, 2, ["k"]).collect())
    assert got == [(1, "delete"), (2, "update"), (4, "insert")]


# ------------------------------------------------------------------ #
# time-series gap fill (operators/timeseries.py)
# ------------------------------------------------------------------ #

def test_gap_fill_locf_constructed(spark):
    import datetime as dt

    from puffbird_spark.operators.timeseries import gap_fill

    T = dt.datetime
    rows = [
        # key "a": events in hours 10 and 13 -> 11,12 filled from 10
        (1, "a", T(2024, 1, 1, 10, 5), 1.0),
        (2, "a", T(2024, 1, 1, 10, 40), 2.0),   # last in bucket wins
        (3, "a", T(2024, 1, 1, 13, 0), 9.0),
        # key "b": single event -> single-bucket grid
        (4, "b", T(2024, 1, 1, 0, 59), 7.0),
        # tie on ts within a bucket -> higher event_id wins
        (5, "c", T(2024, 1, 1, 5, 30), 3.0),
        (6, "c", T(2024, 1, 1, 5, 30), 4.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "k", "ts", "value"])
    out = {
        (r["k"], r["bucket_ts"].hour): (r["filled_value"], r["is_observed"])
        for r in gap_fill(df, ["k"], "ts", "value", step="hour",
                          tiebreak_cols=["event_id"]).collect()
    }
    assert out == {
        ("a", 10): (2.0, True),
        ("a", 11): (2.0, False),
        ("a", 12): (2.0, False),
        ("a", 13): (9.0, True),
        ("b", 0): (7.0, True),
        ("c", 5): (4.0, True),
    }


def test_gap_fill_rejects_unknown_step(spark):
    from puffbird_spark.operators.timeseries import gap_fill

    df = spark.createDataFrame([(1, 1.0)], ["k", "value"])
    with pytest.raises(ValueError, match="step"):
        gap_fill(df, ["k"], "k", "value", step="fortnight")


# ------------------------------------------------------------------ #
# filter pipeline audit (operators/filters.py)
# ------------------------------------------------------------------ #

def test_filter_audit_partitions_the_corpus(spark):
    from puffbird_spark.operators.filters import (
        KEPT, apply_filters, filter_audit)

    docs = spark.createDataFrame(
        [(1, 5), (2, 50), (3, 500), (4, 60), (5, None)],
        ["doc_id", "n"])
    rules = [
        ("too_small", F.col("n") >= 10),     # fails 1 and NULL-5
        ("too_big", F.col("n") <= 100),      # fails 3
        ("not_60", F.col("n") != 60),        # fails 4 (and 60-ish)
    ]
    audit = {r["rule"]: (r["n_first_fail"], r["n_fail_any"])
             for r in filter_audit(docs, rules).collect()}
    assert audit == {
        # NULL doc 5 is unevaluable -> fails EVERY rule's n_fail_any,
        # but is first-fail-attributed only to the first rule
        "too_small": (2, 2),
        "too_big": (1, 2),
        "not_60": (1, 2),
        KEPT: (1, 0),
    }
    # the audit partitions the corpus
    assert sum(v[0] for v in audit.values()) == docs.count()
    assert [r["doc_id"] for r in apply_filters(docs, rules).collect()] == [2]


def test_filter_audit_rejects_duplicate_names(spark):
    from puffbird_spark.operators.filters import filter_audit

    docs = spark.createDataFrame([(1,)], ["n"])
    with pytest.raises(ValueError, match="duplicate"):
        filter_audit(docs, [("r", F.col("n") > 0), ("r", F.col("n") < 9)])


# ------------------------------------------------------------------ #
# winnowing fingerprints (functions/text.py)
# ------------------------------------------------------------------ #

def test_winnowing_guarantee_and_edges(spark):
    """Docs sharing a substring >= w+k-1 chars must share a fingerprint
    hash; short text degrades to empty, not an error."""
    import hashlib

    from puffbird_spark.functions.text import (
        winnow_gram_hashes, winnow_positions)

    shared = "QWERTYUIOPASD"  # 13 chars >= w+k-1 = 8
    rows = [(1, "xx" + shared + "yy"), (2, "abcde" + shared),
            (3, "tiny"), (4, None)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = df.select(
        "doc_id", winnow_gram_hashes("text", k=5).alias("g")
    ).withColumn("pos", winnow_positions(F.col("g"), w=4))
    got = {r["doc_id"]: (r["g"], r["pos"]) for r in out.collect()}

    # python replay of gram hashing
    def grams(t):
        return [int(hashlib.md5(t[i:i + 5].encode()).hexdigest()[:8], 16)
                for i in range(len(t) - 4)]

    for d, t in [(1, rows[0][1]), (2, rows[1][1])]:
        assert got[d][0] == grams(t)
        # every selected position is the rightmost min of some window
        g, pos = got[d]
        for p in pos:
            assert any(
                g[p - 1] == min(g[j:j + 4]) and (p - 1) == j + max(
                    i for i in range(4) if g[j + i] == min(g[j:j + 4]))
                for j in range(max(0, p - 4), min(p, len(g) - 3)))

    # the guarantee: shared substring of 13 chars -> shared fingerprint
    fp1 = {got[1][0][p - 1] for p in got[1][1]}
    fp2 = {got[2][0][p - 1] for p in got[2][1]}
    assert fp1 & fp2

    assert got[3] == ([], [])      # shorter than k
    assert 4 not in got or True    # NULL text filtered upstream by gates


# ------------------------------------------------------------------ #
# HLL overlap estimation (operators/sketch.py)
# ------------------------------------------------------------------ #

def test_hll_overlap_disjoint_subset_and_identical(spark):
    from puffbird_spark.operators.sketch import hll_overlap

    xs = spark.range(0, 1000).select(F.col("id").cast("string").alias("k"))
    ys = spark.range(500, 1500).select(F.col("id").cast("string").alias("k"))
    r = hll_overlap(xs, ys, "k").collect()[0]
    # small cardinalities stay in HLL sparse mode -> near-exact
    assert abs(r["n_a"] - 1000) <= 20 and abs(r["n_b"] - 1000) <= 20
    assert abs(r["n_union"] - 1500) <= 30
    assert abs(r["n_intersect"] - 500) <= 50
    assert 0.25 < r["jaccard"] < 0.42
    assert 0.4 < r["containment_a"] < 0.6

    # identical corpora: jaccard/containment ~ 1
    ri = hll_overlap(xs, xs, "k").collect()[0]
    assert ri["jaccard"] > 0.95 and ri["containment_a"] > 0.95

    # disjoint: clamped at zero, never negative
    zs = spark.range(5000, 6000).select(
        F.col("id").cast("string").alias("k"))
    rd = hll_overlap(xs, zs, "k").collect()[0]
    assert rd["n_intersect"] >= 0.0 and rd["jaccard"] < 0.05


def test_containment_pairs_asymmetric_quote(spark):
    """A short doc quoted inside a long one: high containment one way,
    low Jaccard — the case jaccard_pairs misses."""
    short = "alpha beta gamma delta epsilon"
    long_ = ("zero one two three four five six seven eight nine "
             + short + " ten eleven twelve thirteen fourteen fifteen")
    docs = spark.createDataFrame(
        [(1, short), (2, long_), (3, "unrelated words entirely here")],
        ["doc_id", "text"])

    out = {(r["id_a"], r["id_b"]): (r["containment_a"],
                                    r["containment_b"])
           for r in DD.containment_pairs(
               docs, "text", "doc_id", threshold=0.9).collect()}
    assert set(out) == {(1, 2)}
    ca, cb = out[(1, 2)]
    assert ca == 1.0          # every shingle of the short doc is in long
    assert cb < 0.2           # but the long doc is mostly its own
    # jaccard on the same pair is low: containment was required
    jac = {(r["id_a"], r["id_b"]) for r in DD.jaccard_pairs(
        docs, "text", "doc_id", threshold=0.4).collect()}
    assert (1, 2) not in jac


def test_containment_pairs_max_df_prunes_hot_shingles(spark):
    """Shingles above the df cap leave the index: ubiquitous boilerplate
    no longer creates candidate pairs."""
    boiler = "all rights reserved legal notice"
    docs = spark.createDataFrame(
        [(i, f"doc number {i} content {boiler}") for i in range(6)],
        ["doc_id", "text"])
    # every pair shares the boilerplate shingles -> exact mode pairs up
    exact = DD.containment_pairs(docs, "text", "doc_id", threshold=0.3)
    assert exact.count() > 0
    # with the cap, the shared shingles (df=6 > 2) vanish from the index
    pruned = DD.containment_pairs(
        docs, "text", "doc_id", threshold=0.3, max_df=2)
    assert pruned.count() == 0


def test_standardize_embeddings_numpy_replay(spark):
    import numpy as np

    from puffbird_spark.operators.clustering import standardize_embeddings

    vecs = [
        (1, [1.0, 10.0, 5.0]),
        (2, [3.0, 30.0, 5.0]),   # dim 2 is constant -> z = 0
        (3, [5.0, 20.0, 5.0]),
        (4, None),               # NULL vector drops
    ]
    df = spark.createDataFrame(vecs, "vec_id long, v array<double>")
    out = {r["vec_id"]: r["zvec"]
           for r in standardize_embeddings(df, "vec_id", "v").collect()}

    arr = np.array([v for _, v in vecs[:3]])
    m, s = arr.mean(axis=0), arr.std(axis=0)
    for vid, v in vecs[:3]:
        for j in range(3):
            if s[j] == 0:
                assert out[vid][j] == 0.0
            else:
                assert abs(out[vid][j] - (v[j] - m[j]) / s[j]) < 1e-6
    assert 4 not in out
    # standardized columns have mean ~0, std ~1
    z = np.array([out[i] for i in (1, 2, 3)])
    assert np.allclose(z.mean(axis=0), 0, atol=1e-5)
    assert np.allclose(z.std(axis=0)[:2], 1, atol=1e-5)


# ------------------------------------------------------------------ #
# Luhn PII masking (functions/text.py)
# ------------------------------------------------------------------ #

def test_luhn_valid_known_numbers(spark):
    from puffbird_spark.functions.text import luhn_valid, mask_valid_cards

    # python reference implementation
    def luhn(s):
        total = 0
        for i, ch in enumerate(reversed(s)):
            d = int(ch)
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    cases = ["4532015112830366", "79927398713", "79927398710",
             "0000000000000000", "1234567812345678", "4111111111111111"]
    df = spark.createDataFrame([(c,) for c in cases], ["s"])
    got = {r["s"]: r["v"] for r in df.select(
        "s", luhn_valid("s").alias("v")).collect()}
    assert got == {c: luhn(c) for c in cases}
    # non-digit strings are invalid, not errors
    bad = spark.createDataFrame([("45x2",), ("",)], ["s"])
    assert [r["v"] for r in bad.select(
        luhn_valid("s").alias("v")).collect()] == [False, False]

    # selective masking: valid card redacted, invalid run left alone
    msg = "pay 4111111111111111 ref 1234567812345678 ok"
    out = spark.createDataFrame([(msg,)], ["t"]).select(
        mask_valid_cards("t").alias("m")).collect()[0]["m"]
    assert out == "pay <CARD> ref 1234567812345678 ok"


def test_embedding_outliers_flags_far_points(spark):
    from puffbird_spark.operators.clustering import embedding_outliers

    # two tight clusters + one far stray
    rows = ([(i, [0.0 + i * 0.01, 0.0]) for i in range(10)]
            + [(100 + i, [10.0 + i * 0.01, 10.0]) for i in range(10)]
            + [(999, [100.0, -100.0])])
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = {r["vec_id"]: r for r in embedding_outliers(
        df, "vec_id", "v", k=2, iters=2, prob=0.9).collect()}
    assert len(out) == 21
    assert out[999]["is_outlier"] is True
    # the tight-cluster members overwhelmingly pass
    inliers = [r for vid, r in out.items() if vid != 999]
    assert sum(1 for r in inliers if not r["is_outlier"]) >= 18


# ------------------------------------------------------------------ #
# BPE tokenizer training (operators/bpe.py)
# ------------------------------------------------------------------ #

def _ref_bpe(word_freq, rounds):
    """From-scratch reference BPE (Sennrich et al. 2016 algorithm):
    greedy leftmost merges, ties broken (count desc, pair asc)."""
    enc = {w: list(w) for w in word_freq}
    merges = []
    for _ in range(rounds):
        counts = {}
        for w, syms in enc.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_freq[w]
        if not counts:
            break
        pair = min(counts, key=lambda p: (-counts[p], p))
        merges.append(pair)
        a, b = pair
        for w, syms in enc.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            enc[w] = out
    return merges, enc


def test_bpe_train_matches_reference(spark):
    from puffbird_spark.operators.bpe import bpe_segment, bpe_train

    corpus = ["low low low lower lowest", "new newer newest low",
              "wide wider widest new new"]
    df = spark.createDataFrame([(t,) for t in corpus], ["text"])

    freq = {}
    for t in corpus:
        for w in t.split():
            freq[w] = freq.get(w, 0) + 1
    ref_merges, ref_enc = _ref_bpe(freq, rounds=6)

    merges = bpe_train(df, "text", rounds=6)
    assert merges == ref_merges

    # applying the learned table segments like the reference encoding
    seg = spark.createDataFrame([("lowest newer",)], ["t"]).select(
        bpe_segment(F.col("t"), merges).alias("s")).collect()[0]["s"]
    assert seg == ref_enc["lowest"] + ref_enc["newer"]


def test_bpe_merge_fold_nonoverlapping(spark):
    from puffbird_spark.operators.bpe import _merge_fold

    df = spark.createDataFrame([("aaa",), ("aabaa",)], ["w"])
    out = [r["m"] for r in df.select(
        _merge_fold(F.split(F.col("w"), ""), "a", "a").alias("m")
    ).collect()]
    assert out == [["aa", "a"], ["aa", "b", "aa"]]


# ------------------------------------------------------------------ #
# Unigram-LM tokenizer training (operators/unigram.py)
# ------------------------------------------------------------------ #

def _ref_uni_viterbi(word, logp, L):
    """Independent Viterbi decode (sort-based argmax rather than the
    operator's running compare): max 9-dp score, then fewer pieces,
    then lexicographically smallest '|'-joined segmentation."""
    best = {0: (0.0, 0, "", [])}
    for i in range(1, len(word) + 1):
        options = []
        for ln in range(1, min(L, i) + 1):
            piece = word[i - ln:i]
            lp = logp.get(piece)
            if lp is None:
                if ln > 1:
                    continue
                lp = -10.0
            s, np_, seg, ps = best[i - ln]
            nseg = piece if not seg else seg + "|" + piece
            options.append((round(s + lp, 9), np_ + 1, nseg,
                            ps + [piece]))
        options.sort(key=lambda o: (-o[0], o[1], o[2]))
        best[i] = options[0]
    return best[len(word)][3]


def _ref_unigram(word_freq, vocab_size, seed_size, L, rounds):
    """From-scratch reference of the deterministic unigram-LM trainer
    (Kudo 2018 simplified per the module contract): per-site substring
    seed, EM with char floor, count-ranked prune."""
    import math as _math

    seed = {}
    for w, c in word_freq.items():
        for i in range(len(w)):
            for j in range(i + 1, min(len(w), i + L) + 1):
                p = w[i:j]
                seed[p] = seed.get(p, 0) + c
    vocab = {p: n for p, n in seed.items() if len(p) == 1}
    vocab.update(dict(sorted(
        ((p, n) for p, n in seed.items() if len(p) > 1),
        key=lambda t: (-t[1], t[0]))[:seed_size]))
    for _ in range(rounds):
        total = sum(vocab.values())
        logp = {p: round(_math.log(c / total), 9)
                for p, c in vocab.items() if c > 0}
        counts = {}
        for w, c in word_freq.items():
            for piece in _ref_uni_viterbi(w, logp, L):
                counts[piece] = counts.get(piece, 0) + c
        vocab = {p: counts.get(p, 1 if len(p) == 1 else 0)
                 for p in vocab
                 if len(p) == 1 or counts.get(p, 0) > 0}
    ranked = sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))
    kept = [p for p, _ in ranked[:vocab_size]]
    kept += [p for p, _ in ranked[vocab_size:] if len(p) == 1]
    final = {p: vocab[p] for p in kept}
    total = sum(final.values())
    return sorted(
        ((p, c, round(_math.log(c / total), 9))
         for p, c in final.items()),
        key=lambda t: (-t[1], t[0]))


def test_unigram_train_matches_reference(spark):
    """The distributed EM trainer is piece-for-piece identical (piece,
    count, logp) to the from-scratch reference on a morphology-rich
    toy corpus — the bpe_train differential convention."""
    from puffbird_spark.operators.unigram import unigram_train

    corpus = ["low low low lower lowest", "new newer newest low",
              "wide wider widest new new", "lowest wider the the"]
    df = spark.createDataFrame([(t,) for t in corpus], ["text"])
    freq = {}
    for t in corpus:
        for w in t.split():
            freq[w] = freq.get(w, 0) + 1

    got = unigram_train(df, "text", vocab_size=12, seed_size=24,
                        max_piece_len=4, em_rounds=2)
    want = _ref_unigram(freq, vocab_size=12, seed_size=24, L=4,
                        rounds=2)
    assert got == want
    # the prune keeps every single char even past vocab_size
    chars = {w[i] for w in freq for i in range(len(w))}
    assert chars <= {p for p, _, _ in got}


def test_unigram_viterbi_tiebreaks():
    """Viterbi tie ladder: equal score → FEWER pieces (['ab'] beats
    ['a','b'] at -4.0); equal score and count → lexicographically
    smallest segmentation ('a|bc' beats 'ab|c' at -6.0); unknown
    chars take the -10 floor as single-char pieces."""
    from puffbird_spark.operators.unigram import viterbi_segment_py

    fewer = {"ab": -4.0, "a": -2.0, "b": -2.0}
    assert viterbi_segment_py("ab", fewer) == (["ab"], -4.0)

    # NB: the comparison is on the '|'-joined STRING, and '|' (0x7C)
    # sorts after every ASCII letter — so 'ab|c' < 'a|bc' and the
    # LONGER-first-piece split wins this tie
    lex = {"ab": -3.0, "c": -3.0, "a": -3.0, "bc": -3.0}
    assert viterbi_segment_py("abc", lex) == (["ab", "c"], -6.0)

    pieces, score = viterbi_segment_py("qx", {"q": -1.0})
    assert pieces == ["q", "x"] and score == -11.0


def test_unigram_segment_text_contract(spark):
    """Doc-level segmentation: words decode independently and
    concatenate in order; NULL text stays NULL; repeated spaces
    contribute nothing."""
    from puffbird_spark.operators.unigram import unigram_segment_text

    table = {"th": -1.0, "e": -1.5, "a": -2.0, "t": -2.5}
    df = spark.createDataFrame(
        [(1, "the  that"), (2, None)], "doc_id int, text string")
    out = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id",
        unigram_segment_text(F.col("text"), table).alias("s")
    ).collect()}
    assert out[1] == ["th", "e", "th", "a", "t"]
    assert out[2] is None


def test_random_projection_preserves_distances(spark):
    """JL property: pairwise distances in the projected space track the
    originals within loose multiplicative bounds; projection is
    deterministic across runs."""
    import numpy as np

    from puffbird_spark.operators.clustering import random_projection

    rng = np.random.RandomState(7)
    vecs = rng.normal(size=(30, 64))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, v array<double>")
    out = {r["vec_id"]: np.array(r["zvec"]) for r in random_projection(
        df, "vec_id", "v", in_dim=64, out_dim=16).collect()}
    assert all(len(z) == 16 for z in out.values())

    ratios = []
    for i in range(0, 30, 3):
        for j in range(i + 1, 30, 7):
            d0 = np.linalg.norm(vecs[i] - vecs[j])
            d1 = np.linalg.norm(out[i] - out[j])
            ratios.append(d1 / d0)
    # distances concentrate around 1 (JL with 16 dims: loose bounds)
    assert 0.8 < np.median(ratios) < 1.2
    assert min(ratios) > 0.4 and max(ratios) < 1.8

    # deterministic: same seed -> identical output
    again = {r["vec_id"]: np.array(r["zvec"]) for r in random_projection(
        df, "vec_id", "v", in_dim=64, out_dim=16).collect()}
    assert all(np.array_equal(out[i], again[i]) for i in out)


def test_rp_topk_exact_on_separated_data(spark):
    """On data with real margins (clustered), the RP prefilter keeps the
    true top-k and re-rank restores exact cosines."""
    import numpy as np

    from puffbird_spark.operators.similarity import cosine_topk, rp_topk

    rng = np.random.RandomState(3)
    centers = rng.normal(size=(4, 64)) * 5
    vecs = [(i, (centers[i % 4] + rng.normal(scale=0.1, size=64)).tolist())
            for i in range(80)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 4)

    exact = cosine_topk(df, queries, k=5, est_queries=4)
    approx = rp_topk(df, queries, in_dim=64, rp_dim=16, k=5,
                     est_queries=4)
    e = sorted(map(tuple, exact.collect()))
    a = sorted(map(tuple, approx.collect()))
    assert e == a  # ids, order, AND rounded cosines identical


def test_sample_frames_stride_bounds_and_nulls(spark):
    import hashlib

    from puffbird_spark.operators.multimodal import sample_frames

    blob = bytes(range(256)) * 2   # 512 bytes -> frames at 0,2,4,6
    short = b"tiny"                # one short frame at idx 0
    df = spark.createDataFrame(
        [("a", blob), ("b", short), ("c", None)],
        "path string, content binary")
    out = sample_frames(df, frame_bytes=100, stride=2, max_frames=4)
    rows = {(r["path"], r["frame_idx"]): r for r in out.collect()}

    # blob of 512 bytes, 100-byte frames: offsets 0,200,400 exist; 600 not
    assert {k for k in rows if k[0] == "a"} == {("a", 0), ("a", 2), ("a", 4)}
    assert rows[("a", 2)]["offset"] == 200
    assert rows[("a", 4)]["frame_bytes"] == 100
    assert rows[("a", 0)]["digest"] == hashlib.md5(blob[:100]).hexdigest()
    # short blob: single truncated frame
    assert rows[("b", 0)]["frame_bytes"] == 4
    assert rows[("b", 0)]["digest"] == hashlib.md5(short).hexdigest()
    # NULL blob contributes nothing
    assert not any(k[0] == "c" for k in rows)


# ------------------------------------------------------------------ #
# IR metrics (operators/evaluation.py)
# ------------------------------------------------------------------ #

def test_ir_metrics_hand_computed(spark):
    import math

    from puffbird_spark.operators.evaluation import ir_metrics

    # q1: relevant {a,b,c}; retrieved ranks: a@1, x@2, b@3 -> hits 2/3
    # q2: relevant {z}; retrieved z@2 -> recall 1, mrr 0.5
    # q3: relevant {m}; NOT in results at all -> all zeros
    results = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "x", 2), ("q1", "b", 3),
         ("q2", "y", 1), ("q2", "z", 2)],
        ["query_id", "cand_id", "rank"])
    truth = spark.createDataFrame(
        [("q1", "a"), ("q1", "b"), ("q1", "c"), ("q2", "z"), ("q3", "m")],
        ["query_id", "cand_id"])
    r = ir_metrics(results, truth, k=5).collect()[0]
    assert r["n_queries"] == 3

    def dcg(ranks):
        return sum(1 / math.log2(rk + 1) for rk in ranks)

    q1_ndcg = round(dcg([1, 3]) / dcg([1, 2, 3]), 9)
    q2_ndcg = round(dcg([2]) / dcg([1]), 9)
    assert r["recall_at_k"] == round((round(2 / 3, 9) + 1 + 0) / 3, 6)
    assert r["mrr_at_k"] == round((1 + 0.5 + 0) / 3, 6)
    assert r["ndcg_at_k"] == round((q1_ndcg + q2_ndcg + 0) / 3, 6)

    # ranks beyond k are ignored
    r2 = ir_metrics(results, truth, k=2).collect()[0]
    assert r2["recall_at_k"] == round((round(1 / 3, 9) + 1 + 0) / 3, 6)


def test_write_training_shards_roundtrip(spark, tmp_path_factory):
    from puffbird_spark.operators.layout import write_training_shards

    path = str(tmp_path_factory.mktemp("shards") / "out")
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(101)], ["doc_id", "text"])
    write_training_shards(df, path, key="doc_id", n_shards=4)

    back = spark.read.parquet(path)
    assert back.count() == 101
    rows = back.collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["shuffle_rank"])
    # round-robin: every rank congruent to shard id; balanced +-1
    assert set(by_shard) == {0, 1, 2, 3}
    for s, ranks in by_shard.items():
        assert all((rk - 1) % 4 == s for rk in ranks)
    sizes = sorted(len(v) for v in by_shard.values())
    assert sizes[-1] - sizes[0] <= 1
    # ranks 1..101 all present exactly once
    assert sorted(rk for v in by_shard.values() for rk in v) == list(
        range(1, 102))
    # deterministic: rewriting reproduces identical assignment
    path2 = str(tmp_path_factory.mktemp("shards") / "out2")
    write_training_shards(df, path2, key="doc_id", n_shards=4)
    a = sorted(map(tuple, spark.read.parquet(path).collect()))
    b = sorted(map(tuple, spark.read.parquet(path2).collect()))
    assert a == b


def test_incremental_minhash_replay_equals_one_shot(spark):
    """Three id-ordered batches through the stateful fuzzy dedup must
    reproduce the one-shot smaller-id rejection rule exactly."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = []
    for i in range(30):
        if i % 5 == 4:
            rows.append((i, base + f" tail{i}"))   # near-dup of base
        elif i % 5 == 3:
            rows.append((i, base))                  # exact dup
        else:
            rows.append((i, f"unique doc {i} " + " ".join(
                f"w{i}_{j}" for j in range(20))))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    pairs = DD.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=16, bands=4, n=3, hasher="md5"
    ).filter(F.col("est_jaccard") >= 0.4)
    one_shot_rejected = {r["id_b"] for r in pairs.collect()}
    expect = {i for i, _ in rows} - one_shot_rejected

    state = spark.createDataFrame(
        [], "id long, sig array<bigint>, band int, band_hash string")
    got = set()
    for lo, hi in [(0, 10), (10, 20), (20, 30)]:
        batch = docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        surv, state = DD.incremental_minhash_dedup(
            batch, state, hasher="md5")
        got |= {r["doc_id"] for r in surv.collect()}
    assert got == expect
    # the near-dup family collapsed to its smallest id
    assert 3 in got and {8, 9, 13, 14, 18, 19, 23, 24, 28, 29} & got == set()


def test_png_decode_and_resize(spark):
    import hashlib

    from puffbird_spark.operators.multimodal import (
        decode_png_gray, encode_png, resize_images)

    # decode inverts encode exactly
    w, h, px = decode_png_gray(encode_png(6, 3, seed=11))
    assert (w, h) == (6, 3)
    assert list(px) == [(x * 31 + y * 17 + 11) % 256
                        for y in range(3) for x in range(6)]

    # unsupported inputs fail loudly, not wrongly
    with pytest.raises(NotImplementedError):
        decode_png_gray(b"GIF89a\x00\x00")

    # identity resize reproduces the source raster digest
    df = spark.createDataFrame(
        [("p", encode_png(4, 3, seed=5))], "path string, content binary")
    r = resize_images(df, out_w=4, out_h=3).collect()[0]
    src = [(x * 31 + y * 17 + 5) % 256 for y in range(3) for x in range(4)]
    expect = hashlib.md5(",".join(map(str, src)).encode()).hexdigest()
    assert (r["src_w"], r["src_h"]) == (4, 3)
    assert r["pix_csv_digest"] == expect

    # downsample picks nearest-neighbor sources
    r2 = resize_images(df, out_w=2, out_h=1).collect()[0]
    sub = [src[0 * 4 + 0], src[0 * 4 + 2]]   # y->0, x->{0,2}
    expect2 = hashlib.md5(",".join(map(str, sub)).encode()).hexdigest()
    assert r2["pix_csv_digest"] == expect2


def test_group_ols_matches_numpy(spark):
    import numpy as np

    from puffbird_spark.queries import QUERIES, load  # noqa: F401
    from puffbird_spark.queries.relational import agg_group_ols  # noqa

    # drive the gate machinery on constructed data via a direct replay
    rows = [("a", x, 2.0 * x + 3.0 + (0.1 if x % 2 else -0.1))
            for x in range(10)]
    rows += [("b", 5, 7.0)]          # degenerate: one x value -> NULL
    rows += [("c", 1, 1.0), ("c", 3, 5.0)]   # exact line y = 2x - 1
    df = spark.createDataFrame(rows, ["user_id", "event_id", "value"])

    from pyspark.sql import functions as F
    dec = "decimal(28,12)"
    s = df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("event_id").cast(dec)).alias("sx"),
        F.sum(F.col("value").cast(dec)).alias("sy"),
        F.sum((F.col("event_id") * F.col("event_id")).cast(dec)).alias("sxx"),
        F.sum((F.col("event_id") * F.col("value")).cast(dec)).alias("sxy"))
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    den = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / F.when(den != 0, den)
    out = {r["user_id"]: (r["slope"], r["intercept"]) for r in s.select(
        "user_id", F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept")).collect()}

    a_x = np.array([r[1] for r in rows if r[0] == "a"], dtype=float)
    a_y = np.array([r[2] for r in rows if r[0] == "a"], dtype=float)
    m, b = np.polyfit(a_x, a_y, 1)
    assert abs(out["a"][0] - m) < 1e-6 and abs(out["a"][1] - b) < 1e-6
    assert out["b"] == (None, None)          # degenerate guard
    assert out["c"] == (2.0, -1.0)           # exact line


def test_funnel_depths_event_time_order(spark):
    import datetime as dt

    from puffbird_spark.operators.sessionize import (
        funnel_conversion, funnel_depths)

    T = dt.datetime
    t0 = T(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        # u1: full funnel in order
        (1, 1, ts(0), "view"), (2, 1, ts(5), "click"),
        (3, 1, ts(9), "purchase"),
        # u2: click BEFORE view -> depth stops at 1 (view only)
        (4, 2, ts(0), "click"), (5, 2, ts(5), "view"),
        # u3: purchase before click -> depth 2 (view, click)
        (6, 3, ts(0), "view"), (7, 3, ts(1), "purchase"),
        (8, 3, ts(2), "click"),
        # u4: unrelated events only -> depth 0
        (9, 4, ts(0), "error"), (10, 4, ts(1), "signup"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"])
    steps = ["view", "click", "purchase"]
    depths = {r["user_id"]: r["depth"] for r in funnel_depths(
        df, "user_id", "ts", "event_type", steps,
        tiebreak_col="event_id").collect()}
    assert depths == {1: 3, 2: 1, 3: 2, 4: 0}

    conv = {r["step"]: r["n_reached"] for r in funnel_conversion(
        df, "user_id", "ts", "event_type", steps,
        tiebreak_col="event_id").collect()}
    assert conv == {0: 4, 1: 3, 2: 2, 3: 1}


def test_cusum_matches_sequential_recursion(spark):
    """The window formulation must equal the textbook clamp-at-zero
    recursion exactly, including alarm timing."""
    import datetime as dt

    from puffbird_spark.operators.timeseries import cusum_alarms

    t0 = dt.datetime(2024, 1, 1)
    vals = [3.0, 9.0, 1.0, 8.0, 8.0, 0.5, 9.5, 9.0]
    rows = [(1, i, t0 + dt.timedelta(minutes=i), v)
            for i, v in enumerate(vals)]
    rows += [(2, 100, t0, 1.0), (2, 101, t0 + dt.timedelta(minutes=1), 2.0)]
    df = spark.createDataFrame(rows, ["k", "event_id", "ts", "value"])

    target, thr = 5.0, 6.0
    out = {r["k"]: r for r in cusum_alarms(
        df, ["k"], "ts", "value", target=target, threshold=thr,
        tiebreak_cols=["event_id"]).collect()}

    # sequential reference
    s, n_alarms, max_s, first = 0.0, 0, 0.0, None
    for i, v in enumerate(vals):
        s = max(0.0, s + (v - target))
        max_s = max(max_s, s)
        if s > thr:
            n_alarms += 1
            if first is None:
                first = t0 + dt.timedelta(minutes=i)
    r1 = out[1]
    assert (r1["n_alarms"], r1["max_s"]) == (n_alarms, round(max_s, 6))
    assert r1["first_alarm_ts"] == first
    # key 2 never alarms: zero count, NULL first-alarm
    assert out[2]["n_alarms"] == 0 and out[2]["first_alarm_ts"] is None


def test_group_corr_matches_numpy(spark):
    import numpy as np

    from puffbird_spark.queries.base import QUERIES  # noqa: F401

    # replicate the gate arithmetic on constructed data
    from pyspark.sql import functions as F
    rows = ([("a", x, 3.0 * x + 1.0) for x in range(8)]       # r = 1
            + [("b", x, float(-x)) for x in range(6)]          # r = -1
            + [("c", x, 4.2) for x in range(5)]                # var 0 -> NULL
            + [("d", x, [2.0, 5.0, 3.0, 9.0, 1.0][x]) for x in range(5)])
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    dec = "decimal(28,12)"
    s = df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"))
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    den = (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
    r = (n * sxy - sx * sy) / F.when(den != 0, den)
    out = {row["k"]: row["r"] for row in s.select(
        "k", F.round(r, 6).alias("r")).collect()}
    assert out["a"] == 1.0 and out["b"] == -1.0 and out["c"] is None
    d_y = [2.0, 5.0, 3.0, 9.0, 1.0]
    expect = float(np.corrcoef(range(5), d_y)[0, 1])
    assert abs(out["d"] - expect) < 1e-6


def test_scd2_join_picks_version_at_event_time(spark):
    import datetime as dt

    from puffbird_spark.operators.asof import scd2_join

    T = dt.datetime
    dim = spark.createDataFrame([
        (1, "old", T(2000, 1, 1), T(2001, 1, 1)),
        (1, "new", T(2001, 1, 1), T(9999, 1, 1)),
        (2, "only", T(2000, 6, 1), T(2000, 7, 1)),   # gap after
    ], ["k", "attr", "valid_from", "valid_to"])
    fact = spark.createDataFrame([
        (10, 1, T(2000, 5, 5)),    # -> old
        (11, 1, T(2001, 1, 1)),    # boundary: half-open -> new
        (12, 2, T(2000, 6, 15)),   # -> only
        (13, 2, T(2000, 8, 1)),    # in the gap -> NULL (left join)
        (14, 3, T(2000, 1, 1)),    # unknown key -> NULL
    ], ["fid", "k", "ts"])
    out = {r["fid"]: r["attr"] for r in scd2_join(
        fact, dim, "k", "ts").collect()}
    assert out == {10: "old", 11: "new", 12: "only", 13: None, 14: None}
    # inner join drops the unmatched facts instead
    inner = scd2_join(fact, dim, "k", "ts", how="inner")
    assert sorted(r["fid"] for r in inner.collect()) == [10, 11, 12]


def test_dedup_weights_mass_invariant(spark):
    from puffbird_spark.operators.dedup import dedup_weights

    docs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, None), (6, None)],
        ["doc_id", "text"])
    out = dedup_weights(docs, "text", "doc_id")
    got = {r["doc_id"]: r["weight"] for r in out.collect()}
    assert got == {1: round(1/3, 6), 2: round(1/3, 6), 3: round(1/3, 6),
                   4: 1.0, 5: 0.5, 6: 0.5}
    # every row kept; total mass == number of distinct contents
    assert out.count() == 6
    total = sum(got.values())
    assert abs(total - 3.0) < 1e-5  # "a", "b", NULL


def test_contamination_report_attribution(spark):
    from puffbird_spark.operators.decontam import contamination_report

    ev = spark.createDataFrame(
        [(100, "a b c d e"),          # grams: abc bcd cde
         (101, "x y z w")],           # grams: xyz yzw — untouched
        ["doc_id", "text"])
    tr = spark.createDataFrame(
        [(1, "a b c d q"),            # shares abc bcd  (overlap 2)
         (2, "p q a b c"),            # shares abc      (overlap 1)
         (3, "totally different words here")],
        ["doc_id", "text"])
    out = {r["eval_id"]: r for r in contamination_report(
        tr, ev, "text", "doc_id").collect()}
    assert set(out) == {100}          # clean eval item absent
    r = out[100]
    assert r["n_grams"] == 3
    assert r["n_train_docs"] == 2
    assert r["n_shared_grams"] == 2   # abc, bcd (cde nowhere)
    assert r["worst_overlap"] == 2    # train doc 1


def test_interval_coverage_sweep_reference(spark):
    """Window formulation equals a sequential sweep on overlapping,
    touching, nested, and disjoint intervals."""
    import random

    from puffbird_spark.operators.timeseries import interval_coverage

    cases = [
        # (key, intervals)
        (1, [(0, 10), (5, 20), (20, 30), (40, 50)]),   # overlap+touch+gap
        (2, [(0, 100), (10, 20), (30, 40)]),           # nested
        (3, [(0, 5)]),                                 # single
        (4, [(0, 5), (5, 10), (10, 15)]),              # chain of touches
    ]
    rows = [(k, i, s, e) for k, ivs in cases
            for i, (s, e) in enumerate(ivs)]
    rng = random.Random(9)
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, ["k", "iid", "s", "e"])
    out = {r["k"]: r for r in interval_coverage(
        df, ["k"], "s", "e", tiebreak_cols=["iid"]).collect()}

    def sweep(ivs):
        ivs = sorted(ivs)
        islands, cur_s, cur_e = [], None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    islands.append(cur_e - cur_s)
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        islands.append(cur_e - cur_s)
        return len(ivs), len(islands), sum(islands)

    for k, ivs in cases:
        r = out[k]
        assert (r["n_intervals"], r["n_islands"],
                r["total_coverage"]) == sweep(ivs), k


def test_distribution_stats_entropy_and_mode(spark):
    import math

    from puffbird_spark.queries import QUERIES  # registry import side
    from pyspark.sql import functions as F

    # replicate the gate arithmetic on constructed data
    rows = ([("a", "x")] * 4 + [("a", "y")] * 4 + [("a", "z")] * 8
            + [("b", "only")] * 3)
    df = spark.createDataFrame(rows, ["k", "t"])
    c = df.groupBy("k", "t").agg(F.count(F.lit(1)).alias("cnt"))
    term = F.round(F.col("cnt") * F.log2(F.col("cnt")), 9).cast(
        "decimal(20,9)")
    s = c.groupBy("k").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(term).alias("t"))
    out = {r["k"]: round(
        math.log2(r["n"]) - float(r["t"]) / r["n"], 6)
        for r in s.collect()}
    # a: p = (.25, .25, .5) -> H = 1.5 bits; b: single type -> 0
    assert abs(out["a"] - 1.5) < 1e-6
    assert out["b"] == 0.0


def test_scan_json_corrupt_routing(spark, tmp_path_factory):
    """PERMISSIVE corrupt-record routing: truncated lines land in
    _corrupt_record with NULL fields; valid lines parse exactly."""
    path = str(tmp_path_factory.mktemp("cj") / "in")
    lines = ['{"a": 1, "b": 2.5}', '{"a": 2, "b"', '{"a": 3, "b": 4.0}']
    spark.createDataFrame([(l,) for l in lines], ["value"]) \
        .coalesce(1).write.text(path)
    df = spark.read.schema(
        "a long, b double, _corrupt_record string").json(path).cache()
    rows = df.collect()
    good = {r["a"]: r["b"] for r in rows if r["_corrupt_record"] is None}
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert good == {1: 2.5, 3: 4.0}
    assert len(bad) == 1 and bad[0]["a"] is None
    assert bad[0]["_corrupt_record"] == '{"a": 2, "b"'


def test_mask_valid_cards_embedded_run_untouched(spark):
    """ADVICE r6: a Luhn-valid 16-digit sequence EMBEDDED in a longer
    digit run (order id) must not be mangled mid-run; the same digits
    standalone elsewhere must still be masked."""
    from puffbird_spark.functions.text import mask_valid_cards

    card = "4111111111111111"
    msg = f"order {card}0042 card {card} end"
    out = spark.createDataFrame([(msg,)], ["t"]).select(
        mask_valid_cards("t").alias("m")).collect()[0]["m"]
    assert out == f"order {card}0042 card <CARD> end"


def test_minhash_bands_must_divide(spark):
    """ADVICE r6: bands not dividing num_hashes would silently drop
    trailing signature entries — reject loudly instead."""
    import pytest as _pytest

    from puffbird_spark.operators.dedup import (
        minhash_banded, minhash_candidate_pairs)

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="evenly divide"):
        minhash_banded(docs, "text", "doc_id", num_hashes=16, bands=5)
    with _pytest.raises(ValueError, match="evenly divide"):
        minhash_candidate_pairs(
            docs, "text", "doc_id", num_hashes=16, bands=7).collect()
    # the valid parameterization still works
    assert minhash_banded(
        docs, "text", "doc_id", num_hashes=16, bands=4).count() == 8


def test_hll_overlap_emits_both_containments(spark):
    """ADVICE r6: containment_b (|A n B| / |B|) answers 'how much of B
    is already in A' when B is the small side."""
    from puffbird_spark.operators.sketch import hll_overlap

    big = spark.range(0, 2000).select(F.col("id").cast("string").alias("k"))
    small = spark.range(0, 200).select(F.col("id").cast("string").alias("k"))
    r = hll_overlap(big, small, "k").collect()[0]
    # B is a subset of A: containment_b ~ 1, containment_a ~ 0.1
    assert r["containment_b"] > 0.9
    assert r["containment_a"] < 0.2


def test_snapshot_diff_append_check_existing_keys(spark, tmp_path_factory):
    """ADVICE r6: an append that re-adds an existing key is 'insert' on
    the default fast path (documented append-only assumption) but
    'update' with check_existing_keys=True, matching the general
    path's classification."""
    from puffbird_spark.operators.layout import snapshot_diff, write_snapshot

    path = str(tmp_path_factory.mktemp("cdc3") / "t")
    write_snapshot(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), path)
    write_snapshot(
        spark, spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]), path)

    fast = sorted((r["k"], r["change"]) for r in snapshot_diff(
        spark, path, 1, 2, ["k"]).collect())
    assert fast == [(2, "insert"), (3, "insert")]

    checked = sorted((r["k"], r["change"]) for r in snapshot_diff(
        spark, path, 1, 2, ["k"], check_existing_keys=True).collect())
    assert checked == [(2, "update"), (3, "insert")]


def test_sq_minmax_wide_dim_no_plan_blowup(spark):
    """VERDICT r6 #4: the quantizer bounds must not generate 2*dim agg
    expressions — at production embedding widths (1024+) that blows
    codegen limits. The posexplode shape keeps plan size constant in
    dim; this runs (not just plans) at dim=1024 and checks the bounds
    against numpy."""
    import time as _time

    import numpy as np

    from puffbird_spark.operators.similarity import sq_minmax

    rng = np.random.RandomState(7)
    vecs = rng.uniform(-3, 3, size=(5, 1024))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    t0 = _time.time()
    lo, hi = sq_minmax(df, "embedding", 1024)
    elapsed = _time.time() - t0
    assert lo.shape == (1024,) and hi.shape == (1024,)
    np.testing.assert_allclose(lo, vecs.min(axis=0), rtol=1e-9)
    np.testing.assert_allclose(hi, vecs.max(axis=0), rtol=1e-9)
    # generous wall bound: the old 2*dim-expression agg took minutes to
    # plan at this width; the posexplode shape is a tiny constant plan
    assert elapsed < 60


def test_gif_codec_roundtrip_and_external_fixture():
    """VERDICT r6 #7: the GIF LZW codec must round-trip the closed-form
    fill at sizes crossing the 9->10->11->12 bit widths and the 4096
    table reset, and decode a REAL encoder's output (the canonical 1x1
    GIF), not just its own."""
    import base64
    import random

    from puffbird_spark.operators.multimodal import (
        _lzw_decode, _lzw_encode, decode_gif_gray, decode_image_gray,
        encode_gif, encode_png)

    rnd = random.Random(42)
    for data in (b"", b"\x00", b"abcabcabcabc" * 50,
                 bytes(rnd.randrange(256) for _ in range(20000)),
                 bytes((i * 31) % 256 for i in range(5000))):
        assert _lzw_decode(_lzw_encode(data, 8), 8) == data

    for w, h, seed in ((1, 1, 0), (16, 12, 7), (80, 60, 3), (5, 9, 250)):
        wd, hd, px = decode_gif_gray(encode_gif(w, h, seed))
        expect = bytes((x * 31 + y * 17 + seed) % 256
                       for y in range(h) for x in range(w))
        assert (wd, hd, px) == (w, h, expect)

    # a real-world encoder's 1x1 black GIF (with graphic-control
    # extension block the parser must skip)
    tiny = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7")
    assert decode_gif_gray(tiny) == (1, 1, b"\x00")

    # magic-byte dispatch covers both real pixel decoders
    for enc in (encode_png, encode_gif):
        assert decode_image_gray(enc(7, 5, seed=9))[:2] == (7, 5)
    import pytest as _pytest
    # JPEG magic now reaches the REAL decoder (r8) — a truncated blob
    # is structural damage, not a missing decoder
    with _pytest.raises(ValueError, match="SOF"):
        decode_image_gray(b"\xff\xd8\xff\xe0 not decodable")
    with _pytest.raises(NotImplementedError, match="no pixel decoder"):
        decode_image_gray(b"RIFF not an image")


def test_incremental_minhash_out_of_order_divergence(spark):
    """VERDICT r6 #8: pin the DOCUMENTED ascending-id requirement with a
    failing-shape replay, not prose. An out-of-order batch carrying a
    SMALLER id than an already-accepted near-dup diverges from one-shot:
    the big id was accepted before its smaller twin was seen and cannot
    be retroactively rejected, and the late smaller id survives too
    (nothing smaller is in state) — BOTH survive, where one-shot keeps
    only the smaller."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    docs = spark.createDataFrame(
        [(1, base), (5, base + " tail"), (7, "totally unrelated words "
          + " ".join(f"q{j}" for j in range(20)))],
        ["doc_id", "text"])

    # one-shot: 5 is rejected against smaller near-dup 1
    pairs = DD.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=16, bands=4, n=3, hasher="md5"
    ).filter(F.col("est_jaccard") >= 0.4)
    assert {r["id_b"] for r in pairs.collect()} == {5}

    empty = spark.createDataFrame(
        [], "id long, sig array<bigint>, band int, band_hash string")

    # in-order replay [1,7] then [5]: matches one-shot
    got = set()
    state = empty
    for ids in ([1, 7], [5]):
        batch = docs.filter(F.col("doc_id").isin(ids))
        surv, state = DD.incremental_minhash_dedup(batch, state, hasher="md5")
        got |= {r["doc_id"] for r in surv.collect()}
    assert got == {1, 7}

    # OUT-OF-ORDER replay [5,7] then [1]: the documented divergence —
    # both 5 and 1 survive (one-shot would keep only 1)
    got = set()
    state = empty
    for ids in ([5, 7], [1]):
        batch = docs.filter(F.col("doc_id").isin(ids))
        surv, state = DD.incremental_minhash_dedup(batch, state, hasher="md5")
        got |= {r["doc_id"] for r in surv.collect()}
    assert got == {1, 5, 7}
    assert 5 in got  # the divergence this limitation documents


def test_animated_gif_frame_sampling_real_codec(spark):
    """The frame sampler's GIF path must LZW-decode every sampled frame
    (not byte-slice), report true byte offsets into the container, and
    leave non-GIF blobs on the documented byte-block path."""
    import hashlib

    from puffbird_spark.operators.multimodal import (
        decode_gif_frames, encode_gif_animated, sample_frames)

    blob = encode_gif_animated(6, 4, 7, seed=3)
    frames = decode_gif_frames(blob)
    assert len(frames) == 7
    for f, (off, w, h, px) in enumerate(frames):
        assert (w, h) == (6, 4)
        assert px == bytes((x * 31 + y * 17 + 3 + 13 * f) % 256
                           for y in range(4) for x in range(6))
        assert blob[off] == 0x2C  # offset points at the image descriptor

    df = spark.createDataFrame(
        [("v", blob), ("t", b"plain bytes " * 20)],
        "path string, content binary")
    got = {(r["path"], r["frame_idx"]): r
           for r in sample_frames(df, stride=2, max_frames=3).collect()}
    # GIF: frames 0,2,4 decoded for real
    for idx in (0, 2, 4):
        r = got[("v", idx)]
        _off, w, h, px = frames[idx]
        csv = ",".join(str(v) for v in px)
        assert r["frame_bytes"] == 24
        assert r["offset"] == frames[idx][0]
        assert r["digest"] == hashlib.md5(csv.encode()).hexdigest()
    # non-GIF: byte-block stub semantics preserved
    r = got[("t", 0)]
    assert r["offset"] == 0 and r["frame_bytes"] == 64
    assert r["digest"] == hashlib.md5((b"plain bytes " * 20)[:64]).hexdigest()


def test_ewma_smooth_matches_recursion_and_partitioning(spark):
    """The truncated dyadic EWMA must equal the direct weighted sum,
    be exact (bit-identical under repartitioning), and weights must
    sum to 1 at every prefix length."""
    import datetime as dt

    from puffbird_spark.operators.timeseries import ewma_smooth

    base = dt.datetime(2024, 1, 1)
    vals = [100, 250, 50, 775, 300, 1, 999, 42, 10000, 7] * 3
    rows = [(1, base + dt.timedelta(minutes=i), i, v)
            for i, v in enumerate(vals)]
    rows += [(2, base, 0, 500)]  # single-sample key: ewma == value
    df = spark.createDataFrame(rows, ["k", "ts", "eid", "c"])

    def expected(seq, t, window=16):
        lo = max(0, t - window + 1)
        frame = seq[lo:t + 1]
        m = len(frame)
        total = 0.0
        for i, v in enumerate(frame, start=1):  # i=1 oldest
            w = 0.5 ** (m - 1) if i == 1 else 0.5 ** (m - i + 1)
            total += v * w
        return total

    out = ewma_smooth(df, ["k"], "ts", "c", tiebreak_cols=["eid"])
    got = {(r["k"], r["eid"]): r["ewma_cents"] for r in out.collect()}
    for t in range(len(vals)):
        assert got[(1, t)] == expected(vals, t), t
    assert got[(2, 0)] == 500.0

    # exactness: identical bits after a different partitioning
    got2 = {(r["k"], r["eid"]): r["ewma_cents"]
            for r in ewma_smooth(df.repartition(7), ["k"], "ts", "c",
                                 tiebreak_cols=["eid"]).collect()}
    assert got == got2


def test_vacuum_snapshots_retention(spark, tmp_path_factory):
    """VACUUM must drop old manifests + their exclusive shards, keep the
    retained versions byte-identical, and be idempotent."""
    import pytest as _pytest

    from puffbird_spark.operators.layout import (
        read_snapshot, snapshot_versions, vacuum_snapshots, write_snapshot)

    path = str(tmp_path_factory.mktemp("vac") / "t")
    write_snapshot(spark, spark.createDataFrame(
        [(1, "a"), (2, "b")], ["k", "v"]), path)                  # v1
    write_snapshot(spark, spark.createDataFrame(
        [(3, "c")], ["k", "v"]), path)                            # v2 append
    write_snapshot(spark, spark.createDataFrame(
        [(9, "z")], ["k", "v"]), path, mode="overwrite")          # v3
    write_snapshot(spark, spark.createDataFrame(
        [(10, "y")], ["k", "v"]), path)                           # v4 append

    before = sorted(map(tuple, read_snapshot(spark, path, 4).collect()))
    stats = vacuum_snapshots(spark, path, keep_last=2)
    # v1/v2 gone; the v1+v2 shards were referenced only by them
    assert stats["kept_versions"] == [3, 4]
    assert stats["deleted_manifests"] == 2
    assert stats["deleted_shards"] == 2      # shard-v1, shard-v2
    assert stats["live_shards"] == 2         # shard-v3 (shared) + shard-v4
    assert snapshot_versions(spark, path) == [3, 4]
    # kept versions read identically; vacuumed ones are gone
    assert sorted(map(tuple, read_snapshot(spark, path, 4).collect())) == before
    assert sorted(map(tuple, read_snapshot(spark, path, 3).collect())) == [
        (9, "z")]
    with _pytest.raises(ValueError):
        read_snapshot(spark, path, 1)
    # idempotent
    again = vacuum_snapshots(spark, path, keep_last=2)
    assert again["deleted_manifests"] == 0 and again["deleted_shards"] == 0
    with _pytest.raises(ValueError):
        vacuum_snapshots(spark, path, keep_last=0)


def test_distribution_psi_stable_shifted_vanished(spark):
    """PSI must read ~0 for an identical distribution, large for a
    shifted one, and flag a vanished key outright (its all-smoothed
    PSI deceptively reads uniform)."""
    from puffbird_spark.operators.drift import distribution_psi

    ref_rows = [("a", float(v)) for v in range(1000)] \
        + [("b", float(v)) for v in range(1000)] \
        + [("gone", float(v)) for v in range(50)]
    cur_rows = [("a", float(v)) for v in range(1000)] \
        + [("b", float(v) + 500.0) for v in range(1000)]
    ref = spark.createDataFrame(ref_rows, ["k", "v"])
    cur = spark.createDataFrame(cur_rows, ["k", "v"])
    got = {r["k"]: r for r in distribution_psi(
        ref, cur, ["k"], "v").collect()}
    assert set(got) == {"a", "b", "gone"}
    assert got["a"]["psi"] < 0.05 and not got["a"]["drifted"]
    assert got["b"]["psi"] > 0.5 and got["b"]["drifted"]
    assert got["gone"]["n_cur"] == 0 and got["gone"]["drifted"]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_buckets"):
        distribution_psi(ref, cur, ["k"], "v", n_buckets=1)


def test_profile_columns_nulls_constants_exact(spark):
    from puffbird_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a", 7, None), (2, "b", 7, None), (3, None, 7, None),
         (4, "b", 7, None)],
        "id long, s string, const int, allnull string")
    got = {r["column"]: r for r in profile_columns(df).collect()}
    assert got["id"]["n_rows"] == 4 and got["id"]["n_distinct"] == 4
    assert got["id"]["min_str"] == "1" and got["id"]["max_str"] == "4"
    assert not got["id"]["is_constant"]
    assert got["s"]["n_null"] == 1 and got["s"]["null_frac"] == 0.25
    assert got["s"]["n_distinct"] == 2
    assert got["const"]["is_constant"]
    assert got["allnull"]["n_distinct"] == 0 and got["allnull"]["is_constant"]
    assert got["allnull"]["min_str"] is None
    # single job shape: exactly one action over one agg — subset works too
    sub = profile_columns(df, ["id"]).collect()
    assert len(sub) == 1 and sub[0]["column"] == "id"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        profile_columns(df, [])


def test_snapshot_schema_diff(spark, tmp_path_factory):
    from puffbird_spark.operators.layout import (
        snapshot_schema_diff, write_snapshot)

    path = str(tmp_path_factory.mktemp("sdiff") / "t")
    write_snapshot(spark, spark.createDataFrame(
        [(1, "x", 10)], "k long, s string, n long"), path)
    write_snapshot(spark, spark.createDataFrame(
        [(2, "en", 5)], "k long, lang string, n int"), path,
        mode="overwrite")
    got = sorted(map(tuple, snapshot_schema_diff(spark, path, 1, 2).collect()))
    assert got == [
        ("lang", "added", None, "string"),
        ("n", "type_changed", "bigint", "int"),
        ("s", "removed", "string", None),
    ]
    assert snapshot_schema_diff(spark, path, 2, 2).count() == 0


def test_categorical_psi_mix_shift_and_new_category(spark):
    from puffbird_spark.operators.drift import categorical_psi

    ref = spark.createDataFrame(
        [("k1", c) for c in ["a"] * 500 + ["b"] * 500]
        + [("k2", c) for c in ["a"] * 500 + ["b"] * 500], ["k", "cat"])
    cur = spark.createDataFrame(
        [("k1", c) for c in ["a"] * 500 + ["b"] * 500]          # unchanged
        + [("k2", c) for c in ["a"] * 100 + ["c"] * 900], ["k", "cat"])
    got = {r["k"]: r for r in categorical_psi(
        ref, cur, ["k"], "cat").collect()}
    assert not got["k1"]["drifted"] and got["k1"]["psi"] < 0.01
    assert got["k2"]["drifted"] and got["k2"]["psi"] > 1.0
    assert got["k2"]["n_categories"] == 3   # union universe includes 'c'


def test_cdc_chunks_resync_after_insertion(spark):
    """The CDC property: prepending text must leave most chunk digests
    intact (boundaries re-synchronize), where fixed windows would share
    none; short docs emit one whole-text chunk; chunks tile the doc."""
    import hashlib

    from puffbird_spark.operators.dedup import cdc_chunks

    body = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away to the hills where nobody follows " * 6)
    docs = spark.createDataFrame(
        [(1, body), (2, "EDIT INSERTED AT FRONT. " + body), (3, "tiny")],
        ["doc_id", "text"])
    out = cdc_chunks(docs, "text", "doc_id").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # tiling: chunks cover each doc exactly, in order
    for did, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_idx"])
        text = {1: body, 2: "EDIT INSERTED AT FRONT. " + body,
                3: "tiny"}[did]
        pos = 1
        for r in rows:
            assert r["start"] == pos
            piece = text[r["start"] - 1:r["start"] - 1 + r["length"]]
            assert r["digest"] == hashlib.md5(piece.encode()).hexdigest()
            pos += r["length"]
        assert pos - 1 == len(text)
    assert len(by_doc[3]) == 1                      # short doc: one chunk
    d1 = {r["digest"] for r in by_doc[1]}
    d2 = {r["digest"] for r in by_doc[2]}
    assert len(by_doc[1]) >= 4                      # actually chunked
    overlap = len(d1 & d2) / len(d1)
    assert overlap >= 0.5, overlap                  # re-synchronized


def test_asof_directions_and_tolerance(spark):
    """merge_asof parity: backward/forward/nearest with strictness and
    tolerance; same-ts ties resolve largest-tiebreak in EVERY
    direction; nearest ties go backward (pandas' rule)."""
    from puffbird_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "L10"), (1, 20, "L20"), (1, 35, "L35"), (2, 5, "Lx")],
        ["k", "t", "lv"])
    right = spark.createDataFrame(
        [(1, 8, 1, "R8"), (1, 20, 2, "R20a"), (1, 20, 3, "R20b"),
         (1, 30, 4, "R30"), (9, 1, 5, "R?")],
        ["k", "rt", "rid", "rv"])

    def run(**kw):
        out = asof_join(left, right, ["k"], "t", "rt", tiebreak="rid", **kw)
        return {(r["k"], r["t"]): r["rv"] for r in out.collect()}

    assert run() == {
        (1, 10): "R8", (1, 20): "R20b", (1, 35): "R30", (2, 5): None}
    assert run(strict=True) == {
        (1, 10): "R8", (1, 20): "R8", (1, 35): "R30", (2, 5): None}
    assert run(direction="forward") == {
        (1, 10): "R20b", (1, 20): "R20b", (1, 35): None, (2, 5): None}
    assert run(direction="forward", strict=True) == {
        (1, 10): "R20b", (1, 20): "R30", (1, 35): None, (2, 5): None}
    # t=10: back gap 2 vs fwd gap 10 -> backward
    assert run(direction="nearest") == {
        (1, 10): "R8", (1, 20): "R20b", (1, 35): "R30", (2, 5): None}
    assert run(direction="nearest", tolerance=3) == {
        (1, 10): "R8", (1, 20): "R20b", (1, 35): None, (2, 5): None}
    import pytest as _pytest

    from puffbird_spark.errors import PuffbirdSparkError
    with _pytest.raises(PuffbirdSparkError, match="direction"):
        run(direction="sideways")


def test_robust_stats_outliers_and_degenerate_mad(spark):
    from puffbird_spark.operators.robust import robust_stats

    rows = ([("a", float(v)) for v in range(1, 101)]   # uniform 1..100
            + [("a", 10000.0)]                          # one gross outlier
            + [("b", 5.0)] * 10 + [("b", 50.0)]         # zero-MAD group
            + [("c", None)])                            # all-null ignored
    df = spark.createDataFrame(rows, "k string, v double")
    got = {r["k"]: r for r in robust_stats(df, ["k"], "v").collect()}
    a = got["a"]
    assert a["n"] == 101 and abs(a["median"] - 51.0) < 1e-6
    assert a["n_outliers"] == 1          # only the gross value
    b = got["b"]
    assert b["mad"] == 0.0 and b["n_outliers"] == 1   # off-median value
    assert "c" not in got                # null-only group vanishes


def test_quantile_normalize_aligns_groups(spark):
    """Two groups with shifted scales must land on the SAME global
    distribution after normalization; percentiles are rank-based with
    deterministic ties; single-row groups map to p=0."""
    import statistics

    from puffbird_spark.operators.robust import quantile_normalize

    rows = ([("harsh", v / 100.0) for v in range(0, 50)]
            + [("lenient", 0.5 + v / 100.0) for v in range(0, 50)]
            + [("solo", 0.9)])
    df = spark.createDataFrame(rows, "k string, v double")
    out = quantile_normalize(df, ["k"], "v").collect()
    by_k = {}
    for r in out:
        by_k.setdefault(r["k"], []).append(r)
    med_h = statistics.median(
        [r["value_normalized"] for r in by_k["harsh"]])
    med_l = statistics.median(
        [r["value_normalized"] for r in by_k["lenient"]])
    assert abs(med_h - med_l) < 1e-9          # aligned on the global dist
    assert by_k["solo"][0]["pct_in_group"] == 0.0
    # percentile ranks span [0, 1] within each multi-row group
    for k in ("harsh", "lenient"):
        ps = sorted(r["pct_in_group"] for r in by_k[k])
        assert ps[0] == 0.0 and ps[-1] == 1.0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="grid_points"):
        quantile_normalize(df, ["k"], "v", grid_points=1)


def test_cdc_shared_chunks_edit_robust_and_df_pruned(spark):
    """Two docs sharing a long run at DIFFERENT offsets must pair via
    shared chunk digests; boilerplate present in every doc must be
    pruned by the document-frequency guard, not explode the join."""
    from puffbird_spark.operators.dedup import cdc_shared_chunks

    # seeded diverse words: repetitive phrases can be hash-unlucky and
    # yield ZERO boundaries (whole doc = one chunk); this fixture has
    # ~14 boundaries in the shared run and 3 in the boilerplate
    import random

    rnd = random.Random(11)
    words = ["".join(rnd.choice("abcdefghijklmnopqrstuvwxyz")
                     for _ in range(rnd.randrange(3, 9)))
             for _ in range(60)]
    shared = " ".join(rnd.choice(words) for _ in range(120))
    boiler = " " + " ".join(rnd.choice(words) for _ in range(40))
    docs = spark.createDataFrame(
        [(1, shared + boiler),
         (2, "PREFIX SHIFTING THE OFFSETS. " + shared + boiler),
         (3, "completely unrelated content " * 12 + boiler),
         (4, "fourth doc own words entirely " * 12 + boiler)],
        ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"]
             for r in cdc_shared_chunks(
                 docs, "text", "doc_id", max_df=3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2   # offset-shifted match
    # boilerplate (df=4 > max_df=3) must NOT pair docs 3/4
    assert (3, 4) not in pairs


def test_file_bloom_index_pruning_and_no_false_negatives(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from puffbird_spark.operators.layout import (
        bloom_pruned_lookup, file_bloom_index)

    path = str(tmp_path_factory.mktemp("fbloom") / "t")
    spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).repartition(6, "k").write.parquet(path)
    idx = file_bloom_index(spark, path, "k").localCheckpoint(eager=True)
    assert idx.count() == 6
    for probe in (0, 777, 1999):
        df, n_read, n_total = bloom_pruned_lookup(
            spark, path, "k", probe, index=idx)
        rows = df.collect()
        assert [(r["k"], r["v"]) for r in rows] == [(probe, probe * 3)]
        assert 1 <= n_read < n_total        # pruned, never missed
    df, n_read, _ = bloom_pruned_lookup(spark, path, "k", -5, index=idx)
    assert n_read == 0 and df.count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="m_bits"):
        file_bloom_index(spark, path, "k", m_bits=100)


def test_distribution_psi_null_rate_invariant(spark):
    """ADVICE r7: NULL metric rows must not count into bucket 0 — an
    identical non-null distribution plus extra NULLs on the current
    side must read stable, and n_ref/n_cur count non-null rows only."""
    from puffbird_spark.operators.drift import distribution_psi

    vals = [("a", float(v)) for v in range(1000)]
    ref = spark.createDataFrame(vals, ["k", "v"])
    cur = spark.createDataFrame(
        vals + [("a", None)] * 800, "k string, v double")
    r = distribution_psi(ref, cur, ["k"], "v").collect()[0]
    assert r["psi"] < 0.01 and not r["drifted"]
    assert r["n_ref"] == 1000 and r["n_cur"] == 1000  # nulls excluded


def test_categorical_psi_null_category_matches_itself(spark):
    """ADVICE r7: a NULL category present in both snapshots is ONE
    category (folded to '<null>'), not two one-sided cells."""
    from puffbird_spark.operators.drift import categorical_psi

    rows = [("k", c) for c in ["a"] * 500 + ["b"] * 300] \
        + [("k", None)] * 200
    ref = spark.createDataFrame(rows, "k string, cat string")
    cur = spark.createDataFrame(rows, "k string, cat string")
    r = categorical_psi(ref, cur, ["k"], "cat").collect()[0]
    assert r["psi"] < 0.01 and not r["drifted"]
    assert r["n_categories"] == 3          # a, b, <null> — not 4
    assert r["n_ref"] == 1000 and r["n_cur"] == 1000


def test_profile_columns_hostile_names(spark):
    """ADVICE r7: names with spaces/dots/quotes must profile (positional
    generated identifiers + escaped string literals)."""
    from pyspark.sql import functions as F

    from puffbird_spark.operators.profile import profile_columns

    df = spark.range(3).select(
        F.col("id").alias("a b"),
        (F.col("id") * 2).alias("c.d"),
        F.lit("x").alias("e'f"),
        F.lit(7).alias("g-h"),
    )
    got = {r["column"]: r for r in profile_columns(df).collect()}
    assert set(got) == {"a b", "c.d", "e'f", "g-h"}
    assert got["a b"]["n_distinct"] == 3
    assert got["c.d"]["max_str"] == "4"
    assert got["e'f"]["is_constant"] and got["g-h"]["is_constant"]


def test_quantile_normalize_all_null_raises(spark):
    """ADVICE r7: no non-null values → a clear ValueError, not a
    TypeError from iterating None; NULL rows are excluded otherwise."""
    import pytest as _pytest

    from puffbird_spark.operators.robust import quantile_normalize

    empty = spark.createDataFrame([("g", None)], "g string, v double")
    with _pytest.raises(ValueError, match="non-null"):
        quantile_normalize(empty, ["g"], "v")
    mixed = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", None)], "g string, v double")
    out = quantile_normalize(mixed, ["g"], "v")
    assert out.count() == 2                # the NULL row is excluded


def test_kmeans_arrow_kernel_bit_equal_at_large_k(spark, force_kernel):
    """VERDICT r7 #2: the Arrow assignment kernel must be BIT-equal to
    the plan-literal path (left-to-right folds + HALF_UP replay), and
    the policy must pick it above ARROW_ASSIGN_KDIM."""
    import hashlib

    from puffbird_spark.operators.clustering import (
        ARROW_ASSIGN_KDIM, kmeans_assign)
    from puffbird_spark.telemetry import drain_kernels

    k, dim, n = 64, 33, 220
    assert k * dim > ARROW_ASSIGN_KDIM        # 'auto' routes to arrow

    def vec(i):
        # deterministic, engine-free pseudorandom doubles in [-1, 1)
        out = []
        for j in range(dim):
            h = hashlib.md5(f"kmv:{i}:{j}".encode()).hexdigest()[:12]
            out.append(int(h, 16) / float(16 ** 12) * 2.0 - 1.0)
        return out

    df = spark.createDataFrame(
        [(i, vec(i)) for i in range(n)], ["vid", "emb"])
    drain_kernels()
    auto = sorted(map(tuple, kmeans_assign(
        df, "vid", "emb", k=k, iters=2).collect()))
    assert drain_kernels()["kmeans_assign"] == "arrow"
    force_kernel("kmeans_assign", False)
    lit = sorted(map(tuple, kmeans_assign(
        df, "vid", "emb", k=k, iters=2).collect()))
    force_kernel("kmeans_assign", True)
    arr = sorted(map(tuple, kmeans_assign(
        df, "vid", "emb", k=k, iters=2).collect()))
    assert lit == arr           # cluster AND d2, exact doubles
    assert auto == arr


def test_wav_codec_roundtrip_and_stdlib_cross_check():
    """The WAV decoder must invert the fixture encoder bit-exactly, read
    stdlib `wave` output (a real-world encoder), skip unknown chunks
    with odd-size padding, and be honest about unsupported formats."""
    import io
    import struct
    import wave

    import pytest as _pytest

    from puffbird_spark.operators.multimodal import (
        _mono_fold, decode_wav_pcm, encode_wav)

    # 16-bit mono roundtrip against the closed form
    blob = encode_wav(10, 8000, seed=3)
    rate, n_ch, bits, frames = decode_wav_pcm(blob)
    exp = [((i * 2657 + 3 * 7919) % 4001) - 2000 for i in range(10)]
    assert (rate, n_ch, bits) == (8000, 1, 16)
    assert [f[0] for f in frames] == exp

    # stdlib wave reads our encoder; our decoder reads stdlib output
    w = wave.open(io.BytesIO(blob), "rb")
    assert (w.getframerate(), w.getnframes(), w.getsampwidth()) == (8000, 10, 2)
    buf = io.BytesIO()
    ww = wave.open(buf, "wb")
    ww.setnchannels(1); ww.setsampwidth(2); ww.setframerate(8000)
    ww.writeframes(b"".join(struct.pack("<h", v) for v in exp))
    ww.close()
    _, _, _, fr2 = decode_wav_pcm(buf.getvalue())
    assert [f[0] for f in fr2] == exp

    # stereo 8-bit: recentered to signed, floored-mean mono fold
    blob2 = encode_wav(5, 16000, seed=1, n_channels=2, bits=8)
    rate2, n_ch2, bits2, fr = decode_wav_pcm(blob2)
    assert (rate2, n_ch2, bits2) == (16000, 2, 8)
    exp2 = [[(i * 2657 + c * 101 + 1 * 7919) % 251 - 128 for c in (0, 1)]
            for i in range(5)]
    assert fr == exp2
    assert _mono_fold(fr) == [sum(f) // 2 for f in fr]

    # an odd-length LIST chunk between fmt and data must be skipped
    # with its pad byte (RIFF word alignment)
    head, data_part = blob.split(b"data", 1)
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    spliced = head + extra + b"data" + data_part
    spliced = b"RIFF" + struct.pack(
        "<I", len(spliced) - 8) + spliced[8:]
    _, _, _, fr3 = decode_wav_pcm(spliced)
    assert [f[0] for f in fr3] == exp

    # float PCM (format 3) -> NotImplementedError; damage -> ValueError
    fmt_f = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 16)
    float_blob = (b"RIFF" + struct.pack("<I", 4 + 24 + 8) + b"WAVE"
                  + b"fmt " + struct.pack("<I", 16) + fmt_f
                  + b"data" + struct.pack("<I", 0))
    with _pytest.raises(NotImplementedError, match="PCM"):
        decode_wav_pcm(float_blob)
    with _pytest.raises(ValueError):
        decode_wav_pcm(b"RIFX1234WAVE")
    with _pytest.raises(ValueError):
        decode_wav_pcm(blob[:11])


def test_audio_stats_and_resample_closed_form(spark):
    """Window stats and 2x upsampling against hand-computed values."""
    import math

    from pyspark.sql import functions as F

    from puffbird_spark.operators.multimodal import (
        audio_stats, encode_wav, resample_audio)

    df = spark.createDataFrame(
        [("a", encode_wav(7, 8000, seed=5))], ["path", "content"])
    got = {r["window_idx"]: r for r in audio_stats(
        df, window=4).collect()}
    s = [((i * 2657 + 5 * 7919) % 4001) - 2000 for i in range(7)]
    assert got[0]["n_in_window"] == 4 and got[1]["n_in_window"] == 3
    assert got[0]["peak"] == max(abs(v) for v in s[:4])
    assert got[1]["rms"] == round(
        math.sqrt(sum(v * v for v in s[4:]) / 3), 6)
    assert got[0]["duration_ms"] == 0 and got[0]["n_frames"] == 7

    out = resample_audio(df, dst_rate=16000).collect()[0]
    assert out["n_out"] == 14
    vals = out["samples"]
    for j in range(14):
        idx = j // 2
        if j % 2 == 0:
            assert vals[j] == float(s[idx])
        elif idx + 1 < 7:
            assert vals[j] == s[idx] + (s[idx + 1] - s[idx]) * 0.5
        else:
            assert vals[j] == float(s[6])
    # downsample path: 8000 -> 6000, n_out = 7*6000//8000 = 5
    down = resample_audio(df, dst_rate=6000).collect()[0]
    assert down["n_out"] == 5
    assert down["samples"][0] == float(s[0])
    # j=3 -> num=24000, idx=4, rem=0 -> exactly s[4]
    assert down["samples"][3] == float(s[4])


def test_snapshot_epoch_sink_idempotent_and_orphan_recovery(
        spark, tmp_path_factory):
    """Round-8 exactly-once sink: duplicate epoch delivery must not
    re-commit; an orphan shard from a crash between shard write and
    manifest rename must be cleaned and retried; extra metadata must
    not shadow manifest fields."""
    import os

    import pytest as _pytest

    from puffbird_spark.operators.layout import (
        committed_epochs, read_snapshot, snapshot_versions, write_snapshot)
    from puffbird_spark.streaming import snapshot_epoch_sink

    table = str(tmp_path_factory.mktemp("e1sink") / "t")
    sink = snapshot_epoch_sink(table)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    b1 = spark.createDataFrame([(3, "c")], "id long, s string")
    sink(b0, 0)
    sink(b1, 1)
    assert committed_epochs(spark, table) == {0, 1}
    n_v = len(snapshot_versions(spark, table))
    # at-least-once redelivery: both epochs replay, nothing commits
    sink(b0, 0)
    sink(b1, 1)
    assert len(snapshot_versions(spark, table)) == n_v
    got = sorted(map(tuple, read_snapshot(spark, table).collect()))
    assert got == [(1, "a"), (2, "b"), (3, "c")]

    # crash simulation: shard for the NEXT version exists, no manifest
    orphan = f"{table}/shards/shard-v{n_v + 1:05d}"
    spark.createDataFrame([(99, "zz")], "id long, s string") \
        .write.parquet(orphan)
    assert os.path.isdir(orphan)
    sink(spark.createDataFrame([(4, "d")], "id long, s string"), 2)
    got = sorted(map(tuple, read_snapshot(spark, table).collect()))
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]  # no 99

    with _pytest.raises(ValueError, match="shadow"):
        write_snapshot(spark, b0, table, extra={"version": 7})


def test_incremental_embedding_dedup_replay_equals_one_shot(spark):
    """Round-8 semantic incremental dedup: ascending-id batch replay
    must equal the one-shot smaller-id rule; a REJECTED vector still
    disqualifies later near-copies; disjoint-bucket pairs are never
    examined (the LSH contract)."""
    from pyspark.sql import types as T

    from puffbird_spark.operators.clustering import (
        incremental_embedding_dedup, srp_signed_banded)

    dim = 8
    base = [1.0, 0.5, -0.25, 0.75, -0.5, 0.25, 1.0, -0.75]
    near = [v + (0.001 if i == 0 else 0.0) for i, v in enumerate(base)]
    near2 = [v + (0.002 if i == 1 else 0.0) for i, v in enumerate(base)]
    far = [-v for v in base]            # cosine -1: never a dup
    other = [0.9, -0.4, 0.3, -0.2, 0.8, -0.6, 0.1, 0.7]
    rows = [(0, base), (1, near), (2, near2), (3, far), (4, other)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def empty_state():
        return spark.createDataFrame([], T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("v", T.ArrayType(T.DoubleType())),
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.IntegerType()),
        ]))

    kw = dict(id_col="vec_id", vec_col="embedding", in_dim=dim,
              bands=2, planes=3, threshold=0.9)
    # one-shot: everything in a single batch
    s1, _ = incremental_embedding_dedup(df, empty_state(), **kw)
    one_shot = sorted(r["vec_id"] for r in s1.collect())
    # replay: {0,1} then {2,3} then {4}
    state = empty_state()
    got = []
    for pred in (F.col("vec_id") < 2,
                 (F.col("vec_id") >= 2) & (F.col("vec_id") < 4),
                 F.col("vec_id") >= 4):
        surv, state = incremental_embedding_dedup(
            df.filter(pred), state, **kw)
        got += [r["vec_id"] for r in surv.collect()]
    assert sorted(got) == one_shot
    # 1 is a near-copy of 0 -> rejected; 2 is a near-copy of BOTH ->
    # rejected even though its closest smaller id (1) was itself
    # rejected (rejected docs stay in the state)
    assert 0 in one_shot and 1 not in one_shot and 2 not in one_shot
    assert 3 in one_shot                 # opposite direction, cosine -1
    # state holds bands for every seen vector, accepted or not
    assert state.select("id").distinct().count() == 5
    # bucket codes are deterministic ints in [0, 2^planes)
    bk = srp_signed_banded(df, "vec_id", "embedding", dim,
                           bands=2, planes=3)
    vals = [r["bucket"] for r in bk.collect()]
    assert all(0 <= v < 8 for v in vals)
    assert bk.count() == 10              # 5 vectors x 2 bands


def test_semantic_dedup_arrow_pair_kernel_equal(spark, force_kernel):
    """Round-8: the Arrow pair kernel must produce the same near-dup
    graph as the HOF fold at the 6-dp rounding (the cosine_topk
    precedent), and auto must pick HOF for tiny inputs."""
    import hashlib

    from puffbird_spark.operators.clustering import semantic_dedup
    from puffbird_spark.telemetry import drain_kernels

    def vec(i):
        out = []
        for j in range(16):
            h = hashlib.md5(f"sd:{i}:{j}".encode()).hexdigest()[:12]
            out.append(int(h, 16) / float(16 ** 12) * 2.0 - 1.0)
        return out

    rows = [(i, vec(i)) for i in range(60)]
    # inject true near-dups across and within clusters
    rows += [(100 + i, [v + 0.001 * i for v in vec(i)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(k=4, iters=1, threshold=0.9)
    drain_kernels()
    semantic_dedup(df, "vec_id", "embedding", **kw)
    assert drain_kernels()["semantic_pairs"] == "hof"
    force_kernel("semantic_pairs", False)
    hof = sorted(map(tuple, semantic_dedup(
        df, "vec_id", "embedding", **kw).collect()))
    force_kernel("semantic_pairs", True)
    arr = sorted(map(tuple, semantic_dedup(
        df, "vec_id", "embedding", **kw).collect()))
    assert hof == arr and len(hof) > 0


def test_incremental_components_replay_equals_one_shot(spark):
    """Round-8 incremental CC: folding edge batches into the state must
    equal one-shot CC over the union — including cross-batch merges of
    previously separate components and batches touching unseen
    vertices."""
    import random

    from pyspark.sql import types as T

    from puffbird_spark.operators.graph import (
        connected_components, incremental_components)

    rng = random.Random(17)
    edges = set()
    while len(edges) < 120:
        a, b = rng.randrange(0, 80), rng.randrange(0, 80)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edges = sorted(edges)
    schema = "id_a long, id_b long"
    full = spark.createDataFrame(edges, schema)
    one_shot = sorted(map(tuple, connected_components(full).collect()))

    batches = [edges[i::3] for i in range(3)]     # interleaved batches
    state = spark.createDataFrame([], T.StructType([
        T.StructField("vertex", T.LongType()),
        T.StructField("component", T.LongType()),
    ]))
    for b in batches:
        state = incremental_components(
            spark.createDataFrame(b, schema), state)
        state = state.localCheckpoint(eager=True)
    got = sorted(map(tuple, state.collect()))
    assert got == one_shot

    # explicit merge case: two separate components, then a bridging edge
    s = spark.createDataFrame([], T.StructType([
        T.StructField("vertex", T.LongType()),
        T.StructField("component", T.LongType()),
    ]))
    s = incremental_components(
        spark.createDataFrame([(1, 2), (10, 11)], schema), s)
    s = incremental_components(
        spark.createDataFrame([(2, 10)], schema), s)
    got = dict(map(tuple, s.collect()))
    assert got == {1: 1, 2: 1, 10: 1, 11: 1}


def test_canonical_by_priority_argmax_and_ties(spark):
    """Highest priority wins; ties break to the smallest id; exactly
    one canonical per cluster."""
    from puffbird_spark.operators.graph import canonical_by_priority

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (7, 20), (8, 20)],
        ["doc_id", "cluster_id"])
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (7, 0.1), (8, 0.1)],
        ["doc_id", "priority"])
    got = {r["doc_id"]: r for r in canonical_by_priority(
        clusters, scores).collect()}
    assert not got[1]["is_canonical"]
    assert got[2]["is_canonical"] and not got[3]["is_canonical"]  # tie->min id
    assert got[7]["is_canonical"] and not got[8]["is_canonical"]
    per_cluster = {}
    for r in got.values():
        per_cluster[r["cluster_id"]] = per_cluster.get(
            r["cluster_id"], 0) + int(r["is_canonical"])
    assert all(v == 1 for v in per_cluster.values())


def test_y4m_codec_roundtrip_offsets_and_guards(spark):
    """Y4M codec: roundtrip against the closed form, true byte offsets,
    420 luma extraction, unsupported colourspace and damage guards, and
    the sample_frames dispatch."""
    import hashlib

    import pytest as _pytest

    from puffbird_spark.operators.multimodal import (
        decode_y4m_frames, encode_y4m, sample_frames)

    blob = encode_y4m(4, 3, n_frames=3, seed=5)
    frames = decode_y4m_frames(blob)
    assert len(frames) == 3
    header_len = blob.find(b"\n") + 1
    for f, (off, w, h, px) in enumerate(frames):
        assert (w, h) == (4, 3)
        exp = bytes((x * 31 + y * 17 + f * 29 + 5) % 256
                    for y in range(3) for x in range(4))
        assert px == exp
        # offset: header + f full sections + this FRAME\n marker
        assert off == header_len + f * (6 + 12) + 6
        assert blob[off:off + 12] == px

    # 4:2:0: luma plane extracted, chroma skipped
    hdr = b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C420jpeg\n"
    y = bytes([1, 2, 3, 4])
    blob420 = hdr + b"FRAME\n" + y + b"\x09\x09" + b"FRAME\n" + y + b"\x09\x09"
    fr = decode_y4m_frames(blob420)
    assert len(fr) == 2 and fr[0][3] == y and fr[1][3] == y

    with _pytest.raises(NotImplementedError, match="C444"):
        decode_y4m_frames(b"YUV4MPEG2 W2 H2 C444\nFRAME\nxxxx")
    with _pytest.raises(ValueError):
        decode_y4m_frames(b"YUV4MPEG2 W2 H2 Cmono\nFRAME\nxx")  # truncated
    with _pytest.raises(ValueError):
        decode_y4m_frames(b"RIFFxxxx")

    # dispatch: sample_frames picks the real codec on magic bytes
    df = spark.createDataFrame([("v", blob)], "path string, content binary")
    rows = {r["frame_idx"]: r for r in sample_frames(
        df, stride=2, max_frames=3).collect()}
    assert set(rows) == {0, 2}
    for idx in (0, 2):
        exp = bytes((x * 31 + y * 17 + idx * 29 + 5) % 256
                    for y in range(3) for x in range(4))
        csv = ",".join(str(v) for v in exp)
        assert rows[idx]["digest"] == hashlib.md5(csv.encode()).hexdigest()
        assert rows[idx]["frame_bytes"] == 12


def test_jpeg_codec_exact_blocks_lossy_bounds_and_guards(spark):
    """Baseline JPEG codec: block-constant fixtures decode bit-exactly;
    arbitrary pixels roundtrip within the quantization bound with the
    AC/ZRL entropy paths exercised; unsupported features raise."""
    import random
    import struct

    import pytest as _pytest

    from puffbird_spark.operators.jpeg import (
        decode_jpeg_gray, encode_jpeg_gray)
    from puffbird_spark.operators.multimodal import (
        decode_image_gray, parse_image_header)

    for w, h, seed in [(8, 8, 0), (20, 13, 42), (1, 1, 7), (9, 17, 99)]:
        blob = encode_jpeg_gray(w, h, seed=seed)
        W, H, px = decode_jpeg_gray(blob)
        exp = bytes(((x // 8) * 31 + (y // 8) * 17 + seed) % 256
                    for y in range(h) for x in range(w))
        assert (W, H, px) == (w, h, exp)
        assert decode_image_gray(blob) == (w, h, exp)  # magic dispatch
        assert parse_image_header(blob) == ("jpeg", w, h)

    rnd = random.Random(3)
    w, h = 24, 16
    pix = bytes(rnd.randrange(256) for _ in range(w * h))
    blob = encode_jpeg_gray(w, h, pixels=pix, q_dc=1, q_ac=1)
    _, _, out = decode_jpeg_gray(blob)
    assert max(abs(a - b) for a, b in zip(pix, out)) <= 2
    # sparse high-frequency content forces ZRL (16+ zero runs)
    sparse = bytearray([128] * 64)
    sparse[63] = 255
    blob2 = encode_jpeg_gray(8, 8, pixels=bytes(sparse), q_dc=1, q_ac=1)
    _, _, out2 = decode_jpeg_gray(blob2)
    assert max(abs(a - b) for a, b in zip(sparse, out2)) <= 2

    with _pytest.raises(ValueError):
        decode_jpeg_gray(b"\x89PNG")
    # a sequential full-band scan relabeled SOF2 violates the
    # progressive scan rules (Ss=0 requires Se=0) — caught, not
    # mis-decoded (real progressive files decode; see
    # test_jpeg_progressive_decode)
    base = encode_jpeg_gray(8, 8, seed=1)
    prog = base.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(ValueError, match="Se=0"):
        decode_jpeg_gray(prog)
    # DRI is SUPPORTED since the color/restart extension: a declared
    # interval larger than the MCU count simply never restarts
    sof_at = base.find(b"\xff\xc0")
    dri = base[:sof_at] + b"\xff\xdd" + struct.pack(">HH", 4, 8) \
        + base[sof_at:]
    assert decode_jpeg_gray(dri) == decode_jpeg_gray(base)


def test_jpeg_color420_and_restart_decode(spark):
    """Color 4:2:0 JPEG with restart intervals: the interleaved scan
    (4 luma + 2 chroma blocks per MCU, per-component predictors, RSTn
    re-sync) must extract the luma plane bit-exactly on block-constant
    fixtures; damaged restart markers must raise."""
    import pytest as _pytest

    from puffbird_spark.operators.jpeg import (
        decode_jpeg_gray, encode_jpeg_color420)

    for w, h, seed, ri in [(16, 16, 3, 0), (20, 13, 42, 0),
                           (33, 18, 9, 2), (48, 32, 7, 1)]:
        blob = encode_jpeg_color420(w, h, seed=seed, restart_interval=ri)
        W, H, px = decode_jpeg_gray(blob)
        exp = bytes(((x // 8) * 31 + (y // 8) * 17 + seed) % 256
                    for y in range(h) for x in range(w))
        assert (W, H, px) == (w, h, exp), (w, h, ri)

    # corrupting a restart marker must be caught, not mis-decoded
    blob = encode_jpeg_color420(48, 32, seed=7, restart_interval=1)
    rst = blob.find(b"\xff\xd0")
    assert rst > 0
    broken = blob[:rst + 1] + b"\xd5" + blob[rst + 2:]
    with _pytest.raises(ValueError, match="RST"):
        decode_jpeg_gray(broken)


def test_jpeg_progressive_decode(spark):
    """Progressive (SOF2) decode: block-constant fixtures decode
    bit-exactly through 4 scans with genuine EOB runs; random pixels
    decode IDENTICAL to the sequential encoding (same coefficients);
    a handcrafted AC successive-approximation refinement scan refines
    coefficients exactly per spec G.1.2.3."""
    import random
    import struct

    import numpy as np

    from puffbird_spark.operators.jpeg import (
        AC_PROG_BITS, AC_PROG_VALS, DC_BITS, DC_VALS, ZIGZAG,
        _BitWriter, _canonical_codes, _dct_matrix, decode_jpeg_gray,
        encode_jpeg_gray, encode_jpeg_progressive)

    for w, h, seed in [(8, 8, 0), (20, 13, 42), (33, 18, 9)]:
        blob = encode_jpeg_progressive(w, h, seed=seed)
        W, H, px = decode_jpeg_gray(blob)
        exp = bytes(((x // 8) * 31 + (y // 8) * 17 + seed) % 256
                    for y in range(h) for x in range(w))
        assert (W, H, px) == (w, h, exp), (w, h)

    rnd = random.Random(11)
    w, h = 40, 24
    pix = bytes(rnd.randrange(256) for _ in range(w * h))
    seq = decode_jpeg_gray(
        encode_jpeg_gray(w, h, pixels=pix, q_dc=3, q_ac=5))
    pro = decode_jpeg_gray(
        encode_jpeg_progressive(w, h, pixels=pix, q_dc=3, q_ac=5))
    assert seq == pro

    # --- handcrafted AC refinement (Ah=1): coefs go [0,2,0,...] ->
    # [0,3,-1,0,...] via one correction bit + one newly-significant ---
    dc_enc = _canonical_codes(DC_BITS, DC_VALS)
    ac_enc = _canonical_codes(AC_PROG_BITS, AC_PROG_VALS)

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def scan(ss, se, ah, al, fill):
        w_ = _BitWriter()
        fill(w_)
        return seg(0xFFDA, bytes([1, 1, 0x00, ss, se,
                                  (ah << 4) | al])) + w_.flush()

    def s1(w_):                      # DC first: dc = 0
        c, ln = dc_enc[0]
        w_.write(c, ln)

    def s2(w_):                      # AC first at Al=1: zz[1] = 1 (->2)
        c, ln = ac_enc[0x01]
        w_.write(c, ln)
        w_.write(1, 1)
        c, ln = ac_enc[0x00]
        w_.write(c, ln)

    def s3(w_):                      # AC refine: +1 on zz[1], new -1 at 2
        c, ln = ac_enc[0x01]
        w_.write(c, ln)
        w_.write(0, 1)               # sign: negative
        w_.write(1, 1)               # correction bit for zz[1]
        c, ln = ac_enc[0x00]
        w_.write(c, ln)

    dqt = bytes([0x00]) + bytes([1] * 64)
    sof = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    dht = (bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)
           + bytes([0x10]) + bytes(AC_PROG_BITS) + bytes(AC_PROG_VALS))
    blob = (b"\xff\xd8" + seg(0xFFDB, dqt) + seg(0xFFC2, sof)
            + seg(0xFFC4, dht)
            + scan(0, 0, 0, 0, s1)
            + scan(1, 63, 0, 1, s2)
            + scan(1, 63, 1, 0, s3)
            + b"\xff\xd9")
    W, H, px = decode_jpeg_gray(blob)
    # expected: IDCT of dezigzagged [0, 3, -1, 0, ...] computed with
    # independent numpy math
    zz = [0] * 64
    zz[1], zz[2] = 3, -1
    coef = np.zeros((8, 8))
    for k in range(64):
        coef.flat[ZIGZAG[k]] = zz[k]
    m = _dct_matrix()
    block = m.T @ coef @ m + 128.0
    exp = np.clip(np.floor(block + 0.5), 0, 255).astype(np.uint8)
    assert (W, H) == (8, 8)
    assert px == bytes(exp.tobytes())


def test_prefix_filter_jaccard_equals_all_pairs(spark, force_kernel):
    """The prefix-filter join must return EXACTLY the all-pairs kernel's
    result (recall 1 is a theorem, not a knob) — including near-threshold
    pairs, duplicate docs, short docs below the gram width, and empty
    text; and the threshold domain is validated."""
    import random

    import pytest as _pytest

    from puffbird_spark.operators.dedup import (
        jaccard_pairs, prefix_filter_jaccard_pairs)

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(40):
        k = rng.randint(0, 12)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(k))))
    rows += [(100, rows[3][1]), (101, rows[3][1] + " extra tail words"),
             (102, ""), (103, "ab")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t, n, kind in [(0.5, 5, "char"), (0.3, 2, "word"), (0.9, 3, "char")]:
        ap = sorted(map(tuple, jaccard_pairs(
            df, "text", "doc_id", threshold=t, n=n, kind=kind).collect()))
        pf = sorted(map(tuple, prefix_filter_jaccard_pairs(
            df, "text", "doc_id", threshold=t, n=n, kind=kind).collect()))
        assert ap == pf, (t, n, kind)
        assert len(ap) > 0 or t == 0.9
        # the dense blocked-matmul strategy (round-9 sf1 OOM fix) must
        # return the identical pair set — force it past the policy,
        # with a tiny block size so multi-block pairing is exercised
        from puffbird_spark.operators import dedup as _dd

        orig_block = _dd.DENSE_BLOCK_DOCS
        _dd.DENSE_BLOCK_DOCS = 16
        force_kernel("prefix_filter", True)
        try:
            dn = sorted(map(tuple, prefix_filter_jaccard_pairs(
                df, "text", "doc_id", threshold=t, n=n,
                kind=kind).collect()))
        finally:
            _dd.DENSE_BLOCK_DOCS = orig_block
            force_kernel("prefix_filter", None)
        assert ap == dn, (t, n, kind, "dense")
    with _pytest.raises(ValueError, match="threshold"):
        prefix_filter_jaccard_pairs(df, "text", "doc_id", threshold=0.0)


def test_g711_expansion_tables_and_wav_decode():
    """The μ-law/A-law expansion formulas must match the canonical
    public tables (stdlib audioop, while it exists) for ALL 256 bytes,
    and G.711-tagged WAVs must decode through the normal chunk walk."""
    from puffbird_spark.operators.multimodal import (
        _alaw_expand, _ulaw_expand, decode_wav_pcm, encode_wav)

    # canonical anchor points from the G.711 spec
    assert _ulaw_expand(0x00) == -32124
    assert _ulaw_expand(0xFF) == 0 and _ulaw_expand(0x7F) == 0
    assert _alaw_expand(0x55) == -8 and _alaw_expand(0xD5) == 8
    try:
        import struct as _s
        import warnings
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", DeprecationWarning)
            import audioop
        for b in range(256):
            (v,) = _s.unpack("<h", audioop.ulaw2lin(bytes([b]), 2))
            assert v == _ulaw_expand(b), ("ulaw", b)
            (v,) = _s.unpack("<h", audioop.alaw2lin(bytes([b]), 2))
            assert v == _alaw_expand(b), ("alaw", b)
    except ImportError:
        pass  # Python >= 3.13 dropped audioop; anchors above still pin

    for tag, expand in ((7, _ulaw_expand), (6, _alaw_expand)):
        blob = encode_wav(12, 8000, seed=5, fmt_tag=tag)
        rate, n_ch, bits, frames = decode_wav_pcm(blob)
        assert (rate, n_ch, bits) == (8000, 1, 8)
        for i, row in enumerate(frames):
            assert row[0] == expand((i * 2657 + 5 * 7919) % 256)

    import pytest as _pt
    with _pt.raises(NotImplementedError):
        # an unknown companded format still raises honestly
        bad = bytearray(encode_wav(4, 8000, fmt_tag=7))
        bad[20] = 2  # fmt tag -> MS ADPCM
        decode_wav_pcm(bytes(bad))


def test_avi_mjpeg_codec_roundtrip_and_dispatch(spark):
    """AVI/MJPEG: the RIFF tree walk + full per-frame JPEG decode must
    reproduce the block-constant fixture closed-form, offsets must
    point at the JPEG payloads, sample_frames must auto-dispatch, and
    non-JPEG video chunks must raise honestly."""
    import hashlib
    import struct as _s

    import pytest as _pt

    from puffbird_spark.operators.multimodal import (
        decode_avi_frames, encode_avi_mjpeg, sample_frames)

    blob = encode_avi_mjpeg(16, 8, 5, seed=4)
    frames = decode_avi_frames(blob)
    assert len(frames) == 5
    for fi, (off, w, h, px) in enumerate(frames):
        assert (w, h) == (16, 8)
        assert blob[off:off + 2] == b"\xff\xd8"  # offset hits the JPEG
        for y in range(h):
            for x in range(w):
                assert px[y * w + x] == (
                    (x // 8) * 31 + (y // 8) * 17 + 4 + 13 * fi) % 256

    df = spark.createDataFrame([("v0", bytearray(blob))],
                               "path string, content binary")
    rows = {r.frame_idx: r for r in
            sample_frames(df, stride=2, max_frames=3).collect()}
    assert sorted(rows) == [0, 2, 4]
    px0 = frames[0][3]
    want = hashlib.md5(
        ",".join(str(v) for v in px0).encode()).hexdigest()
    assert rows[0].digest == want
    assert rows[0].frame_bytes == 16 * 8

    # structural damage raises ValueError; non-JPEG payload raises NIE
    with _pt.raises(ValueError):
        decode_avi_frames(b"RIFF" + _s.pack("<I", 4) + b"WAVE")
    corrupt = bytearray(blob)
    # blank the first frame's SOI marker
    corrupt[frames[0][0]:frames[0][0] + 2] = b"\x00\x00"
    with _pt.raises(NotImplementedError):
        decode_avi_frames(bytes(corrupt))


def test_bm25_topk_matches_hand_computation(spark):
    """BM25 scores on a 4-doc corpus must equal the textbook formula
    computed by hand (same 6-dp two-stage rounding), k must cap
    results, and ties must break on ascending doc id."""
    import math

    from puffbird_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(0, "apple banana apple"), (1, "apple cherry"),
         (2, "banana banana banana"), (3, "durian durian")],
        "doc_id long, text string")
    qdf = spark.createDataFrame(
        [(1, "apple"), (2, "banana durian")],
        "query_id int, query_text string")
    out = {(r.query_id, r.doc_id): (r.rank, r.score)
           for r in bm25_topk(docs, qdf, k=5).collect()}

    texts = {0: "apple banana apple", 1: "apple cherry",
             2: "banana banana banana", 3: "durian durian"}
    n, total = 4, sum(len(t.split()) for t in texts.values())
    avgdl = total / n
    dfreq = {"apple": 2, "banana": 2, "durian": 1, "cherry": 1}

    def contrib(term, doc):
        tf = texts[doc].split().count(term)
        if tf == 0:
            return None
        dl = len(texts[doc].split())
        idf = math.log(1 + (n - dfreq[term] + 0.5) / (dfreq[term] + 0.5))
        raw = idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        return math.floor(raw * 1e6 + 0.5) / 1e6

    for (qid, terms) in ((1, ["apple"]), (2, ["banana", "durian"])):
        per_doc = {}
        for d in texts:
            cs = [contrib(t, d) for t in terms if contrib(t, d) is not None]
            if cs:
                per_doc[d] = math.floor(sum(cs) * 1e6 + 0.5) / 1e6
        order = sorted(per_doc, key=lambda d: (-per_doc[d], d))
        for rank, d in enumerate(order, 1):
            assert out[(qid, d)] == (rank, per_doc[d]), (qid, d)
    assert all(r <= 5 for r, _ in out.values())
    # k caps: ask for 1 and only the best doc per query survives
    top1 = bm25_topk(docs, qdf, k=1).collect()
    assert len(top1) == 2 and all(r.rank == 1 for r in top1)


def test_pagerank_structure_and_mass(spark):
    """PageRank invariants: a directed cycle is exactly uniform, a
    star concentrates rank in the center, dangling mass is
    redistributed so total rank stays ~1, and results replay a
    driver-side power iteration with the same per-round rounding."""
    from puffbird_spark.operators.graph import pagerank

    # 5-cycle: uniform stationary distribution, every round exact
    cyc = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)], "src long, dst long")
    ranks = {r.vertex: r.rank for r in pagerank(cyc, n_iter=6).collect()}
    assert all(abs(v - 0.2) < 1e-9 for v in ranks.values()), ranks

    # star 1..4 -> 0, vertex 0 dangling: center outranks leaves; mass ~1
    star = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)], "src long, dst long")
    sr = {r.vertex: r.rank for r in pagerank(star, n_iter=8).collect()}
    assert sr[0] > max(sr[i] for i in range(1, 5))
    assert abs(sum(sr.values()) - 1.0) < 1e-6, sum(sr.values())

    # driver-side replay on an irregular graph
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 1)]
    g = spark.createDataFrame(edges, "src long, dst long")
    got = {r.vertex: r.rank for r in pagerank(g, n_iter=5).collect()}

    import math
    verts = sorted({v for e in edges for v in e})
    outdeg = {v: sum(1 for s, _ in edges if s == v) for v in verts}
    n = len(verts)
    rnd = lambda x: math.floor(x * 1e9 + 0.5) / 1e9
    tel = 1.0 / n
    r = {v: rnd(tel) for v in verts}
    for _ in range(5):
        dang = sum(r[v] for v in verts if outdeg[v] == 0)
        new = {}
        for v in verts:
            inflow = sum(r[s] / outdeg[s] for s, d in edges if d == v)
            new[v] = rnd((1.0 - 0.85) * tel + 0.85 * (inflow + dang * tel))
        r = new
    assert got == r, (got, r)


def test_personalized_pagerank_concentrates_on_seeds(spark):
    """PPR with a seed set must (a) reduce to global PageRank when the
    seeds are ALL vertices, (b) rank the seed and its out-neighborhood
    above far vertices on a chain, and (c) keep total mass ~1."""
    from puffbird_spark.operators.graph import pagerank

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(6, 0)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "vertex long")
    # 40 rounds: the seed pulse circulating the 7-cycle has decayed to
    # 0.85^40 ~ 0.0015, far under the stationary decay gaps
    ppr = {r.vertex: r.rank
           for r in pagerank(chain, n_iter=40, seeds=seeds).collect()}
    assert abs(sum(ppr.values()) - 1.0) < 1e-6
    # rank decays with distance from the seed along the chain
    assert ppr[0] > ppr[1] > ppr[3] > ppr[5], ppr

    allv = spark.createDataFrame([(i,) for i in range(7)], "vertex long")
    full = {r.vertex: r.rank
            for r in pagerank(chain, n_iter=4, seeds=allv).collect()}
    plain = {r.vertex: r.rank
             for r in pagerank(chain, n_iter=4).collect()}
    assert full == plain


def test_kneser_ney_matches_hand_formula(spark):
    """Interpolated KN on a 2-doc training corpus must equal the
    textbook formula computed by hand for seen, discounted-unseen, and
    unseen-context bigrams (same 9-dp snap + 6-dp average)."""
    import math

    from puffbird_spark.operators.lm import kneser_ney_score

    train = spark.createDataFrame(
        [(0, "a b a b c"), (2, "b c")], "doc_id long, text string")
    score = spark.createDataFrame(
        [(1, "a b"), (3, "z a"), (5, "b z")], "doc_id long, text string")
    out = {r.doc_id: (r.n_bigrams, r.avg_neg_logp)
           for r in kneser_ney_score(score, train, "text", "doc_id")
           .collect()}

    # training bigrams: (a,b)x2 (b,a) (b,c)x2  -> contexts a:2 b:3
    # distinct continuations: a->{b}=1, b->{a,c}=2
    # contexts-per-word: b:{a}=1, a:{b}=1, c:{b}=1 ; N1+(..)=3 ; V=3
    def pcont(cw):
        return (cw + 0.5) / (3 + 0.5 * 3)

    def seen(c, cc, t1p, cw):
        return max(c - 0.75, 0) / cc + 0.75 * t1p / cc * pcont(cw)

    rnd9 = lambda x: math.floor(x * 1e9 + 0.5) / 1e9
    rnd6 = lambda x: math.floor(abs(x) * 1e6 + 0.5) / 1e6 * (1 if x >= 0 else -1)

    # doc 1: (a,b) seen
    lp = rnd9(math.log(seen(2, 2, 1, 1)))
    assert out[1] == (1, rnd6(-lp))
    # doc 3: (z,a) unseen context z -> pure continuation
    lp = rnd9(math.log(pcont(1)))
    assert out[3] == (1, rnd6(-lp))
    # doc 5: (b,z) seen context, unseen word (cw=0): discounted-0 head
    lp = rnd9(math.log(seen(0, 3, 2, 0)))
    assert out[5] == (1, rnd6(-lp))


def test_dsir_weights_null_when_target_is_corpus(spark):
    """DSIR sanity: when the target IS the raw corpus, every log-ratio
    term is exactly 0, so every document scores 0.0; a target-matching
    doc must outrank a non-matching one against a skewed target."""
    from puffbird_spark.operators.splits import dsir_log_weights

    docs = spark.createDataFrame(
        [(0, "x y x y"), (1, "p q p q"), (2, "x y p q")],
        "doc_id long, text string")
    same = dsir_log_weights(docs, docs, "text", "doc_id").collect()
    assert {r.log_weight for r in same} == {0.0}
    assert {r.doc_id: r.n_feats for r in same} == {0: 3, 1: 3, 2: 3}

    target = docs.filter(F.col("doc_id") == 0)  # pure x/y domain
    w = {r.doc_id: r.log_weight
         for r in dsir_log_weights(docs, target, "text", "doc_id")
         .collect()}
    assert w[0] > w[2] > w[1], w


def test_fuzzy_del1_matches_brute_force_all_edit_kinds(spark):
    """Deletion-neighborhood join must equal brute-force Levenshtein<=1
    over substitutions, insertions, deletions, duplicates, and
    repeated-char strings; include_exact and max_bucket must behave."""
    import itertools

    import pytest as _pt

    from puffbird_spark.operators.fuzzy import fuzzy_pairs_del1

    keys = ["cat", "bat", "cats", "ca", "dog", "dogg", "aaa", "aab",
            "cat", "xyz"]
    rows = [(i, k) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "id long, k string")

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {(i, j, lev(a, b))
            for (i, a), (j, b) in itertools.combinations(rows, 2)
            if lev(a, b) <= 1}
    got = {(r.id_a, r.id_b, r.dist)
           for r in fuzzy_pairs_del1(df, "k", "id").collect()}
    assert got == want
    no_exact = {(r.id_a, r.id_b)
                for r in fuzzy_pairs_del1(
                    df, "k", "id", include_exact=False).collect()}
    assert (0, 8) not in no_exact and all(
        lev(keys[i], keys[j]) == 1 for i, j in no_exact)

    with _pt.warns(UserWarning):
        capped = fuzzy_pairs_del1(df, "k", "id", max_bucket=2).collect()
    assert {(r.id_a, r.id_b, r.dist) for r in capped} <= want
    with _pt.raises(ValueError):
        fuzzy_pairs_del1(df, "k", "id", max_bucket=1)


def test_incremental_embedding_arrow_kernel_equals_hof(spark, force_kernel):
    """The per-bucket matrix verification kernel (the sf1-rehearsal
    fix: ship rows, not pairs) must reject EXACTLY the vectors the
    interpreted per-pair fold rejects — one-shot and replayed."""
    from pyspark.sql import types as T

    from puffbird_spark.operators.clustering import (
        incremental_embedding_dedup)

    dim = 8
    rows = []
    for i in range(40):
        base = [((i % 7) * 13 + j * 29 + 5) % 17 - 8.0 for j in range(dim)]
        # clusters of 7 near-copies with tiny per-member drift
        rows.append((i, [v + (i // 7) * 0.0005 for v in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def empty_state():
        return spark.createDataFrame([], T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("v", T.ArrayType(T.DoubleType())),
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.IntegerType()),
        ]))

    kw = dict(id_col="vec_id", vec_col="embedding", in_dim=dim,
              bands=2, planes=3, threshold=0.8)
    force_kernel("incremental_embedding_pairs", False)
    s_hof, st_hof = incremental_embedding_dedup(df, empty_state(), **kw)
    hof = sorted(r["vec_id"] for r in s_hof.collect())
    force_kernel("incremental_embedding_pairs", True)
    s_arw, st_arw = incremental_embedding_dedup(df, empty_state(), **kw)
    arw = sorted(r["vec_id"] for r in s_arw.collect())
    assert hof == arw and 0 < len(hof) < 40
    assert st_hof.count() == st_arw.count() == 80

    # replayed batches with the arrow kernel still equal the one-shot
    state, got = empty_state(), []
    for lo, hi in ((0, 15), (15, 30), (30, 40)):
        surv, state = incremental_embedding_dedup(
            df.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            state, **kw)
        got += [r["vec_id"] for r in surv.collect()]
    assert sorted(got) == hof


def test_sq_quantize_saturates_out_of_range(spark):
    """r14 self-review: under FIXED sq params a later batch can
    exceed the calibration range; the quantizer must SATURATE at
    0/255 (error bounded by the overshoot), not wrap through the
    tinyint cast (error in multiples of 256·scale)."""
    import numpy as np

    from puffbird_spark.operators.similarity import (
        sq_dequantize, sq_quantize)

    lo = np.array([0.0, 0.0])
    scale = np.array([1.0, 1.0])          # code range covers [0, 255]
    df = spark.createDataFrame(
        [([300.0, -40.0],), ([100.0, 255.0],)], "v array<double>")
    q = df.select(sq_quantize("v", lo, scale).alias("q"),
                  sq_dequantize(
                      sq_quantize("v", lo, scale), lo, scale)
                  .alias("d")).collect()
    assert q[0]["q"] == [127, -128]       # saturated, not wrapped
    assert q[0]["d"] == [255.0, 0.0]      # overshoot-bounded error
    assert q[1]["q"] == [-28, 127]
    assert q[1]["d"] == [100.0, 255.0]    # in-range stays exact


def test_incremental_embedding_dedup_sq8_state(spark, force_kernel):
    """r14 (VERDICT #8): the SQ-int8 state representation. On a
    fixture whose cosine margins dwarf the quantization error, sq8
    decisions are IDENTICAL to raw on both kernels; sq8 batch replay
    still equals one-shot (one representation everywhere); the
    persisted state really is tinyint; a representation/schema
    mismatch and missing sq_params fail loud."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import types as T

    from puffbird_spark.operators.clustering import (
        incremental_embedding_dedup)

    dim = 8
    rows = []
    for i in range(40):
        base = [((i % 7) * 13 + j * 29 + 5) % 17 - 8.0 for j in range(dim)]
        rows.append((i, [v + (i // 7) * 0.0005 for v in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def empty_state(elem):
        return spark.createDataFrame([], T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("v", T.ArrayType(elem)),
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.IntegerType()),
        ]))

    lo = np.full(dim, -8.0)
    scale = np.full(dim, 16.0 / 255.0)
    kw = dict(id_col="vec_id", vec_col="embedding", in_dim=dim,
              bands=2, planes=3, threshold=0.8)
    sq = dict(state_repr="sq8", sq_params=(lo, scale))

    force_kernel("incremental_embedding_pairs", False)
    s_raw, _ = incremental_embedding_dedup(
        df, empty_state(T.DoubleType()), **kw)
    raw_ids = sorted(r["vec_id"] for r in s_raw.collect())

    s_sq_h, st_sq = incremental_embedding_dedup(
        df, empty_state(T.ByteType()), **kw, **sq)
    force_kernel("incremental_embedding_pairs", True)
    s_sq_a, _ = incremental_embedding_dedup(
        df, empty_state(T.ByteType()), **kw, **sq)
    assert sorted(r["vec_id"] for r in s_sq_h.collect()) == raw_ids
    assert sorted(r["vec_id"] for r in s_sq_a.collect()) == raw_ids
    # the state actually stores int8 codes
    assert st_sq.schema["v"].dataType.elementType == T.ByteType()

    # sq8 replay == sq8 one-shot (single representation everywhere)
    state, got = empty_state(T.ByteType()), []
    for blo, bhi in ((0, 15), (15, 30), (30, 40)):
        surv, state = incremental_embedding_dedup(
            df.filter((F.col("vec_id") >= blo)
                      & (F.col("vec_id") < bhi)),
            state, **kw, **sq)
        got += [r["vec_id"] for r in surv.collect()]
    assert sorted(got) == raw_ids

    with _pytest.raises(ValueError, match="sq_params"):
        incremental_embedding_dedup(
            df, empty_state(T.ByteType()), state_repr="sq8", **kw)
    with _pytest.raises(ValueError, match="does not match"):
        incremental_embedding_dedup(
            df, empty_state(T.DoubleType()), **kw, **sq)
    with _pytest.raises(ValueError, match="state_repr"):
        incremental_embedding_dedup(
            df, empty_state(T.DoubleType()), state_repr="fp16", **kw)


def test_label_propagation_communities_and_ties(spark):
    """LPA: two triangles bridged by one edge must settle into two
    communities labeled by each triangle's minimum vertex; modal ties
    break to the smallest label; self-loops are ignored."""
    from puffbird_spark.operators.graph import label_propagation

    tri1 = [(0, 1), (1, 2), (2, 0)]
    tri2 = [(10, 11), (11, 12), (12, 10)]
    g = spark.createDataFrame(
        tri1 + tri2 + [(2, 10), (5, 5)], "src long, dst long")
    out = {r.vertex: r.label
           for r in label_propagation(g, n_iter=6).collect()}
    assert 5 not in out                      # self-loop-only vertex drops
    assert out[0] == out[1] == out[2] == 0
    # the bridged triangle settles on ONE label; with smallest-label
    # tie-breaks the bridge can leak the low id across, so only
    # within-community agreement is asserted
    assert out[10] == out[11] == out[12]

    # a 2-star: leaves adopt the hub's label in round 1 (tie-break on
    # the hub side picks the SMALLEST leaf label)
    star = spark.createDataFrame(
        [(7, 1), (7, 3)], "src long, dst long")
    one = {r.vertex: r.label
           for r in label_propagation(star, n_iter=1).collect()}
    assert one == {1: 7, 3: 7, 7: 1}


def test_bmp_codec_roundtrip_padding_roworder_and_guards(spark):
    """BMP: bottom-up padded rows must decode closed-form, top-down
    (negative height) must too, the magic-byte dispatch must route, and
    color palettes / compressed data must raise honestly."""
    import struct as _s

    import pytest as _pt

    from puffbird_spark.operators.multimodal import (
        decode_bmp_gray, decode_image_gray, encode_bmp_gray)

    blob = encode_bmp_gray(7, 5, seed=9)     # width 7 -> 1-byte row pad
    w, h, px = decode_bmp_gray(blob)
    assert (w, h) == (7, 5)
    for y in range(5):
        for x in range(7):
            assert px[y * 7 + x] == (x * 31 + y * 17 + 9) % 256
    assert decode_image_gray(blob) == (7, 5, px)   # dispatch routes

    # top-down variant: flip the stored rows and negate the height
    td = bytearray(blob)
    _s.pack_into("<i", td, 22, -5)
    (off,) = _s.unpack_from("<I", td, 10)
    row = (7 + 3) // 4 * 4
    rows = [bytes(blob[off + r * row:off + (r + 1) * row])
            for r in range(5)]
    td[off:off + 5 * row] = b"".join(reversed(rows))
    assert decode_bmp_gray(bytes(td)) == (7, 5, px)

    color = bytearray(blob)
    color[14 + 40 + 4 * 3] = 255             # palette entry 3: blue!=r
    with _pt.raises(NotImplementedError):
        decode_bmp_gray(bytes(color))
    rle = bytearray(blob)
    _s.pack_into("<I", rle, 30, 1)           # BI_RLE8
    with _pt.raises(NotImplementedError):
        decode_bmp_gray(bytes(rle))
    with _pt.raises(ValueError):
        decode_bmp_gray(blob[:40])


def test_hits_hub_authority_separation_and_replay(spark):
    """HITS: on a bipartite hub->authority graph the pure hubs must get
    hub mass and zero authority (and vice versa); scores must equal a
    driver-side replay of the same L1-normalized rounds."""
    from puffbird_spark.operators.graph import hits

    # 1,2 are hubs pointing at 10,11,12; 10-12 are pure authorities
    edges = [(1, 10), (1, 11), (2, 11), (2, 12)]
    g = spark.createDataFrame(edges, "src long, dst long")
    out = {r.vertex: (r.hub, r.authority)
           for r in hits(g, n_iter=4).collect()}
    assert out[1][1] == 0.0 and out[2][1] == 0.0   # hubs: no inlinks
    assert out[10][0] == 0.0 and out[12][0] == 0.0  # authorities: no out
    assert out[11][1] > out[10][1]                  # 11 has two inlinks
    assert abs(sum(h for h, _ in out.values()) - 1.0) < 1e-6
    assert abs(sum(a for _, a in out.values()) - 1.0) < 1e-6

    import math
    rnd = lambda x: math.floor(x * 1e9 + 0.5) / 1e9
    verts = sorted({v for e in edges for v in e})
    n = len(verts)
    hub = {v: rnd(1.0 / n) for v in verts}
    auth = {v: rnd(1.0 / n) for v in verts}
    for _ in range(4):
        ar = {v: sum(hub[s] for s, d in edges if d == v) for v in verts}
        at = sum(ar[v] for v in verts)
        auth = {v: rnd(ar[v] / at) for v in verts}
        hr = {v: sum(auth[d] for s, d in edges if s == v) for v in verts}
        ht = sum(hr[v] for v in verts)
        hub = {v: rnd(hr[v] / ht) for v in verts}
    assert out == {v: (hub[v], auth[v]) for v in verts}


def test_graph_rounds_do_not_leak_checkpoints(spark):
    """The round driver releases every superseded round: the RDDs an
    iterative operator leaves pinned after ``collect()`` do not grow
    with its round budget (setup frames and the final round remain)."""
    from puffbird_spark.operators.graph import (
        bfs_distances, hits, label_propagation, pagerank)

    jsc = spark.sparkContext._jsc
    g = spark.createDataFrame(
        [(i, (i * 7 + 3) % 12) for i in range(12)] + [(0, 5), (5, 9)],
        "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "vertex long")

    def pinned(run):
        """RDDs newly pinned by ``run().collect()``, released after."""
        before = set(jsc.getPersistentRDDs().keySet().toArray())
        run().collect()
        new = {k: r for k, r in jsc.getPersistentRDDs().items()
               if k not in before}
        for rdd in new.values():
            rdd.unpersist(True)
        return len(new)

    ops = {
        "pagerank": lambda n: pagerank(g, n_iter=n),
        "label_propagation": lambda n: label_propagation(g, n_iter=n),
        "hits": lambda n: hits(g, n_iter=n),
        "bfs_distances": lambda n: bfs_distances(g, seeds, max_depth=n),
    }
    for name, op in ops.items():
        assert pinned(lambda: op(2)) == pinned(lambda: op(8)), name


def test_markov_stationary_rounds_do_not_leak_checkpoints(spark, sf_dir):
    """``events_markov_stationary``'s six power-iteration rounds run on
    ``plans.iterate``: after ``collect()`` only the transition frame,
    the state frame and the last round stay pinned, not one RDD per
    round."""
    from puffbird_spark.queries.streaming_q import events_markov_stationary

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    events_markov_stationary(spark, sf_dir).collect()
    new = {k: r for k, r in jsc.getPersistentRDDs().items()
           if k not in before}
    for rdd in new.values():
        rdd.unpersist(True)
    assert len(new) <= 3, len(new)


def test_tokenizer_trainers_do_not_leak_checkpoints(spark):
    """``bpe_train`` and ``unigram_train`` return driver lists, so they
    leave no RDD pinned: each BPE round is released once its successor
    is materialized, and the last round and the word table before the
    trainers return."""
    from puffbird_spark.operators.bpe import bpe_train
    from puffbird_spark.operators.unigram import unigram_train

    jsc = spark.sparkContext._jsc
    df = spark.createDataFrame(
        [("low lower lowest",), ("newer wider newest",)], "text string")
    for name, train in {
        "bpe_train": lambda: bpe_train(df, "text", rounds=5),
        "unigram_train": lambda: unigram_train(
            df, "text", vocab_size=8, seed_size=16),
    }.items():
        before = set(jsc.getPersistentRDDs().keySet().toArray())
        train()
        after = set(jsc.getPersistentRDDs().keySet().toArray())
        assert after - before == set(), name


def test_ivf_pq_full_probe_high_overfetch_is_near_exact(spark):
    """IVF+PQ sanity: probing ALL cells with a large overfetch must
    recover (nearly) the exact top-k — cells stop filtering and the
    re-rank is exact, so only PQ candidate truncation can bite; with
    overfetch covering the corpus it cannot."""
    from puffbird_spark.operators.similarity import (
        cosine_topk, ivf_pq_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.cand_id) for r in cosine_topk(
        emb, q, id_col="vec_id", vec_col="embedding", k=3, est_queries=5
    ).select("query_id", "cand_id").collect()}
    ann = {(r.query_id, r.cand_id) for r in ivf_pq_topk(
        emb, q, dim=64, id_col="vec_id", vec_col="embedding", k=3,
        n_centroids=8, nprobe=8, m=8, overfetch=200,
    ).select("query_id", "cand_id").collect()}
    assert ann == exact


def test_ima_adpcm_state_machine_and_blocks():
    """ADPCM: spec anchor transitions, clamping at both rails, the
    multi-block walk (each block resets state from its header), and
    honest raises for stereo."""
    import struct as _s

    import pytest as _pt

    from puffbird_spark.operators.multimodal import (
        _ima_step, decode_ima_adpcm, decode_wav_pcm, encode_wav)

    # magnitude bits add step>>3 + selected shifts; sign bit subtracts
    assert _ima_step(0, 0, 0) == (0, 0)       # step 7: 7>>3 = 0
    # step=7: diff = (7>>3) + 7 + (7>>1) + (7>>2) = 11, index 0 -> 8
    p, i = _ima_step(0, 0, 7)
    assert (p, i) == (0 + (7 >> 3) + 7 + (7 >> 1) + (7 >> 2), 8)
    # clamp at the positive rail: huge step, repeated adds
    p, i = 32000, 88
    for _ in range(4):
        p, i = _ima_step(p, i, 7)
    assert p == 32767 and i == 88
    # clamp at the negative rail
    p, i = -32000, 88
    for _ in range(4):
        p, i = _ima_step(p, i, 15)
    assert p == -32768

    # two blocks: the second block's header resets predictor/index
    blk1 = _s.pack("<hBB", 100, 10, 0) + bytes([3 | (12 << 4)])
    blk2 = _s.pack("<hBB", -500, 40, 0) + bytes([9 | (1 << 4)])
    out = decode_ima_adpcm(blk1 + blk2, 5, 3)
    assert out[0] == 100 and out[3] == -500 and len(out) == 6
    p1, i1 = _ima_step(-500, 40, 9)
    assert out[4] == p1

    # container path: odd sample count pads the nibble byte with 0
    blob = encode_wav(8, 8000, seed=77, fmt_tag=0x11)
    rate, ch, bits, frames = decode_wav_pcm(blob)
    assert (rate, ch, bits, len(frames)) == (8000, 1, 4, 8)
    with _pt.raises(ValueError):
        encode_wav(4, 8000, n_channels=2, fmt_tag=0x11)


def test_fuzzy_pairs_dist2_matches_brute_force(spark):
    """max_dist=2: the depth-2 deletion neighborhoods must recover
    EXACTLY the Levenshtein<=2 pairs (two substitutions, double
    inserts, mixed edits), with deeper-shared-variant false positives
    killed by the verify step."""
    import itertools

    import pytest as _pt

    from puffbird_spark.operators.fuzzy import fuzzy_pairs

    keys = ["abcd", "azcd", "azce", "abcdxy", "ab", "ba", "wxab",
            "abyz", "qqqq"]
    rows = [(i, k) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "id long, k string")

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {(i, j, lev(a, b))
            for (i, a), (j, b) in itertools.combinations(rows, 2)
            if lev(a, b) <= 2}
    got = {(r.id_a, r.id_b, r.dist)
           for r in fuzzy_pairs(df, "k", "id", max_dist=2).collect()}
    assert got == want
    # the lev-4 deep-shared-variant pair ("wxab","abyz") must be absent
    assert (6, 7) not in {(a, b) for a, b, _ in got}
    with _pt.raises(ValueError):
        fuzzy_pairs(df, "k", "id", max_dist=3)


def test_cohort_retention_hand_matrix(spark):
    """Cohort retention on a hand-built event log: cohort sizes, cell
    counts, and rates must match the hand matrix; a user active twice
    in one bucket counts once; bucket boundaries are anchored days."""
    rows = [
        # u1: first bucket 0, returns bucket 1 and 2
        (1, "2024-01-01"), (1, "2024-01-02"), (1, "2024-01-08"),
        (1, "2024-01-15"),
        # u2: first bucket 0, never returns
        (2, "2024-01-03"),
        # u3: first bucket 1, returns bucket 2
        (3, "2024-01-09"), (3, "2024-01-16"),
    ]
    from puffbird_spark.operators.sessionize import cohort_retention

    ev = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.to_timestamp("ts").alias("ts"))
    got = {(r.cohort_bucket, r.age_buckets):
           (r.n_cohort, r.n_active, r.retention_rate)
           for r in cohort_retention(ev).collect()}
    assert got == {
        (0, 0): (2, 2, 1.0), (0, 1): (2, 1, 0.5), (0, 2): (2, 1, 0.5),
        (1, 0): (1, 1, 1.0), (1, 1): (1, 1, 1.0),
    }, got


def test_url_host_and_registered_domain(spark):
    """URL parsing: userinfo and ports strip, subdomain depth folds to
    the last two labels, non-URLs extract empty."""
    from puffbird_spark.functions.text import registered_domain, url_host

    cases = [
        ("https://user@d7.example1.com:8080/x?q=1", "d7.example1.com",
         "example1.com"),
        ("http://www.site.org/", "www.site.org", "site.org"),
        ("ftp://a.b.c.d.net", "a.b.c.d.net", "d.net"),
        ("https://example.com", "example.com", "example.com"),
        ("not a url", "", ""),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in cases], "u string")
    got = df.select(
        "u", url_host("u").alias("h")
    ).select("u", "h", registered_domain("h").alias("d")).collect()
    want = {u: (h, d) for u, h, d in cases}
    for r in got:
        assert (r.h, r.d) == want[r.u], r


def test_image_content_digest_cross_format_identity(spark):
    """The same pixels encoded as PNG, GIF, and BMP must produce ONE
    pixel digest (three byte-distinct blobs, one picture); different
    content must split; undecodable blobs drop."""
    from puffbird_spark.operators.multimodal import (
        encode_bmp_gray, encode_gif, encode_png, image_content_digest)

    rows = [
        ("p", bytearray(encode_png(6, 4, seed=3))),
        ("g", bytearray(encode_gif(6, 4, seed=3))),
        ("b", bytearray(encode_bmp_gray(6, 4, seed=3))),
        ("other", bytearray(encode_png(6, 4, seed=4))),
        ("junk", bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "path string, content binary")
    out = {r.path: (r.format, r.pix_digest)
           for r in image_content_digest(df).collect()}
    assert "junk" not in out and len(out) == 4
    assert out["p"][1] == out["g"][1] == out["b"][1]
    assert out["other"][1] != out["p"][1]
    assert {out["p"][0], out["g"][0], out["b"][0]} == {"png", "gif", "bmp"}


def test_bpe_segment_order_chains_and_overlaps(spark):
    """bpe_segment: merge ORDER matters (th then th+e chains to 'the'),
    overlapping same-symbol runs merge greedy-leftmost, merged output
    does not re-merge within one pass, words segment independently."""
    from puffbird_spark.operators.bpe import bpe_segment

    df = spark.createDataFrame(
        [(1, "the there aaa thth at"),], "id long, text string")
    merges = [("t", "h"), ("th", "e"), ("a", "a"), ("a", "t")]
    out = df.select(bpe_segment(F.col("text"), merges).alias("s")) \
        .collect()[0].s
    # the -> [the]; there -> [the,r,e]; aaa -> [aa,a] (greedy leftmost,
    # no re-merge of 'aa'+'a'); thth -> [th,th]; at -> [at]
    assert out == ["the", "the", "r", "e", "aa", "a", "th", "th",
                   "at"], out

    # reversed order: th+e merge never fires without th first
    merges_rev = [("th", "e"), ("t", "h")]
    out2 = df.select(
        bpe_segment(F.lit("the"), merges_rev).alias("s")).collect()[0].s
    assert out2 == ["th", "e"], out2


def test_triangle_count_matches_brute_force(spark):
    """Degree-oriented triangle counting must equal brute-force
    enumeration on a graph with a hub, overlapping triangles, an
    isolated edge, and duplicate/reversed input edges."""
    import itertools

    from puffbird_spark.operators.graph import triangle_count

    edges = [(0, 1), (1, 2), (2, 0),          # triangle
             (2, 3), (3, 0),                  # second triangle sharing 0-2
             (4, 0), (4, 1),                  # triangle 0-1-4
             (5, 6),                          # isolated edge
             (1, 0), (0, 2)]                  # duplicates/reversed
    g = spark.createDataFrame(edges, "src long, dst long")
    got = {r.vertex: r.n_triangles
           for r in triangle_count(g).collect()}

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    verts = sorted({v for e in und for v in e})
    want = {v: 0 for v in verts}
    for a, b, c in itertools.combinations(verts, 3):
        if {(a, b), (a, c), (b, c)} <= und:
            want[a] += 1; want[b] += 1; want[c] += 1
    assert got == want, (got, want)
    assert got[5] == 0 and got[6] == 0


def test_rrf_fusion_hand_computation(spark):
    """RRF: a doc ranked by both systems must outscore single-system
    docs at similar ranks; scores equal the hand formula with the
    two-stage rounding; ties break on ascending id."""
    import math

    from puffbird_spark.operators.retrieval import rrf_fuse

    r1 = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 30, 3)],
        "query_id int, doc_id long, rank int")
    r2 = spark.createDataFrame(
        [(1, 20, 1), (1, 40, 2)],
        "query_id int, doc_id long, rank int")
    out = {r.doc_id: (r.fused_rank, r.rrf_score, r.n_systems)
           for r in rrf_fuse([r1, r2], k=60, top=4).collect()}

    rnd = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
    s20 = rnd(rnd(1 / 62) + rnd(1 / 61))
    assert out[20] == (1, s20, 2)          # both systems -> wins
    assert out[10] == (2, rnd(1 / 61), 1)
    assert out[40] == (3, rnd(1 / 62), 1)
    assert out[30] == (4, rnd(1 / 63), 1)


def test_bfs_distances_chain_ball_and_budget(spark):
    """BFS: exact hop distances on a chain, nearest-seed wins with two
    seeds, the radius budget truncates, unreached vertices are absent,
    and depth 0 returns only the seeds."""
    from puffbird_spark.operators.graph import bfs_distances

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long")
    seeds = spark.createDataFrame([(0,), (8,)], "vertex long")
    got = {r.vertex: r.dist
           for r in bfs_distances(chain, seeds, max_depth=3).collect()}
    want = {0: 0, 8: 0, 1: 1, 7: 1, 2: 2, 6: 2, 3: 3, 5: 3}
    assert got == want, got                # vertex 4 is outside radius 3
    only_seeds = {r.vertex: r.dist for r in
                  bfs_distances(chain, seeds, max_depth=0).collect()}
    assert only_seeds == {0: 0, 8: 0}


def test_expectations_split_and_violation_names(spark):
    """apply_expectations: passed+quarantined partition the input, the
    dead-letter rows name exactly their failed rules (sorted), NULL
    counts as a violation, and the scorecard adds up."""
    import pytest as _pt

    from puffbird_spark.operators.expectations import apply_expectations

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, -5.0, "b"), (3, 7.0, None),
         (4, -1.0, None)],
        "id long, v double, s string")
    rules = {"pos_v": F.col("v") > 0, "has_s": F.col("s").isNotNull()}
    passed, quar, score = apply_expectations(df, rules)
    p = {r.id for r in passed.collect()}
    qrows = {r.id: sorted(r["__violations"]) for r in quar.collect()}
    assert p == {1} and set(qrows) == {2, 3, 4}
    assert qrows[2] == ["pos_v"]
    assert qrows[3] == ["has_s"]
    assert qrows[4] == ["has_s", "pos_v"]
    sc = {r.rule: (r.n_rows, r.n_violations, r.violation_rate)
          for r in score.collect()}
    assert sc == {"pos_v": (4, 2, 0.5), "has_s": (4, 2, 0.5),
                  "__total": (4, 3, 0.75)}
    with _pt.raises(ValueError):
        apply_expectations(df, {})


def test_attribution_models_hand_journeys(spark):
    """Attribution on hand-built journeys: linear splits 1/n,
    first/last-touch concentrate, position is U-shaped, touches after
    the final conversion earn nothing, and an untouched conversion
    contributes no rows."""
    from puffbird_spark.operators.sessionize import attribution_credit

    rows = [
        # u1: view, click, view -> purchase ; then a trailing click
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 10:01:00", "click"),
        (1, "2024-01-01 10:02:00", "view"),
        (1, "2024-01-01 10:03:00", "purchase"),
        (1, "2024-01-01 10:04:00", "click"),
        # u2: purchase with no touches
        (2, "2024-01-01 11:00:00", "purchase"),
        # u3: click -> purchase, then view -> purchase (two journeys)
        (3, "2024-01-01 12:00:00", "click"),
        (3, "2024-01-01 12:01:00", "purchase"),
        (3, "2024-01-01 12:02:00", "view"),
        (3, "2024-01-01 12:03:00", "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string").select(
        "user_id", F.to_timestamp("ts").alias("ts"), "event_type")

    def run(model):
        return {r.channel: (r.n_conversions_touched, r.credit)
                for r in attribution_credit(
                    ev, "purchase", ["click", "view"], model=model)
                .collect()}

    lin = run("linear")
    # u1: view 2/3, click 1/3 ; u3: click 1, view 1
    assert lin["view"][0] == 2 and lin["click"][0] == 2
    assert abs(lin["view"][1] - (2 / 3 + 1)) < 1e-5
    assert abs(lin["click"][1] - (1 / 3 + 1)) < 1e-5

    first = run("first_touch")
    # u1 first touch = view; u3 journeys: click, view
    assert abs(first["view"][1] - 2.0) < 1e-9
    assert abs(first["click"][1] - 1.0) < 1e-9
    last = run("last_touch")
    assert abs(last["view"][1] - 2.0) < 1e-9   # u1 last=view, u3b view
    assert abs(last["click"][1] - 1.0) < 1e-9
    pos = run("position")
    # u1 (3 touches): view .4 + .2, click .4? order: view,click,view ->
    # first view .4, middle click .2, last view .4 ; u3 singles: 1.0
    assert abs(pos["view"][1] - (0.8 + 1.0)) < 1e-6
    assert abs(pos["click"][1] - (0.2 + 1.0)) < 1e-6


def test_rolling_zscore_flags_point_outlier_only(spark):
    """z-score anomalies: a spike after a stable baseline flags, the
    baseline itself does not, rows without a full trailing window are
    unscored, and a zero-variance window never divides by zero."""
    import datetime as dt

    from puffbird_spark.operators.timeseries import (
        rolling_zscore_anomalies)

    base = dt.datetime(2024, 1, 1)
    rows = []
    # stable-ish baseline: alternating 10/12, then a 100 spike at i=10
    for i in range(12):
        v = 100.0 if i == 10 else (10.0 if i % 2 == 0 else 12.0)
        rows.append(("a", base + dt.timedelta(minutes=i), v))
    # constant series: zero variance, never flags even with a jump
    for i in range(8):
        rows.append(("b", base + dt.timedelta(minutes=i), 5.0))
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = rolling_zscore_anomalies(
        df, "k", "ts", "v", window_n=5, z_thresh=3.0).collect()
    assert len(out) == 1
    r = out[0]
    assert r.key == "a" and r.value == 100.0 and abs(r.zscore) >= 3


def test_ohlc_and_twa_hand_series(spark):
    """OHLC picks true first/last by ts; TWA weights each value by its
    holding time clipped to the bucket (last value extends to bucket
    end) — pinned on a hand series with irregular spacing."""
    import datetime as dt

    from puffbird_spark.operators.timeseries import (
        ohlc_bars, time_weighted_avg)

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        ("k", t0, 10.0),                                # held 30 min
        ("k", t0 + dt.timedelta(minutes=30), 20.0),     # held 15 min
        ("k", t0 + dt.timedelta(minutes=45), 40.0),     # held to end
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    o = ohlc_bars(df, "k", "ts", "v", "1 hour").collect()[0]
    assert (o.open, o.high, o.low, o.close, o.n_obs) == \
        (10.0, 40.0, 10.0, 40.0, 3)
    t = time_weighted_avg(df, "k", "ts", "v", "1 hour").collect()[0]
    # 10*30 + 20*15 + 40*15 over 60 minutes = 1200/60 = 20
    assert t.twa == 20.0 and t.n_obs == 3


def test_kcore_peel_cascading_and_fixpoint(spark):
    """k-core: peeling a pendant chain off a triangle cascades (each
    round exposes the next low-degree vertex), the triangle survives
    as the 2-core, and nothing survives a k above the max core."""
    from puffbird_spark.operators.graph import k_core_peel

    # triangle 0-1-2 with a chain 2-3-4-5 hanging off
    g = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5)],
        "src long, dst long")
    core2 = {r.vertex: r.degree
             for r in k_core_peel(g, k=2, rounds=6).collect()}
    assert core2 == {0: 2, 1: 2, 2: 2}   # chain peeled over 3 rounds
    assert k_core_peel(g, k=3, rounds=6).count() == 0
    # one round only: just the leaf (5) and its edge go
    one = {r.vertex for r in k_core_peel(g, k=2, rounds=1).collect()}
    assert one == {0, 1, 2, 3, 4}


def test_ks_two_sample_known_distributions(spark):
    """KS: identical samples read 0, disjoint supports read 1, a
    half-shifted sample reads the hand-computed supremum, and ties
    across groups count on both ECDFs (RANGE-frame semantics)."""
    from puffbird_spark.operators.drift import ks_two_sample

    def run(pairs):
        df = spark.createDataFrame(pairs, "v double, a boolean")
        return ks_two_sample(df, "a", "v").collect()[0]

    same = run([(float(v), g) for v in range(10) for g in (True, False)])
    assert same.ks_stat == 0.0 and same.n_a == same.n_b == 10

    disjoint = run([(float(v), True) for v in range(5)]
                   + [(float(v + 100), False) for v in range(5)])
    assert disjoint.ks_stat == 1.0

    # a: {1,2,3,4}, b: {3,4,5,6} -> sup at v=2: |2/4 - 0/4| = 0.5
    shift = run([(1.0, True), (2.0, True), (3.0, True), (4.0, True),
                 (3.0, False), (4.0, False), (5.0, False), (6.0, False)])
    assert shift.ks_stat == 0.5


def test_adamic_adar_hand_graph_and_hub_guard(spark):
    """Adamic-Adar: shared rare neighbors outscore shared hubs,
    adjacent pairs are excluded, and the hub guard drops super-hub
    contributions loudly."""
    import math

    import pytest as _pt

    from puffbird_spark.operators.graph import adamic_adar_links

    # z1 (deg 2) connects x,y ; hub h (deg 4) connects x,y,u,w
    edges = [(1, 100), (2, 100),            # z=100 rare, deg 2
             (1, 200), (2, 200), (3, 200), (4, 200)]  # h=200, deg 4
    g = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.id_a, r.id_b): r.score
           for r in adamic_adar_links(g, top=10).collect()}
    rnd9 = lambda x: math.floor(x * 1e9 + 0.5) / 1e9
    # pair (1,2): both neighbors shared -> 1/ln2 + 1/ln4
    assert abs(got[(1, 2)] - round(rnd9(1 / math.log(2))
                                   + rnd9(1 / math.log(4)), 6)) < 1e-9
    # pair (3,4): only the hub shared
    assert abs(got[(3, 4)] - round(rnd9(1 / math.log(4)), 6)) < 1e-9
    assert got[(1, 2)] > got[(3, 4)]
    assert (1, 100) not in got             # adjacent pairs excluded

    with _pt.warns(UserWarning):
        capped = {(r.id_a, r.id_b): r.score for r in adamic_adar_links(
            g, top=10, max_center_degree=3).collect()}
    # hub dropped: (3,4) disappears, (1,2) keeps only the rare neighbor
    assert (3, 4) not in capped
    assert abs(capped[(1, 2)] - round(rnd9(1 / math.log(2)), 6)) < 1e-9


def test_jaccard_links_hand_graph_and_hub_guard(spark):
    """Jaccard link prediction: exact |N∩N| / |N∪N| on a hand graph,
    adjacency exclusion, and the hub guard."""
    import pytest as _pt

    from puffbird_spark.operators.graph import jaccard_links

    # z=100 connects 1,2 ; hub 200 connects 1,2,3,4
    edges = [(1, 100), (2, 100),
             (1, 200), (2, 200), (3, 200), (4, 200)]
    g = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.id_a, r.id_b): (r.common_neighbors, r.score)
           for r in jaccard_links(g, top=10).collect()}
    # N(1) = {100,200}, N(2) = {100,200}: inter 2, union 2 -> 1.0
    assert got[(1, 2)] == (2, 1.0)
    # N(3) = {200}, N(4) = {200}: inter 1, union 1 -> 1.0
    assert got[(3, 4)] == (1, 1.0)
    # N(1) = {100,200}, N(3) = {200}: inter 1, union 2 -> 0.5
    assert got[(1, 3)] == (1, 0.5)
    assert (1, 100) not in got             # adjacent pairs excluded
    # (100, 200) share neighbors 1 and 2; deg 2 and 4 -> 2/(2+4-2)
    assert got[(100, 200)] == (2, 0.5)

    with _pt.warns(UserWarning):
        capped = {(r.id_a, r.id_b): (r.common_neighbors, r.score)
                  for r in jaccard_links(
                      g, top=10, max_center_degree=3).collect()}
    # hub centers dropped: (3,4) loses its only wedge; (1,2) keeps
    # the rare neighbor but degrees still count the hub edges
    assert (3, 4) not in capped
    assert capped[(1, 2)] == (1, round(1 / 3, 6))


def test_recursive_cte_hand_graph(spark):
    """WITH RECURSIVE (Spark 4): walk enumeration + shortest-hop fold
    on a hand path graph, pinned against the closed form."""
    edges = [(a, b) for a, b in zip(range(5), range(1, 6))]
    und = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    spark.createDataFrame(und, "a long, b long") \
        .createOrReplaceTempView("pbs_rec_test_edges")
    rows = spark.sql("""
        WITH RECURSIVE reach(node, dist) AS (
            SELECT MIN(a), 0 FROM pbs_rec_test_edges
            UNION ALL
            SELECT e.b, r.dist + 1
            FROM reach r JOIN pbs_rec_test_edges e ON e.a = r.node
            WHERE r.dist < 4
        )
        SELECT node, CAST(MIN(dist) AS INT) AS hops,
               CAST(COUNT(*) AS BIGINT) AS n_walks
        FROM reach GROUP BY node ORDER BY node
    """).collect()
    got = {r.node: (r.hops, r.n_walks) for r in rows}
    # path 0-1-2-3-4-5 from node 0: hops = index; walks of length <= 4
    # ending at each node (backtracking allowed): computed by hand
    assert {n: h for n, (h, _) in got.items()} == {
        0: 0, 1: 1, 2: 2, 3: 3, 4: 4}
    assert 5 not in got                     # 5 hops away, over the cap
    # walk counts: w(0)=1+1+2 (len 0,2,4), w(1)=1+2 (len 1,3),
    # w(2)=1+3 (len 2,4), w(3)=1 (len 3), w(4)=1 (len 4)
    assert got[0][1] == 4 and got[1][1] == 3 and got[2][1] == 4
    assert got[3][1] == 1 and got[4][1] == 1


def test_basket_rules_and_rfm_invariants(spark):
    """Hand-checkable invariants of the two retail-analytics gates at
    sf0.001 (exact values are oracle-hash-checked by the driver)."""
    from puffbird_spark.queries.relational import (
        basket_association_rules, customer_rfm)

    sf = "/root/testdata/sf0.001"
    rules = basket_association_rules(spark, sf).collect()
    assert 0 < len(rules) <= 20
    for r in rules:
        assert r.part_a < r.part_b and r.pair_orders >= 2
        assert 0 < r.support <= 1
        assert 0 < r.conf_a_to_b <= 1 and 0 < r.conf_b_to_a <= 1
        # lift = conf_a_to_b / P(B) >= conf since counts >= pair count
        assert r.lift >= r.support
    lifts = [r.lift for r in rules]
    assert lifts == sorted(lifts, reverse=True)

    seg = customer_rfm(spark, sf).collect()
    assert all(1 <= s.r_score <= 5 and 1 <= s.f_score <= 5
               and 1 <= s.m_score <= 5 for s in seg)
    # every purchaser lands in exactly one segment
    import duckdb
    n_cust = duckdb.sql(
        f"SELECT COUNT(DISTINCT o_custkey) FROM '{sf}/orders.parquet'"
    ).fetchone()[0]
    assert sum(s.n_customers for s in seg) == n_cust
    # quintile scoring is balanced on each axis: no score holds more
    # than ~an interpolation-boundary excess over 20% per axis
    for axis in ("r_score", "f_score", "m_score"):
        per = {}
        for s in seg:
            per[s[axis]] = per.get(s[axis], 0) + s.n_customers
        assert set(per) == {1, 2, 3, 4, 5}
        assert max(per.values()) <= 0.30 * n_cust


def test_chi_square_hand_table(spark):
    """Chi-square independence on the hand 2x2 table [[10,20],[30,40]]
    — closed-form expected counts and statistic."""
    import math

    from puffbird_spark.operators.drift import chi_square_independence

    rows = ([("a", "x")] * 10 + [("a", "y")] * 20
            + [("b", "x")] * 30 + [("b", "y")] * 40)
    df = spark.createDataFrame(rows, "r string, c string")
    got = chi_square_independence(df, "r", "c").collect()[0]
    assert (got.n, got.n_row_levels, got.n_col_levels, got.dof) == (
        100, 2, 2, 1)
    # e = [[12,18],[28,42]]; terms rounded to 9dp then exactly summed
    terms = [round((10 - 12) ** 2 / 12, 9), round((20 - 18) ** 2 / 18, 9),
             round((30 - 28) ** 2 / 28, 9), round((40 - 42) ** 2 / 42, 9)]
    chi2 = round(sum(terms), 6)
    assert got.chi2 == chi2
    assert abs(got.cramers_v - round(math.sqrt(chi2 / 100), 6)) < 1e-9

    # single-level column: dof 0, NULL effect size, no ANSI crash
    one = spark.createDataFrame([("a", "x"), ("a", "y")], "r string, c string")
    g1 = chi_square_independence(one, "r", "c").collect()[0]
    assert g1.dof == 0 and g1.cramers_v is None


def test_mann_whitney_hand_samples(spark):
    """Mann-Whitney U: disjoint samples and the tie-corrected case,
    both pinned to hand-computed U and z."""
    import math

    from puffbird_spark.operators.drift import mann_whitney_u

    def run(pairs):
        df = spark.createDataFrame(
            [(float(v), a) for v, a in pairs], "v double, a boolean")
        return mann_whitney_u(df, "a", "v").collect()[0]

    # A = {1,2,3} < B = {4,5,6}: U = 0, z = -4.5/sqrt(5.25)
    lo = run([(1, True), (2, True), (3, True),
              (4, False), (5, False), (6, False)])
    assert lo.u_stat == 0.0
    assert abs(lo.z - round(-4.5 / math.sqrt(5.25), 6)) < 1e-9

    # A = {1,2,2}, B = {2,3,3}: midranks give R_a = 7, U = 1;
    # ties Σ(t³−t) = 30 -> σ² = 4.5
    tied = run([(1, True), (2, True), (2, True),
                (2, False), (3, False), (3, False)])
    assert tied.u_stat == 1.0
    assert abs(tied.z - round(-3.5 / math.sqrt(4.5), 6)) < 1e-9

    # all values identical: zero variance -> key omitted
    flat = spark.createDataFrame(
        [(1.0, True), (1.0, False)], "v double, a boolean")
    assert mann_whitney_u(flat, "a", "v").count() == 0


def test_theil_sen_line_outlier_and_gini_bounds(spark):
    """Theil-Sen recovers an exact line and shrugs off an outlier OLS
    would chase; the Gini gate stays inside [0, 1)."""
    from puffbird_spark.operators.timeseries import theil_sen
    from puffbird_spark.queries.relational import agg_gini

    line = [("k", float(x), 2.0 * x + 1.0) for x in range(10)]
    df = spark.createDataFrame(line, "k string, x double, y double")
    got = theil_sen(df, ["k"], "x", "y").collect()[0]
    assert (got.n_points, got.n_pairs) == (10, 45)
    assert got.slope == 2.0 and got.intercept == 1.0

    # corrupt one point hard: the median slope holds at 2 exactly
    # (of 45 pair slopes only the 9 touching the outlier move)
    dirty = line[:5] + [("k", 5.0, 500.0)] + line[6:]
    d2 = theil_sen(
        spark.createDataFrame(dirty, "k string, x double, y double"),
        ["k"], "x", "y").collect()[0]
    assert d2.slope == 2.0

    # a single point (no pair) is omitted
    one = spark.createDataFrame([("k", 1.0, 1.0)],
                                "k string, x double, y double")
    assert theil_sen(one, ["k"], "x", "y").count() == 0

    seg = agg_gini(spark, "/root/testdata/sf0.001").collect()
    assert len(seg) == 5
    for s in seg:
        assert 0.0 <= s.gini < 1.0 and s.n_customers > 0


def test_seasonal_decompose_recovers_components(spark):
    """Additive decomposition on line + zero-sum weekly pattern:
    trend is the exact line, seasonal the exact pattern, residual 0."""
    import pytest as _pt

    from puffbird_spark.operators.timeseries import seasonal_decompose

    s = [3.0, -1.0, 2.0, -4.0, 1.0, 0.5, -1.5]  # sums to 0
    rows = [("k", x, 10.0 + x + s[x % 7]) for x in range(21)]
    df = spark.createDataFrame(rows, "k string, x long, y double")
    out = seasonal_decompose(df, ["k"], "x", "y").collect()
    # full 7-window exists for x in 3..17
    assert sorted(r.x for r in out) == list(range(3, 18))
    for r in out:
        assert r.trend == round(10.0 + r.x, 6)
        assert r.seasonal == round(s[r.phase], 6)
        assert r.residual == 0.0
        assert r.y == round(10.0 + r.x + s[r.phase], 6)

    with _pt.raises(ValueError):
        seasonal_decompose(df, ["k"], "x", "y", trend_window=4)


def test_rake_keywords_hand_doc(spark):
    """RAKE on the hand corpus: deg/freq word scores and phrase sums
    computed on paper."""
    from puffbird_spark.operators.retrieval import rake_keywords

    docs = spark.createDataFrame(
        [("a red apple and the green apple",),
         ("fresh red apple of the day",)], "text string")
    got = {r.phrase: (r.n_words, r.n_occurrences, r.score)
           for r in rake_keywords(
               docs, "text", ["a", "and", "the", "of"], top=10).collect()}
    # phrases: "red apple" x1, "green apple" x1, "fresh red apple" x1,
    # "day" x1. freq: red 2, apple 3, green 1, fresh 1, day 1.
    # deg: red 2+3=5, apple 2+2+3=7, green 2, fresh 3, day 1.
    red, apple, green, fresh, day = 5 / 2, 7 / 3, 2 / 1, 3 / 1, 1 / 1
    r9 = lambda x: round(x, 9)
    assert got["fresh red apple"] == (
        3, 1, round(r9(fresh) + r9(red) + r9(apple), 6))
    assert got["red apple"] == (2, 1, round(r9(red) + r9(apple), 6))
    assert got["green apple"] == (2, 1, round(r9(green) + r9(apple), 6))
    assert got["day"] == (1, 1, 1.0)


def test_pca_planted_rank2(spark):
    """PCA on planted rank-2 data: two positive eigenvalues matching
    the component score variances, the rest ~0, and errors on bad k."""
    import numpy as np
    import pytest as _pt

    from puffbird_spark.operators.clustering import pca_fit_project

    rng = np.random.RandomState(7)
    u = np.array([1.0, 0, 0, 1.0, 0, 0]) / np.sqrt(2)
    v = np.array([0, 1.0, 0, 0, -1.0, 0]) / np.sqrt(2)
    a = rng.normal(0, 5.0, 40)
    b = rng.normal(0, 1.0, 40)
    x = np.outer(a, u) + np.outer(b, v) + 3.0
    rows = [(int(i), [float(t) for t in x[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    scores, evals = pca_fit_project(df, "vec_id", "embedding", k=3)
    pdf = scores.toPandas().sort_values("vec_id")
    assert list(pdf.columns) == ["vec_id", "pc_1", "pc_2", "pc_3"]
    assert evals[0] > evals[1] > evals[2] >= -1e-9
    assert abs(evals[2]) < 1e-9                      # planted rank 2
    # component score variance == explained variance
    for j, ev in enumerate(evals[:2], start=1):
        assert abs(pdf[f"pc_{j}"].var(ddof=1) - ev) < 1e-4
    # pc_1 recovers the high-variance direction up to sign
    corr = np.corrcoef(pdf["pc_1"].to_numpy(), a)[0, 1]
    assert abs(abs(corr) - 1.0) < 1e-6

    with _pt.raises(ValueError):
        pca_fit_project(df, "vec_id", "embedding", k=7)
    one = spark.createDataFrame(rows[:1],
                                "vec_id long, embedding array<double>")
    with _pt.raises(ValueError):
        pca_fit_project(one, "vec_id", "embedding", k=2)


def test_mmr_rerank_diversifies(spark):
    """MMR: a near-duplicate of the first pick is deferred behind a
    diverse candidate at lambda=0.5, and lambda=1.0 degenerates to
    pure relevance order."""
    from puffbird_spark.operators.similarity import mmr_rerank

    rows = [(0, [1.0, 0.0, 0.0]),     # query
            (1, [1.0, 0.1, 0.0]),     # top relevance
            (2, [1.0, 0.12, 0.0]),    # near-dup of 1
            (3, [1.0, 0.0, 1.0])]     # diverse
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id = 0")

    order = [r.cand_id for r in mmr_rerank(
        df, q, k=3, pool=3, lam=0.5).orderBy("rank").collect()]
    assert order == [1, 3, 2]          # dup penalized behind diverse

    pure = [r.cand_id for r in mmr_rerank(
        df, q, k=3, pool=3, lam=1.0).orderBy("rank").collect()]
    assert pure == [1, 2, 3]           # relevance order


def test_gopher_rules_hand_docs(spark):
    """Gopher battery: a clean doc passes, each planted defect trips
    exactly its own rule."""
    from puffbird_spark.operators.filters import gopher_rules

    clean = " ".join(
        ["the quick brown fox jumps over the lazy dog and runs home"]
        * 5)                                   # 55 words, stopwords, varied
    short = "the quick fox"                    # word count
    symbols = " ".join(["###"] * 60)           # symbol ratio + alpha + stop
    repeat = " ".join(["alpha beta"] * 30) + " the of end"  # top bigram
    df = spark.createDataFrame(
        [(1, clean), (2, short), (3, symbols), (4, repeat)],
        "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_rules(
        df, "doc_id", "text", ["the", "a", "of", "and", "to", "is", "in"]
    ).collect()}
    assert got[1].passes_gopher
    assert not got[2].ok_word_count and not got[2].passes_gopher
    assert not got[3].ok_symbol_ratio and not got[3].ok_alpha_words
    assert not got[3].ok_stopwords
    assert not got[4].ok_repetition and got[4].ok_word_count
    # exact metric spot-checks on the short doc
    assert got[2].n_words == 3
    assert got[2].mean_word_len == round(11 / 3, 6)
    assert got[2].n_stopwords == 1


def test_modularity_hand_graph(spark):
    """Modularity on two triangles joined by one bridge edge, with the
    natural 2-community labeling: Q computed on paper."""
    from puffbird_spark.operators.graph import modularity_communities

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(4, 5), (5, 6), (4, 6)]
    edges = spark.createDataFrame(
        tri1 + tri2 + [(3, 4)], "src long, dst long")
    labels = spark.createDataFrame(
        [(v, 1 if v <= 3 else 2) for v in range(1, 7)],
        "vertex long, label long")
    got = {r.community: r for r in
           modularity_communities(edges, labels).collect()}
    # 2m = 14 directed rows; each community: 3 internal edges,
    # degree sum 7 -> contribution (6*14 - 49)/196 = 35/196
    for c in (1, 2):
        assert got[c].n_vertices == 3
        assert got[c].internal_edges == 3
        assert got[c].degree_sum == 7
        assert got[c].contribution == round(35 / 196, 6)
    # everything in ONE community: Q = (14*14 - 196)/196 = 0
    one = spark.createDataFrame(
        [(v, 9) for v in range(1, 7)], "vertex long, label long")
    g1 = modularity_communities(edges, one).collect()
    assert len(g1) == 1 and g1[0].contribution == 0.0


def test_interval_join_exactly_once_and_edges(spark):
    """binned_interval_join: pairs spanning MANY shared bins emit
    exactly once; touching endpoints match; inverted/NULL bounds
    match nothing."""
    import pytest as _pt

    from puffbird_spark.operators.rangejoin import binned_interval_join

    left = spark.createDataFrame(
        [(1, 0.0, 1000.0),      # spans ~16 bins at width 64
         (2, 500.0, 510.0),
         (3, 2000.0, 1000.0),   # inverted -> no match
         (4, None, 100.0)],     # NULL -> no match
        "lid long, l_lo double, l_hi double")
    right = spark.createDataFrame(
        [(10, 100.0, 900.0),    # overlaps 1 across many bins, and 2
         (11, 1000.0, 1100.0),  # touches 1 at the endpoint
         (12, 5000.0, 6000.0)], # disjoint
        "rid long, r_lo double, r_hi double")
    got = sorted((r.lid, r.rid) for r in binned_interval_join(
        left, right, "l_lo", "l_hi", "r_lo", "r_hi", 64.0).collect())
    assert got == [(1, 10), (1, 11), (2, 10)]

    with _pt.raises(ValueError):
        binned_interval_join(left, right,
                             "l_lo", "l_hi", "r_lo", "r_hi", 0)


def test_runs_test_hand_sequences(spark):
    """Runs test: perfectly alternating vs perfectly blocked sequences
    around the median, run counts and z-signs pinned by hand."""
    from puffbird_spark.operators.drift import runs_test

    def run(vals):
        df = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate(vals)],
            "i long, v double")
        rows = runs_test(df, "v", "i").collect()
        return rows[0] if rows else None

    # alternating low/high x5: 10 runs of length 1 -> z > 0
    alt = run([1, 9, 1, 9, 1, 9, 1, 9, 1, 9])
    assert (alt.n_above, alt.n_below, alt.n_runs) == (5, 5, 10)
    # mu = 6, var = 20/9; z = 4/sqrt(20/9)
    import math
    assert alt.z == round(4 / math.sqrt(20 / 9), 6)

    # fully blocked: 2 runs -> z < 0, symmetric magnitude
    blk = run([1, 1, 1, 1, 1, 9, 9, 9, 9, 9])
    assert (blk.n_above, blk.n_below, blk.n_runs) == (5, 5, 2)
    assert blk.z == round(-4 / math.sqrt(20 / 9), 6)

    # all values equal the median -> everything dropped, no row
    assert run([5, 5, 5, 5]) is None


def test_scd2_apply_hand_dim(spark):
    """scd2_apply: change closes+reopens, no-op leaves untouched,
    unknown key inserts, history passes through, duplicate-key batch
    raises."""
    import datetime

    import pytest as _pt

    from puffbird_spark.operators.merge import scd2_apply

    D = datetime.date
    dim = spark.createDataFrame(
        [(1, "A", D(2018, 1, 1), D(2020, 1, 1)),   # history
         (1, "B", D(2020, 1, 1), None),            # current, will change
         (2, "C", D(2020, 1, 1), None),            # current, no-op
         (3, "D", D(2020, 1, 1), None)],           # current, untouched
        "k long, seg string, valid_from date, valid_to date")
    upd = spark.createDataFrame(
        [(1, "B2", D(2024, 6, 1)),
         (2, "C", D(2024, 6, 1)),                  # identical -> no-op
         (9, "NEW", D(2024, 6, 1))],               # unknown key
        "k long, seg string, effective_ts date")
    got = sorted(
        ((r.k, r.seg, str(r.valid_from), str(r.valid_to)) for r in
         scd2_apply(dim, upd, ["k"], ["seg"]).collect()))
    assert got == sorted([
        (1, "A", "2018-01-01", "2020-01-01"),
        (1, "B", "2020-01-01", "2024-06-01"),
        (1, "B2", "2024-06-01", "None"),
        (2, "C", "2020-01-01", "None"),
        (3, "D", "2020-01-01", "None"),
        (9, "NEW", "2024-06-01", "None")])

    dup = spark.createDataFrame(
        [(1, "X", D(2024, 1, 1)), (1, "Y", D(2024, 1, 1))],
        "k long, seg string, effective_ts date")
    with _pt.raises(ValueError):
        scd2_apply(dim, dup, ["k"], ["seg"])


def test_hilbert_bijection_and_locality(spark):
    """Hilbert index: bijection on the full 16x16 grid, consecutive
    cells always one Manhattan step apart (the property Morton order
    lacks), fenced builder == Column form, and the Column-form
    expression-blowup cap raises."""
    import pytest as _pt

    from puffbird_spark.operators.layout import hilbert_value, with_hilbert

    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long")
    rows = with_hilbert(grid, "x", "y", bits=4, h_col="d").collect()
    ds = sorted(r.d for r in rows)
    assert ds == list(range(256))
    pos = {r.d: (r.x, r.y) for r in rows}
    assert all(
        abs(pos[i][0] - pos[i + 1][0]) + abs(pos[i][1] - pos[i + 1][1]) == 1
        for i in range(255))

    col_rows = grid.select(
        "x", "y", hilbert_value("x", "y", 4).alias("d")).collect()
    assert {(r.x, r.y): r.d for r in col_rows} == {
        (r.x, r.y): r.d for r in rows}

    with _pt.raises(ValueError):
        hilbert_value("x", "y", 8)       # the planner-OOM cap
    with _pt.raises(ValueError):
        with_hilbert(grid, "x", "y", bits=32)


def test_kaplan_meier_textbook_curve(spark):
    """Kaplan-Meier on the classic hand example: deaths at t=1 (2 of
    10), t=3 (1 of 7, after a censor), censor between, death-of-all
    pins survival to exactly 0."""
    from puffbird_spark.operators.timeseries import kaplan_meier

    rows = ([(1, True)] * 2            # 2 deaths at t=1 (n=10)
            + [(2, False)]             # 1 censored at t=2
            + [(3, True)]              # 1 death at t=3 (risk=7)
            + [(4, False)] * 5         # censored tail
            + [(9, True)])             # last subject dies: risk=1
    df = spark.createDataFrame(rows, "dur long, obs boolean")
    got = {r.t: r for r in kaplan_meier(df, "dur", "obs").collect()}
    assert set(got) == {1, 3, 9}
    assert (got[1].n_at_risk, got[1].n_events) == (10, 2)
    assert got[1].survival == round(
        __import__("math").exp(round(__import__("math").log(0.8), 9)), 6)
    assert (got[3].n_at_risk, got[3].n_events) == (7, 1)
    # S(3) = 0.8 * (1 - 1/7)
    import math
    expect3 = round(math.exp(round(math.log(1 - 2 / 10), 9)
                             + round(math.log(1 - 1 / 7), 9)), 6)
    assert got[3].survival == expect3
    assert got[9].n_at_risk == 1 and got[9].survival == 0.0


def test_target_encode_loo_hand(spark):
    """LOO target encoding: own label excluded, smoothing pulls a
    singleton category to (almost) the prior."""
    from puffbird_spark.operators.classifier import target_encode_loo

    rows = [("a", 1), ("a", 1), ("a", 0), ("b", 0), ("b", 0), ("c", 1)]
    df = spark.createDataFrame(rows, "cat string, y long")
    got = target_encode_loo(df, "cat", "y", smoothing=2.0).collect()
    prior = 3 / 6
    by = {}
    for r in got:
        by.setdefault((r.cat, r.y), []).append(r.target_enc)
    # cat a, y=1 row: (2-1 + 2*0.5)/(3-1+2) = 0.5
    assert by[("a", 1)] == [0.5, 0.5]
    # cat a, y=0 row: (2-0 + 1)/(4) = 0.75
    assert by[("a", 0)] == [0.75]
    # singleton c, y=1: (1-1 + 1)/(0+2) = 0.5 == prior exactly here
    assert by[("c", 1)] == [round((0 + 2 * prior) / 2, 6)]
    # own-row exclusion: a perfect-leak encoder would give y back;
    # no encoding equals its own label
    assert all(enc not in (0.0, 1.0)
               for encs in by.values() for enc in encs)


def test_cidr_lpm_longest_wins_and_left(spark):
    """LPM: a narrower block beats the /2 fallback; unmatched rows drop
    under inner, survive as NULL under left; duplicate networks at one
    length raise."""
    import pytest

    from puffbird_spark.operators.net import cidr_lpm_match

    blocks = spark.createDataFrame(
        [("0.0.0.0/1",), ("10.0.0.0/8",), ("10.1.0.0/16",)], ["cidr"]
    )
    ips = spark.createDataFrame(
        [(1, "10.1.2.3"), (2, "10.9.9.9"), (3, "5.0.0.1"),
         (4, "200.1.1.1")],
        ["id", "ip"],
    )
    got = {r.id: r.cidr for r in cidr_lpm_match(ips, "ip", blocks).collect()}
    assert got == {1: "10.1.0.0/16", 2: "10.0.0.0/8", 3: "0.0.0.0/1"}
    left = {
        r.id: r.cidr
        for r in cidr_lpm_match(ips, "ip", blocks, how="left").collect()
    }
    assert left[4] is None and len(left) == 4
    dup = spark.createDataFrame(
        [("10.0.0.0/8",), ("10.255.0.0/8",)], ["cidr"]
    )
    with pytest.raises(ValueError, match="duplicate networks"):
        cidr_lpm_match(ips, "ip", dup)


def test_ipv4_roundtrip(spark):
    from pyspark.sql import functions as F

    from puffbird_spark.operators.net import ipv4_to_long, long_to_ipv4

    df = spark.createDataFrame(
        [("0.0.0.0",), ("255.255.255.255",), ("192.168.1.7",)], ["ip"]
    )
    got = df.select(
        "ip", long_to_ipv4(ipv4_to_long("ip")).alias("rt"),
        ipv4_to_long(F.lit("1.0.0.0")).alias("v"),
    ).collect()
    assert all(r.ip == r.rt for r in got)
    assert got[0].v == 16777216


def test_strip_html_edges(spark):
    """Script/style content dropped wholesale, entities decoded once,
    whitespace collapsed; '&copy;' stays literal."""
    from puffbird_spark.functions.text import strip_html

    df = spark.createDataFrame(
        [("<p>a  b</p><script>var \"x\"=1;</script>"
          "<style>p{color:red}</style>&amp;lt; &copy; <b>c</b>",)],
        ["h"],
    )
    [r] = df.select(strip_html("h").alias("t")).collect()
    # &amp;lt; decodes the &amp; first -> '&lt;' literal? No: passes run
    # in fixed order (&lt; before &amp;), so '&amp;lt;' -> '&lt;' text.
    assert r.t == "a b &lt; &copy; c"


def test_k_anonymity_suppression(spark):
    from puffbird_spark.operators.privacy import (
        k_anonymity_audit,
        suppress_small_classes,
    )

    rows = [("x", 1, 0), ("x", 1, 1), ("x", 1, 0), ("y", 2, 5),
            ("z", 3, 1), ("z", 3, 1), ("z", 3, 1)]
    df = spark.createDataFrame(rows, "qa string, qb long, s long")
    audit = {
        (r.qa, r.qb): (r.class_size, r.l_distinct, r.k_violation,
                       r.l_violation)
        for r in k_anonymity_audit(df, ["qa", "qb"], "s", k=3,
                                   ell=2).collect()
    }
    assert audit[("x", 1)] == (3, 2, False, False)
    assert audit[("y", 2)] == (1, 1, True, True)
    # k ok but l fails: all sensitive values identical
    assert audit[("z", 3)] == (3, 1, False, True)
    kept = suppress_small_classes(df, ["qa", "qb"], "s", k=3, ell=2)
    assert sorted({r.qa for r in kept.collect()}) == ["x"]


def test_histograms_hand(spark):
    from puffbird_spark.operators.profile import (
        equi_depth_histogram,
        equi_width_histogram,
    )

    df = spark.createDataFrame(
        [(float(i), i) for i in range(10)] + [(None, 99)],
        "v double, k long",
    )
    ew = {r.bucket: r.n_rows
          for r in equi_width_histogram(df, "v", 3).collect()}
    # [0,3) [3,6) [6,9]: max lands in the LAST bucket (inclusive top)
    assert ew == {0: 3, 1: 3, 2: 4}
    ed = {r.bucket: (r.lo_val, r.hi_val, r.n_rows)
          for r in equi_depth_histogram(df, "v", "k", 2).collect()}
    assert ed == {0: (0.0, 4.0, 5), 1: (5.0, 9.0, 5)}


def test_holt_linear_hand(spark):
    """Recursion replay: alpha=1/2, beta=1/4, l1=x1, b1=0 — exact
    dyadic arithmetic checked against a hand walk."""
    from puffbird_spark.operators.timeseries import holt_linear

    df = spark.createDataFrame(
        [("a", 1, 4.0), ("a", 2, 8.0), ("a", 3, 8.0), ("b", 1, 2.0)],
        "k string, t long, x double",
    )
    got = {(r.k, r.t): (r.level, r.trend, r.forecast_next)
           for r in holt_linear(df, ["k"], "t", "x").collect()}
    # a: l1=4,b1=0; l2=.5*8+.5*4=6, b2=.25*2+0=.5;
    #    l3=.5*8+.5*6.5=7.25, b3=.25*1.25+.75*.5=0.6875
    assert got[("a", 1)] == (4.0, 0.0, 4.0)
    assert got[("a", 2)] == (6.0, 0.5, 6.5)
    assert got[("a", 3)] == (7.25, 0.6875, 7.9375)
    assert got[("b", 1)] == (2.0, 0.0, 2.0)


def test_shortest_paths_weighted_cheap_beats_short(spark):
    """The 2-hop cheap route (1+1=2) must beat the 1-hop expensive
    edge (5); vertices beyond the hop budget are absent."""
    from puffbird_spark.operators.graph import shortest_paths_weighted

    edges = spark.createDataFrame(
        [(0, 1, 5), (0, 2, 1), (2, 1, 1), (1, 3, 1), (3, 4, 1),
         (4, 5, 1)],
        "src long, dst long, weight long",
    )
    seeds = spark.createDataFrame([(0,)], ["v"])
    got = {r.vertex: r.dist
           for r in shortest_paths_weighted(edges, seeds,
                                            max_hops=3).collect()}
    # within 3 hops vertex 4 only has the expensive route 0-1-3-4 (7);
    # the cheap chain 0-2-1-3-4 needs a 4th hop
    assert got == {0: 0, 2: 1, 1: 2, 3: 3, 4: 7}
    got5 = {r.vertex: r.dist
            for r in shortest_paths_weighted(edges, seeds,
                                             max_hops=5).collect()}
    assert got5[4] == 4 and got5[5] == 5


def test_auc_midrank_identity(spark):
    """AUC from the grouped midrank algebra equals the probability a
    positive outranks a negative (ties count half), checked by brute
    force on a small fixture with ties."""
    from itertools import product

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rows = [(0.9, 1), (0.8, 1), (0.8, 0), (0.5, 0), (0.5, 1),
            (0.3, 0), (0.1, 0)]
    df = spark.createDataFrame(rows, "p double, y int")
    g = df.groupBy("p").agg(F.count(F.lit(1)).alias("cnt"),
                            F.sum("y").alias("npos"))
    r = g.withColumn(
        "below",
        F.sum("cnt").over(
            Window.orderBy("p").rowsBetween(Window.unboundedPreceding, 0))
        - F.col("cnt"))
    [a] = r.agg(
        F.sum("cnt").alias("n"), F.sum("npos").alias("np"),
        F.sum(F.col("npos") * (2 * F.col("below") + F.col("cnt") + 1))
        .alias("s2")).collect()
    auc = (a.s2 - a.np * (a.np + 1)) / (2.0 * a.np * (a.n - a.np))
    pos = [p for p, y in rows if y == 1]
    neg = [p for p, y in rows if y == 0]
    brute = sum(1.0 if pp > pn else 0.5 if pp == pn else 0.0
                for pp, pn in product(pos, neg)) / (len(pos) * len(neg))
    assert abs(auc - brute) < 1e-12


# --- round-8 batch B: bipartite projection / radius search / SAX ---

def test_bipartite_projection_cap_and_support(spark):
    from puffbird_spark.operators.graph import bipartite_projection

    edges = spark.createDataFrame(
        # hub customer 1 buys items 1..4 (weights pick top-2: items 3,4);
        # customers 2 and 3 both buy {3,4}; customer 4 buys {5,6} once
        [(1, 1, 1.0), (1, 2, 2.0), (1, 3, 9.0), (1, 4, 8.0),
         (2, 3, 1.0), (2, 4, 1.0), (3, 3, 1.0), (3, 4, 1.0),
         (4, 5, 1.0), (4, 6, 1.0)],
        ["cust", "item", "w"],
    )
    out = bipartite_projection(
        edges, "cust", "item", weight_col="w",
        cap_per_left=2, min_support=2,
    ).collect()
    pairs = {(r.item_a, r.item_b): r.n_shared for r in out}
    # (3,4) shared by customers 1,2,3 — hub capped to top-2 still keeps it
    assert pairs == {(3, 4): 3}


def test_bipartite_projection_uncapped_pairs(spark):
    from puffbird_spark.operators.graph import bipartite_projection

    edges = spark.createDataFrame(
        [(1, i, 1.0) for i in range(1, 5)], ["cust", "item", "w"]
    )
    out = bipartite_projection(
        edges, "cust", "item", weight_col="w",
        cap_per_left=10, min_support=1,
    )
    assert out.count() == 6  # C(4,2)


def test_cosine_radius_matches_brute_filter(spark, force_kernel):
    from puffbird_spark.operators.similarity import (
        cosine_radius, cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    force_kernel("cosine_radius", False)
    force_kernel("cosine_topk", False)
    radius = cosine_radius(emb, q, tau=0.2, est_queries=3)
    # top-k with huge k = the full scored pair set; filter >= tau
    full = cosine_topk(
        emb, q, k=10**6, est_queries=3
    ).filter(F.col("cosine") >= 0.2)
    a = {(r.query_id, r.cand_id, r.cosine) for r in radius.collect()}
    b = {(r.query_id, r.cand_id, r.cosine) for r in full.collect()}
    assert a == b and len(a) > 0
    assert all(c >= 0.2 for (_, _, c) in a)
    assert all(qi != ci for (qi, ci, _) in a)


def test_sax_symbolize_known_series(spark):
    from puffbird_spark.operators.timeseries import sax_symbolize

    rows = (
        # step series: z = [-1,-1,1,1] -> 'aadd'
        [("step", i, [0.0, 0.0, 10.0, 10.0][i]) for i in range(4)]
        # constant series: std=0 -> z=0 -> all 'c'
        + [("flat", i, 7.0) for i in range(4)]
    )
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    out = {
        r.k: (r.n_points, r.sax)
        for r in sax_symbolize(df, ["k"], ["t"], "v").collect()
    }
    assert out["step"] == (4, "aadd")
    assert out["flat"] == (4, "cccc")


def test_sax_symbolize_ragged_segments(spark):
    from puffbird_spark.operators.timeseries import sax_symbolize

    df = spark.createDataFrame(
        [("k", i, float(i)) for i in range(5)], ["k", "t", "v"]
    )
    out = sax_symbolize(df, ["k"], ["t"], "v").collect()[0]
    assert out.n_points == 5 and len(out.sax) == 4
    # monotone ramp -> non-decreasing symbols
    assert list(out.sax) == sorted(out.sax)


# --- round-8 batch C: URL canon / PIP / PR curve / WHT ---

def test_canonical_url_rules(spark):
    from puffbird_spark.functions.text import canonical_url

    cases = [
        ("HTTPS://WWW.Ex.COM:443/A/?utm_source=x", "https://ex.com/A"),
        ("http://ex.com:80/a?fbclid=1&keep=2#f", "http://ex.com/a?keep=2"),
        ("https://ex.com/a/b///", "https://ex.com/a/b"),
        ("https://ex.com/?utm_a=1&utm_b=2", "https://ex.com"),
        ("https://ex.com:8080/x", "https://ex.com:8080/x"),  # real port kept
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["u"])
    got = [r.c for r in df.select(canonical_url("u").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_point_in_polygon_square_and_concave(spark):
    from puffbird_spark.operators.geo import point_in_polygon

    square = [(0.0, 0.001), (10.0, 0.002), (10.0, 10.001), (0.0, 10.002)]
    pts = [(1, 5.0, 5.0, True), (2, 15.0, 5.0, False),
           (3, -1.0, 5.0, False), (4, 5.0, 11.0, False)]
    df = spark.createDataFrame(pts, ["id", "x", "y", "want"])
    rows = df.select(
        "id", "want", point_in_polygon("x", "y", square).alias("got")
    ).collect()
    assert all(r.got == r.want for r in rows)
    # concave L: the notch point is OUTSIDE
    ell = [(0.0, 0.001), (10.0, 0.002), (10.0, 4.001),
           (4.0, 4.002), (4.0, 10.001), (0.0, 10.002)]
    df2 = spark.createDataFrame(
        [(1, 7.0, 7.0, False), (2, 2.0, 7.0, True), (3, 7.0, 2.0, True)],
        ["id", "x", "y", "want"],
    )
    rows2 = df2.select(
        "id", "want", point_in_polygon("x", "y", ell).alias("got")
    ).collect()
    assert all(r.got == r.want for r in rows2)


def test_point_in_polygon_validates(spark):
    import pytest as _pytest

    from puffbird_spark.operators.geo import point_in_polygon

    with _pytest.raises(ValueError):
        point_in_polygon(F.lit(0.0), F.lit(0.0), [(0, 0), (1, 1)])


def test_pr_curve_hand_counts(spark):
    from puffbird_spark.operators.evaluation import pr_curve

    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 0), (0.6, 1), (0.2, 1), (0.1, 0)], ["p", "y"]
    )
    rows = {r.threshold: r for r in pr_curve(df, "p", "y").collect()}
    r5 = rows[0.5]
    assert (r5.tp, r5.fp, r5.fn) == (2, 1, 1)
    assert r5.precision == round(2 / 3, 6)
    assert r5.recall == round(2 / 3, 6)
    # above every score: no predictions -> precision NULL, recall 0
    hi = rows[0.9]  # 0.9 >= 0.9 still predicts the top row
    assert hi.tp == 1 and hi.fp == 0
    df0 = spark.createDataFrame([(0.05, 1)], ["p", "y"])
    r = {x.threshold: x for x in pr_curve(df0, "p", "y").collect()}[0.5]
    assert r.precision is None and r.recall == 0.0


def test_pr_curve_single_scan_plan(spark):
    from puffbird_spark.operators.evaluation import pr_curve

    df = spark.range(100).select(
        (F.col("id") / 100).alias("p"), (F.col("id") % 2).alias("y")
    )
    plan = pr_curve(df, "p", "y")._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Range (0, 100") == 1  # one scan, not one per threshold


def test_audio_wht_parity_with_numpy(spark):
    import numpy as np

    from puffbird_spark.operators.multimodal import (
        WHT_BINS, audio_wht, decode_wav_pcm, encode_wav,
    )

    blob = encode_wav(100, 8000, seed=5)
    df = spark.createDataFrame([("a", bytearray(blob))], ["path", "content"])
    rows = sorted(
        audio_wht(df, window=64).collect(), key=lambda r: r.window_idx
    )
    _, _, _, frames = decode_wav_pcm(blob)
    mono = [f[0] for f in frames]
    assert [r.n_in_window for r in rows] == [64, 36]
    for r in rows:
        seg = np.zeros(64, dtype=np.int64)
        vals = mono[r.window_idx * 64:(r.window_idx + 1) * 64]
        seg[:len(vals)] = vals
        for i, k in enumerate(WHT_BINS):
            signs = np.array(
                [-1 if bin(n & k).count("1") % 2 else 1 for n in range(64)],
                dtype=np.int64,
            )
            assert getattr(r, f"c{i}") == int((signs * seg).sum())
    # DC coefficient is the plain window sum
    assert rows[0].c0 == sum(mono[:64])


def test_audio_wht_rejects_bad_window(spark):
    import pytest as _pytest

    from puffbird_spark.operators.multimodal import audio_wht

    df = spark.createDataFrame([("a", bytearray(b"x"))], ["path", "content"])
    with _pytest.raises(ValueError):
        audio_wht(df, window=48)


def test_phash_pixels_near_dup_robust_and_sensitive():
    from puffbird_spark.operators.multimodal import phash_pixels

    w, h = 16, 8
    base = bytearray((x * 31 + y * 17 + 3) % 256
                     for y in range(h) for x in range(w))
    # in-block wash: +1/-1 inside the same 2x1 block -> identical hash
    tweaked = bytearray(base)
    tweaked[0] = (tweaked[0] + 1) % 256
    tweaked[1] = (tweaked[1] - 1) % 256
    assert phash_pixels(w, h, bytes(base)) == phash_pixels(
        w, h, bytes(tweaked))
    # a genuinely different picture -> different hash
    other = bytearray((x * 7 + y * 53 + 90) % 256
                      for y in range(h) for x in range(w))
    assert phash_pixels(w, h, bytes(base)) != phash_pixels(
        w, h, bytes(other))
    # jpeg-ish noise: +-1 on every pixel flips few of the 63 bits
    noisy = bytearray((v + (1 if i % 2 else -1)) % 256
                      for i, v in enumerate(base))
    a, b = phash_pixels(w, h, bytes(base)), phash_pixels(w, h, bytes(noisy))
    assert bin(a ^ b).count("1") <= 8


def test_phash_cross_codec_identical():
    from puffbird_spark.operators.multimodal import (
        decode_image_gray, encode_bmp_gray, encode_gif, encode_png,
        phash_pixels,
    )

    hashes = set()
    for enc in (encode_png, encode_gif, encode_bmp_gray):
        w, h, pix = decode_image_gray(enc(15, 11, seed=9))
        hashes.add(phash_pixels(w, h, pix))
    assert len(hashes) == 1


def test_image_phash_rejects_bad_grid(spark):
    import pytest as _pytest

    from puffbird_spark.operators.multimodal import image_phash

    df = spark.createDataFrame([("a", bytearray(b"x"))], ["path", "content"])
    with _pytest.raises(ValueError):
        image_phash(df, grid=6)


# --- round-8 batch E: zipf / weighted percentiles / BQ kNN ---

def test_zipf_fit_perfect_powerlaw(spark):
    import math

    from puffbird_spark.operators.lm import zipf_fit

    # corpus where token t_r appears round(1000 / r) times: slope ~ -1
    words = []
    for r in range(1, 21):
        words += [f"tok{r:02d}"] * round(1000 / r)
    df = spark.createDataFrame([(" ".join(words),)], ["text"])
    row = zipf_fit(df, "text", top_n=20).collect()[0]
    assert row.n_ranks == 20
    assert abs(row.slope - (-1.0)) < 0.05
    assert row.r2 > 0.999
    assert abs(row.intercept - math.log(1000)) < 0.05


def test_weighted_percentiles_hand_case(spark):
    from puffbird_spark.operators.robust import weighted_percentiles

    # values 1..4 with weights 1,1,6,2 (W=10): cum = 1,2,8,10
    df = spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (3.0, 6), (4.0, 2)], ["v", "w"]
    )
    out = {r.p: r.value for r in weighted_percentiles(
        df, "v", "w", ps=[0.1, 0.2, 0.5, 0.8, 1.0]).collect()}
    assert out[0.1] == 1.0      # cumw 1 >= 1
    assert out[0.2] == 2.0      # cumw 2 >= 2
    assert out[0.5] == 3.0
    assert out[0.8] == 3.0      # cumw 8 >= 8
    assert out[1.0] == 4.0


def test_weighted_percentiles_row_multiplicity_equivalence(spark):
    from puffbird_spark.operators.robust import weighted_percentiles

    # weighted result == unweighted over the row-expanded frame
    pairs = [(10.0, 3), (20.0, 1), (30.0, 2)]
    wdf = spark.createDataFrame(pairs, ["v", "w"])
    edf = spark.createDataFrame(
        [(v, 1) for v, w in pairs for _ in range(w)], ["v", "w"]
    )
    a = {r.p: r.value for r in weighted_percentiles(wdf, "v", "w").collect()}
    b = {r.p: r.value for r in weighted_percentiles(edf, "v", "w").collect()}
    assert a == b


def test_bq_topk_exact_at_full_prefilter(spark, force_kernel):
    from puffbird_spark.operators.similarity import bq_topk, cosine_topk

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(60)
    q = emb.filter(F.col("vec_id") < 3)
    # prefilter wide enough to keep every candidate -> exact equality
    bq = bq_topk(emb, q, dim=64, k=5, planes=32, prefilter=1000)
    force_kernel("cosine_topk", False)
    ex = cosine_topk(emb, q, k=5, est_queries=3)
    assert sorted(map(tuple, bq.collect())) == sorted(map(tuple, ex.collect()))


def test_video_scene_cuts_crisp_schedule(spark):
    from puffbird_spark.operators.multimodal import (
        encode_y4m, video_scene_cuts,
    )

    # cancel the +29/frame drift entirely: static scenes, one jump
    seeds = [-29 * f + (128 if f >= 2 else 0) for f in range(4)]
    blob = encode_y4m(8, 8, n_frames=4, seed=7, scene_seeds=seeds)
    df = spark.createDataFrame([("v", bytearray(blob))], ["path", "content"])
    rows = sorted(
        video_scene_cuts(df, threshold=64.0).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in rows] == [1, 2, 3]
    assert [r.mad for r in rows] == [0.0, 128.0, 0.0]
    assert [r.is_cut for r in rows] == [False, True, False]
    assert [r.scene_id for r in rows] == [0, 1, 1]


def test_video_scene_cuts_gif_dispatch(spark):
    from puffbird_spark.operators.multimodal import (
        encode_gif_animated, video_scene_cuts,
    )

    blob = encode_gif_animated(8, 6, n_frames=3, seed=3)
    df = spark.createDataFrame([("g", bytearray(blob))], ["path", "content"])
    rows = video_scene_cuts(df, threshold=300.0).collect()
    assert len(rows) == 2  # 3 frames -> 2 pairs, none above threshold
    assert all(not r.is_cut and r.scene_id == 0 for r in rows)


def test_random_walks_deterministic_and_valid_edges(spark):
    from puffbird_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (3, 2), (4, 1)], ["s", "d"]
    )
    starts = spark.createDataFrame([(1,), (4,), (9,)], ["n"])
    a = random_walks(edges, "s", "d", starts, "n", n_steps=3).collect()
    b = random_walks(
        edges.repartition(5), "s", "d", starts, "n", n_steps=3
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    rows = {r.walk_id: r for r in a}
    eset = {(1, 2), (1, 3), (2, 3), (3, 1), (3, 2), (4, 1)}
    for wid in (1, 4):
        r = rows[wid]
        path = [wid, r.hop1, r.hop2, r.hop3]
        for u, v in zip(path, path[1:]):
            assert (u, v) in eset  # every hop follows a real edge
    # isolated start: all hops NULL (dead end at step 1)
    assert rows[9].hop1 is None and rows[9].hop3 is None


def test_random_walks_salt_changes_draws(spark):
    from puffbird_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [(i, j) for i in range(6) for j in range(6) if i != j], ["s", "d"]
    )
    starts = spark.createDataFrame([(i,) for i in range(6)], ["n"])
    a = random_walks(edges, "s", "d", starts, "n", n_steps=3, salt="a")
    b = random_walks(edges, "s", "d", starts, "n", n_steps=3, salt="b")
    assert sorted(map(tuple, a.collect())) != sorted(map(tuple, b.collect()))


def test_bq_signature_kernels_bit_identical(spark, force_kernel):
    from puffbird_spark.operators.similarity import bq_topk

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(200)
    q = emb.filter(F.col("vec_id") < 3)
    force_kernel("bq_signature", False)
    hof = sorted(map(tuple, bq_topk(
        emb, q, dim=64, k=5, planes=96, prefilter=4).collect()))
    force_kernel("bq_signature", True)
    arrow = sorted(map(tuple, bq_topk(
        emb, q, dim=64, k=5, planes=96, prefilter=4).collect()))
    # the cumsum sign replay makes the kernels bit-identical — the
    # kernel choice must be invisible to results
    assert hof == arrow and len(hof) == 15


def test_phash_hamming_pairs_banding(spark):
    from puffbird_spark.operators.multimodal import phash_hamming_pairs

    rows = [
        ("a", 0b1111),            # near b (distance 1)
        ("b", 0b0111),
        ("c", (1 << 50) | 0b0111),  # shares bands 0..2 with b, d=1+... 
        ("d", 0x7FFFFFFFFFFFFFF),   # far from everything
    ]
    df = spark.createDataFrame(rows, ["path", "phash"])
    out = {(r.id_a, r.id_b): r.hamming for r in phash_hamming_pairs(
        df, max_distance=3, band_bits=16).collect()}
    assert out[("a", "b")] == 1
    assert out[("b", "c")] == 1
    assert out[("a", "c")] == 2
    assert not any("d" in p for p in out)


def test_phash_hamming_pairs_requires_shared_band(spark):
    from puffbird_spark.operators.multimodal import phash_hamming_pairs

    # distance 4 spread across all 4 bands: no shared band -> unseen
    # even though max_distance would admit it (the recall contract)
    a = 0
    b = (1 << 0) | (1 << 16) | (1 << 32) | (1 << 48)
    df = spark.createDataFrame([("a", a), ("b", b)], ["path", "phash"])
    assert phash_hamming_pairs(df, max_distance=10).count() == 0


def test_audio_activity_segments_runs(spark):
    from puffbird_spark.operators.multimodal import (
        audio_activity_segments, encode_wav,
    )

    blob = encode_wav(200, 8000, seed=11)
    df = spark.createDataFrame([("a", bytearray(blob))], ["path", "content"])
    # threshold 0: every window active -> exactly one segment
    one = audio_activity_segments(df, rms_threshold=0.0, window=50).collect()
    assert len(one) == 1
    r = one[0]
    assert (r.segment_id, r.n_windows, r.start_frame, r.end_frame) == (
        0, 4, 0, 200)
    # impossible threshold: no segments
    none = audio_activity_segments(
        df, rms_threshold=1e9, window=50).collect()
    assert none == []


def test_image_patches_tiling(spark):
    import hashlib

    from puffbird_spark.operators.multimodal import (
        encode_bmp_gray, image_patches,
    )

    # 9x8 image, patch 4: 2x2 grid, right column (x=8) drops
    blob = encode_bmp_gray(9, 8, seed=5)
    df = spark.createDataFrame([("i", bytearray(blob))], ["path", "content"])
    rows = {(r.patch_row, r.patch_col): r
            for r in image_patches(df, patch=4).collect()}
    assert set(rows) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    vals = [(x * 31 + y * 17 + 5) % 256
            for y in range(4) for x in range(4)]
    want = hashlib.md5(",".join(map(str, vals)).encode()).hexdigest()
    assert rows[(0, 0)].patch_digest == want
    assert rows[(0, 0)].width == 9 and rows[(0, 0)].height == 8


def test_ewma_time_decay_limits(spark):
    import datetime

    from puffbird_spark.operators.timeseries import ewma_time_decay

    base = datetime.datetime(2024, 1, 1)
    rows = [
        # huge halflife -> plain running mean; tiny -> last value
        ("k", base, 1, 10.0),
        ("k", base + datetime.timedelta(hours=1), 2, 20.0),
        ("k", base + datetime.timedelta(hours=2), 3, 60.0),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "i", "v"])
    flat = {r.i: r.ewma for r in ewma_time_decay(
        df, ["k"], "ts", "v", halflife_s=1e12,
        tiebreak_cols=["i"]).collect()}
    assert flat[3] == 30.0  # running mean of 10,20,60
    sharp = {r.i: r.ewma for r in ewma_time_decay(
        df, ["k"], "ts", "v", halflife_s=1.0,
        tiebreak_cols=["i"]).collect()}
    assert sharp[3] == 60.0  # one-second halflife: only the last counts
    # rows beyond the decay horizon (>40 halflives before the key's
    # last event) read an explicit NULL, never a silently wrong value
    assert sharp[1] is None and sharp[2] is None
    assert flat[1] == 10.0


def test_augment_images_involution_and_dims(spark):
    from puffbird_spark.operators.multimodal import (
        augment_images, encode_bmp_gray,
    )

    blob = encode_bmp_gray(10, 8, seed=3)
    df = spark.createDataFrame([("i", bytearray(blob))], ["path", "content"])
    rows = {r.aug: r for r in augment_images(df).collect()}
    assert (rows["flip_h"].width, rows["flip_h"].height) == (10, 8)
    assert (rows["rot90"].width, rows["rot90"].height) == (8, 10)
    assert (rows["center_crop"].width, rows["center_crop"].height) == (5, 4)
    # a symmetric image is its own flip: p(x,y)=x+y symmetric? no —
    # instead pin involution structurally: flipping twice in numpy
    # equals identity, so flip digest != original unless symmetric
    import hashlib

    from puffbird_spark.operators.multimodal import decode_image_gray
    w, h, pix = decode_image_gray(blob)
    orig = hashlib.md5(",".join(map(str, pix)).encode()).hexdigest()
    assert rows["flip_h"].aug_digest != orig
    import pytest as _pytest

    with _pytest.raises(ValueError):
        augment_images(df, augs=("flip_h", "mixup"))


def test_prefix_filter_auto_picks_dense_on_low_diversity(spark):
    """The kernel policy must route a low-diversity corpus (tiny distinct
    gram space, huge per-gram df — the regime where the candidate join
    degenerates, round-9 sf1 OOM) to the dense blocked kernel, and the
    result must still equal the all-pairs kernel."""
    import random

    from puffbird_spark.operators import dedup as DD

    rng = random.Random(11)
    # 3-char alphabet => tiny char-2-gram space; 150 docs of 30 chars
    # => avg df far above ARROW_MIN_WORK["prefix_filter"]
    rows = [(i, "".join(rng.choice("abc") for _ in range(30)))
            for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    calls = []
    orig = DD._dense_jaccard_pairs

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    DD._dense_jaccard_pairs = spy
    try:
        auto = sorted(map(tuple, DD.prefix_filter_jaccard_pairs(
            df, "text", "doc_id", threshold=0.5, n=2, kind="char").collect()))
    finally:
        DD._dense_jaccard_pairs = orig
    assert calls, "auto did not select the dense path on a dense corpus"
    ap = sorted(map(tuple, DD.jaccard_pairs(
        df, "text", "doc_id", threshold=0.5, n=2, kind="char").collect()))
    assert auto == ap


def test_jaccard_strategies_randomized_differential(spark, force_kernel):
    """Randomized sweep across the regime boundary (round-9 dense path):
    corpora with alphabet sizes from tiny (dense regime) to wide
    (sparse regime), each checked three ways — all-pairs kernel vs the
    forced sparse path vs the forced dense path — so a boundary bug in
    the prefix length filter, the f32 candidate slack, or the block
    pairing shows as a set difference, not a flake."""
    import random

    from puffbird_spark.operators import dedup as DD

    for seed, alpha, n_docs, doc_len, t in [
        (21, "ab", 60, 24, 0.5),        # ultra-dense: 4 distinct 2-grams
        (22, "abcdef", 80, 30, 0.4),    # dense-ish
        (23, "abcdefghijklmnop", 70, 40, 0.35),  # boundary
    ]:
        rng = random.Random(seed)
        rows = [(i, "".join(rng.choice(alpha) for _ in range(doc_len)))
                for i in range(n_docs)]
        # planted near-duplicates so every regime has above-threshold
        # pairs (wide alphabets rarely produce them at random)
        rows += [(1000 + i, rows[i][1] + rng.choice(alpha) * 3)
                 for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        ap = sorted(map(tuple, DD.jaccard_pairs(
            df, "text", "doc_id", threshold=t, n=2, kind="char").collect()))
        force_kernel("prefix_filter", False)
        sp = sorted(map(tuple, DD.prefix_filter_jaccard_pairs(
            df, "text", "doc_id", threshold=t, n=2, kind="char").collect()))
        force_kernel("prefix_filter", True)
        dn = sorted(map(tuple, DD.prefix_filter_jaccard_pairs(
            df, "text", "doc_id", threshold=t, n=2, kind="char").collect()))
        assert ap == sp, (seed, "sparse")
        assert ap == dn, (seed, "dense")
        assert len(ap) > 0, seed  # the sweep must be testing something


def test_equi_depth_matches_ntile_exactly(spark):
    """The two-phase rank bucket formula floor((rank-1)k/n) must replay
    Spark's ntile() bit-for-bit, including the uneven tail (first
    n mod k buckets get the extra row) — over sizes around the split
    boundaries and with duplicate values broken by the tiebreak."""
    import random

    from pyspark.sql.window import Window as W

    from puffbird_spark.operators.profile import equi_depth_histogram

    rng = random.Random(7)
    # (6, 4), (11, 4), (1500, 8): n mod k >= 2 — the regime where the
    # old floor((rank-1)k/n) rule silently diverged from ntile (it
    # spreads the extra rows evenly; ntile front-loads them), caught by
    # the r11 full sf0.001 sweep
    for n_rows, k in [(10, 3), (5, 3), (2, 3), (97, 8), (64, 8),
                      (6, 4), (11, 4), (1500, 8)]:
        rows = [(i, float(rng.randint(0, 9))) for i in range(n_rows)]
        df = spark.createDataFrame(rows, "id long, v double")
        got = {r.bucket: (r.lo_val, r.hi_val, r.n_rows)
               for r in equi_depth_histogram(df, "v", "id", k).collect()}
        import pyspark.sql.functions as F2
        ref = {r.bucket: (r.lo, r.hi, r.n) for r in
               df.withColumn("bucket", F2.ntile(k).over(
                   W.orderBy("v", "id")) - 1)
               .groupBy("bucket")
               .agg(F2.round(F2.min("v"), 6).alias("lo"),
                    F2.round(F2.max("v"), 6).alias("hi"),
                    F2.count(F2.lit(1)).cast("long").alias("n"))
               .collect()}
        assert got == ref, (n_rows, k)


def test_dense_jaccard_block_ceiling_raises(spark, force_kernel):
    """Past DENSE_MAX_BLOCKS the dense path must refuse with guidance
    (MinHash) instead of grinding into the quadratic fan-out."""
    import pytest as _pytest

    from puffbird_spark.operators import dedup as DD

    rows = [(i, "abab" * 4) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    orig_block, orig_max = DD.DENSE_BLOCK_DOCS, DD.DENSE_MAX_BLOCKS
    DD.DENSE_BLOCK_DOCS, DD.DENSE_MAX_BLOCKS = 4, 5
    force_kernel("prefix_filter", True)
    try:
        with _pytest.raises(ValueError, match="minhash"):
            DD.prefix_filter_jaccard_pairs(
                df, "text", "doc_id", threshold=0.5, n=2,
                kind="char").collect()
    finally:
        DD.DENSE_BLOCK_DOCS, DD.DENSE_MAX_BLOCKS = orig_block, orig_max


def test_count_profile_topk_matches_join_formulation(spark):
    """The blocked-matmul profile similarity (round-9 881s->28s sf1 fix)
    must equal the inverted-index join formulation exactly — including
    NULL-type norm-only semantics, 6-dp tie-breaks, and multi-block
    pairing (tiny block size forces it)."""
    import random

    import pyspark.sql.functions as F2
    from pyspark.sql.window import Window as W

    from puffbird_spark.operators.similarity import count_profile_topk_pairs

    rng = random.Random(13)
    rows = []
    for uid in range(40):
        for _ in range(rng.randint(1, 20)):
            ty = rng.choice(["a", "b", "c", "d", None])
            rows.append((uid, ty))
    # adversarial profiles for the zero-cosine seam: the join
    # formulation emits NO row for pairs sharing no non-null type, so
    # an all-NULL profile (positive norm, joins nothing) and a
    # unique-type profile (only it has "z") must appear in ZERO pairs
    # — a kernel that lets dots==0 pairs into top-k fabricates
    # cosine=0.0 partners for them
    rows += [(100, None)] * 5
    rows += [(101, "z")] * 3
    df = spark.createDataFrame(rows, "user_id long, event_type string")

    # reference: the join formulation (the gate's old plan)
    c = df.groupBy("user_id", "event_type").agg(
        F2.count(F2.lit(1)).cast("long").alias("n"))
    a = c.select(F2.col("user_id").alias("ua"), "event_type",
                 F2.col("n").alias("na"))
    b = c.select(F2.col("user_id").alias("ub"), "event_type",
                 F2.col("n").alias("nb"))
    p = (a.join(b, "event_type")
         .filter(F2.col("ua") < F2.col("ub"))
         .groupBy("ua", "ub")
         .agg(F2.sum(F2.col("na") * F2.col("nb")).alias("dot")))
    nrm = c.groupBy("user_id").agg(
        F2.sqrt(F2.sum(F2.col("n") * F2.col("n")).cast("double"))
        .alias("nn"))
    sc = (p.join(nrm.withColumnRenamed("user_id", "ua")
                 .withColumnRenamed("nn", "nna"), "ua")
          .join(nrm.withColumnRenamed("user_id", "ub")
                .withColumnRenamed("nn", "nnb"), "ub")
          .select("ua", "ub", F2.round(
              F2.col("dot").cast("double")
              / (F2.col("nna") * F2.col("nnb")), 6).alias("cos")))
    w = W.partitionBy("ua").orderBy(F2.desc("cos"), F2.asc("ub"))
    ref = sorted(map(tuple, sc.withColumn("rn", F2.row_number().over(w))
                     .filter(F2.col("rn") <= 3).drop("rn").collect()))

    got = sorted(map(tuple, count_profile_topk_pairs(
        df, "user_id", "event_type", k=3, block_rows=8).collect()))
    assert got == ref

    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_types"):
        count_profile_topk_pairs(
            df, "user_id", "event_type", k=3, max_types=2)


def test_profile_topk_sparse_equals_dense(spark):
    """The inverted-index (wide-vocabulary) twin must equal the blocked
    matmul pair-for-pair on a corpus where both regimes run — including
    NULL-type norm-only mass, all-NULL profiles, unique-type profiles,
    and the (-cos, id) tie-break at 6 dp."""
    import random

    from puffbird_spark.operators.similarity import (
        count_profile_topk_pairs, profile_topk_pairs_sparse)

    rng = random.Random(29)
    types = [f"t{i:02d}" for i in range(30)] + [None]
    rows = []
    for uid in range(60):
        for _ in range(rng.randint(1, 25)):
            rows.append((uid, rng.choice(types)))
    rows += [(200, None)] * 4          # all-NULL profile: zero pairs
    rows += [(201, "only_mine")] * 3   # unique type: zero pairs
    df = spark.createDataFrame(rows, "user_id long, event_type string")

    dense = sorted(map(tuple, count_profile_topk_pairs(
        df, "user_id", "event_type", k=4, block_rows=16).collect()))
    sparse = sorted(map(tuple, profile_topk_pairs_sparse(
        df, "user_id", "event_type", k=4).collect()))
    assert sparse == dense
    assert not any(r[0] in (200, 201) or r[1] in (200, 201) for r in sparse)


def test_profile_topk_sparse_max_df_is_norm_only(spark):
    """With ``max_df`` set, a hot type must leave dot products but KEEP
    its norm mass (the NULL-type convention) — equivalent to remapping
    the hot type to a per-user unique sentinel and running the exact
    op, which is the semantics a stopword-type deserves."""
    import random

    import pyspark.sql.functions as F2

    from puffbird_spark.operators.similarity import (
        profile_topk_pairs_sparse)

    rng = random.Random(31)
    rows = []
    for uid in range(25):
        rows.append((uid, "everyone_has_this"))  # df=25, capped at 10
        for _ in range(rng.randint(1, 6)):
            rows.append((uid, rng.choice([f"t{i}" for i in range(12)])))
    df = spark.createDataFrame(rows, "user_id long, event_type string")

    got = sorted(map(tuple, profile_topk_pairs_sparse(
        df, "user_id", "event_type", k=3, max_df=10).collect()))
    # reference: hot type remapped per-user unique => joins nothing,
    # still counts in the norm
    remapped = df.withColumn(
        "event_type",
        F2.when(F2.col("event_type") == "everyone_has_this",
                F2.concat(F2.lit("__u"), F2.col("user_id")))
        .otherwise(F2.col("event_type")))
    ref = sorted(map(tuple, profile_topk_pairs_sparse(
        remapped, "user_id", "event_type", k=3).collect()))
    assert got == ref
    # and the cap genuinely changes the answer vs the uncapped exact op
    exact = sorted(map(tuple, profile_topk_pairs_sparse(
        df, "user_id", "event_type", k=3).collect()))
    assert got != exact


def test_zero_vector_cosine_is_zero_not_nan(spark, force_kernel):
    """Zero-norm embeddings (empty docs, padding) release cosine 0.0 on
    EVERY kernel — never NaN: Spark orders and compares NaN as GREATEST
    (non-IEEE), so an unguarded 0/0 makes a zero vector pass
    ``cosine >= t`` filters and win every desc top-k, while the numpy
    kernels' IEEE NaN does the opposite — the two kernels of one
    operator would disagree. Pin the 0.0 convention and HOF==Arrow
    equality on a corpus containing zero vectors."""
    import math
    import random

    import pyspark.sql.functions as F2

    from puffbird_spark.functions.vectors import cosine_rounded
    from puffbird_spark.operators.similarity import (
        cosine_pairs_exact, cosine_topk)

    rng = random.Random(41)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
    rows += [(100, [0.0] * 8), (101, [0.0] * 8)]  # zero vectors
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    r = df.select(cosine_rounded(
        F2.col("embedding"), F2.array(*[F2.lit(0.0)] * 8)).alias("c")
    ).collect()
    assert all(x["c"] == 0.0 for x in r)

    for fn, args, kw in ((cosine_topk, (df, df), {"k": 3}),
                         (cosine_pairs_exact, (df,), {"threshold": 0.3})):
        force_kernel(fn.__name__, False)
        hof = fn(*args, **kw).collect()
        force_kernel(fn.__name__, True)
        arw = fn(*args, **kw).collect()
        assert sorted(map(tuple, hof)) == sorted(map(tuple, arw)), fn
        assert not any(
            v is None or (isinstance(v, float) and math.isnan(v))
            for row in hof for v in row), fn


def test_cosine_pairs_exact_hof_equals_arrow(spark, force_kernel):
    """The blocked matrix kernel of cosine_pairs_exact must equal the
    JVM HOF theta-join path pair-for-pair at 6 dp — forced both ways,
    with a tiny block size so multi-block pairing is exercised."""
    import random

    from puffbird_spark.operators.similarity import cosine_pairs_exact

    rng = random.Random(17)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    # a few near-duplicates so the frontier is non-trivial
    rows += [(100 + i, [v * 1.01 for v in rows[i][1]]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    force_kernel("cosine_pairs_exact", False)
    hof = sorted(map(tuple, cosine_pairs_exact(
        df, "vec_id", "embedding", threshold=0.2, dim=8).collect()))
    force_kernel("cosine_pairs_exact", True)
    arrow = sorted(map(tuple, cosine_pairs_exact(
        df, "vec_id", "embedding", threshold=0.2, dim=8,
        block_rows=16).collect()))
    assert hof == arrow
    assert len(hof) >= 5  # the planted near-dups must appear


def test_prefix_filter_boundary_pair_survives_release_slack(spark):
    """ADVICE r10 (medium): the 6-dp release filter admits pairs whose
    EXACT jaccard is as low as t - 5e-7, but the prefix length still
    used the UNSLACKED threshold — at ~1e6-gram documents
    ceil((t-5e-7)*sz) can be one less than ceil(t*sz), leaving the
    prefix one gram too short and silently pruning the boundary pair
    before the length filter ever sees it.

    Constructed instance (verified arithmetically): t=0.85,
    |A|=2,000,000, B⊂A with |B|=1,699,999 → exact J = 0.8499995,
    which 6-dp HALF_UP rounds to 0.850000 >= t (released). Shared
    grams have df=2 so the (df, dg) ordering sorts ALL 300,001
    A-unique grams first; the unslacked prefix is exactly 300,001
    grams — all unique — and the pair vanishes. The slacked prefix
    (300,002) reaches the first shared gram."""
    import pyspark.sql.functions as F2

    from puffbird_spark.operators.dedup import _sparse_jaccard_pairs

    shared = spark.range(1_699_999).select(
        F2.format_string("s%09d", F2.col("id")).alias("dg"))
    uniq = spark.range(300_001).select(
        F2.format_string("x%09d", F2.col("id")).alias("dg"))
    a = shared.unionByName(uniq).select(F2.lit(0).alias("id"), "dg")
    b = shared.select(F2.lit(1).alias("id"), "dg")
    grams = a.unionByName(b).localCheckpoint(eager=True)
    gdf = grams.groupBy("dg").agg(F2.count(F2.lit(1)).alias("__df"))

    got = _sparse_jaccard_pairs(grams, gdf, 0.85).collect()
    assert len(got) == 1
    row = got[0]
    assert (row["id_a"], row["id_b"]) == (0, 1)
    assert row["jaccard"] == 0.85


def test_ppjoin_positional_filter_differential(spark, force_kernel):
    """r13 (VERDICT #9 / r11 #8): the PPJoin positional filter prunes
    candidates whose first-shared-prefix-token positions cap the
    overlap below ⌈t/(1+t)·(|x|+|y|)⌉ — recall must stay EXACTLY 1.
    Stress fixtures: heavy-overlap families whose shared grams sort
    LATE in the prefix (rare unique grams sort first, pushing shared
    positions right — the regime where pos_ok actually fires), plus
    near-threshold pairs at several t. Differential against the
    all-pairs kernel, both word and char gram spaces."""
    import random

    from puffbird_spark.operators.dedup import (
        jaccard_pairs, prefix_filter_jaccard_pairs)

    force_kernel("prefix_filter", False)
    rng = random.Random(13)
    vocab = [f"tok{i}" for i in range(60)]
    rows = []
    # families of documents sharing a sizable core with per-doc rare
    # tails (rare grams head the (df, dg) order, so shared grams land
    # deep in each prefix — positional bounds then bite)
    for fam in range(6):
        core = rng.sample(vocab, 14)
        for m in range(5):
            tail = [f"rare{fam}_{m}_{j}" for j in range(rng.randint(2, 9))]
            words = core[:rng.randint(7, 14)] + tail
            rng.shuffle(words)
            rows.append((fam * 10 + m, " ".join(words)))
    # near-identical pairs so the high thresholds also return rows
    # (same 14-token core, one- or two-token rare tails)
    for fam in range(6, 9):
        core = rng.sample(vocab, 14)
        for m in range(2):
            words = core + [f"nrare{fam}_{m}"]
            rng.shuffle(words)
            rows.append((fam * 10 + m, " ".join(words)))
    # plus unrelated noise docs
    for i in range(20):
        rows.append((1000 + i,
                     " ".join(rng.choice(vocab)
                              for _ in range(rng.randint(3, 18)))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.35, 0.6, 0.8):
        ap = sorted(map(tuple, jaccard_pairs(
            df, "text", "doc_id", threshold=t, n=1, kind="word").collect()))
        pf = sorted(map(tuple, prefix_filter_jaccard_pairs(
            df, "text", "doc_id", threshold=t, n=1,
            kind="word").collect()))
        assert ap == pf, t
        assert len(ap) > 0
    apc = sorted(map(tuple, jaccard_pairs(
        df, "text", "doc_id", threshold=0.5, n=3, kind="char").collect()))
    pfc = sorted(map(tuple, prefix_filter_jaccard_pairs(
        df, "text", "doc_id", threshold=0.5, n=3, kind="char").collect()))
    assert apc == pfc


def test_cosine_null_embedding_stays_null(spark):
    """ADVICE r10: the zero-norm guard's otherwise(0.0) swallowed NULL —
    a NULL embedding (or a zip_with length-mismatch NULL fold) made the
    when-predicate NULL and released 0.0, silently ranking
    NULL-embedding rows above negative cosines in desc top-k and
    diverging from the oracle's NULL-in/NULL-out arithmetic. NULL must
    stay NULL; zero-norm (non-NULL) still releases 0.0."""
    import pyspark.sql.functions as F2

    from puffbird_spark.functions.vectors import cosine, cosine_rounded

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None), (2, [0.0, 0.0])],
        "id int, e array<double>")
    ref = F2.array(F2.lit(1.0), F2.lit(0.0))
    got = {r["id"]: (r["c"], r["cr"]) for r in df.select(
        "id",
        cosine(F2.col("e"), ref).alias("c"),
        cosine_rounded(F2.col("e"), ref).alias("cr")).collect()}
    assert got[1] == (None, None)          # NULL in -> NULL out
    assert got[2] == (0.0, 0.0)            # zero-norm convention holds
    assert got[0][0] is not None and abs(got[0][0] - 1 / 5 ** 0.5) < 1e-12
    # length-mismatch zip_with fold (NULL elementwise product) also NULL
    mism = spark.createDataFrame([(0, [1.0, 2.0, 3.0])],
                                 "id int, e array<double>")
    out = mism.select(cosine(F2.col("e"), ref).alias("c")).collect()
    assert out[0]["c"] is None


def test_drop_empty_tokenization_variant(spark):
    """The opt-in drop_empty tokenization (r10 probe find): under the
    legacy keep-empties convention an empty-string query BM25-matches
    empty documents (both tokenize to [""], a real shared term). With
    drop_empty=True empty/whitespace-only strings tokenize to [] — the
    empty query matches NOTHING, multi-space runs collapse, and the
    perplexity >= 2-token eligibility applies to the FILTERED list.
    The default stays keep-empties (65+ oracle sites pin it)."""
    import pyspark.sql.functions as F2

    from puffbird_spark.functions.text import tokens
    from puffbird_spark.operators.lm import kneser_ney_score
    from puffbird_spark.operators.retrieval import bm25_topk

    t = spark.createDataFrame(
        [("",), ("   ",), ("a  b",), ("a b",)], "s string")
    got = [r["t"] for r in t.select(
        tokens("s", drop_empty=True).alias("t")).collect()]
    assert got == [[], [], ["a", "b"], ["a", "b"]]
    legacy = [r["t"] for r in t.select(tokens("s").alias("t")).collect()]
    assert legacy == [[""], ["", "", "", ""], ["a", "", "b"], ["a", "b"]]

    docs = spark.createDataFrame(
        [(0, ""), (1, "spark joins data"), (2, "  ")],
        "doc_id long, text string")
    qdf = spark.createDataFrame(
        [(1, ""), (2, "spark")], "query_id int, query_text string")
    # legacy: empty query matches the empty docs via the "" term
    leg = bm25_topk(docs, qdf, k=5).collect()
    assert any(r["query_id"] == 1 for r in leg)
    # drop_empty: empty query matches nothing; real query still works
    de = bm25_topk(docs, qdf, k=5, drop_empty=True).collect()
    assert not any(r["query_id"] == 1 for r in de)
    assert any(r["query_id"] == 2 and r["doc_id"] == 1 for r in de)

    # perplexity eligibility: "a  b" has 3 legacy tokens (2 bigrams) but
    # 2 filtered tokens (1 bigram); "  " (3 empty tokens) drops entirely
    pd_docs = spark.createDataFrame(
        [(0, "a  b"), (1, "  "), (2, "a b a")], "doc_id long, text string")
    out = {r["doc_id"]: r["n_bigrams"] for r in kneser_ney_score(
        pd_docs, pd_docs, "text", "doc_id", drop_empty=True).collect()}
    assert out == {0: 1, 2: 2}


def test_graded_ndcg_hand_case(spark):
    """Hand-computed graded nDCG@3 (Järvelin & Kekäläinen exponential
    gain): query 1 retrieves grades (3, 0, 1) at ranks 1..3 from a
    truth set graded {3, 2, 1, 0}; query 2 answers nothing; query 3's
    grades are all zero (IDCG 0 -> ndcg 0 by convention)."""
    from puffbird_spark.operators.evaluation import graded_ndcg

    results = spark.createDataFrame(
        [(1, "a", 1), (1, "x", 2), (1, "c", 3),
         (3, "p", 1)],
        "query_id int, cand_id string, rank int")
    truth = spark.createDataFrame(
        [(1, "a", 3), (1, "b", 2), (1, "c", 1), (1, "d", 0),
         (2, "a", 2), (2, "b", 1),
         (3, "p", 0), (3, "q", 0)],
        "query_id int, cand_id string, grade int")
    got = {r["query_id"]: r for r in
           graded_ndcg(results, truth, k=3).collect()}
    import math
    dcg1 = round(7 / math.log2(2), 9) + round(0.0, 9) \
        + round(1 / math.log2(4), 9)
    idcg1 = round(7 / math.log2(2), 9) + round(3 / math.log2(3), 9) \
        + round(1 / math.log2(4), 9)
    assert got[1]["dcg_at_k"] == round(dcg1, 6)
    assert got[1]["idcg_at_k"] == round(idcg1, 6)
    assert got[1]["ndcg_at_k"] == round(dcg1 / idcg1, 6)
    # unanswered query: dcg 0, ndcg 0, idcg still its ideal
    assert got[2]["dcg_at_k"] == 0.0 and got[2]["ndcg_at_k"] == 0.0
    assert got[2]["idcg_at_k"] > 0
    # all-zero grades: idcg 0 -> ndcg 0, not NaN/NULL
    assert got[3] ["idcg_at_k"] == 0.0 and got[3]["ndcg_at_k"] == 0.0
    # ungraded retrieved doc ("x") contributed nothing
    assert set(got) == {1, 2, 3}


def test_bootstrap_ci_deterministic_and_sane(spark):
    """The Poisson-PRF bootstrap is pure-function deterministic (same
    seed -> identical CI twice; different seed -> different CI), the
    CI brackets the mean, and a zero-variance metric collapses the CI
    to the point estimate."""
    from puffbird_spark.operators.evaluation import bootstrap_ci

    vals = [(i, 0.1 + 0.8 * ((i * 37) % 100) / 100.0) for i in range(80)]
    df = spark.createDataFrame(vals, "query_id int, m double")
    a = bootstrap_ci(df, "m", n_boot=100, seed="s1").collect()[0]
    b = bootstrap_ci(df, "m", n_boot=100, seed="s1").collect()[0]
    c = bootstrap_ci(df, "m", n_boot=100, seed="s2").collect()[0]
    assert a == b
    assert (a["ci_lo"], a["ci_hi"]) != (c["ci_lo"], c["ci_hi"])
    assert a["n_queries"] == 80 and a["n_boot"] == 100
    assert a["ci_lo"] <= a["mean"] <= a["ci_hi"]
    assert a["ci_lo"] < a["ci_hi"]

    const = spark.createDataFrame(
        [(i, 0.25) for i in range(50)], "query_id int, m double")
    z = bootstrap_ci(const, "m", n_boot=50).collect()[0]
    assert z["ci_lo"] == z["ci_hi"] == z["mean"] == 0.25


def test_theta_sketch_exact_saturated_and_set_algebra(spark):
    """Theta sketch (KMV/DataSketches formulation): exact below
    saturation, ~1/sqrt(k) relative error saturated (deterministic PRF
    draws -> the measured error is FIXED, not flaky), union of
    sketches bit-equal to the sketch of the union, and intersection /
    difference estimates exact in the exact regime."""
    from puffbird_spark.operators.sketch import (
        theta_difference_estimate, theta_estimate,
        theta_intersect_estimate, theta_sketch, theta_union)

    # exact regime: 100 distinct < k
    small = spark.createDataFrame(
        [(i % 100,) for i in range(1000)], "k long")
    sk = theta_sketch(small, "k", k=256)
    est = theta_estimate(sk).collect()[0]["distinct_est"]
    assert est == 100.0

    # saturated: 20000 distinct, k=256 -> within 15% (fixed PRF)
    big = spark.range(20000).select(F.col("id").alias("k"))
    bsk = theta_sketch(big, "k", k=256)
    best = theta_estimate(bsk).collect()[0]["distinct_est"]
    assert abs(best - 20000) / 20000 < 0.15, best

    # union of sketches == sketch of the union, row for row
    a = spark.range(0, 12000).select(F.col("id").alias("k"))
    b = spark.range(8000, 21000).select(F.col("id").alias("k"))
    u1 = sorted(map(tuple, theta_union(
        theta_sketch(a, "k", k=128), theta_sketch(b, "k", k=128),
        k=128).collect()))
    u2 = sorted(map(tuple, theta_sketch(
        a.unionByName(b), "k", k=128).collect()))
    assert u1 == u2

    # exact-regime set algebra: |A|=60, |B|=50, |A∩B|=30
    ea = spark.createDataFrame([(i,) for i in range(60)], "k long")
    eb = spark.createDataFrame([(i,) for i in range(30, 80)], "k long")
    ska, skb = theta_sketch(ea, "k", k=256), theta_sketch(eb, "k", k=256)
    assert theta_intersect_estimate(ska, skb).collect()[0][
        "intersect_est"] == 30.0
    assert theta_difference_estimate(ska, skb).collect()[0][
        "difference_est"] == 30.0
    assert theta_estimate(theta_union(ska, skb, k=256)).collect()[0][
        "distinct_est"] == 80.0

    # grouped sketches keep group keys separate
    g = spark.createDataFrame(
        [("x", i) for i in range(40)] + [("y", i) for i in range(25)],
        "grp string, k long")
    gs = theta_estimate(
        theta_sketch(g, "k", k=64, group_cols=["grp"]),
        group_cols=["grp"])
    assert {r["grp"]: r["distinct_est"] for r in gs.collect()} == {
        "x": 40.0, "y": 25.0}


def test_scd2_apply_rejects_out_of_order_and_null_effective(spark):
    """r11 adversarial CDC probe: an update whose effective_ts is at or
    before the current row's valid_from previously closed that row
    with an INVERTED interval (valid_from=10, valid_to=4) while opening
    an overlapping current row — scd2_join then answered the wrong
    attribute for every ts in the overlap. A NULL effective_ts
    previously vanished silently. Both now raise; a no-op (identical
    attrs) late update stays harmless."""
    import pytest as _pt

    from puffbird_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [(1, "a", 10, None), (2, "b", 5, 8), (2, "c", 8, None)],
        "k int, attr string, valid_from int, valid_to int")

    late = spark.createDataFrame(
        [(1, "z", 4)], "k int, attr string, effective_ts int")
    with _pt.raises(ValueError, match="out-of-order"):
        scd2_apply(dim, late, ["k"], ["attr"])
    equal = spark.createDataFrame(
        [(1, "z", 10)], "k int, attr string, effective_ts int")
    with _pt.raises(ValueError, match="out-of-order"):
        scd2_apply(dim, equal, ["k"], ["attr"])
    nul = spark.createDataFrame(
        [(9, "q", None)], "k int, attr string, effective_ts int")
    with _pt.raises(ValueError, match="NULL effective_ts"):
        scd2_apply(dim, nul, ["k"], ["attr"])

    # a LATE NO-OP (identical attrs) is harmless and must not raise
    noop = spark.createDataFrame(
        [(1, "a", 4)], "k int, attr string, effective_ts int")
    out = scd2_apply(dim, noop, ["k"], ["attr"]) \
        .orderBy("k", "valid_from").collect()
    assert [tuple(r) for r in out] == [
        (1, "a", 10, None), (2, "b", 5, 8), (2, "c", 8, None)]

    # the ordinary path still works end to end
    ok = spark.createDataFrame(
        [(1, "z", 15), (9, "q", 3)],
        "k int, attr string, effective_ts int")
    got = sorted(tuple(r) for r in
                 scd2_apply(dim, ok, ["k"], ["attr"]).collect())
    assert got == sorted([
        (1, "a", 10, 15), (1, "z", 15, None),
        (2, "b", 5, 8), (2, "c", 8, None), (9, "q", 3, None)])


def test_bm25f_field_weights_and_saturation(spark):
    """BM25F (CIKM'04): a query term in the HIGH-weight field must
    outrank the same term in the low-weight field at equal tf; the
    pseudo-frequency saturates ONCE after field combination (a doc
    with the term in both fields beats either single-field doc but by
    less than the sum); empty query under drop_empty matches nothing;
    exact replay against a pure-Python computation of the formula."""
    import math

    from puffbird_spark.operators.retrieval import bm25f_topk

    docs = spark.createDataFrame(
        [(1, "apple", "pear plum"),
         (2, "pear", "apple plum"),
         (3, "apple", "apple plum"),
         (4, "kiwi", "pear plum")],
        "doc_id long, title string, body string")
    qdf = spark.createDataFrame(
        [(1, "apple"), (2, "")], "query_id int, query_text string")
    fields = [("title", 3.0, 0.0), ("body", 1.0, 0.0)]
    out = bm25f_topk(docs, qdf, fields, k=4).collect()
    assert not any(r["query_id"] == 2 for r in out)  # empty query
    ranks = {r["doc_id"]: (r["rank"], r["score"])
             for r in out if r["query_id"] == 1}
    assert set(ranks) == {1, 2, 3}
    # both fields (doc 3) > title-only (doc 1) > body-only (doc 2)
    assert ranks[3][0] == 1 and ranks[1][0] == 2 and ranks[2][0] == 3

    # exact replay: with b=0 the pseudo-frequency is w*tf exactly
    n, k1 = 4, 1.2
    df_apple = 3
    idf = math.log(1 + (n - df_apple + 0.5) / (df_apple + 0.5))

    def score(tff):
        return round(round(idf * tff / (k1 + tff), 6), 6)
    assert ranks[1][1] == score(3.0)
    assert ranks[2][1] == score(1.0)
    assert ranks[3][1] == score(4.0)
    # single saturation: combined < sum of singles
    assert ranks[3][1] < ranks[1][1] + ranks[2][1]


def test_fused_topk_hand_case(spark):
    """Convex min-max fusion: hand-computed normalization over each
    system's own candidates, zero for candidates missing from a
    system, constant lists normalize to 0, ties break on doc id."""
    from puffbird_spark.operators.retrieval import fused_topk

    dense = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.5), (1, 12, 0.1),
         (2, 20, 0.7), (2, 21, 0.7)],          # constant list -> 0
        "query_id int, doc_id int, cosine double")
    sparse = spark.createDataFrame(
        [(1, 11, 8.0), (1, 13, 2.0), (1, 14, 0.0),
         (2, 20, 5.0), (2, 22, 1.0)],
        "query_id int, doc_id int, score double")
    got = {(r["query_id"], r["doc_id"]): (r["rank"], r["fused_score"])
           for r in fused_topk(dense, sparse, alpha=0.6, top=5).collect()}
    # q1: dense norms 10->1, 11->0.5, 12->0; sparse norms 11->1,
    # 13->0.25, 14->0
    assert got[(1, 10)] == (2, 0.6)
    assert got[(1, 11)] == (1, round(0.6 * 0.5 + 0.4 * 1.0, 6))
    assert got[(1, 13)] == (3, round(0.4 * 0.25, 6))
    assert got[(1, 12)][1] == 0.0 and got[(1, 14)][1] == 0.0
    assert got[(1, 12)][0] == 4  # tie at 0.0: doc id ascending
    assert got[(1, 14)][0] == 5
    # q2: dense constant -> both 0; sparse 20->1, 22->0
    assert got[(2, 20)] == (1, 0.4)
    assert got[(2, 21)][1] == 0.0 and got[(2, 22)][1] == 0.0


def test_kll_sketch_weight_invariant_error_bound_and_determinism(spark):
    """KLL: total weight == non-NULL input count EXACTLY (the
    odd-leftover compaction rule), rank error of every quantile
    estimate within the k=200 bound on a shuffled stream, exact
    answers below saturation, and re-run determinism on a fixed
    layout (PRF coins, no RNG)."""
    import pyspark.sql.functions as F2

    from puffbird_spark.operators.sketch import kll_quantiles, kll_sketch

    n = 40000
    df = spark.range(n).select(
        ((F.col("id") * 48271) % n).cast("double").alias("v"))
    rows = kll_sketch(df, "v", k=200).collect()
    w = sum((1 << r["level"]) * r["cnt"] for r in rows)
    assert w == n
    assert len(rows) < 3000  # sketch is O(k log n), not data-sized

    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    ests = kll_quantiles(rows, qs)
    for q, est in zip(qs, ests):
        exact_rank = (est + 1) / n  # v values are 0..n-1 uniform
        assert abs(exact_rank - q) < 0.03, (q, est)

    again = kll_sketch(df, "v", k=200).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    # below saturation: every value retained at level 0, quantiles exact
    small = spark.createDataFrame(
        [(float(i),) for i in range(50)], "v double")
    srows = kll_sketch(small, "v", k=200).collect()
    assert all(r["level"] == 0 for r in srows)
    assert kll_quantiles(srows, [0.5]) == [24.0]

    # NULLs excluded from the weight
    withnull = small.unionByName(
        spark.createDataFrame([(None,)], "v double"))
    nrows = kll_sketch(withnull, "v", k=200).collect()
    assert sum((1 << r["level"]) * r["cnt"] for r in nrows) == 50


def test_bootstrap_ci_rejects_degenerate_alpha(spark):
    """alpha 0 or 1 would make a percentile position 0 (no such order
    statistic -> silent NULL CI) — reject at the boundary."""
    import pytest as _pt

    from puffbird_spark.operators.evaluation import bootstrap_ci

    df = spark.createDataFrame([(0, 0.5)], "query_id int, m double")
    for bad in (0.0, 1.0, -0.1, 1.5):
        with _pt.raises(ValueError):
            bootstrap_ci(df, "m", alpha=bad)


def test_drift_monitors_support_keyless_global_calls(spark):
    """r11 probe: the most natural drift call — corpus-wide, no key
    columns — crashed with pyspark's opaque join(on=[]) IndexError in
    every PSI path. Keyless now cross-joins the one-row totals;
    disjoint categories stay finite under the additive smoothing; an
    empty current side flags drifted outright; and ks_two_sample names
    its boolean-indicator contract at plan time instead of an ANSI
    cast error at run time."""
    import pyspark.sql.functions as F2
    import pytest as _pt

    from puffbird_spark.operators.drift import (
        categorical_psi, distribution_psi, ks_two_sample)

    a = spark.createDataFrame([("x",)] * 10 + [("y",)] * 10, "c string")
    b = spark.createDataFrame([("x",)] * 10 + [("z",)] * 10, "c string")
    row = categorical_psi(a, b, [], "c").collect()
    assert len(row) == 1
    r = row[0]
    assert r["n_ref"] == 20 and r["n_cur"] == 20 and r["n_categories"] == 3
    assert r["psi"] is not None and r["psi"] > 0  # finite, no ln(0)

    ref = spark.createDataFrame(
        [(float(i),) for i in range(100)], "v double")
    cur = spark.createDataFrame([], "v double")
    out = distribution_psi(ref, cur, [], "v").collect()
    assert len(out) == 1 and out[0]["n_cur"] == 0 and out[0]["drifted"]

    same = distribution_psi(ref, ref, [], "v").collect()[0]
    assert same["psi"] is not None and abs(same["psi"]) < 0.01
    assert not same["drifted"]

    ks_in = spark.createDataFrame(
        [("a", 1.0)] * 5 + [("b", 2.0)] * 5, "g string, v double")
    with _pt.raises(TypeError, match="boolean"):
        ks_two_sample(ks_in, "g", "v")
    ok = ks_two_sample(ks_in, F2.col("g") == "a", "v").collect()[0]
    assert ok["ks_stat"] == 1.0  # fully separated samples


def test_theil_sen_global_keyless_series(spark):
    """r11 probe follow-up: a single global series (key_cols=[]) hit
    pyspark's join(on=[]) IndexError. Keyless now cross-joins (same
    bounded d² pair set) — exact slope/intercept on a clean line."""
    from puffbird_spark.operators.timeseries import theil_sen

    df = spark.createDataFrame(
        [(float(x), 2.0 * x + 3.0) for x in range(12)],
        "x double, y double")
    r = theil_sen(df, [], "x", "y").collect()
    assert len(r) == 1
    assert r[0]["slope"] == 2.0 and r[0]["intercept"] == 3.0
    assert r[0]["n_points"] == 12 and r[0]["n_pairs"] == 66


def test_snapshot_diff_vacuumed_version_raises_cleanly(spark, tmp_path):
    """r11 probe: snapshot_diff against a vacuumed-away base surfaced a
    raw Java FileNotFoundException where read_snapshot raised the clean
    ValueError — the manifest reader now raises the same error for any
    missing version, everywhere."""
    import pytest as _pt

    from puffbird_spark.operators.layout import (
        read_snapshot, snapshot_diff, vacuum_snapshots, write_snapshot)

    tp = str(tmp_path / "snap")
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    d2 = spark.createDataFrame([(3, "c")], "k int, v string")
    write_snapshot(spark, d1, tp, mode="overwrite")
    write_snapshot(spark, d2, tp, mode="append")
    write_snapshot(spark, d1, tp, mode="overwrite")
    vacuum_snapshots(spark, tp, keep_last=1)

    with _pt.raises(ValueError, match="version 1 not in"):
        snapshot_diff(spark, tp, 1, 3, ["k"])
    with _pt.raises(ValueError, match="version 1 not in"):
        read_snapshot(spark, tp, 1)
    assert sorted(map(tuple, read_snapshot(spark, tp, 3).collect())) == [
        (1, "a"), (2, "b")]


def test_robust_stats_keyless_global_and_zero_mad(spark):
    """r11 join(on=[]) class, third instance: global robust_stats
    crashed keyless. Also pins the documented zero-MAD reading — any
    value off the median of a degenerate group is an outlier."""
    from puffbird_spark.operators.robust import robust_stats

    df = spark.createDataFrame([(5.0,)] * 20 + [(9.0,)], "v double")
    r = robust_stats(df, [], "v").collect()
    assert len(r) == 1
    assert r[0]["median"] == 5.0 and r[0]["mad"] == 0.0
    assert r[0]["n_outliers"] == 1 and r[0]["n"] == 21


def test_keyless_merge_and_diff_raise_clear_errors(spark, tmp_path):
    """Keyless MERGE/SCD2/snapshot-diff are semantically meaningless
    (no row identity) — they now name that instead of pyspark's
    join(on=[]) IndexError or a confusing duplicate-key message."""
    import pytest as _pt

    from puffbird_spark.operators.layout import (
        snapshot_diff, write_snapshot)
    from puffbird_spark.operators.merge import merge_upsert, scd2_apply

    t = spark.createDataFrame([(1, "x")], "k int, v string")
    with _pt.raises(ValueError, match="keys must be non-empty"):
        merge_upsert(t, t, [])
    dim = spark.createDataFrame(
        [(1, "a", 1, None)], "k int, attr string, valid_from int, valid_to int")
    upd = spark.createDataFrame(
        [(1, "b", 5)], "k int, attr string, effective_ts int")
    with _pt.raises(ValueError, match="key_cols must be non-empty"):
        scd2_apply(dim, upd, [], ["attr"])
    tp = str(tmp_path / "snap")
    write_snapshot(spark, t, tp, mode="overwrite")
    write_snapshot(spark, t, tp, mode="append")
    with _pt.raises(ValueError, match="key_cols must be non-empty"):
        snapshot_diff(spark, tp, 1, 2, [])


def test_kll_weight_invariant_under_any_partitioning(spark):
    """KLL's exact-weight invariant must hold on EVERY layout (sketch
    CONTENT is partitioning-dependent, its guarantees are not): total
    weight == input count for 1, 3, and 17 partitions of the same
    data, and quantile estimates stay within the gate bound on each."""
    from puffbird_spark.operators.sketch import kll_quantiles, kll_sketch

    n = 10000
    base = spark.range(n).select(
        ((F.col("id") * 7919) % n).cast("double").alias("v"))
    for parts in (1, 3, 17):
        rows = kll_sketch(base.repartition(parts), "v", k=128).collect()
        w = sum((1 << r["level"]) * r["cnt"] for r in rows)
        assert w == n, parts
        (est,) = kll_quantiles(rows, [0.5])
        assert abs((est + 1) / n - 0.5) < 0.05, (parts, est)


def test_theta_union_associative(spark):
    """(A ∪ B) ∪ C == sketch(A ∪ B ∪ C) row for row — the merge
    identity applied twice, so sharded sketching composes in any
    tree order."""
    from puffbird_spark.operators.sketch import theta_sketch, theta_union

    a = spark.range(0, 6000).select(F.col("id").alias("k"))
    b = spark.range(4000, 11000).select(F.col("id").alias("k"))
    c = spark.range(9000, 15000).select(F.col("id").alias("k"))
    k = 96
    u_tree = theta_union(
        theta_union(theta_sketch(a, "k", k=k),
                    theta_sketch(b, "k", k=k), k=k),
        theta_sketch(c, "k", k=k), k=k)
    u_flat = theta_sketch(a.unionByName(b).unionByName(c), "k", k=k)
    assert sorted(map(tuple, u_tree.collect())) == \
        sorted(map(tuple, u_flat.collect()))


def test_merge_upsert_modes_randomized_differential(spark):
    """The broadcast two-pass plan and the full-outer plan are two
    PHYSICAL strategies for one logical MERGE — randomized CDC batches
    (updates, partial-column updates, deletes, inserts, delete-of-
    missing, NULL values) must produce bit-identical results from
    both, across seeds."""
    import random

    from puffbird_spark.operators.merge import merge_upsert

    for seed in (3, 11, 23):
        rng = random.Random(seed)
        target = [(k, rng.choice(["a", "b", "c", None]),
                   float(rng.randint(0, 9))) for k in range(40)]
        updates = []
        for k in rng.sample(range(60), 25):  # keys 40+ are inserts
            updates.append((
                k,
                rng.choice(["x", "y", None]),        # NULL = keep
                rng.choice([float(rng.randint(10, 19)), None]),
                rng.random() < 0.2,                   # delete flag
            ))
        t = spark.createDataFrame(target, "k int, s string, v double")
        u = spark.createDataFrame(
            updates, "k int, s string, v double, is_del boolean")
        a = sorted(map(tuple, merge_upsert(
            t, u, ["k"], delete_col="is_del",
            broadcast_updates=True).collect()))
        b = sorted(map(tuple, merge_upsert(
            t, u, ["k"], delete_col="is_del",
            broadcast_updates=False).collect()))
        assert a == b, seed


def test_sentence_bleu_hand_cases(spark):
    """Hand-computed sentence BLEU+1 (Lin & Och 2004): clipping caps a
    degenerate all-'the' candidate at the reference's count; a perfect
    prefix candidate scores exactly its brevity penalty; identical
    strings score 1; empty candidate and zero-unigram-overlap both
    score 0 (not NaN)."""
    from pyspark.sql import functions as F

    from puffbird_spark.operators.evaluation import sentence_bleu

    rows = [
        (1, "the the the the", "the cat sat on the mat"),
        (2, "the cat sat", "the cat sat on the mat"),
        (3, "a b c d e", "a b c d e"),
        (4, "", "a b"),
        (5, "x y", "a b"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, c string, r string")
    toks = lambda col: F.filter(  # noqa: E731
        F.split(F.col(col), " "), lambda x: x != F.lit(""))
    out = {r["doc_id"]: r for r in sentence_bleu(
        df.select("doc_id", toks("c").alias("ct"), toks("r").alias("rt")),
        "ct", "rt", id_col="doc_id").collect()}
    # clipping: unigram match = min(4 cand 'the', 2 ref 'the') = 2
    r1 = out[1]
    assert (r1["p1"], r1["p2"], r1["p3"], r1["p4"]) == (
        0.5, 0.25, 0.333333, 0.5)
    assert r1["bp"] == 0.606531 and r1["bleu"] == 0.230432
    # perfect sub-sequence: every p_n = 1, BLEU = BP = exp(1 - 6/3)
    r2 = out[2]
    assert (r2["p1"], r2["p2"], r2["p3"], r2["p4"]) == (1.0, 1.0, 1.0, 1.0)
    assert r2["bp"] == 0.367879 and r2["bleu"] == 0.367879
    assert out[3]["bleu"] == 1.0 and out[3]["bp"] == 1.0
    # empty candidate: p1 = 0, bp = 0, bleu = 0 (vacuous higher orders
    # smooth to 1 but cannot rescue)
    r4 = out[4]
    assert r4["cand_len"] == 0 and r4["p1"] == 0.0
    assert r4["bp"] == 0.0 and r4["bleu"] == 0.0
    # no unigram overlap: p1 = 0 -> bleu 0 even with bp = 1
    assert out[5]["bleu"] == 0.0 and out[5]["bp"] == 1.0


def test_chrf_hand_cases(spark):
    """Hand-computed chrF2 (Popović 2015): a prefix candidate has
    perfect precision and partial recall; identical strings score 1;
    empty candidate scores 0; both-empty is 0 (all orders vacuous),
    never NULL/NaN."""
    from puffbird_spark.operators.evaluation import chrf

    rows = [(1, "the cat", "the cat sat"), (2, "abc", "abc"),
            (3, "", "ab"), (4, "", ""),
            (5, "the\tcat\n", "the cat"), (6, " \t\n", "")]
    df = spark.createDataFrame(rows, "doc_id int, c string, r string")
    out = {r["doc_id"]: r for r in
           chrf(df, "c", "r", id_col="doc_id").collect()}
    # 'thecat' (6 chars) vs 'thecatsat' (9): precision 1 at every
    # order, recall averages 0.502183 over orders 1..6
    assert out[1]["chrp"] == 1.0
    assert out[1]["chrr"] == 0.502183
    assert out[1]["chrf"] == 0.55771
    assert out[2]["chrp"] == out[2]["chrr"] == out[2]["chrf"] == 1.0
    assert out[3]["chrp"] == 0.0 and out[3]["chrf"] == 0.0
    # reference-only grams make orders non-vacuous: recall 0, F 0
    assert out[3]["chrr"] == 0.0
    # ALL whitespace strips (sacreBLEU whitespace=False, ADVICE r11):
    # tabs/newlines vanish exactly like spaces, so a tab-separated
    # candidate of the same letters is a perfect match ...
    assert out[5]["chrp"] == out[5]["chrr"] == out[5]["chrf"] == 1.0
    # ... and a whitespace-only candidate is empty, not a gram source
    assert out[6]["chrf"] == 0.0
    assert out[4]["chrf"] == 0.0 and out[4]["chrp"] == 0.0


def test_zipf_fit_degenerate_heads(spark):
    """Probe batch 5: a uniform-count head (every token equally
    frequent — a small or fully-deduplicated sample) previously hit an
    ANSI division-by-zero in the r2 ratio; a single-distinct-token
    corpus zeroed the slope denominator. Degenerate fits now read NULL
    under structural guards (n > 1 for the fit, distinct min/max log
    counts for r2), never a crash."""
    from puffbird_spark.operators.lm import zipf_fit

    uni = spark.createDataFrame(
        [(i, f"tok{i}") for i in range(10)], "id int, text string")
    r = zipf_fit(uni, "text").collect()[0]
    assert r["n_ranks"] == 10
    assert r["slope"] == 0.0 and r["intercept"] == 0.0
    assert r["r2"] is None

    one = spark.createDataFrame([(0, "aaa aaa aaa")], "id int, text string")
    r1 = zipf_fit(one, "text").collect()[0]
    assert r1["n_ranks"] == 1
    assert r1["slope"] is None and r1["intercept"] is None
    assert r1["r2"] is None

    # a non-degenerate corpus still fits: slope < 0, r2 in (0, 1]
    zipfy = spark.createDataFrame(
        [(0, " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"]))],
        "id int, text string")
    rz = zipf_fit(zipfy, "text").collect()[0]
    assert rz["slope"] < 0 and 0 < rz["r2"] <= 1


def test_ipv4_cidr_malformed_inputs_null_not_crash(spark):
    """Probe batch 5: malformed IPs / CIDR blocks must parse to NULL,
    never throw — the unguarded octet cast (CAST_INVALID_INPUT) and
    the slash-split getItem (INVALID_ARRAY_INDEX) each killed the
    whole job on one bad log row under ANSI; /33 sign-masked into a
    negative shift; long_to_ipv4 rendered NULL as '' (concat_ws skips
    nulls) and -1 as '0.0.0.-1'."""
    from puffbird_spark.operators.net import (
        ipv4_to_long, long_to_ipv4, parse_cidr_blocks)

    ips = spark.createDataFrame(
        [("1.2.3.4",), ("not an ip",), ("1.2.3",), ("1.2.3.4.5",),
         ("300.1.1.1",), (" 1.2.3.4",), (None,), ("1.2.3.x",)],
        "ip string")
    got = [r["v"] for r in
           ips.select(ipv4_to_long("ip").alias("v")).collect()]
    assert got == [16909060, None, None, None, None, None, None, None]

    back = spark.createDataFrame(
        [(16909060,), (-1,), (2 ** 40,), (None,), (0,), (4294967295,)],
        "v long")
    ipt = [r["ip"] for r in
           back.select(long_to_ipv4("v").alias("ip")).collect()]
    assert ipt == ["1.2.3.4", None, None, None,
                   "0.0.0.0", "255.255.255.255"]

    cid = spark.createDataFrame(
        [("10.0.0.0/8",), ("10.0.0.0/33",), ("10.0.0.0",),
         ("garbage/8",)], "cidr string")
    rows = {r["cidr"]: r for r in parse_cidr_blocks(cid).collect()}
    assert rows["10.0.0.0/8"]["net_sh"] == 10
    # malformed blocks parse to NULL join keys -> match nothing
    assert rows["10.0.0.0/33"]["net_sh"] is None
    assert rows["10.0.0.0"]["net"] is None
    assert rows["garbage/8"]["net"] is None


def test_corpus_bleu_pools_before_ratio(spark):
    """Corpus BLEU (exact Papineni micro-average): matches and totals
    pool over all pairs BEFORE the per-order ratio, and the brevity
    penalty compares TOTAL lengths — a perfect-prefix pair plus an
    identical pair read p_n = 1 at every order with BP = exp(1-11/8);
    a zero-overlap pair added to the pool dilutes p1 instead of
    zeroing its own row (the sentence/corpus distinction)."""
    from pyspark.sql import functions as F

    from puffbird_spark.operators.evaluation import corpus_bleu

    tok = lambda col: F.filter(  # noqa: E731
        F.split(F.col(col), " "), lambda x: x != F.lit(""))

    def run(rows):
        df = spark.createDataFrame(rows, "doc_id int, c string, r string")
        return corpus_bleu(
            df.select("doc_id", tok("c").alias("ct"),
                      tok("r").alias("rt")),
            "ct", "rt", id_col="doc_id").collect()[0]

    r = run([(1, "the cat sat", "the cat sat on the mat"),
             (2, "a b c d e", "a b c d e")])
    assert r["n_pairs"] == 2
    assert (r["cand_tokens"], r["ref_tokens"]) == (8, 11)
    assert (r["p1"], r["p2"], r["p3"], r["p4"]) == (1.0, 1.0, 1.0, 1.0)
    assert r["bp"] == 0.687289 and r["bleu"] == 0.687289

    # pooled dilution: the zero-overlap pair lowers p1 to 8/10, it
    # does not zero the corpus (sentence BLEU of that pair alone is 0)
    d = run([(1, "the cat sat", "the cat sat on the mat"),
             (2, "a b c d e", "a b c d e"),
             (3, "zz qq", "xx yy")])
    assert d["p1"] == 0.8 and d["bleu"] > 0.0

    # a corpus with no 4-grams at all reads 0 (documented: an order
    # with zero pooled candidate occurrences zeroes the product)
    s = run([(1, "a b", "a b")])
    assert s["p4"] == 0.0 and s["bleu"] == 0.0


def test_multimodal_kernels_skip_corrupt_blobs(spark):
    """Probe batch 6: a scraped-media corpus carries truncated and
    garbage blobs, and every corpus-facing kernel must SKIP them, not
    die — cut PNG IDAT streams raise zlib.error, short headers raise
    struct.error, cut AVI chunk walks raise IndexError, all previously
    outside the (NotImplementedError, ValueError) nets and each fatal
    to the whole job. Also pinned: the all-skipped batch with a
    list-typed output column (Arrow rejected the empty float64 Series
    as list<double>) and the zero-sample-rate WAV header (downstream
    division by zero)."""
    import struct as _struct

    from puffbird_spark.operators.multimodal import (
        audio_stats, decode_wav_pcm, encode_avi_mjpeg, encode_gif,
        encode_png, encode_wav, encode_y4m, image_pixel_stats,
        resample_audio, resize_images, sample_frames)

    png, gif = encode_png(8, 8, seed=1), encode_gif(8, 8, seed=2)
    wav = encode_wav(200, seed=1)
    y4m, avi = encode_y4m(8, 8, 3), encode_avi_mjpeg(8, 8, 3)

    # structurally VALID PNG declaring 0x0 dimensions with an empty
    # (but well-formed) zlib IDAT: decodes cleanly to zero pixels, so
    # the stats kernel must skip it rather than divide by len(px)==0
    # (ADVICE r11 — the stats math ran outside the DECODE_ERRORS net)
    import zlib as _zlib

    def _chunk(tag, payload):
        crc = _zlib.crc32(tag + payload) & 0xFFFFFFFF
        return (_struct.pack(">I", len(payload)) + tag + payload
                + _struct.pack(">I", crc))

    zero_png = (b"\x89PNG\r\n\x1a\n"
                + _chunk(b"IHDR", _struct.pack(">IIBBBBB", 0, 0, 8, 0, 0, 0, 0))
                + _chunk(b"IDAT", _zlib.compress(b""))
                + _chunk(b"IEND", b""))

    img = spark.createDataFrame(
        [("good.png", bytearray(png)),
         ("half.png", bytearray(png[: len(png) // 2])),
         ("sig.png", bytearray(png[:8])),
         ("garbage.png", bytearray(b"\x89PNG\r\n\x1a\n" + b"\xff" * 40)),
         ("half.gif", bytearray(gif[: len(gif) // 2])),
         ("empty", bytearray(b"")),
         ("zero.png", bytearray(zero_png)),
         ("good.gif", bytearray(gif))],
        "path string, content binary")
    assert sorted(r["path"] for r in image_pixel_stats(img).collect()) \
        == ["good.gif", "good.png"]
    assert sorted(r["path"] for r in
                  resize_images(img, out_w=4, out_h=4).collect()) \
        == ["good.gif", "good.png"]

    aud = spark.createDataFrame(
        [("good.wav", bytearray(wav)), ("t12.wav", bytearray(wav[:12])),
         ("rand.wav", bytearray(bytes(range(250))))],
        "path string, content binary")
    assert sorted(set(r["path"] for r in audio_stats(aud).collect())) \
        == ["good.wav"]
    # all-corrupt micro-batch: list-typed output column must still
    # Arrow-convert (the empty-Series dtype pin)
    bad = aud.filter("path != 'good.wav'")
    assert resample_audio(bad, dst_rate=4000).collect() == []
    assert sorted(set(
        r["path"] for r in
        resample_audio(aud, dst_rate=4000).collect())) == ["good.wav"]

    vid = spark.createDataFrame(
        [("good.y4m", bytearray(y4m)),
         ("half.y4m", bytearray(y4m[: len(y4m) // 2])),
         ("half.avi", bytearray(avi[: len(avi) // 2])),
         ("half.gif", bytearray(gif[: len(gif) // 2]))],
        "path string, content binary")
    assert sorted(set(r["path"] for r in
                      sample_frames(vid, max_frames=2).collect())) \
        == ["good.y4m"]

    # zero-declared-sample-rate WAV: a clean contract raise, caught by
    # the kernels, never a downstream division by zero
    w = bytearray(wav)
    i = w.find(b"fmt ")
    w[i + 12:i + 16] = _struct.pack("<I", 0)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="sample_rate"):
        decode_wav_pcm(bytes(w))


def test_canonical_url_noncanonicalizable_reads_null(spark):
    """Probe batch 7: relative URLs, bare hosts, and garbage must
    canonicalize to NULL — the unguarded rebuild collapsed them all
    onto the one shared key '://', so URL-dedup's keep-one policy
    silently dropped every junk-URL document but one. Well-formed
    URLs keep the full normalization ladder."""
    from puffbird_spark.functions.text import canonical_url

    urls = ["https://www.Ex.COM:443/p/?utm_source=1&q=2",
            "example.com/a", "/relative/path", "garbage", "", None,
            "ht tp://broken url", "ftp://Host/Dir/"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r["c"] for r in
           df.select(canonical_url("url").alias("c")).collect()]
    assert got[0] == "https://ex.com/p?q=2"
    assert got[1:7] == [None] * 6
    assert got[7] == "ftp://host/Dir"


def test_shortest_paths_weighted_rejects_negative_weights(spark):
    """Probe batch 7: the Bellman-Ford delta-relaxation cut is only
    exact for non-negative weights — a negative edge must raise the
    contract error, not silently miscompute the <=k-edge metric."""
    import pytest as _pytest

    from puffbird_spark.operators.graph import shortest_paths_weighted

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 3, -1)], "src int, dst int, weight int")
    seeds = spark.createDataFrame([(1,)], "v int")
    with _pytest.raises(ValueError, match="non-negative"):
        shortest_paths_weighted(edges, seeds)
    ok = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 1)], "src int, dst int, weight int")
    got = {r["vertex"]: r["dist"] for r in
           shortest_paths_weighted(ok, seeds).collect()}
    assert got == {1: 0, 2: 3, 3: 4}
    # validate_weights=False is the pre-validated hot-path escape
    # hatch (ADVICE r11): the eager probe is skipped, results match
    got2 = {r["vertex"]: r["dist"] for r in shortest_paths_weighted(
        ok, seeds, validate_weights=False).collect()}
    assert got2 == got


def test_mixture_weights_zero_mass_group_and_fraction_range(spark):
    """Probe batch 8: a zero-token group's oversample factor divided
    by zero under ANSI and killed the job — it now reads NULL with a
    plain 0 weight; hash_sample's fraction contract is symmetric
    (both -0.1 AND 1.5 raise; 1.0 is the documented keep-all no-op)."""
    import pytest as _pytest

    from puffbird_spark.operators.splits import (
        hash_sample, mixture_temperature_weights)

    cnt = spark.createDataFrame([("a", 10), ("b", 0)], "g string, n long")
    got = {r["g"]: r for r in mixture_temperature_weights(
        cnt, ["g"], alpha=0.3, token_col="n").collect()}
    assert got["a"]["weight"] == 1.0 and got["a"]["oversample_factor"] == 1.0
    assert got["b"]["weight"] == 0.0
    assert got["b"]["oversample_factor"] is None

    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    assert hash_sample(df, "id", 1.0).count() == 10
    for bad in (-0.1, 1.5):
        with _pytest.raises(ValueError, match="fraction"):
            hash_sample(df, "id", bad)


def test_bloom_and_asof_config_contracts(spark):
    """Probe batch 9: config errors surface at plan time with the
    contract named — m_bits=0 passed the multiple-of-64 check and died
    at run time in pmod's REMAINDER_BY_ZERO; k=0 built a filter that
    could never probe; a negative as-of tolerance vacuously matched
    nothing."""
    import pytest as _pytest

    from puffbird_spark.errors import PuffbirdSparkError
    from puffbird_spark.operators.asof import asof_join
    from puffbird_spark.operators.decontam import bloom_filter_words

    dim = spark.createDataFrame([(10,), (30,)], "v long")
    for m, k in [(0, 5), (-64, 5), (100, 5), (1024, 0)]:
        with _pytest.raises(ValueError):
            bloom_filter_words(dim, "v", m_bits=m, k=k)

    l = spark.createDataFrame([(1, 100)], "k long, lts long")
    r = spark.createDataFrame([(1, 90, 5.0)], "k long, rts long, x double")
    with _pytest.raises(PuffbirdSparkError, match="tolerance"):
        asof_join(l, r, on=["k"], left_ts="lts", right_ts="rts",
                  tolerance=-10)
    # tolerance=0 stays legal: exact-time matches only
    got = asof_join(l, r, on=["k"], left_ts="lts", right_ts="rts",
                    tolerance=0).collect()
    assert [row["x"] for row in got] == [None]


def test_expectations_empty_input_scorecard(spark):
    """Probe batch 10: an empty delta is realistic input — the
    scorecard's violation counts must read 0 (not the NULL a sum over
    zero rows produces) and the rate must read NULL (0/0 is undefined,
    not 0%); passed/quarantined are both empty with intact schemas."""
    from pyspark.sql import functions as F

    from puffbird_spark.operators.expectations import apply_expectations

    df = spark.createDataFrame(
        [(1, 5.0)], "id long, v double").filter("id < 0")
    p, q, s = apply_expectations(
        df, {"v_nonneg": F.col("v") >= 0})
    assert p.count() == 0 and q.count() == 0
    rows = {r["rule"]: r for r in s.collect()}
    assert set(rows) == {"v_nonneg", "__total"}
    for r in rows.values():
        assert r["n_rows"] == 0 and r["n_violations"] == 0
        assert r["violation_rate"] is None
    assert "__violations" in q.columns


def test_config_floors_raise_plan_time(spark):
    """Probe batch 10 config sweep: degenerate dimensional config must
    raise at plan time with the contract named — n_buckets=0 was an
    ANSI REMAINDER_BY_ZERO at run time (validated once in md5_bucket,
    covering every bucketing caller); dim=0 classifiers silently
    scored nothing; out_dim=0 projections emitted empty vectors;
    planes=0 LSH hashed everything to one bucket."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from puffbird_spark.functions.hashing import md5_bucket
    from puffbird_spark.operators.classifier import linear_quality_score
    from puffbird_spark.operators.clustering import (
        random_projection, srp_signed_banded)
    from puffbird_spark.operators.features import hashed_features

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="n_buckets"):
        md5_bucket(F.lit("x"), 0)
    with _pytest.raises(ValueError, match="n_buckets"):
        hashed_features(df, "doc_id", F.split("text", " "), n_buckets=0)
    with _pytest.raises(ValueError, match="dim"):
        linear_quality_score(df, "text", "doc_id", dim=0)
    with _pytest.raises(ValueError, match="out_dim"):
        random_projection(emb, "vec_id", "embedding", in_dim=2, out_dim=0)
    with _pytest.raises(ValueError, match="planes"):
        srp_signed_banded(emb, "vec_id", "embedding", in_dim=2, planes=0)


def test_rouge_n_hand_cases(spark):
    """Hand-computed ROUGE-1/2 (Lin 2004): a candidate that is a
    prefix of the reference has perfect precision and partial recall;
    identity scores 1; empty candidate scores 0; both-empty scores 0
    (gramless orders are 0, never NULL)."""
    from puffbird_spark.operators.evaluation import rouge_n

    rows = [(1, ["the", "cat", "sat"],
             ["the", "cat", "sat", "on", "the", "mat"]),
            (2, ["a", "b"], ["a", "b"]),
            (3, [], ["a", "b"]),
            (4, [], [])]
    df = spark.createDataFrame(
        rows, "doc_id int, c array<string>, r array<string>")
    out = {r["doc_id"]: r for r in
           rouge_n(df, "c", "r", id_col="doc_id", max_n=2).collect()}
    # unigrams: 3 clipped matches / tc 3 / tr 6; bigrams: 2 / 2 / 5
    assert out[1]["rouge1_p"] == 1.0 and out[1]["rouge1_r"] == 0.5
    assert out[1]["rouge1_f"] == 0.666667
    assert out[1]["rouge2_p"] == 1.0 and out[1]["rouge2_r"] == 0.4
    assert out[1]["rouge2_f"] == 0.571429
    for m in ("rouge1_p", "rouge1_r", "rouge1_f",
              "rouge2_p", "rouge2_r", "rouge2_f"):
        assert out[2][m] == 1.0
        assert out[3][m] == 0.0
        assert out[4][m] == 0.0


def test_rouge_n_clipping(spark):
    """ROUGE matches are CLIPPED multiset intersections: a candidate
    repeating one reference token cannot inflate recall past that
    token's reference count."""
    from puffbird_spark.operators.evaluation import rouge_n

    df = spark.createDataFrame(
        [(1, ["the"] * 5, ["the", "cat"])],
        "doc_id int, c array<string>, r array<string>")
    row = rouge_n(df, "c", "r", id_col="doc_id", max_n=1).collect()[0]
    # m = min(5, 1) = 1; p = 1/5, r = 1/2
    assert row["rouge1_p"] == 0.2
    assert row["rouge1_r"] == 0.5


def test_rouge_l_hand_cases(spark):
    """Hand-computed ROUGE-L (Lin 2004 §3.1): LCS('abcde','axbdc')
    is 3 ('abd' or 'abc' — the classic non-contiguous case); LCS
    rewards order, so a REVERSED candidate scores LCS 1 where
    ROUGE-1 would score 1.0; identity is perfect; NULL/empty sides
    release 0, never NULL (the BLEU/ROUGE house contract); a
    repeated-token candidate cannot exceed the reference multiset
    along one subsequence."""
    from puffbird_spark.operators.evaluation import rouge_l

    rows = [(1, ["a", "b", "c", "d", "e"], ["a", "x", "b", "d", "c"]),
            (2, ["c", "b", "a"], ["a", "b", "c"]),
            (3, ["q", "w"], ["q", "w"]),
            (4, [], ["a", "b"]),
            (5, ["a", "b"], []),
            (6, None, ["a"]),
            (7, ["the"] * 4, ["the", "cat", "the"])]
    df = spark.createDataFrame(
        rows, "doc_id int, c array<string>, r array<string>")
    out = {r["doc_id"]: r for r in
           rouge_l(df, "c", "r", id_col="doc_id").collect()}
    assert (out[1]["lcs"], out[1]["cand_len"], out[1]["ref_len"]) \
        == (3, 5, 5)
    assert out[1]["rouge_l_p"] == 0.6 and out[1]["rouge_l_r"] == 0.6
    assert out[1]["rouge_l_f"] == 0.6
    # reversal: any single common token is the longest in-order run
    assert out[2]["lcs"] == 1
    assert out[2]["rouge_l_f"] == 0.333333
    assert out[3]["lcs"] == 2 and out[3]["rouge_l_f"] == 1.0
    for d in (4, 5, 6):
        assert out[d]["lcs"] == 0
        assert out[d]["rouge_l_p"] == 0.0
        assert out[d]["rouge_l_r"] == 0.0
        assert out[d]["rouge_l_f"] == 0.0
    assert out[6]["cand_len"] == 0       # NULL side ≡ empty
    # LCS('the the the the', 'the cat the') = 2 — the subsequence can
    # use each reference token once
    assert out[7]["lcs"] == 2
    assert out[7]["rouge_l_p"] == 0.5
    assert out[7]["rouge_l_r"] == 0.666667


def test_edit_distance_metrics_hand_cases(spark):
    """Levenshtein scorecard: the classic kitten->sitting distance 3;
    empty reference reads NULL CER (0/0 undefined); both-empty is a
    perfect match (sim 1.0); a NULL side yields NULL metrics, not a
    fabricated comparison against ''."""
    from puffbird_spark.operators.evaluation import edit_distance_metrics

    rows = [(1, "kitten", "sitting"), (2, "abc", "abc"),
            (3, "abc", ""), (4, "", ""), (5, None, "abc")]
    df = spark.createDataFrame(rows, "doc_id int, c string, r string")
    out = {r["doc_id"]: r for r in
           edit_distance_metrics(df, "c", "r", id_col="doc_id").collect()}
    assert out[1]["dist"] == 3
    assert out[1]["cer"] == 0.428571       # 3/7
    assert out[1]["sim"] == 0.571429       # 1 - 3/7
    assert out[2]["dist"] == 0 and out[2]["cer"] == 0.0
    assert out[2]["sim"] == 1.0
    assert out[3]["dist"] == 3 and out[3]["cer"] is None
    assert out[3]["sim"] == 0.0
    assert out[4]["dist"] == 0 and out[4]["cer"] is None
    assert out[4]["sim"] == 1.0
    assert out[5]["dist"] is None and out[5]["cer"] is None
    assert out[5]["sim"] is None


def test_pass_at_k_hand_cases(spark):
    """Chen et al. 2021 estimator: n=10, c=2, k=5 gives
    1 - C(8,5)/C(10,5) = 1 - 56/252; c=0 gives exactly 0; n-c < k
    short-circuits to 1.0; n < k is NULL (undefined, not 0)."""
    from pyspark.sql import functions as F

    from puffbird_spark.operators.evaluation import pass_at_k

    rows = ([("p1", i < 2) for i in range(10)]      # n=10, c=2
            + [("p2", False) for _ in range(10)]    # n=10, c=0
            + [("p3", True) for _ in range(8)]      # n=8, c=8 -> 1.0
            + [("p4", False) for _ in range(3)])    # n=3 < k=5 -> NULL
    df = spark.createDataFrame(rows, "problem string, ok boolean")
    out = {r["problem"]: r for r in
           pass_at_k(df, "problem", F.col("ok"), ks=(1, 5)).collect()}
    assert out["p1"]["pass_at_1"] == 0.2
    assert out["p1"]["pass_at_5"] == round(1 - 56 / 252, 6)
    assert out["p2"]["pass_at_5"] == 0.0
    assert out["p3"]["pass_at_5"] == 1.0
    assert out["p4"]["pass_at_1"] == 0.0
    assert out["p4"]["pass_at_5"] is None
    import pytest as _pytest
    with _pytest.raises(ValueError, match="k must be"):
        pass_at_k(df, "problem", F.col("ok"), ks=(0,))


def test_cohens_kappa_hand_cases(spark):
    """Cohen 1960 textbook grid: 20/5/10/15 yes-no counts give
    po=0.7, pe=0.5, kappa=0.4; constant raters (pe=1) read NULL
    kappa; NULL-labeled rows are excluded from every count."""
    from puffbird_spark.operators.evaluation import cohens_kappa

    rows = ([("y", "y")] * 20 + [("y", "n")] * 5
            + [("n", "y")] * 10 + [("n", "n")] * 15
            + [(None, "y"), ("y", None)])
    df = spark.createDataFrame(rows, "a string, b string")
    row = cohens_kappa(df, "a", "b").collect()[0]
    assert row["n_items"] == 50
    assert row["po"] == 0.7 and row["pe"] == 0.5
    assert row["kappa"] == 0.4

    const = spark.createDataFrame(
        [("x", "x")] * 4, "a string, b string")
    crow = cohens_kappa(const, "a", "b").collect()[0]
    assert crow["po"] == 1.0 and crow["pe"] == 1.0
    assert crow["kappa"] is None

    # a category only ONE rater uses still enters the chance marginals
    # through the outer join (contributing 0 product), never drops rows
    skew = spark.createDataFrame(
        [("x", "x"), ("x", "z")], "a string, b string")
    srow = cohens_kappa(skew, "a", "b").collect()[0]
    assert srow["n_items"] == 2 and srow["po"] == 0.5
    assert srow["pe"] == 0.5   # (n_x_a * n_x_b + 0 + 0) / 4 = 2/4
    assert srow["kappa"] == 0.0


def test_scan_corner_probes_graceful(spark, tmp_path_factory):
    """Probe batch 11 (scan-format corners): the sources surface is
    Spark-native and each corner resolves GRACEFULLY — pinned here so
    a helper change or Spark upgrade that regresses any of them
    surfaces. Findings worth knowing, not fixing: a UTF-8 BOM never
    reaches column names; duplicate CSV headers auto-dedup (id0/id1);
    a JSON double overflow parses as +inf (NOT NULL — filter
    non-finite upstream of aggregates); an over-int64 JSON integer
    infers DECIMAL but silently NULLs under an explicit long schema
    (PERMISSIVE); partition values with '/', ' ', ':', '=' and NULL
    round-trip a partitioned parquet sink exactly."""
    import math

    from puffbird_spark.sources import (
        read_csv, read_json, write_parquet)

    tmp = str(tmp_path_factory.mktemp("probe11"))

    with open(f"{tmp}/bom.csv", "wb") as fh:
        fh.write(b"\xef\xbb\xbfid,val\n1,a\n")
    assert read_csv(spark, f"{tmp}/bom.csv").columns == ["id", "val"]

    with open(f"{tmp}/dup.csv", "w") as fh:
        fh.write("id,id,val\n1,2,a\n")
    assert read_csv(spark, f"{tmp}/dup.csv").columns == ["id0", "id1", "val"]

    with open(f"{tmp}/nums.json", "w") as fh:
        fh.write('{"a": 1e400, "b": 99999999999999999999999}\n')
    inferred = read_json(spark, f"{tmp}/nums.json")
    assert dict(inferred.dtypes)["b"].startswith("decimal")
    row = inferred.collect()[0]
    assert math.isinf(row["a"])            # inf, not NULL — document!
    typed = read_json(spark, f"{tmp}/nums.json",
                      schema="a double, b long").collect()[0]
    assert math.isinf(typed["a"]) and typed["b"] is None

    src = spark.createDataFrame(
        [(1, "a/b"), (2, None), (3, "x y:z"), (4, "=..")],
        "id int, part string")
    write_parquet(src, f"{tmp}/parts", partition_by=["part"])
    back = sorted((r["id"], r["part"]) for r in
                  spark.read.parquet(f"{tmp}/parts").collect())
    assert back == [(1, "a/b"), (2, None), (3, "x y:z"), (4, "=..")]


def test_new_eval_ops_degenerate_inputs(spark):
    """Probe pins for the r12 eval operators on degenerate input:
    NULL token arrays score 0 on every ROUGE metric (size(NULL) is
    NULL, greatest() resolves the totals to 0 — no ANSI kill, no
    phantom grams); a NULL pass@k correctness flag counts as a
    failure (documented contract); cohens_kappa on an empty frame
    returns NO row (never a 0/0 row)."""
    from pyspark.sql import functions as F

    from puffbird_spark.operators.evaluation import (
        cohens_kappa, pass_at_k, rouge_n)

    df = spark.createDataFrame(
        [(1, None, ["a", "b"]), (2, ["a"], None), (3, None, None)],
        "doc_id int, c array<string>, r array<string>")
    for row in rouge_n(df, "c", "r", id_col="doc_id", max_n=2).collect():
        for m in ("rouge1_p", "rouge1_r", "rouge1_f",
                  "rouge2_p", "rouge2_r", "rouge2_f"):
            assert row[m] == 0.0, (row["doc_id"], m)

    d2 = spark.createDataFrame(
        [("p", True), ("p", None), ("p", False)],
        "problem string, ok boolean")
    row = pass_at_k(d2, "problem", F.col("ok"), ks=(1,)).collect()[0]
    assert (row["n_samples"], row["n_correct"]) == (3, 1)
    assert row["pass_at_1"] == 0.333333

    empty = spark.createDataFrame([], "a string, b string")
    assert cohens_kappa(empty, "a", "b").collect() == []


def test_bleu_chrf_null_contract(spark):
    """r11 carry-over #4 closed: NULL candidate/reference arrays and
    texts are EXACTLY empty ones in sentence_bleu / chrf / corpus_bleu
    — lengths coalesce to 0, every released metric is a number (0 for
    the degenerate side), and nothing leaks NULL through cand_len /
    ref_len / bp the way bare size(NULL) would."""
    from puffbird_spark.operators.evaluation import (
        chrf, corpus_bleu, sentence_bleu)

    df = spark.createDataFrame(
        [(1, None, ["a", "b"]), (2, ["a"], None), (3, None, None)],
        "doc_id int, c array<string>, r array<string>")
    rows = {r["doc_id"]: r
            for r in sentence_bleu(df, "c", "r", id_col="doc_id").collect()}
    assert (rows[1]["cand_len"], rows[1]["ref_len"]) == (0, 2)
    assert rows[1]["bp"] == 0.0 and rows[1]["bleu"] == 0.0
    assert (rows[2]["cand_len"], rows[2]["ref_len"]) == (1, 0)
    assert rows[2]["bp"] == 1.0 and rows[2]["p1"] == 0.0
    assert rows[2]["bleu"] == 0.0
    assert (rows[3]["cand_len"], rows[3]["ref_len"]) == (0, 0)
    assert rows[3]["bp"] == 0.0 and rows[3]["bleu"] == 0.0

    txt = spark.createDataFrame(
        [(1, None, "ab"), (2, "ab", None), (3, None, None)],
        "doc_id int, c string, r string")
    for row in chrf(txt, "c", "r", id_col="doc_id").collect():
        assert (row["chrp"], row["chrr"], row["chrf"]) == (0.0, 0.0, 0.0)

    one = corpus_bleu(df, "c", "r", id_col="doc_id").collect()[0]
    assert (one["n_pairs"], one["cand_tokens"], one["ref_tokens"]) \
        == (3, 1, 2)
    assert one["bp"] == 0.367879 and one["bleu"] == 0.0

    allnull = spark.createDataFrame(
        [(1, None, None), (2, None, None)],
        "doc_id int, c array<string>, r array<string>")
    zero = corpus_bleu(allnull, "c", "r", id_col="doc_id").collect()[0]
    assert (zero["cand_tokens"], zero["ref_tokens"]) == (0, 0)
    assert zero["bp"] == 0.0 and zero["bleu"] == 0.0

    mixed = spark.createDataFrame(
        [(1, ["a", "b"], ["a", "b"]), (2, None, ["c"])],
        "doc_id int, c array<string>, r array<string>")
    m = corpus_bleu(mixed, "c", "r", id_col="doc_id", max_n=2).collect()[0]
    assert (m["cand_tokens"], m["ref_tokens"]) == (2, 3)
    assert (m["p1"], m["p2"]) == (1.0, 1.0)
    assert m["bp"] == 0.606531 and m["bleu"] == 0.606531


def test_krippendorff_alpha_hand_cases(spark):
    """Hand-computed nominal alpha: units {aa, ab, bbb} plus an
    unpairable single-rating unit give Do=2/7, De=4/7, alpha=0.5;
    perfect agreement reads 1; a single-value corpus has De=0 and
    NULL alpha (undefined, not 0); NULL units/values are excluded."""
    from puffbird_spark.operators.evaluation import krippendorff_alpha

    rows = ([("u1", "a"), ("u1", "a"), ("u2", "a"), ("u2", "b"),
             ("u3", "b"), ("u3", "b"), ("u3", "b"), ("u4", "c"),
             (None, "a"), ("u1", None)])
    df = spark.createDataFrame(rows, "unit string, value string")
    row = krippendorff_alpha(df, "unit", "value").collect()[0]
    assert (row["n_units"], row["n_ratings"]) == (3, 7)
    assert row["d_obs"] == 0.285714 and row["d_exp"] == 0.571429
    assert row["alpha"] == 0.5

    perfect = spark.createDataFrame(
        [("u1", "a"), ("u1", "a"), ("u2", "b"), ("u2", "b")],
        "unit string, value string")
    prow = krippendorff_alpha(perfect, "unit", "value").collect()[0]
    assert prow["alpha"] == 1.0

    const = spark.createDataFrame(
        [("u1", "x"), ("u1", "x"), ("u2", "x"), ("u2", "x")],
        "unit string, value string")
    crow = krippendorff_alpha(const, "unit", "value").collect()[0]
    assert crow["d_exp"] == 0.0 and crow["alpha"] is None


def test_audio_spectral_probe_matches_reference(spark):
    """The exact-bin spectral probe agrees value-for-value with an
    independent pure-Python recompute over the closed-form fixture
    waveform (decode, windowing, strided sign-sums, ratio rounding
    all checked); the window floor raises at plan time."""
    import math

    import pytest as _pytest

    from puffbird_spark.operators.multimodal import (
        audio_spectral_probe, encode_wav)

    specs = [(0, 130), (1, 97), (2, 64)]
    df = spark.createDataFrame(
        [(str(s), bytearray(encode_wav(n, 8000, seed=s)))
         for s, n in specs],
        "path string, content binary")
    got = {(r["path"], r["window_idx"]): r
           for r in audio_spectral_probe(df, window=64).collect()}

    count = 0
    for seed, n in specs:
        samples = [((i * 2657 + seed * 7919) % 4001) - 2000
                   for i in range(n)]
        for w in range(0, (n + 63) // 64):
            seg = samples[w * 64:(w + 1) * 64]
            m = len(seg)
            dc = sum(seg)
            energy = sum(v * v for v in seg)
            re4 = sum(seg[i] for i in range(0, m, 4)) \
                - sum(seg[i] for i in range(2, m, 4))
            im4 = -(sum(seg[i] for i in range(1, m, 4))
                    - sum(seg[i] for i in range(3, m, 4)))
            alt = sum(v if i % 2 == 0 else -v for i, v in enumerate(seg))
            hf = (None if energy == 0 else
                  math.floor(alt * alt / (m * energy) * 1e6 + 0.5) / 1e6)
            r = got[(str(seed), w)]
            assert (r["n_in_window"], r["dc"], r["energy"]) \
                == (m, dc, energy), (seed, w)
            assert r["m_fs4_sq"] == re4 * re4 + im4 * im4
            assert r["m_fs2_sq"] == alt * alt
            assert r["hf_ratio"] == hf
            count += 1
    assert count == len(got)

    with _pytest.raises(ValueError, match="multiple of 4"):
        audio_spectral_probe(df, window=6)


def test_fleiss_kappa_hand_cases(spark):
    """Hand-computed Fleiss: four 2-rater units {aa, ab, bb, aa} give
    P_bar=0.75, P_e=34/64, kappa=0.466667; unequal panel sizes raise
    the fixed-panel contract error; a panel of 1 cannot measure
    agreement; empty input returns no row."""
    import pytest as _pytest

    from puffbird_spark.operators.evaluation import fleiss_kappa

    rows = [("u1", "a"), ("u1", "a"), ("u2", "a"), ("u2", "b"),
            ("u3", "b"), ("u3", "b"), ("u4", "a"), ("u4", "a")]
    df = spark.createDataFrame(rows, "unit string, value string")
    row = fleiss_kappa(df, "unit", "value").collect()[0]
    assert (row["n_units"], row["n_raters"]) == (4, 2)
    assert row["p_bar"] == 0.75 and row["p_e"] == 0.53125
    assert row["kappa"] == 0.466667

    uneq = spark.createDataFrame(
        rows + [("u5", "a")], "unit string, value string")
    with _pytest.raises(ValueError, match="fixed panel"):
        fleiss_kappa(uneq, "unit", "value")
    single = spark.createDataFrame(
        [("u1", "a"), ("u2", "b")], "unit string, value string")
    with _pytest.raises(ValueError, match=">= 2"):
        fleiss_kappa(single, "unit", "value")
    empty = spark.createDataFrame([], "unit string, value string")
    assert fleiss_kappa(empty, "unit", "value").collect() == []

    # the trusted n_raters escape hatch (ADVICE r12): identical result
    # without the probe collect; empty input still returns no row
    trow = fleiss_kappa(df, "unit", "value", n_raters=2).collect()[0]
    assert (trow["p_bar"], trow["p_e"], trow["kappa"]) \
        == (row["p_bar"], row["p_e"], row["kappa"])
    assert fleiss_kappa(empty, "unit", "value", n_raters=2).collect() == []
    with _pytest.raises(ValueError, match=">= 2"):
        fleiss_kappa(df, "unit", "value", n_raters=1)

    # a WRONG trusted panel size surfaces as NULL stats, not a
    # silently mis-scaled kappa (ADVICE r13): the release's assertion
    # fold counts units whose rating total != n
    wrong = fleiss_kappa(df, "unit", "value", n_raters=3).collect()[0]
    assert (wrong["n_units"], wrong["n_raters"]) == (4, 3)
    assert wrong["p_bar"] is None and wrong["p_e"] is None
    assert wrong["kappa"] is None


def test_roc_auc_hand_cases(spark):
    """Hand-computed AUC: perfect separation reads 1.0 and Gini 1.0;
    perfectly inverted reads 0.0; a constant score reads exactly 0.5
    (tie midranks, the half-credit contract); a known mixed case
    ({neg:1, pos:2, neg:3, pos:4} → 3 of 4 pos-neg pairs won → 0.75);
    single-class input releases NULL AUC/Gini; NULL scores/labels
    are excluded."""
    from puffbird_spark.operators.evaluation import roc_auc

    perfect = spark.createDataFrame(
        [(0.1, False), (0.2, False), (0.8, True), (0.9, True)],
        "s double, y boolean")
    row = roc_auc(perfect, "s", "y").collect()[0]
    assert (row["n_pos"], row["n_neg"]) == (2, 2)
    assert row["auc"] == 1.0 and row["gini"] == 1.0

    inverted = spark.createDataFrame(
        [(0.9, False), (0.8, False), (0.1, True), (0.2, True)],
        "s double, y boolean")
    assert roc_auc(inverted, "s", "y").collect()[0]["auc"] == 0.0

    const = spark.createDataFrame(
        [(1.0, True), (1.0, False), (1.0, True), (1.0, False)],
        "s double, y boolean")
    crow = roc_auc(const, "s", "y").collect()[0]
    assert crow["auc"] == 0.5 and crow["gini"] == 0.0

    mixed = spark.createDataFrame(
        [(1.0, False), (2.0, True), (3.0, False), (4.0, True)],
        "s double, y boolean")
    assert roc_auc(mixed, "s", "y").collect()[0]["auc"] == 0.75

    onecls = spark.createDataFrame(
        [(0.5, True), (0.7, True)], "s double, y boolean")
    orow = roc_auc(onecls, "s", "y").collect()[0]
    assert orow["auc"] is None and orow["gini"] is None

    withnull = spark.createDataFrame(
        [(0.1, False), (0.9, True), (None, True), (0.5, None)],
        "s double, y boolean")
    nrow = roc_auc(withnull, "s", "y").collect()[0]
    assert (nrow["n_pos"], nrow["n_neg"]) == (1, 1)
    assert nrow["auc"] == 1.0


def test_spearman_corr_hand_cases(spark):
    """Hand-computed Spearman: any strictly monotone map reads exactly
    1 (ranks, not values — x² vs x is still 1); inverted reads -1; the
    tied case x=[1,1,2] vs y=[1,2,3] has midranks [1.5,1.5,3] vs
    [1,2,3] → ρ = 18/√432 = 0.866025; a constant column has zero rank
    variance → NULL; NULL rows are complete-case excluded."""
    from puffbird_spark.operators.profile import spearman_corr

    mono = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 4.0), (3.0, 9.0), (10.0, 100.0)],
        "x double, y double")
    row = spearman_corr(mono, "x", "y").collect()[0]
    assert (row["n"], row["rho"]) == (4, 1.0)

    inv = spark.createDataFrame(
        [(1.0, 9.0), (2.0, 4.0), (3.0, 1.0)], "x double, y double")
    assert spearman_corr(inv, "x", "y").collect()[0]["rho"] == -1.0

    tied = spark.createDataFrame(
        [(1.0, 1.0), (1.0, 2.0), (2.0, 3.0)], "x double, y double")
    assert spearman_corr(tied, "x", "y").collect()[0]["rho"] == 0.866025

    const = spark.createDataFrame(
        [(5.0, 1.0), (5.0, 2.0), (5.0, 3.0)], "x double, y double")
    assert spearman_corr(const, "x", "y").collect()[0]["rho"] is None

    nulls = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (None, 3.0), (3.0, None), (3.0, 3.0)],
        "x double, y double")
    nrow = spearman_corr(nulls, "x", "y").collect()[0]
    assert (nrow["n"], nrow["rho"]) == (3, 1.0)


def test_pnm_codec_roundtrip_and_robustness(spark):
    """PNM (r14): all four formats x both maxval branches roundtrip
    with the closed-form sums; comments and arbitrary header
    whitespace parse; binary 16-bit is BIG-endian; malformed blobs
    (bad magic, truncated raster, over-maxval ASCII sample, zero
    dimensions) raise inside the DECODE_ERRORS contract; pnm_stats
    skips undecodable rows."""
    import pytest as _pytest

    from puffbird_spark.operators.multimodal import (
        decode_pnm, encode_pnm, pnm_stats)

    for fmt in ("P2", "P3", "P5", "P6"):
        for mv in (255, 1023):
            f, w, h, m, ch, s = decode_pnm(
                encode_pnm(fmt, 5, 4, seed=42, maxval=mv))
            assert (f, w, h, m) == (fmt, 5, 4, mv)
            assert ch == (1 if fmt in ("P2", "P5") else 3)
            assert len(s) == 5 * 4 * ch

    # header grammar: comments between ANY tokens, mixed whitespace
    messy = b"P2 # c1\n#c2\n  7\t1 # c3\n 255\n" + \
        b" ".join(str(v).encode() for v in range(7))
    f, w, h, m, ch, s = decode_pnm(messy)
    assert (w, h, s) == (7, 1, list(range(7)))

    # 16-bit binary is big-endian: sample 0x0102 = 258
    be = b"P5\n1 1\n1023\n" + bytes((0x01, 0x02))
    assert decode_pnm(be)[5] == [258]

    with _pytest.raises(ValueError, match="magic"):
        decode_pnm(b"P7\n1 1\n255\n\x00")
    with _pytest.raises(ValueError, match="truncated binary"):
        decode_pnm(b"P6\n4 4\n255\n" + b"\x00" * 10)
    with _pytest.raises(ValueError, match="truncated ASCII"):
        decode_pnm(b"P2\n4 4\n255\n1 2 3")
    with _pytest.raises(ValueError, match="exceeds maxval"):
        decode_pnm(b"P2\n2 1\n255\n10 300")
    # overlong rasters are corruption, not data (r14 self-review:
    # the docstring promised this; trailing garbage must not decode)
    with _pytest.raises(ValueError, match="overlong binary"):
        decode_pnm(encode_pnm("P6", 3, 2, seed=1) + b"\x00\x01")
    with _pytest.raises(ValueError, match="overlong ASCII"):
        decode_pnm(b"P2\n2 1\n255\n10 20 30")
    with _pytest.raises(ValueError, match="implausible"):
        decode_pnm(b"P2\n0 5\n255\n1")
    with _pytest.raises(ValueError, match="maxval"):
        decode_pnm(b"P5\n1 1\n0\n\x00")

    rows = [("good", bytearray(encode_pnm("P6", 3, 2, seed=9))),
            ("bad", bytearray(b"not a pnm at all")),
            ("null", None)]
    df = spark.createDataFrame(rows, "path string, content binary")
    got = pnm_stats(df).collect()
    assert len(got) == 1 and got[0]["path"] == "good"
    assert (got[0]["width"], got[0]["height"], got[0]["n_px"]) == (3, 2, 6)


def test_brown_forsythe_hand_cases(spark):
    """Brown-Forsythe: the outlier case a=[1,2,3,4,100] (median 3 →
    deviations [2,1,0,1,97]) vs constant b reads W = 1.106579 — the
    median centering is the point (mean centering would explode);
    even-n groups use the exact two-value median straddle; k=1 and
    zero-deviation inputs release NULL."""
    from puffbird_spark.operators.drift import brown_forsythe

    rows = [("a", v) for v in (1.0, 2.0, 3.0, 4.0, 100.0)] \
        + [("b", 10.0)] * 5
    df = spark.createDataFrame(rows, "g string, v double")
    row = brown_forsythe(df, "g", "v").collect()[0]
    assert (row["n"], row["k"]) == (10, 2)
    # z_a = [2,1,0,1,97]: S_a=101, Q_a=9415, S_b=Q_b=0
    # SSB = 2040.2 - 1020.1; SSW = 9415 - 2040.2
    expect = (1020.1 / 1.0) / (7374.8 / 8.0)
    assert row["w_stat"] == round(expect, 6) == 1.106579

    # even n: median of [1,2,3,4] is exactly 2.5 (the straddle)
    ev = spark.createDataFrame(
        [("a", v) for v in (1.0, 2.0, 3.0, 4.0)]
        + [("b", v) for v in (5.0, 5.0, 5.0, 9.0)],
        "g string, v double")
    erow = brown_forsythe(ev, "g", "v").collect()[0]
    # z_a = [1.5,.5,.5,1.5] (S=4, Q=5); z_b = [0,0,0,4] (S=4, Q=16)
    # SSB = (4+4) - 64/8 = 0; W = 0
    assert erow["w_stat"] == 0.0

    one = spark.createDataFrame([("a", 1.0), ("a", 2.0)],
                                "g string, v double")
    assert brown_forsythe(one, "g", "v").collect()[0]["w_stat"] is None

    flat = spark.createDataFrame(
        [("a", 3.0), ("a", 3.0), ("b", 7.0), ("b", 7.0)],
        "g string, v double")
    assert brown_forsythe(flat, "g", "v").collect()[0]["w_stat"] is None


def test_welch_t_test_hand_cases(spark):
    """Welch's t on a=[1,2,3,4] vs b=[10,20,30] matches the pure
    closed form (t = -3.01232, Welch-Satterthwaite df ~2.05 — far
    from the pooled-variance df of 5, which is the point); equal
    samples read t = 0; a constant-both-sides input has se2 = 0 →
    NULL; n < 2 on either side → NULL; string group raises."""
    import math

    import pytest as _pytest

    from puffbird_spark.operators.drift import welch_t_test

    a_vals, b_vals = [1.0, 2.0, 3.0, 4.0], [10.0, 20.0, 30.0]
    rows = [(True, v) for v in a_vals] + [(False, v) for v in b_vals]
    df = spark.createDataFrame(rows, "a boolean, v double")
    row = welch_t_test(df, "a", "v").collect()[0]

    na, nb = len(a_vals), len(b_vals)
    sa, sb = sum(a_vals), sum(b_vals)
    qa, qb = sum(v * v for v in a_vals), sum(v * v for v in b_vals)
    va = (na * qa - sa * sa) / (na * (na - 1.0))
    vb = (nb * qb - sb * sb) / (nb * (nb - 1.0))
    se2 = va / na + vb / nb
    t = (sa / na - sb / nb) / math.sqrt(se2)
    dfw = (se2 * se2) / ((va / na) ** 2 / (na - 1.0)
                         + (vb / nb) ** 2 / (nb - 1.0))
    assert (row["n_a"], row["n_b"]) == (4, 3)
    assert row["mean_a"] == 2.5 and row["mean_b"] == 20.0
    assert row["t_stat"] == round(t, 6) == -3.01232
    assert row["df_welch"] == round(dfw, 6)
    assert 2.0 < row["df_welch"] < 2.1

    same = spark.createDataFrame(
        [(True, 1.0), (True, 3.0), (False, 1.0), (False, 3.0)],
        "a boolean, v double")
    assert welch_t_test(same, "a", "v").collect()[0]["t_stat"] == 0.0

    const = spark.createDataFrame(
        [(True, 2.0), (True, 2.0), (False, 2.0), (False, 2.0)],
        "a boolean, v double")
    crow = welch_t_test(const, "a", "v").collect()[0]
    assert crow["t_stat"] is None and crow["df_welch"] is None

    tiny = spark.createDataFrame(
        [(True, 1.0), (False, 2.0), (False, 3.0)], "a boolean, v double")
    assert welch_t_test(tiny, "a", "v").collect()[0]["t_stat"] is None

    bad = spark.createDataFrame([("x", 1.0)], "g string, v double")
    with _pytest.raises(TypeError, match="boolean"):
        welch_t_test(bad, "g", "v")


def test_kruskal_wallis_hand_cases(spark):
    """Hand-computed Kruskal-Wallis: the no-ties textbook case
    [1,2,3]/[4,5,6]/[7,8,9] reads H = 7.2 (C = 1 so H' = H); the
    scipy ties case [1,1,2]/[2,3,3] reads H = 3.047619 and
    tie-corrected H' = 3.333333; an all-tied input has C = 0 → H' is
    NULL while H = 0; a single group has no contrast → NULL H."""
    from puffbird_spark.operators.drift import kruskal_wallis

    rows = [("a", v) for v in (1, 2, 3)] + \
        [("b", v) for v in (4, 5, 6)] + [("c", v) for v in (7, 8, 9)]
    df = spark.createDataFrame(rows, "g string, v int")
    row = kruskal_wallis(df, "g", "v").collect()[0]
    assert (row["n"], row["k"]) == (9, 3)
    assert row["h"] == 7.2 and row["h_adj"] == 7.2

    tied = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 2), ("b", 3), ("b", 3)],
        "g string, v int")
    trow = kruskal_wallis(tied, "g", "v").collect()[0]
    assert trow["h"] == 3.047619 and trow["h_adj"] == 3.333333

    const = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 5)], "g string, v int")
    crow = kruskal_wallis(const, "g", "v").collect()[0]
    assert crow["h"] == 0.0 and crow["h_adj"] is None

    one = spark.createDataFrame([("a", 1), ("a", 2)], "g string, v int")
    orow = kruskal_wallis(one, "g", "v").collect()[0]
    assert orow["k"] == 1 and orow["h"] is None and orow["h_adj"] is None


def test_ljung_box_hand_cases(spark):
    """Hand-computed Ljung-Box over [1,2,3,4] (ACF r1..r3 = 0.25,
    -0.3, -0.45): Q = 4·6·(0.0625/3 + 0.09/2 + 0.2025/1) = 6.44; a
    too-short series (n <= h) and a constant series release NULL Q —
    a partial portmanteau sum is not the h-lag statistic; bad h
    raises."""
    import pytest as _pytest

    from puffbird_spark.operators.timeseries import ljung_box

    rows = [("a", t, float(t + 1)) for t in range(4)] + \
        [("b", t, 2.0) for t in range(5)] + \
        [("c", t, float(t * t)) for t in range(3)]
    df = spark.createDataFrame(rows, "e string, t int, x double") \
        .withColumn("ts", F.col("t").cast("timestamp"))
    out = {r["e"]: r for r in ljung_box(
        df, "e", "ts", "x", h=3, order_tiebreak="t").collect()}
    assert out["a"]["n"] == 4 and out["a"]["q"] == 6.44
    assert out["b"]["q"] is None      # constant: every ACF is NULL
    assert out["c"]["q"] is None      # n = 3 = h: lag-3 has no pairs
    with _pytest.raises(ValueError, match="h must be"):
        ljung_box(df, "e", "ts", "x", h=0)


def test_jensen_shannon_hand_cases(spark):
    """Hand-computed JSD: identical distributions read 0 everywhere;
    fully disjoint supports read the ln2 maximum (1 bit, distance 1);
    the classic half-overlap case {A:2,B:2} vs {B:2,C:2} reads
    0.5·ln2 nats = 0.5 bits; an empty side is NULL; a string group
    column raises the shared type contract."""
    import math

    import pytest as _pytest

    from puffbird_spark.operators.drift import jensen_shannon

    same = spark.createDataFrame(
        [(True, "x"), (True, "y"), (False, "x"), (False, "y")],
        "a boolean, c string")
    r = jensen_shannon(same, "a", "c").collect()[0]
    assert (r["jsd_nats"], r["jsd_bits"], r["js_distance"]) \
        == (0.0, 0.0, 0.0)

    disjoint = spark.createDataFrame(
        [(True, "x"), (True, "y"), (False, "u"), (False, "v")],
        "a boolean, c string")
    d = jensen_shannon(disjoint, "a", "c").collect()[0]
    assert d["jsd_nats"] == round(math.log(2.0), 6)
    assert d["jsd_bits"] == 1.0 and d["js_distance"] == 1.0
    assert d["k_categories"] == 4

    half = spark.createDataFrame(
        [(True, "A")] * 2 + [(True, "B")] * 2
        + [(False, "B")] * 2 + [(False, "C")] * 2,
        "a boolean, c string")
    h = jensen_shannon(half, "a", "c").collect()[0]
    assert h["jsd_bits"] == 0.5
    assert h["jsd_nats"] == round(0.5 * math.log(2.0), 6)

    onesided = spark.createDataFrame(
        [(True, "x"), (True, "y")], "a boolean, c string")
    o = jensen_shannon(onesided, "a", "c").collect()[0]
    assert o["jsd_nats"] is None

    bad = spark.createDataFrame([("g", "x")], "g string, c string")
    with _pytest.raises(TypeError, match="boolean"):
        jensen_shannon(bad, "g", "c")


def test_changepoint_binary_hand_cases(spark):
    """Hand-computed binary segmentation: [1,1,1,5,5,5] splits at
    t=3 with gain 24 and means (1, 5); a flat series reads gain 0 at
    the earliest admissible split (tie → smallest t); a 3-point
    series under min_segment=2 has no admissible cut → NULL split;
    bad min_segment raises."""
    import pytest as _pytest

    from puffbird_spark.operators.timeseries import changepoint_binary

    rows = [("a", t, v) for t, v in enumerate((1.0, 1.0, 1.0,
                                               5.0, 5.0, 5.0))]
    rows += [("b", t, 2.0) for t in range(4)]
    rows += [("c", t, float(t)) for t in range(3)]
    df = spark.createDataFrame(rows, "e string, t int, x double") \
        .withColumn("ts", F.col("t").cast("timestamp"))
    out = {r["e"]: r for r in changepoint_binary(
        df, "e", "ts", "x", order_tiebreak="t").collect()}
    assert (out["a"]["split_t"], out["a"]["gain"]) == (3, 24.0)
    assert (out["a"]["mean_left"], out["a"]["mean_right"]) == (1.0, 5.0)
    assert (out["b"]["split_t"], out["b"]["gain"]) == (2, 0.0)
    assert out["c"]["split_t"] is None and out["c"]["n"] == 3
    with _pytest.raises(ValueError, match="min_segment"):
        changepoint_binary(df, "e", "ts", "x", order_tiebreak="t",
                           min_segment=0)


def test_cochran_q_hand_cases(spark):
    """Hand-computed Cochran's Q: the 4x3 binary design with columns
    C=(3,3,1), rows R=(2,1,3,1) reads Q = 2·(3·19−49)/(21−15) =
    2.666667; all-blocks-agree input has zero denominator → NULL;
    incomplete designs and NULL outcomes raise the contract."""
    import pytest as _pytest

    from puffbird_spark.operators.drift import cochran_q

    rows = [(1, "a", 1), (1, "b", 1), (1, "c", 0),
            (2, "a", 1), (2, "b", 0), (2, "c", 0),
            (3, "a", 1), (3, "b", 1), (3, "c", 1),
            (4, "a", 0), (4, "b", 1), (4, "c", 0)]
    df = spark.createDataFrame(rows, "blk int, trt string, y int")
    r = cochran_q(df, "blk", "trt", "y").collect()[0]
    assert (r["n_blocks"], r["k"]) == (4, 3)
    assert r["q_stat"] == 2.666667

    agree = spark.createDataFrame(
        [(b, t, b % 2) for b in (1, 2) for t in ("a", "b")],
        "blk int, trt string, y int")
    assert cochran_q(agree, "blk", "trt", "y") \
        .collect()[0]["q_stat"] is None

    with _pytest.raises(ValueError, match="COMPLETE block design"):
        cochran_q(
            spark.createDataFrame(rows[:8], "blk int, trt string, y int"),
            "blk", "trt", "y")
    withnull = spark.createDataFrame(
        [(1, "a", True), (1, "b", None), (2, "a", False),
         (2, "b", True)], "blk int, trt string, y boolean")
    with _pytest.raises(ValueError, match="NULL outcomes"):
        cochran_q(withnull, "blk", "trt", "y")


def test_isotonic_calibration_hand_cases(spark):
    """PAV: bin rates [.1,.5,.3,.2,.8] pool the middle violation run
    to 10/30 = 0.333333 while the monotone ends stay; an already-
    monotone input is untouched; out-of-range scores clamp into the
    edge bins; empty bins are absent; n_bins < 2 raises."""
    import pytest as _pytest

    from puffbird_spark.operators.evaluation import isotonic_calibration

    rows = []
    rates = {0: 1, 1: 5, 2: 3, 3: 2, 4: 8}
    for b, pos in rates.items():
        p = (b + 0.5) / 5
        rows += [(p, i < pos) for i in range(10)]
    df = spark.createDataFrame(rows, "p double, y boolean")
    out = {r["bin"]: r for r in
           isotonic_calibration(df, "p", "y", n_bins=5).collect()}
    assert [out[b]["rate_raw"] for b in range(5)] == \
        [0.1, 0.5, 0.3, 0.2, 0.8]
    assert [out[b]["rate_iso"] for b in range(5)] == \
        [0.1, 0.333333, 0.333333, 0.333333, 0.8]
    assert all(out[b]["n"] == 10 for b in range(5))

    mono = spark.createDataFrame(
        [(0.1, False), (0.1, False), (0.9, True), (0.9, True)],
        "p double, y boolean")
    mrows = isotonic_calibration(mono, "p", "y", n_bins=5).collect()
    assert sorted((r["bin"], r["rate_iso"]) for r in mrows) == \
        [(0, 0.0), (4, 1.0)]
    # only the two touched bins release (no fabricated rates)
    assert len(mrows) == 2

    clamp = spark.createDataFrame(
        [(-0.5, False), (1.7, True)], "p double, y boolean")
    crows = {r["bin"]: r for r in
             isotonic_calibration(clamp, "p", "y", n_bins=5).collect()}
    assert set(crows) == {0, 4}

    with _pytest.raises(ValueError, match="n_bins"):
        isotonic_calibration(df, "p", "y", n_bins=1)

    # NaN score ≡ NULL (r14 self-review: the clamp would otherwise
    # send NaN to the TOP bin via least/greatest)
    nan = spark.createDataFrame(
        [(0.1, False), (float("nan"), True), (None, True)],
        "p double, y boolean")
    nrows = isotonic_calibration(nan, "p", "y", n_bins=5).collect()
    assert len(nrows) == 1 and nrows[0]["bin"] == 0
    assert nrows[0]["n"] == 1


def test_tga_stats_matches_closed_form(spark):
    """tga_stats over the four fixture families the multimodal_tga
    oracle replays (gray, RLE, alpha, right-to-left): channel sums and
    the normalized top-left pixel equal the closed-form fixture
    formula. A NULL blob and a truncated blob emit no row."""
    from puffbird_spark.operators.multimodal import encode_tga, tga_stats

    cases = {
        "gray": dict(width=7, height=5, seed=3, gray=True),
        "rle": dict(width=9, height=4, seed=11, rle=True),
        "alpha": dict(width=6, height=6, seed=250, alpha=True,
                      top_down=True),
        "rtl": dict(width=5, height=7, seed=42, right_to_left=True),
    }

    def expect(width, height, seed, gray=False, rle=False, alpha=False,
               **_):
        xy = [(x, y) for y in range(height) for x in range(width)]
        if gray:
            r = g = b = [(seed + 3 * x + 7 * y) % 256 for x, y in xy]
        else:
            r = [(seed + x + y) % 256 for x, y in xy]
            g = [(2 * seed + 2 * x + y) % 256 for x, y in xy]
            b = [(3 * seed + x + 2 * y) % 256 for x, y in xy]
        channels = 1 if gray else (4 if alpha else 3)
        return (width, height, channels, rle, width * height,
                sum(r), sum(g), sum(b), r[0], g[0], b[0])

    cut = encode_tga(6, 6, seed=2)[:30]
    rows = [(p, bytearray(encode_tga(**kw))) for p, kw in cases.items()]
    rows += [("null", None), ("cut", bytearray(cut))]
    df = spark.createDataFrame(rows, "path string, content binary")
    got = {r["path"]: tuple(r)[1:] for r in tga_stats(df).collect()}
    assert got == {p: expect(**kw) for p, kw in cases.items()}


def test_media_stage_skips_overwide_header_fields(spark):
    """A structurally valid PNG declaring a 3e9-pixel width and zero
    height decodes to an empty raster; the released width cannot fit
    the stage's int column, so the blob is skipped like an undecodable
    one instead of wrapping or failing the job."""
    import struct as _struct
    import zlib as _zlib

    from puffbird_spark.operators.multimodal import (
        augment_images, encode_png, image_content_digest)

    def _chunk(tag, payload):
        crc = _zlib.crc32(tag + payload) & 0xFFFFFFFF
        return (_struct.pack(">I", len(payload)) + tag + payload
                + _struct.pack(">I", crc))

    wide = (b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", _struct.pack(
                ">IIBBBBB", 3_000_000_000, 0, 8, 0, 0, 0, 0))
            + _chunk(b"IDAT", _zlib.compress(b""))
            + _chunk(b"IEND", b""))
    img = spark.createDataFrame(
        [("good.png", bytearray(encode_png(8, 8, seed=1))),
         ("wide.png", bytearray(wide))],
        "path string, content binary")
    assert [r["path"] for r in image_content_digest(img).collect()] \
        == ["good.png"]
    assert {r["path"] for r in augment_images(img).collect()} \
        == {"good.png"}


def test_tga_codec_robustness():
    """TGA corners beyond the all-variant roundtrip (which lives in
    the staged-gate oracle): color-mapped and 16-bpp inputs are
    honest unsupported errors; truncated RLE and raw rasters raise;
    an RLE stream overrunning the pixel count raises."""
    import pytest as _pytest

    from puffbird_spark.operators.multimodal import decode_tga, encode_tga

    good = encode_tga(4, 3, seed=5, rle=True)
    assert decode_tga(good)[:2] == (4, 3)

    cmapped = bytearray(good)
    cmapped[1] = 1
    with _pytest.raises(ValueError, match="color-mapped"):
        decode_tga(bytes(cmapped))
    bpp16 = bytearray(encode_tga(2, 2, seed=1))
    bpp16[16] = 16
    with _pytest.raises(ValueError, match="truecolor at 16"):
        decode_tga(bytes(bpp16))
    with _pytest.raises(ValueError, match="truncated"):
        decode_tga(encode_tga(6, 6, seed=2)[:30])
    with _pytest.raises(ValueError, match="truncated"):
        decode_tga(encode_tga(6, 6, seed=2, rle=True)[:24])
    with _pytest.raises(ValueError, match="truncated RLE"):
        # cut INSIDE a run packet header region: keep only the header
        decode_tga(encode_tga(6, 6, seed=2, rle=True)[:18])
    # a run packet claiming 128 pixels on a 4-px image overruns
    overrun = (bytes((0, 0, 10, 0, 0, 0, 0, 0, 0, 0, 0, 0,
                      2, 0, 2, 0, 24, 0))
               + bytes((0xFF,)) + bytes((1, 2, 3)))
    with _pytest.raises(ValueError, match="overruns"):
        decode_tga(overrun)

    # right-to-left origin (descriptor bit 4) normalizes columns too
    # (r14 self-review: sums are mirror-blind, positions are not)
    a = decode_tga(encode_tga(4, 3, seed=11))
    b = decode_tga(encode_tga(4, 3, seed=11, right_to_left=True))
    assert a == b


def test_friedman_test_hand_cases(spark):
    """Hand-computed Friedman: the textbook 3x3 no-ties case (ranks
    R = 4,5,9) reads Q = 12·14/36 = 4.666667; a within-block tie
    (block 3 = 2,2,3) reads the tie-general 5.636364; identical
    treatments everywhere (all ranks tied) release NULL; an
    incomplete design and k=1 raise the completeness contract."""
    import pytest as _pytest

    from puffbird_spark.operators.drift import friedman_test

    rows = [(1, "a", 3), (1, "b", 4), (1, "c", 5),
            (2, "a", 5), (2, "b", 6), (2, "c", 7),
            (3, "a", 2), (3, "b", 1), (3, "c", 3)]
    df = spark.createDataFrame(rows, "blk int, trt string, v int")
    r = friedman_test(df, "blk", "trt", "v").collect()[0]
    assert (r["n_blocks"], r["k"]) == (3, 3)
    assert r["q_stat"] == 4.666667

    tied = spark.createDataFrame(
        rows[:6] + [(3, "a", 2), (3, "b", 2), (3, "c", 3)],
        "blk int, trt string, v int")
    tr = friedman_test(tied, "blk", "trt", "v").collect()[0]
    assert tr["q_stat"] == 5.636364

    flat = spark.createDataFrame(
        [(b, t, 1) for b in (1, 2) for t in ("a", "b")],
        "blk int, trt string, v int")
    assert friedman_test(flat, "blk", "trt", "v") \
        .collect()[0]["q_stat"] is None

    with _pytest.raises(ValueError, match="COMPLETE block design"):
        friedman_test(
            spark.createDataFrame(rows[:8], "blk int, trt string, v int"),
            "blk", "trt", "v")
    with _pytest.raises(ValueError, match=">= 2 treatments"):
        friedman_test(
            spark.createDataFrame([(1, "a", 1), (2, "a", 2)],
                                  "blk int, trt string, v int"),
            "blk", "trt", "v")


def test_gini_coefficient_hand_cases(spark):
    """Hand-computed Gini: perfectly even input reads 0; [0,0,0,10]
    reads (n-1)/n = 0.75 (one row holds everything); [1,2,3,4] reads
    exactly 0.25; ties collapse correctly ([1,1,3,3] = 0.25); a
    negative value or zero total releases NULL with min_value
    exposed."""
    from puffbird_spark.operators.profile import gini_coefficient

    def g(vals):
        df = spark.createDataFrame([(float(v),) for v in vals],
                                   "v double")
        return gini_coefficient(df, "v").collect()[0]

    assert g([5, 5, 5])["gini"] == 0.0
    assert g([0, 0, 0, 10])["gini"] == 0.75
    assert g([1, 2, 3, 4])["gini"] == 0.25
    assert g([1, 1, 3, 3])["gini"] == 0.25
    neg = g([-1, 2, 3])
    assert neg["gini"] is None and neg["min_value"] == -1.0
    assert g([0, 0])["gini"] is None


def test_cliffs_delta_hand_cases(spark):
    """Hand-computed Cliff's delta: a=[3,4,5] vs b=[1,2,3] has 8 wins,
    0 losses, 1 tie of 9 pairs → δ = 8/9 = 0.888889, 'large';
    identical samples read δ = 0, 'negligible'; an empty side is
    NULL; a string group column raises the shared type contract."""
    import pytest as _pytest

    from puffbird_spark.operators.drift import cliffs_delta

    rows = [(True, 3), (True, 4), (True, 5),
            (False, 1), (False, 2), (False, 3)]
    df = spark.createDataFrame(rows, "a boolean, v int")
    row = cliffs_delta(df, "a", "v").collect()[0]
    assert (row["n_a"], row["n_b"]) == (3, 3)
    assert row["delta"] == 0.888889 and row["magnitude"] == "large"

    same = spark.createDataFrame(
        [(True, 1), (True, 2), (False, 1), (False, 2)],
        "a boolean, v int")
    srow = cliffs_delta(same, "a", "v").collect()[0]
    assert srow["delta"] == 0.0 and srow["magnitude"] == "negligible"

    onesided = spark.createDataFrame(
        [(True, 1), (True, 2)], "a boolean, v int")
    orow = cliffs_delta(onesided, "a", "v").collect()[0]
    assert orow["delta"] is None and orow["magnitude"] is None

    bad = spark.createDataFrame([("x", 1)], "g string, v int")
    with _pytest.raises(TypeError, match="boolean"):
        cliffs_delta(bad, "g", "v")


def test_kendall_tau_b_hand_cases(spark):
    """Hand-computed Kendall tau-b: perfect concordance (any strictly
    monotone map) reads 1; inverted reads -1; the single-inversion
    permutation y=[1,3,2,4] has C=5, D=1 → 4/6 = 0.666667; the scipy
    doc ties case x=[12,2,1,12,2], y=[1,4,7,1,0] reads -0.471405
    (C=2, D=6, n1=2, n2=1); a constant column is undefined → NULL;
    NULL and NaN rows are complete-case excluded."""
    from puffbird_spark.operators.profile import kendall_tau_b

    mono = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 4.0), (3.0, 9.0), (10.0, 100.0)],
        "x double, y double")
    row = kendall_tau_b(mono, "x", "y").collect()[0]
    assert (row["n"], row["concordant"], row["discordant"],
            row["tau_b"]) == (4, 6, 0, 1.0)

    inv = spark.createDataFrame(
        [(1.0, 9.0), (2.0, 4.0), (3.0, 1.0)], "x double, y double")
    assert kendall_tau_b(inv, "x", "y").collect()[0]["tau_b"] == -1.0

    swap = spark.createDataFrame(
        [(1, 1), (2, 3), (3, 2), (4, 4)], "x int, y int")
    srow = kendall_tau_b(swap, "x", "y").collect()[0]
    assert (srow["concordant"], srow["discordant"]) == (5, 1)
    assert srow["tau_b"] == 0.666667

    tied = spark.createDataFrame(
        list(zip([12, 2, 1, 12, 2], [1, 4, 7, 1, 0])), "x int, y int")
    trow = kendall_tau_b(tied, "x", "y").collect()[0]
    assert (trow["concordant"], trow["discordant"]) == (2, 6)
    assert trow["tau_b"] == -0.471405

    const = spark.createDataFrame(
        [(5.0, 1.0), (5.0, 2.0)], "x double, y double")
    assert kendall_tau_b(const, "x", "y").collect()[0]["tau_b"] is None

    messy = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (None, 3.0), (3.0, None),
         (float("nan"), 1.0), (3.0, 3.0)],
        "x double, y double")
    mrow = kendall_tau_b(messy, "x", "y").collect()[0]
    assert (mrow["n"], mrow["tau_b"]) == (3, 1.0)


def test_ordinal_association_hand_cases(spark):
    """Hand-computed gamma / Somers' D / tau-c. The 2x2 table
    [[10,5],[3,12]]: C = 10*12 = 120, D = 5*3 = 15 → gamma = 105/135
    = 0.777778 (Yule's Q), n0 = 435, n1 = 210, n2 = 214 →
    d_yx = 105/225 = 0.466667, d_xy = 105/221 = 0.475113,
    tau_c = 4*105/900 = 0.466667 (m = 2). Perfect concordance on an
    untied series reads 1 everywhere; a constant x releases NULL
    d_yx / tau_c while gamma is NULL too (C = D = 0)."""
    from puffbird_spark.operators.profile import ordinal_association

    two = spark.createDataFrame(
        [(0, 0)] * 10 + [(0, 1)] * 5 + [(1, 0)] * 3 + [(1, 1)] * 12,
        "x int, y int")
    r = ordinal_association(two, "x", "y").collect()[0]
    assert (r["n"], r["n_x_levels"], r["n_y_levels"]) == (30, 2, 2)
    assert (r["concordant"], r["discordant"]) == (120, 15)
    assert r["gamma"] == 0.777778
    assert r["somers_d_yx"] == 0.466667
    assert r["somers_d_xy"] == 0.475113
    assert r["tau_c"] == 0.466667

    mono = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "x int, y int")
    m = ordinal_association(mono, "x", "y").collect()[0]
    assert (m["gamma"], m["somers_d_yx"], m["somers_d_xy"]) == (
        1.0, 1.0, 1.0)
    # square untied 4x4: tau_c = 2*4*6/(16*3) = 1.0 exactly
    assert m["tau_c"] == 1.0

    const = spark.createDataFrame(
        [(5, 1), (5, 2), (5, 3)], "x int, y int")
    c = ordinal_association(const, "x", "y").collect()[0]
    assert c["gamma"] is None and c["somers_d_yx"] is None
    assert c["tau_c"] is None


def test_mcnemar_hand_cases(spark):
    """Hand-computed McNemar: the textbook b=10, c=4 discordant
    split reads chi2 = 36/14 = 2.571429, corrected = 25/14 =
    1.785714, OR = 2.5; perfect agreement (b=c=0) releases NULL
    statistics; b>0 with c=0 keeps chi2 but NULLs the OR; NULL in
    either outcome drops the pair (complete-case)."""
    from puffbird_spark.operators.drift import mcnemar_test

    rows = ([(True, True)] * 6 + [(False, False)] * 5
            + [(True, False)] * 10 + [(False, True)] * 4)
    r = mcnemar_test(
        spark.createDataFrame(rows, "x boolean, y boolean"),
        "x", "y").collect()[0]
    assert (r["n_pairs"], r["both_pos"], r["both_neg"],
            r["only_x"], r["only_y"]) == (25, 6, 5, 10, 4)
    assert r["chi2"] == 2.571429
    assert r["chi2_corrected"] == 1.785714
    assert r["odds_ratio"] == 2.5

    agree = spark.createDataFrame(
        [(True, True), (False, False)], "x boolean, y boolean")
    a = mcnemar_test(agree, "x", "y").collect()[0]
    assert a["chi2"] is None and a["odds_ratio"] is None

    onesided = spark.createDataFrame(
        [(True, False)] * 3 + [(True, True)], "x boolean, y boolean")
    o = mcnemar_test(onesided, "x", "y").collect()[0]
    assert o["chi2"] == 3.0 and o["chi2_corrected"] == 1.333333
    assert o["odds_ratio"] is None

    nulls = spark.createDataFrame(
        [(True, None), (None, True), (True, False)],
        "x boolean, y boolean")
    n = mcnemar_test(nulls, "x", "y").collect()[0]
    assert n["n_pairs"] == 1 and n["only_x"] == 1


def test_durbin_watson_hand_cases(spark):
    """Hand-computed DW: the alternating series [1,-1,1,-1] reads
    n·Σ(Δ)²/(nΣu²−(Σu)²) = 4·12/16 = 3.0 (negative autocorrelation
    → toward 4); the linear trend [1,2,3,4] reads 12/20 = 0.6
    (positive → toward 0); a constant series and a 1-row series
    release NULL; entities are independent."""
    from puffbird_spark.operators.timeseries import durbin_watson

    rows = ([("a", t, v) for t, v in
             enumerate([1.0, -1.0, 1.0, -1.0])]
            + [("b", t, v) for t, v in
               enumerate([1.0, 2.0, 3.0, 4.0])]
            + [("c", t, 7.0) for t in range(3)]
            + [("d", 0, 5.0)])
    out = {r["e"]: r for r in durbin_watson(
        spark.createDataFrame(rows, "e string, t int, v double"),
        "e", "t", "v", order_tiebreak="t").collect()}
    assert out["a"]["dw"] == 3.0
    assert out["b"]["dw"] == 0.6
    assert out["c"]["dw"] is None
    assert out["d"]["dw"] is None and out["d"]["n"] == 1


def test_forecast_accuracy_hand_cases(spark):
    """Hand-computed WAPE/MAPE/sMAPE: y=[100,200] f=[90,220] reads
    wape = 30/300 = 0.1, mape = 0.1 exactly, smape = the integer-
    floor mean of units 105263157 and 95238095 → 0.100251; a
    zero-actual row is excluded from MAPE (counted) but feeds WAPE;
    a y=f=0 row is excluded from both per-row metrics; a perfect
    forecast reads 0 everywhere; all-zero actuals release NULL
    wape."""
    from puffbird_spark.operators.timeseries import forecast_accuracy

    rows = [("a", 100.0, 90.0), ("a", 200.0, 220.0),
            ("b", 0.0, 5.0), ("b", 10.0, 10.0), ("b", 0.0, 0.0),
            ("c", 7.0, 7.0),
            ("z", 0.0, 3.0)]
    out = {r["e"]: r for r in forecast_accuracy(
        spark.createDataFrame(rows, "e string, y double, f double"),
        "e", "y", "f").collect()}
    a = out["a"]
    assert a["wape"] == 0.1 and a["mape"] == 0.1
    assert a["smape"] == 0.100251
    assert (a["n_zero_actual"], a["n_zero_pair"]) == (0, 0)

    b = out["b"]
    assert (b["n"], b["n_zero_actual"], b["n_zero_pair"]) == (3, 2, 1)
    assert b["wape"] == 0.5  # |0-5| + 0 + 0 over |0|+|10|+|0|
    assert b["mape"] == 0.0  # only the exact row survives
    # smape rows: (0,5) → 2·5/5 = 2.0 units 2e9; (10,10) → 0
    assert b["smape"] == 1.0

    c = out["c"]
    assert (c["wape"], c["mape"], c["smape"]) == (0.0, 0.0, 0.0)

    z = out["z"]
    assert z["wape"] is None and z["mape"] is None
    assert z["smape"] == 2.0


def test_average_precision_hand_cases(spark):
    """Hand-computed AP (sklearn step definition): labels [1,0,1,1]
    at descending scores read (1 + 2/3 + 3/4)/3 = 0.805556 through
    the integer ladder; a perfect ranking reads 1.0; an all-tied
    score pair (one pos, one neg) reads 0.5 (one operating point);
    no positives releases NULL; NaN scores drop."""
    from puffbird_spark.operators.evaluation import average_precision

    mixed = spark.createDataFrame(
        [(4.0, 1), (3.0, 0), (2.0, 1), (1.0, 1)],
        "s double, y int")
    r = average_precision(mixed, "s", "y").collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (3, 1)
    assert r["ap"] == 0.805556

    perfect = spark.createDataFrame(
        [(4.0, 1), (3.0, 1), (2.0, 0), (1.0, 0)],
        "s double, y int")
    assert average_precision(
        perfect, "s", "y").collect()[0]["ap"] == 1.0

    tied = spark.createDataFrame(
        [(1.0, 1), (1.0, 0)], "s double, y int")
    assert average_precision(tied, "s", "y").collect()[0]["ap"] == 0.5

    neg = spark.createDataFrame(
        [(1.0, 0), (2.0, 0)], "s double, y int")
    assert average_precision(neg, "s", "y").collect()[0]["ap"] is None

    nan = spark.createDataFrame(
        [(float("nan"), 1), (2.0, 1)], "s double, y int")
    nr = average_precision(nan, "s", "y").collect()[0]
    assert nr["n_pos"] == 1 and nr["ap"] == 1.0


def test_t_closeness_hand_cases(spark):
    """Hand-computed t-closeness: with global {A:6, B:2}, the pure-A
    class of 4 reads t_nominal = 16/(2·4·8) = 0.25 and (A<B ordered)
    t_emd = 8/(4·8·1) = 0.25; a class matching the global mix
    exactly reads 0 on both; NULL sensitive and NULL QI rows drop."""
    from puffbird_spark.operators.privacy import t_closeness_audit

    rows = ([("x", "A")] * 4
            + [("y", "A")] * 2 + [("y", "B")] * 2)
    out = {r["q"]: r for r in t_closeness_audit(
        spark.createDataFrame(rows, "q string, v string"),
        ["q"], "v", t=0.2).collect()}
    assert out["x"]["t_nominal"] == 0.25
    assert out["x"]["t_emd"] == 0.25
    assert out["x"]["t_violation"] is True
    assert out["y"]["t_nominal"] == 0.25  # {2,2} vs global {6,2}

    match = ([("x", "A")] * 3 + [("x", "B")]
             + [("y", "A")] * 3 + [("y", "B")])
    m = {r["q"]: r for r in t_closeness_audit(
        spark.createDataFrame(match, "q string, v string"),
        ["q"], "v").collect()}
    assert m["x"]["t_nominal"] == 0.0 and m["x"]["t_emd"] == 0.0
    assert m["x"]["t_violation"] is False

    nulls = [("x", "A"), ("x", None), (None, "A"), ("y", "A")]
    n = t_closeness_audit(
        spark.createDataFrame(nulls, "q string, v string"),
        ["q"], "v").collect()
    assert sorted((r["q"], r["class_size"]) for r in n) == [
        ("x", 1), ("y", 1)]


def test_entropy_l_diversity_hand_cases(spark):
    """Hand-computed entropy l-diversity through the integer nano
    ladder: a balanced 2-value class of 4 reads entropy 0.693147
    (≥ ln 2 → no violation, the boundary case the integer compare
    settles); the skewed {3,1} class reads 0.562335 and violates;
    a single-value class reads 0 / effective-l 1.0 / violates."""
    from puffbird_spark.operators.privacy import (
        entropy_l_diversity_audit)

    rows = ([("b", "u")] * 2 + [("b", "w")] * 2
            + [("s", "u")] * 3 + [("s", "w")]
            + [("o", "u")] * 4)
    out = {r["q"]: r for r in entropy_l_diversity_audit(
        spark.createDataFrame(rows, "q string, v string"),
        ["q"], "v", ell=2.0).collect()}
    b = out["b"]
    assert b["entropy"] == 0.693147 and b["l_violation"] is False
    assert b["entropy_l"] == 2.0
    s = out["s"]
    assert s["entropy"] == 0.562335 and s["l_violation"] is True
    o = out["o"]
    assert (o["entropy"], o["entropy_l"], o["l_distinct"]) == (
        0.0, 1.0, 1)
    assert o["l_violation"] is True


def test_autocorrelation_hand_cases(spark):
    """Hand-computed ACF over [1,2,3,4] (mean 2.5, den 5): r1 = 1.25/5
    = 0.25, r2 = -1.5/5 = -0.3, r3 = -2.25/5 = -0.45; a constant
    series has zero denominator → NULL at every lag; entities are
    independent; omitting order_tiebreak warns; bad lags raise."""
    import warnings

    import pytest as _pytest

    from puffbird_spark.operators.timeseries import autocorrelation

    rows = [("a", i, float(v)) for i, v in enumerate([1, 2, 3, 4])]
    rows += [("c", i, 7.0) for i in range(4)]
    df = spark.createDataFrame(rows, "e string, t int, x double") \
        .withColumn("ts", F.col("t").cast("timestamp"))
    out = {(r["e"], r["lag"]): r for r in autocorrelation(
        df, "e", "ts", "x", lags=(1, 2, 3),
        order_tiebreak="t").collect()}
    assert out[("a", 1)]["acf"] == 0.25
    assert out[("a", 2)]["acf"] == -0.3
    assert out[("a", 3)]["acf"] == -0.45
    assert (out[("a", 1)]["n"], out[("a", 1)]["n_pairs"]) == (4, 3)
    for k in (1, 2, 3):
        assert out[("c", k)]["acf"] is None

    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        autocorrelation(df, "e", "ts", "x")
    assert any("order_tiebreak" in str(w.message) for w in rec)
    with _pytest.raises(ValueError, match="lags"):
        autocorrelation(df, "e", "ts", "x", lags=(0, 1))

    # r13 self-review #2: a NULL timestamp has no sequence position
    # (Spark would put it FIRST, DuckDB LAST) — excluded, so the
    # remaining series is identical to the clean one
    dirty = spark.createDataFrame(
        rows[:4] + [("a", None, 99.0)], "e string, t int, x double"
    ).withColumn("ts", F.col("t").cast("timestamp"))
    drow = {r["lag"]: r for r in autocorrelation(
        dirty.filter("e = 'a'"), "e", "ts", "x", lags=(1,),
        order_tiebreak="t").collect()}
    assert drow[1]["n"] == 4 and drow[1]["acf"] == 0.25


def test_query_registry_rejects_duplicate_names():
    """r13 regression guard: registering a gate under an existing name
    must raise, not silently shadow (import order decided the winner —
    the timeseries_acf collision ran the OLD gate under the new name)."""
    import pytest as _pytest

    from puffbird_spark.queries.base import QUERIES, query

    existing = next(iter(QUERIES))
    with _pytest.raises(ValueError, match="already registered"):
        @query(existing)
        def shadow(spark, sf_dir):  # pragma: no cover
            return None

    # but re-registering the SAME function (module reload / double
    # import under another path) is idempotent, not a hard failure
    # (ADVICE r13) — provenance (module, qualname) is the key, since
    # importlib.reload creates fresh function objects.
    prev = QUERIES[existing]
    clone = __import__("types").FunctionType(
        prev.__code__, prev.__globals__, prev.__name__)
    clone.__module__ = prev.__module__
    clone.__qualname__ = prev.__qualname__
    assert query(existing)(clone) is clone
    assert QUERIES[existing] is clone
    QUERIES[existing] = prev  # restore the registry


def test_probabilistic_scores_hand_cases(spark):
    """Hand-computed Brier/log-loss: perfect confident predictions
    read 0/~0; p=0.5 everywhere reads brier 0.25, log_loss ln2 =
    0.693147; a maximally wrong confident prediction clamps to eps
    and reads -ln(1e-15) = 34.538776; out-of-range p clamps instead
    of ANSI-killing; NULLs are excluded; empty input releases NULLs."""
    from puffbird_spark.operators.evaluation import probabilistic_scores

    perfect = spark.createDataFrame(
        [(1.0, True), (0.0, False)], "p double, y boolean")
    row = probabilistic_scores(perfect, "p", "y").collect()[0]
    assert (row["n"], row["n_pos"]) == (2, 1)
    assert row["brier"] == 0.0 and row["log_loss"] == 0.0

    half = spark.createDataFrame(
        [(0.5, True), (0.5, False)], "p double, y boolean")
    hrow = probabilistic_scores(half, "p", "y").collect()[0]
    assert hrow["brier"] == 0.25 and hrow["log_loss"] == 0.693147

    wrong = spark.createDataFrame([(1.0, False)], "p double, y boolean")
    wrow = probabilistic_scores(wrong, "p", "y").collect()[0]
    assert wrow["brier"] == 1.0 and wrow["log_loss"] == 34.538776

    clamp = spark.createDataFrame(
        [(1.5, True), (-0.25, False), (None, True), (0.5, None)],
        "p double, y boolean")
    crow = probabilistic_scores(clamp, "p", "y").collect()[0]
    assert (crow["n"], crow["brier"]) == (2, 0.0)
    assert crow["log_loss"] == 0.0

    empty = spark.createDataFrame([], "p double, y boolean")
    erow = probabilistic_scores(empty, "p", "y").collect()[0]
    assert erow["n"] == 0 and erow["brier"] is None


def test_zipf_fit_matches_reference(spark):
    """zipf_fit agrees value-for-value with an independent pure-Python
    recompute of the same 9-dp snap ladder over a corpus with KNOWN
    token counts (a:5 b:3 c:3 d:1 — note the b/c tie broken by token
    order); a single-token corpus has zero rank variance → NULL fit;
    empty/NULL texts contribute nothing."""
    import math

    from puffbird_spark.operators.profile import zipf_fit

    docs = spark.createDataFrame(
        [("a b a c",), ("a b c b a c a",), ("d",), ("",), (None,)],
        "text string")
    row = zipf_fit(docs, "text", top_n=1000).collect()[0]
    counts = {"a": 5, "b": 3, "c": 3, "d": 1}
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    pts = [(round(math.log(r + 1), 9), round(math.log(c), 9))
           for r, (_, c) in enumerate(ranked)]
    n = float(len(pts))
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(round(x * y, 9) for x, y in pts)
    sxx = sum(round(x * x, 9) for x, _ in pts)
    syy = sum(round(y * y, 9) for _, y in pts)
    dxy, dxx, dyy = n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy
    assert (row["n_vocab"], row["n_fit"]) == (4, 4)
    assert row["slope"] == round(dxy / dxx, 6)
    assert row["intercept"] == round((sy - (dxy / dxx) * sx) / n, 6)
    assert row["corr"] == round(dxy / math.sqrt(dxx * dyy), 6)
    assert row["slope"] < 0  # frequencies fall with rank

    single = spark.createDataFrame([("x x x",)], "text string")
    srow = zipf_fit(single, "text").collect()[0]
    assert (srow["n_vocab"], srow["n_fit"]) == (1, 1)
    assert srow["slope"] is None and srow["corr"] is None


def test_tiff_exif_roundtrip_and_robustness(spark):
    """The TIFF fixture encoder and the IFD walker agree field-for-
    field in BOTH byte orders; corrupt blobs (short, bad BOM, bad
    magic) raise ValueError locally and SKIP silently in the
    mapInPandas stage; a missing EXIF pointer yields 0 exif entries."""
    import pytest as _pytest

    from puffbird_spark.operators.multimodal import (
        decode_tiff_exif, encode_tiff_exif, exif_metadata)

    for seed, bo in [(0, "II"), (1, "MM"), (996, "II"), (123, "MM")]:
        meta = decode_tiff_exif(encode_tiff_exif(seed, bo))
        assert meta["byte_order"] == bo
        assert (meta["n_ifd0"], meta["n_exif"]) == (8, 3)
        assert meta["width"] == 640 + seed % 1360
        assert meta["height"] == 480 + seed % 600
        assert meta["orientation"] == 1 + seed % 8
        assert meta["make"] == f"CAM{seed % 10}"
        assert meta["model"] == f"MODEL-{seed % 100}"
        assert meta["iso"] == 100 * (1 + seed % 32)
        assert (meta["exposure_num"], meta["exposure_den"]) \
            == (1, 60 + seed % 940)
        assert meta["focal_den"] == 10
        assert meta["datetime"].startswith("2024:")

    with _pytest.raises(ValueError, match="short"):
        decode_tiff_exif(b"II")
    with _pytest.raises(ValueError, match="byte order"):
        decode_tiff_exif(b"XX" + b"\x00" * 10)
    with _pytest.raises(ValueError, match="magic"):
        decode_tiff_exif(b"II" + b"\x99\x00" + b"\x00" * 8)
    with _pytest.raises(ValueError):
        encode_tiff_exif(0, "XY")

    rows = [("good", bytearray(encode_tiff_exif(5, "MM"))),
            ("bad", bytearray(b"not a tiff at all")),
            ("null", None)]
    df = spark.createDataFrame(rows, "path string, content binary")
    got = exif_metadata(df).collect()
    assert len(got) == 1 and got[0]["path"] == "good"
    assert got[0]["width"] == 645 and got[0]["byte_order"] == "MM"


def test_effect_size_hand_cases(spark):
    """Hand-computed effect sizes: a=[2,4] vs b=[1,3] → pooled var 2,
    d = 1/√2 = 0.707107, g = d·(1-3/7) = 0.404061; equal groups read
    d=0; a single-member side or zero pooled variance reads NULL;
    string group columns are rejected at plan time; keyed variant
    groups independently."""
    import pytest as _pytest

    from puffbird_spark.operators.drift import effect_size

    df = spark.createDataFrame(
        [(2.0, True), (4.0, True), (1.0, False), (3.0, False)],
        "v double, a boolean")
    row = effect_size(df, "a", "v").collect()[0]
    assert (row["n_a"], row["n_b"]) == (2, 2)
    assert (row["mean_a"], row["mean_b"]) == (3.0, 2.0)
    assert row["cohens_d"] == 0.707107 and row["hedges_g"] == 0.404061

    same = spark.createDataFrame(
        [(1.0, True), (3.0, True), (1.0, False), (3.0, False)],
        "v double, a boolean")
    assert effect_size(same, "a", "v").collect()[0]["cohens_d"] == 0.0

    tiny = spark.createDataFrame(
        [(2.0, True), (1.0, False), (3.0, False)], "v double, a boolean")
    trow = effect_size(tiny, "a", "v").collect()[0]
    assert trow["cohens_d"] is None and trow["mean_a"] == 2.0

    const = spark.createDataFrame(
        [(5.0, True), (5.0, True), (5.0, False), (5.0, False)],
        "v double, a boolean")
    assert effect_size(const, "a", "v").collect()[0]["cohens_d"] is None

    lab = spark.createDataFrame(
        [("x", 1.0)], "g string, v double")
    with _pytest.raises(TypeError, match="boolean"):
        effect_size(lab, "g", "v")
    krow = {r["k"]: r for r in effect_size(
        spark.createDataFrame(
            [("k1", 2.0, True), ("k1", 4.0, True),
             ("k1", 1.0, False), ("k1", 3.0, False),
             ("k2", 9.0, True), ("k2", 9.0, True),
             ("k2", 1.0, False), ("k2", 1.0, False)],
            "k string, v double, a boolean"),
        "a", "v", key_cols=["k"]).collect()}
    assert krow["k1"]["cohens_d"] == 0.707107
    assert krow["k2"]["cohens_d"] is None  # zero pooled variance


def test_new_eval_ops_nan_contract(spark):
    """r13 probe batch: NaN doubles are excluded like NULLs in the
    rank/score operators — Spark's total order ranks NaN ABOVE +inf
    (roc_auc would crown a garbage score the top of the ranking),
    least/greatest treat NaN as largest (probabilistic_scores would
    silently clamp NaN to p=1), and a NaN "value" would midrank as
    real data in spearman. ±inf remain legal scores (they order)."""
    from puffbird_spark.operators.evaluation import (
        probabilistic_scores, roc_auc)
    from puffbird_spark.operators.profile import spearman_corr

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [(0.1, False), (0.9, True), (nan, True), (inf, False),
         (-inf, True)],
        "s double, y boolean")
    row = roc_auc(df, "s", "y").collect()[0]
    # kept: (0.1,F) (0.9,T) (inf,F) (-inf,T) → pos ranks {1,3} →
    # R+ = 4, AUC = (4 - 3)/(2·2) = 0.25
    assert (row["n_pos"], row["n_neg"]) == (2, 2)
    assert row["auc"] == 0.25 and row["gini"] == -0.5

    p = spark.createDataFrame(
        [(nan, True), (0.5, False), (inf, True)], "p double, y boolean")
    prow = probabilistic_scores(p, "p", "y").collect()[0]
    assert (prow["n"], prow["n_pos"]) == (2, 1)  # NaN excluded, inf kept

    sp = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (nan, 3.0), (3.0, nan), (inf, 4.0),
         (4.0, 5.0)],
        "x double, y double")
    srow = spearman_corr(sp, "x", "y").collect()[0]
    assert srow["n"] == 4  # the two NaN rows dropped, inf row kept


def test_qoi_codec_roundtrip_and_robustness(spark):
    """QOI encode→decode is pixel-exact on the fixture formula AND on
    30 randomized pixel streams engineered to hit every chunk op
    (runs, DIFF deltas, LUMA deltas, palette recurrences → INDEX,
    random jumps → RGB); corrupt blobs (bad magic, truncated stream,
    missing end marker, absurd dims) raise locally and SKIP in the
    mapInPandas stage; an RGBA chunk decodes per spec."""
    import random

    import pytest as _pytest

    from puffbird_spark.operators.multimodal import (
        _qoi_encode_rgb, decode_qoi, encode_qoi, qoi_stats)

    rng = random.Random(131)
    for _ in range(30):
        w, h = rng.randint(1, 40), rng.randint(1, 30)
        pix, prev = {}, (0, 0, 0)
        pal = [(rng.randrange(256),) * 3 for _ in range(5)]
        for y in range(h):
            for x in range(w):
                m = rng.random()
                if m < 0.3:
                    c = prev
                elif m < 0.5:
                    c = tuple((v + rng.randint(-2, 1)) % 256
                              for v in prev)
                elif m < 0.65:
                    dg = rng.randint(-32, 31)
                    c = ((prev[0] + dg + rng.randint(-8, 7)) % 256,
                         (prev[1] + dg) % 256,
                         (prev[2] + dg + rng.randint(-8, 7)) % 256)
                elif m < 0.8:
                    c = pal[rng.randrange(5)]
                else:
                    c = (rng.randrange(256), rng.randrange(256),
                         rng.randrange(256))
                pix[(x, y)] = c
                prev = c
        blob = _qoi_encode_rgb(w, h, lambda x, y: pix[(x, y)])
        W, H, _ch, rgba = decode_qoi(blob)
        assert (W, H) == (w, h)
        i = 0
        for y in range(h):
            for x in range(w):
                assert (rgba[i], rgba[i + 1], rgba[i + 2]) == pix[(x, y)]
                i += 4

    # an RGBA (0xFF) chunk: hand-built 1x1 file
    import struct as _struct

    rgba_file = (b"qoif" + _struct.pack(">IIBB", 1, 1, 4, 0)
                 + bytes((0xFF, 9, 8, 7, 6)) + b"\x00" * 7 + b"\x01")
    assert decode_qoi(rgba_file)[3] == bytes((9, 8, 7, 6))

    with _pytest.raises(ValueError, match="magic"):
        decode_qoi(b"qoix" + b"\x00" * 30)
    with _pytest.raises(ValueError, match="end marker"):
        decode_qoi(encode_qoi(4, 4, 1)[:-8] + b"\x00" * 8)
    with _pytest.raises(ValueError, match="truncated"):
        blob = encode_qoi(8, 8, 2)
        decode_qoi(blob[:16] + blob[-8:])
    with _pytest.raises(ValueError, match="implausible"):
        decode_qoi(b"qoif" + _struct.pack(">IIBB", 0, 5, 3, 1)
                   + b"\x00" * 7 + b"\x01")
    # length-aware bound (ADVICE r13): a tiny blob claiming 8000x8000
    # is rejected BEFORE the per-pixel loop allocates anything — one
    # chunk byte encodes at most 62 pixels (a full RUN op).
    with _pytest.raises(ValueError, match="chunk stream can encode"):
        decode_qoi(b"qoif" + _struct.pack(">IIBB", 8000, 8000, 4, 0)
                   + bytes((0xC0 | 61,)) * 64 + b"\x00" * 7 + b"\x01")

    rows = [("good", bytearray(encode_qoi(9, 7, 42))),
            ("bad", bytearray(b"definitely not qoi data here")),
            ("null", None)]
    df = spark.createDataFrame(rows, "path string, content binary")
    got = qoi_stats(df).collect()
    assert len(got) == 1 and got[0]["path"] == "good"
    assert (got[0]["width"], got[0]["height"], got[0]["n_px"]) == (9, 7, 63)


def test_new_decoders_fuzz_stay_in_decode_errors():
    """r13 probe: every failure mode of the TIFF/EXIF walker and the
    QOI decoder on adversarial input (random bytes, bit-flipped valid
    files) must land in DECODE_ERRORS — the mapInPandas skip contract.
    An exception class outside that tuple would kill the whole media
    stage instead of skipping one blob. 600 seeded cases (the full 3k
    fuzz ran once in r13: zero escapes)."""
    import random

    from puffbird_spark.operators.multimodal import (
        DECODE_ERRORS, decode_qoi, decode_tiff_exif, encode_qoi,
        encode_tiff_exif)

    rng = random.Random(1313)
    for trial in range(600):
        mode = trial % 3
        if mode == 0:
            blob = bytes(rng.randrange(256)
                         for _ in range(rng.randint(0, 200)))
        elif mode == 1:
            b = bytearray(encode_qoi(4 + trial % 20, 4 + trial % 12,
                                     trial))
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            blob = bytes(b)
        else:
            b = bytearray(encode_tiff_exif(
                trial % 997, "II" if trial % 2 else "MM"))
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            blob = bytes(b)
        for dec in (decode_qoi, decode_tiff_exif):
            try:
                dec(blob)
            except DECODE_ERRORS:
                pass  # the skip contract


def test_partial_autocorrelation_hand_case(spark):
    """PACF over [1,2,3,4] matches the Durbin-Levinson recursion
    recomputed in pure Python from the RELEASED 6-dp ACF values
    (r1=0.25, r2=-0.3, r3=-0.45); a constant series releases NULL
    at every lag (NULL ACF propagates through the guards)."""
    from puffbird_spark.operators.timeseries import (
        partial_autocorrelation)

    rows = [("a", i, float(v)) for i, v in enumerate([1, 2, 3, 4])]
    rows += [("c", i, 7.0) for i in range(4)]
    df = spark.createDataFrame(rows, "e string, t int, x double") \
        .withColumn("ts", F.col("t").cast("timestamp"))
    out = {r["e"]: r for r in partial_autocorrelation(
        df, "e", "ts", "x", order_tiebreak="t").collect()}
    r1, r2, r3 = 0.25, -0.3, -0.45
    den2 = 1 - r1 * r1
    p22 = (r2 - r1 * r1) / den2
    p21 = r1 * (1 - p22)
    den3 = 1 - p21 * r1 - p22 * r2
    p33 = (r3 - p21 * r2 - p22 * r1) / den3
    a = out["a"]
    assert a["pacf1"] == r1
    assert a["pacf2"] == round(p22, 6)
    assert a["pacf3"] == round(p33, 6)
    c = out["c"]
    assert (c["pacf1"], c["pacf2"], c["pacf3"]) == (None, None, None)


def test_trajectory_stats_warns_without_tiebreak(spark):
    """ADVICE r12: omitting order_tiebreak leaves tied-timestamp leg
    order nondeterministic — the operator now warns."""
    import warnings

    from puffbird_spark.operators.geo import trajectory_stats

    df = spark.createDataFrame(
        [("e", "2024-01-01 00:00:00", 0.0, 0.0, 1),
         ("e", "2024-01-01 00:01:00", 0.1, 0.1, 2)],
        "ent string, ts string, lat double, lon double, seq int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        trajectory_stats(df, "ent", "ts", "lat", "lon")
    assert any("order_tiebreak" in str(w.message) for w in rec)
    with warnings.catch_warnings(record=True) as rec2:
        warnings.simplefilter("always")
        trajectory_stats(df, "ent", "ts", "lat", "lon",
                         order_tiebreak="seq")
    assert not any("order_tiebreak" in str(w.message) for w in rec2)


def test_mcc_binary_hand_cases(spark):
    """Hand-computed MCC: cells (4,1,3,2) give 10/sqrt(600) =
    0.408248; a degenerate predictor (every row positive) zeroes a
    marginal and reads NULL, not 0; NULL labels/preds are excluded."""
    from pyspark.sql import functions as F

    from puffbird_spark.operators.evaluation import mcc_binary

    rows = ([(True, True)] * 4 + [(False, True)] * 1
            + [(False, False)] * 3 + [(True, False)] * 2
            + [(None, True), (True, None)])
    df = spark.createDataFrame(rows, "y boolean, p boolean")
    row = mcc_binary(df, "y", "p").collect()[0]
    assert (row["tp"], row["fp"], row["tn"], row["fn"]) == (4, 1, 3, 2)
    assert row["mcc"] == 0.408248

    allpos = df.select("y", F.lit(True).alias("p2"))
    drow = mcc_binary(allpos, "y", "p2").collect()[0]
    assert drow["mcc"] is None


def test_granger_lag1_hand_cases(spark):
    """Hand-computed lag-1 Granger F: the 8-point series releases
    (m=7, ssr_r=4.833333, ssr_u=0.885572, f=17.831461); a perfect
    y_t = x_{t-1} fit has no error variance -> NULL F with ssr_u 0;
    a constant cause is collinear (det 0) -> NULL ssr_u/F with ssr_r
    still released; m <= 3 releases all-NULL diagnostics."""
    from puffbird_spark.operators.timeseries import granger_lag1

    rows = [("a", t, float(xc), float(yc))
            for t, (xc, yc) in enumerate(zip(
                (1, 0, 2, 0, 3, 0, 1, 2), (2, 3, 1, 4, 1, 5, 2, 3)))]
    # perfect causation: y_t = x_{t-1}, u and v NOT collinear
    rows += [("b", t, float(xc), float(yc))
             for t, (xc, yc) in enumerate(zip(
                 (1, 0, 2, 0, 3, 1), (9, 1, 0, 2, 0, 3)))]
    rows += [("c", t, 7.0, float(yc)) for t, yc in enumerate(
        (2, 3, 1, 4, 1, 5, 2))]
    rows += [("d", t, float(t), float(t * t)) for t in range(3)]
    df = spark.createDataFrame(
        rows, "e string, t int, x double, y double") \
        .withColumn("ts", F.col("t").cast("timestamp"))
    out = {r["e"]: r for r in granger_lag1(
        df, "e", "ts", "x", "y", order_tiebreak="t").collect()}
    a = out["a"]
    assert (a["n"], a["m"]) == (8, 7)
    assert a["ssr_r"] == 4.833333
    assert a["ssr_u"] == 0.885572
    assert a["f_stat"] == 17.831461
    b = out["b"]
    assert b["ssr_u"] == 0.0 and b["f_stat"] is None
    c = out["c"]
    assert c["ssr_r"] is not None
    assert c["ssr_u"] is None and c["f_stat"] is None
    d = out["d"]
    assert (d["n"], d["m"]) == (3, 2)
    assert d["ssr_r"] is None and d["f_stat"] is None

    # NULL cause/effect/ts rows are excluded BEFORE sequencing
    holes = spark.createDataFrame(
        [("h", 0, 1.0, 2.0), ("h", 1, None, 9.0),
         ("h", 2, 2.0, 3.0), ("h", 3, 3.0, None),
         ("h", 4, 4.0, 5.0)],
        "e string, t int, x double, y double") \
        .withColumn("ts", F.col("t").cast("timestamp"))
    h = granger_lag1(
        holes, "e", "ts", "x", "y", order_tiebreak="t").collect()[0]
    assert (h["n"], h["m"]) == (3, 2)


def test_changepoint_variance_hand_cases(spark):
    """Hand-computed variance binary segmentation: six low-spread
    points then six +/-10 points split at t=6 with variances (1, 100)
    and gain 12*ln(50.75) - 6*ln(1) - 6*ln(100) = 19.491918; a
    constant series has no admissible candidate -> NULL split; a
    too-short series likewise; bad min_segment raises."""
    import pytest as _pytest

    from puffbird_spark.operators.timeseries import changepoint_variance

    vals = (0, 2, 0, 2, 0, 2, -10, 10, -10, 10, -10, 10)
    rows = [("a", t, float(v)) for t, v in enumerate(vals)]
    rows += [("b", t, 5.0) for t in range(12)]
    rows += [("c", t, float(t % 4)) for t in range(9)]
    df = spark.createDataFrame(rows, "e string, t int, x double") \
        .withColumn("ts", F.col("t").cast("timestamp"))
    out = {r["e"]: r for r in changepoint_variance(
        df, "e", "ts", "x", order_tiebreak="t").collect()}
    a = out["a"]
    assert (a["n"], a["split_t"]) == (12, 6)
    assert a["gain"] == 19.491918
    assert (a["var_left"], a["var_right"]) == (1.0, 100.0)
    b = out["b"]
    assert b["n"] == 12 and b["split_t"] is None
    c = out["c"]
    assert c["n"] == 9 and c["split_t"] is None
    with _pytest.raises(ValueError, match="min_segment"):
        changepoint_variance(df, "e", "ts", "x", order_tiebreak="t",
                             min_segment=0)


def test_ico_codec_roundtrip_and_robustness():
    """ICO container: mixed PNG/BMP entries roundtrip with the shared
    closed-form pixel sums and AND-mask counts in directory order;
    structural damage (CUR type, short blob, out-of-bounds payload,
    odd doubled height, directory/DIB dimension mismatch, truncated
    mask) raises inside the DECODE_ERRORS contract; unsupported DIB
    depth is an honest NotImplementedError; 300 fuzz cases stay in
    the skip contract."""
    import random
    import struct as _struct

    import pytest as _pytest

    from puffbird_spark.operators.multimodal import (
        DECODE_ERRORS, decode_ico, encode_ico)

    blob = encode_ico(
        [("png", 5, 4), ("bmp", 7, 3), ("bmp", 8, 8)], seed=42)
    ents = decode_ico(blob)
    assert [e[0] for e in ents] == ["png", "bmp", "bmp"]
    for i, (st, w, h, px, nm) in enumerate(ents):
        s = 42 + 11 * i
        assert sum(px) == sum(
            (x * 31 + y * 17 + s) % 256
            for y in range(h) for x in range(w))
        exp_mask = sum(
            1 for y in range(h) for x in range(w)
            if (x + y + s) % 7 == 0)
        assert nm == (exp_mask if st == "bmp" else 0)
        assert px[0] == s % 256          # top-left: both paths normalize

    # CUR resource type (2) is not an icon
    cur = b"\x00\x00\x02\x00" + blob[4:]
    with _pytest.raises(ValueError, match="type=2"):
        decode_ico(cur)
    with _pytest.raises(ValueError, match="short"):
        decode_ico(blob[:5])
    # payload out of bounds: truncate after the directory
    with _pytest.raises(ValueError, match="out of bounds"):
        decode_ico(blob[: 6 + 16 * 3 + 4])
    # directory/DIB dimension mismatch: corrupt entry 1's dir width
    bad = bytearray(blob)
    bad[6 + 16] = 99
    with _pytest.raises(ValueError, match="directory says"):
        decode_ico(bytes(bad))
    # odd doubled height in the DIB
    (off1,) = _struct.unpack_from("<I", blob, 6 + 16 + 12)
    odd = bytearray(blob)
    _struct.pack_into("<i", odd, off1 + 8, 7)
    with _pytest.raises(ValueError, match="positive double"):
        decode_ico(bytes(odd))
    # unsupported DIB depth passes through as NotImplementedError
    deep = bytearray(blob)
    _struct.pack_into("<H", deep, off1 + 14, 4)
    with _pytest.raises(NotImplementedError, match="8-bit"):
        decode_ico(bytes(deep))
    # truncated AND mask: shave the final mask row AND shrink the
    # directory's bytes_in_res to match (otherwise the payload
    # bounds check fires first, which is also correct)
    only_bmp = bytearray(encode_ico([("bmp", 8, 8)], seed=3))
    (sz0,) = _struct.unpack_from("<I", only_bmp, 6 + 8)
    _struct.pack_into("<I", only_bmp, 6 + 8, sz0 - 4)
    with _pytest.raises(ValueError, match="mask"):
        decode_ico(bytes(only_bmp[:-4]))

    rng = random.Random(1414)
    for trial in range(300):
        if trial % 2 == 0:
            fz = bytes(rng.randrange(256)
                       for _ in range(rng.randint(0, 160)))
        else:
            b = bytearray(blob)
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            fz = bytes(b)
        try:
            decode_ico(fz)
        except DECODE_ERRORS:
            pass  # the skip contract


def test_mann_kendall_hand_cases(spark):
    """Hand-computed Mann-Kendall: monotone [1..5] reads S=10,
    Var=16.666667, z=2.204541 (continuity-corrected); the reverse
    series mirrors the sign; [1,2,2,3,1] exercises the tie
    correction (S=2, 2 tie pairs, Var=14.666667, z=0.261116); an
    all-tied series has Var 0 -> NULL z; NaN values are excluded
    like NULLs; the inversion counter matches brute force on
    seeded randomized arrays."""
    import random

    from puffbird_spark.operators.timeseries import (
        _count_inversions, mann_kendall)

    rows = [("inc", t, float(v)) for t, v in enumerate((1, 2, 3, 4, 5))]
    rows += [("dec", t, float(v)) for t, v in enumerate((5, 4, 3, 2, 1))]
    rows += [("tie", t, float(v)) for t, v in enumerate((1, 2, 2, 3, 1))]
    rows += [("flat", t, 7.0) for t in range(4)]
    rows += [("nan", 0, 1.0), ("nan", 1, float("nan")),
             ("nan", 2, 2.0), ("nan", 3, 3.0)]
    df = spark.createDataFrame(rows, "e string, t int, x double") \
        .withColumn("ts", F.col("t").cast("timestamp"))
    out = {r["e"]: r for r in mann_kendall(
        df, "e", "ts", "x", order_tiebreak="t").collect()}
    assert (out["inc"]["s"], out["inc"]["n_tie_pairs"]) == (10, 0)
    assert out["inc"]["var_s"] == 16.666667
    assert out["inc"]["z"] == 2.204541
    assert (out["dec"]["s"], out["dec"]["z"]) == (-10, -2.204541)
    t = out["tie"]
    assert (t["s"], t["n_tie_pairs"], t["var_s"], t["z"]) == \
        (2, 2, 14.666667, 0.261116)
    fl = out["flat"]
    assert (fl["s"], fl["var_s"], fl["z"]) == (0, 0.0, None)
    nz = out["nan"]
    assert (nz["n"], nz["s"]) == (3, 3)   # NaN row dropped, [1,2,3]

    rng = random.Random(99)
    import numpy as np
    for _ in range(40):
        a = np.array([rng.randrange(8) for _ in range(rng.randint(0, 60))],
                     dtype="float64")
        brute = sum(1 for i in range(len(a)) for j in range(i + 1, len(a))
                    if a[i] > a[j])
        assert _count_inversions(a) == brute


def test_anderson_darling_hand_and_differential(spark):
    """A²_kN (Scholz-Stephens eq. 3, k=2) pins: {1,2} vs {1,3} reads
    1/3 (released 0.333333 through the nano-unit ladder); identical
    samples read 0; a constant pooled value or an empty side drops
    the key; NaN excluded; 25 randomized keys match a from-scratch
    replay of the exact formula with the same floor(t*1e9) ladder."""
    import math
    import random

    import pytest as _pytest

    from puffbird_spark.operators.drift import (
        anderson_darling_two_sample)

    rows = [("h", True, 1.0), ("h", False, 1.0),
            ("h", True, 2.0), ("h", False, 3.0)]
    rows += [("same", a, float(v)) for a in (True, False)
             for v in (1, 2, 3)]
    rows += [("const", a, 5.0) for a in (True, False, True)]
    rows += [("onesided", True, 1.0), ("onesided", True, 2.0)]
    rows += [("nan", True, 1.0), ("nan", False, float("nan")),
             ("nan", False, 2.0), ("nan", True, 3.0),
             ("nan", False, 4.0)]
    df = spark.createDataFrame(rows, "k string, a boolean, v double")
    out = {r["k"]: r for r in anderson_darling_two_sample(
        df, "a", "v", key_cols=["k"]).collect()}
    h = out["h"]
    assert (h["n_a"], h["n_b"], h["n_distinct"]) == (2, 2, 3)
    assert h["a2"] == 0.333333
    assert out["same"]["a2"] == 0.0
    assert "const" not in out and "onesided" not in out
    assert (out["nan"]["n_a"], out["nan"]["n_b"]) == (2, 2)

    with _pytest.raises(TypeError, match="anderson_darling"):
        anderson_darling_two_sample(
            spark.createDataFrame([("g", 1.0)], "g string, v double"),
            "g", "v")

    def ref_a2(xa, xb):
        pooled = sorted(set(xa) | set(xb))
        N, na, nb = len(xa) + len(xb), len(xa), len(xb)
        units = 0
        B = Ma = 0
        for v in pooled:
            lv = xa.count(v) + xb.count(v)
            B += lv
            Ma += xa.count(v)
            if B >= N:
                break
            for m, ni in ((Ma, na), (B - Ma, nb)):
                t = (lv * (N * m - ni * B) ** 2) / (N * B * (N - B) * ni)
                units += math.floor(t * 1.0e9)
        return ((units + 500) // 1000) / 1e6

    rng = random.Random(7)
    cases = []
    for k in range(25):
        xa = [float(rng.randrange(6)) for _ in range(rng.randint(2, 12))]
        xb = [float(rng.randrange(6)) for _ in range(rng.randint(2, 12))]
        cases.append((f"r{k}", xa, xb))
    rows2 = [(k, True, v) for k, xa, _ in cases for v in xa]
    rows2 += [(k, False, v) for k, _, xb in cases for v in xb]
    got = {r["k"]: r["a2"] for r in anderson_darling_two_sample(
        spark.createDataFrame(rows2, "k string, a boolean, v double"),
        "a", "v", key_cols=["k"]).collect()}
    for k, xa, xb in cases:
        if len(set(xa) | set(xb)) < 2:
            assert k not in got
        else:
            assert got[k] == ref_a2(xa, xb), (k, got.get(k), ref_a2(xa, xb))


def test_dickey_fuller_hand_cases(spark):
    """Hand-computed DF: the 8-point mean-reverting series releases
    (m=7, rho=-1.791667, df=-6.748472); a deterministic ramp fits
    perfectly (SSR=0) -> rho released, NULL DF; a constant series
    has Suu=0 -> all NULL; m <= 2 releases NULL diagnostics with the
    true n/m."""
    from puffbird_spark.operators.timeseries import dickey_fuller

    rows = [("a", t, float(v)) for t, v in enumerate(
        (2, 3, 1, 4, 1, 5, 2, 3))]
    rows += [("ramp", t, float(t + 1)) for t in range(5)]
    rows += [("const", t, 4.0) for t in range(5)]
    rows += [("short", t, float(v)) for t, v in enumerate((1, 5, 2))]
    df = spark.createDataFrame(rows, "e string, t int, x double") \
        .withColumn("ts", F.col("t").cast("timestamp"))
    out = {r["e"]: r for r in dickey_fuller(
        df, "e", "ts", "x", order_tiebreak="t").collect()}
    a = out["a"]
    assert (a["n"], a["m"]) == (8, 7)
    assert a["rho"] == -1.791667
    assert a["df_stat"] == -6.748472
    ramp = out["ramp"]
    assert ramp["rho"] == 0.0 and ramp["df_stat"] is None
    const = out["const"]
    assert const["rho"] is None and const["df_stat"] is None
    short = out["short"]
    assert (short["n"], short["m"]) == (3, 2)
    assert short["rho"] is None and short["df_stat"] is None


def test_benford_first_digit_hand_cases(spark):
    """Benford conformity: a 5-value fixture matches the from-scratch
    nano-unit replay (missing digits still contribute full expected
    chi2 terms); zeros and NULLs are excluded; negatives take |x|;
    sub-1 decimals extract the first SIGNIFICANT digit (0.0042 ->
    4); an empty input releases NULL stats."""
    from puffbird_spark.operators.profile import (
        BENFORD_P, benford_first_digit)

    import math

    vals = [1.0, 14.2, 150.0, 2.5, 9.0]
    df = spark.createDataFrame(
        [(v,) for v in vals] + [(0.0,), (None,)], "v double")
    out = benford_first_digit(df, "v").collect()[0]
    counts = {1: 3, 2: 1, 9: 1}
    n = 5
    cu = du = 0
    devs = {}
    for d in range(1, 10):
        o, p = counts.get(d, 0), BENFORD_P[d - 1]
        cu += math.floor((o - n * p) ** 2 / (n * p) * 1.0e9)
        u = math.floor(abs(o / n - p) * 1.0e9)
        du += u
        devs[d] = u
    assert out["n"] == 5
    assert out["chi2"] == ((cu + 500) // 1000) / 1e6
    assert out["mad"] == ((du // 9 + 500) // 1000) / 1e6
    worst = max(devs, key=lambda d: (devs[d], -d))
    assert out["worst_digit"] == worst
    assert out["worst_dev"] == ((devs[worst] + 500) // 1000) / 1e6

    neg = spark.createDataFrame(
        [(-912.0,), (-0.0042,)], "v double")
    nout = benford_first_digit(neg, "v").collect()[0]
    assert nout["n"] == 2   # digits 9 and 4 both counted via |x|

    empty = spark.createDataFrame([(0.0,), (None,)], "v double")
    e = benford_first_digit(empty, "v").collect()[0]
    assert e["n"] == 0 and e["chi2"] is None and e["mad"] is None


def test_p_adjust_hand_cases(spark):
    """The textbook 4-hypothesis family {.005,.01,.03,.04}: Holm
    step-down reads (.02,.03,.06,.06) and BH step-up (.02,.02,.04,
    .04) — asserted against the same IEEE expressions, not decimal
    literals; NULL/NaN/out-of-range p excluded; tied p-values order
    by id so per-rank factors are deterministic."""
    from puffbird_spark.operators.evaluation import p_adjust

    rows = [("a", 1, 0.01), ("a", 2, 0.04), ("a", 3, 0.03),
            ("a", 4, 0.005),
            ("a", 5, None), ("a", 6, float("nan")), ("a", 7, 1.5),
            ("a", 8, -0.1),
            ("b", 1, 0.5), ("b", 2, 0.5)]
    df = spark.createDataFrame(rows, "fam string, id int, p double")
    out = {(r["fam"], r["id"]): r for r in p_adjust(
        df, "id", "p", key_cols=["fam"]).collect()}
    assert len(out) == 6          # 4 valid in a, 2 in b
    a4, a1 = out[("a", 4)], out[("a", 1)]
    a3, a2 = out[("a", 3)], out[("a", 2)]
    assert [a4["rank"], a1["rank"], a3["rank"], a2["rank"]] == \
        [1, 2, 3, 4]
    assert a4["m"] == 4
    assert a4["p_bonferroni"] == 4 * 0.005
    assert a4["p_holm"] == 4 * 0.005
    assert a1["p_holm"] == 3 * 0.01
    assert a3["p_holm"] == 2 * 0.03
    assert a2["p_holm"] == 2 * 0.03       # step-down monotone carry
    assert a2["p_bh"] == 4 * 0.04 / 4
    assert a3["p_bh"] == 4 * 0.04 / 4     # min carries up
    assert a1["p_bh"] == 4 * 0.01 / 2
    assert a4["p_bh"] == 4 * 0.01 / 2
    b1, b2 = out[("b", 1)], out[("b", 2)]
    assert (b1["rank"], b2["rank"]) == (1, 2)   # id tiebreak
    assert b1["p_holm"] == 1.0 and b2["p_bh"] == 0.5


def test_cronbach_alpha_hand_cases(spark):
    """Hand-computed alpha: the 4-subject x 2-item design with
    item2 = 2*item1 reads exactly 2*(1 - 100/180) = 8/9 (one exact
    integer ratio -> bit-equal double); duplicated items read
    exactly 1.0; an all-constant design has zero total variance ->
    NULL; incomplete designs and k=1 raise the contract."""
    import pytest as _pytest

    from puffbird_spark.operators.evaluation import cronbach_alpha

    rows = [(s, "i1", float(s)) for s in (1, 2, 3, 4)]
    rows += [(s, "i2", float(2 * s)) for s in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, "s int, i string, v double")
    r = cronbach_alpha(df, "s", "i", "v").collect()[0]
    assert (r["n_subjects"], r["k"]) == (4, 2)
    assert r["alpha"] == 2.0 * (1.0 - 100.0 / 180.0)

    dup = [(s, it, float(s)) for s in (1, 2, 3) for it in ("a", "b")]
    d = cronbach_alpha(
        spark.createDataFrame(dup, "s int, i string, v double"),
        "s", "i", "v").collect()[0]
    assert d["alpha"] == 1.0

    const = [(s, it, 7.0) for s in (1, 2) for it in ("a", "b")]
    c = cronbach_alpha(
        spark.createDataFrame(const, "s int, i string, v double"),
        "s", "i", "v").collect()[0]
    assert c["alpha"] is None

    with _pytest.raises(ValueError, match="COMPLETE design"):
        cronbach_alpha(
            spark.createDataFrame(rows[:5], "s int, i string, v double"),
            "s", "i", "v")
    with _pytest.raises(ValueError, match=">= 2 items"):
        cronbach_alpha(
            spark.createDataFrame(
                [(1, "a", 1.0), (2, "a", 2.0)],
                "s int, i string, v double"),
            "s", "i", "v")


def test_kendalls_w_hand_cases(spark):
    """W pins: three raters ranking three items identically read
    W = 1.0 exactly (Q = n(k-1) at perfect concordance); the
    all-tied design releases NULL W alongside NULL Q; W replays
    Q/(n(k-1)) through the integer half-up ladder."""
    from puffbird_spark.operators.drift import kendalls_w

    rows = [(b, t, float(v)) for b in (1, 2, 3)
            for t, v in (("a", 1), ("b", 2), ("c", 3))]
    r = kendalls_w(
        spark.createDataFrame(rows, "b int, t string, v double"),
        "b", "t", "v").collect()[0]
    assert (r["n_blocks"], r["k"]) == (3, 3)
    assert r["q_stat"] == 6.0 and r["w"] == 1.0

    tied = [(b, t, 5.0) for b in (1, 2) for t in ("a", "b")]
    t = kendalls_w(
        spark.createDataFrame(tied, "b int, t string, v double"),
        "b", "t", "v").collect()[0]
    assert t["q_stat"] is None and t["w"] is None


def test_r14_self_review_regressions(spark):
    """Pins for the r14 session self-review findings: (2) equal-sized
    but DISJOINT per-subject item sets fail cronbach's completeness
    contract (the per-subject probe alone passed them); (3) p_adjust
    excludes NULL ids (Spark NULLS FIRST vs SQL NULLS LAST would
    un-pin tied p-values' rank factors); (4) mann_kendall refuses
    decimal columns beyond double precision instead of silently
    collapsing distinct values into ties."""
    import pytest as _pytest

    from puffbird_spark.operators.evaluation import (
        cronbach_alpha, p_adjust)
    from puffbird_spark.operators.timeseries import mann_kendall

    disjoint = [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 2.0),
                (2, "b", 1.0), (3, "c", 1.0), (3, "d", 2.0),
                (4, "c", 2.0), (4, "d", 1.0)]
    with _pytest.raises(ValueError, match="4 items overall"):
        cronbach_alpha(
            spark.createDataFrame(disjoint, "s int, i string, v double"),
            "s", "i", "v")

    rows = [("f", 1, 0.5), ("f", None, 0.5), ("f", 2, 0.1)]
    out = p_adjust(
        spark.createDataFrame(rows, "fam string, id int, p double"),
        "id", "p", key_cols=["fam"]).collect()
    assert sorted(r["id"] for r in out) == [1, 2]
    assert {r["m"] for r in out} == {2}

    dec = spark.createDataFrame(
        [("e", 0, 1.0)], "e string, t int, x double"
    ).withColumn("ts", F.col("t").cast("timestamp")) \
        .withColumn("xd", F.col("x").cast("decimal(38,18)"))
    with _pytest.raises(TypeError, match="float64"):
        mann_kendall(dec, "e", "ts", "xd", order_tiebreak="t")


def test_tiff_raster_roundtrip_and_robustness():
    """TIFF raster decode: all 8 variant combinations (II/MM x 8/16
    bit x WhiteIsZero/BlackIsZero) roundtrip to the SAME normalized
    closed-form pixels with multi-strip assembly; structural damage
    (short blob, bad magic, out-of-bounds strip, raster size
    mismatch) raises ValueError; compression/multi-sample are honest
    NotImplementedError; 200 fuzz cases stay inside DECODE_ERRORS."""
    import random
    import struct as _struct

    import pytest as _pytest

    from puffbird_spark.operators.multimodal import (
        DECODE_ERRORS, decode_tiff_gray, encode_tiff_gray)

    for bo in ("II", "MM"):
        for bits in (8, 16):
            for ph in (0, 1):
                blob = encode_tiff_gray(
                    7, 8, 42, byte_order=bo, bits=bits, photometric=ph)
                bod, w, h, bd, ns, sm = decode_tiff_gray(blob)
                assert (bod, w, h, bd, ns) == (bo, 7, 8, bits, 3)
                assert sm == [(x * 31 + y * 17 + 42) % (1 << bits)
                              for y in range(8) for x in range(7)]

    blob = encode_tiff_gray(4, 4, 1)
    with _pytest.raises(ValueError, match="short"):
        decode_tiff_gray(blob[:6])
    bad = bytearray(blob)
    bad[:2] = b"XX"
    with _pytest.raises(ValueError, match="byte order"):
        decode_tiff_gray(bytes(bad))
    with _pytest.raises(ValueError, match="magic"):
        m = bytearray(blob)
        _struct.pack_into("<H", m, 2, 43)
        decode_tiff_gray(bytes(m))
    # flip compression to LZW (5): honest NotImplementedError —
    # find the compression entry generically by walking the IFD
    (ifd_at,) = _struct.unpack_from("<I", blob, 4)
    (n,) = _struct.unpack_from("<H", blob, ifd_at)
    comp = bytearray(blob)
    for i in range(n):
        tag = _struct.unpack_from("<H", blob, ifd_at + 2 + 12 * i)[0]
        if tag == 259:
            _struct.pack_into("<H", comp, ifd_at + 2 + 12 * i + 8, 5)
    with _pytest.raises(NotImplementedError, match="compression"):
        decode_tiff_gray(bytes(comp))

    rng = random.Random(1515)
    for trial in range(200):
        if trial % 2 == 0:
            fz = bytes(rng.randrange(256)
                       for _ in range(rng.randint(0, 120)))
        else:
            b = bytearray(blob)
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            fz = bytes(b)
        try:
            decode_tiff_gray(fz)
        except DECODE_ERRORS:
            pass


def test_warc_gzip_roundtrip_and_robustness():
    """WARC/gzip crawl framing: the 5-record fixture roundtrips with
    closed-form block sums, FNAME members included; gzip damage
    (payload bit flip -> CRC mismatch, truncation, bad magic/method,
    reserved FLG bits, trailer ISIZE lie) and WARC grammar damage
    (bad version, missing Content-Length, short block, missing
    separator, trailing bytes) all raise inside DECODE_ERRORS; 200
    fuzz cases stay in the skip contract."""
    import random
    import struct as _struct
    import zlib as _zlib

    import pytest as _pytest

    from puffbird_spark.operators.multimodal import DECODE_ERRORS
    from puffbird_spark.operators.warc import (
        encode_warc_gz, parse_warc_record, split_gzip_members)

    blob = encode_warc_gz(42, 5, seed=7)
    members = split_gzip_members(blob)
    assert len(members) == 5
    for r, p in enumerate(members):
        hdr, block = parse_warc_record(p)
        s = 7 + 11 * r
        blen = 20 + (7 + 3 * r) % 40
        assert len(block) == blen and len(hdr) == 4
        assert sum(block) == sum(
            (s + 7 * i) % 95 + 32 for i in range(blen))
        assert hdr["warc-type"] == (
            "response", "request", "metadata")[r % 3]

    with _pytest.raises(ValueError, match="CRC|magic|deflate"):
        bad = bytearray(blob)
        bad[40] ^= 0xFF
        split_gzip_members(bytes(bad))
    with _pytest.raises(ValueError, match="truncated"):
        split_gzip_members(blob[:30])
    with _pytest.raises(ValueError, match="magic"):
        split_gzip_members(b"\x00" * 40)
    with _pytest.raises(ValueError, match="method"):
        m = bytearray(blob)
        m[2] = 7
        split_gzip_members(bytes(m))
    with _pytest.raises(ValueError, match="reserved"):
        m = bytearray(blob)
        m[3] |= 0x80
        split_gzip_members(bytes(m))

    rec = members[0]
    with _pytest.raises(ValueError, match="version"):
        parse_warc_record(b"WARC/0.9\r\n" + rec[10:])
    with _pytest.raises(ValueError, match="Content-Length"):
        parse_warc_record(
            b"WARC/1.0\r\nWARC-Type: x\r\n\r\nbody\r\n\r\n")
    with _pytest.raises(ValueError, match="shorter"):
        parse_warc_record(
            b"WARC/1.0\r\nContent-Length: 99\r\n\r\nshort\r\n\r\n")
    with _pytest.raises(ValueError, match="CRLF CRLF"):
        parse_warc_record(
            b"WARC/1.0\r\nContent-Length: 2\r\n\r\nab")
    with _pytest.raises(ValueError, match="CRLF CRLF"):
        parse_warc_record(
            b"WARC/1.0\r\nContent-Length: 2\r\n\r\nab\r\n\r\nX")

    rng = random.Random(1616)
    for trial in range(200):
        if trial % 2 == 0:
            fz = bytes(rng.randrange(256)
                       for _ in range(rng.randint(0, 150)))
        else:
            b = bytearray(blob)
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            fz = bytes(b)
        try:
            for p in split_gzip_members(fz):
                parse_warc_record(p)
        except DECODE_ERRORS:
            pass


def test_zip_archive_roundtrip_and_robustness():
    """ZIP walker: the 4-entry stored/deflate fixture roundtrips
    with closed-form sums through the EOCD scan-back (archive
    comment present); structural damage (comment-length lie,
    payload corruption -> local/central disagreement or CRC, bad
    signatures, out-of-bounds directory) raises ValueError;
    encryption/other methods/zip64 are honest NotImplementedError;
    200 fuzz cases stay inside DECODE_ERRORS."""
    import random
    import struct as _struct

    import pytest as _pytest

    from puffbird_spark.operators.archive import (
        encode_zip, list_zip_entries)
    from puffbird_spark.operators.multimodal import DECODE_ERRORS

    blob = encode_zip(42, 4, seed=7)
    ents = list_zip_entries(blob)
    assert [m for _, m, _, _ in ents] == [0, 8, 0, 8]
    for e, (name, method, csize, payload) in enumerate(ents):
        s = 7 + 11 * e
        plen = 16 + (7 + 5 * e) % 48
        assert name == f"doc42/part{e}.txt"
        assert sum(payload) == sum(
            (s + 7 * i) % 95 + 32 for i in range(plen))

    with _pytest.raises(ValueError, match="end-of-central"):
        list_zip_entries(blob[:-3])   # truncated comment: no EOCD fits
    # a comment CONTAINING the EOCD signature must not shadow the
    # real record (r14 self-review: single-rfind parsers reject this)
    evil = encode_zip(7, 2, seed=3, comment=False)
    evil = evil[:-2] + b"\x0e\x00" + b"ok" + b"PK\x05\x06" + b"padpadpa"
    ents2 = list_zip_entries(evil)
    assert [n for n, _, _, _ in ents2] == [
        "doc7/part0.txt", "doc7/part1.txt"]
    with _pytest.raises(ValueError, match="short"):
        list_zip_entries(blob[:10])
    with _pytest.raises(ValueError):
        bad = bytearray(blob)
        bad[40] ^= 0xFF     # inside entry 0's name/data
        list_zip_entries(bytes(bad))
    # flip entry 0's central method to 99: NotImplementedError
    cd_at = blob.find(b"PK\x01\x02")
    ni = bytearray(blob)
    _struct.pack_into("<H", ni, cd_at + 10, 99)
    with _pytest.raises(NotImplementedError, match="method"):
        list_zip_entries(bytes(ni))
    enc = bytearray(blob)
    _struct.pack_into("<H", enc, cd_at + 8, 0x0001)
    with _pytest.raises(NotImplementedError, match="encrypted"):
        list_zip_entries(bytes(enc))

    rng = random.Random(1717)
    for trial in range(200):
        if trial % 2 == 0:
            fz = bytes(rng.randrange(256)
                       for _ in range(rng.randint(0, 150)))
        else:
            b = bytearray(blob)
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            fz = bytes(b)
        try:
            list_zip_entries(fz)
        except DECODE_ERRORS:
            pass


def test_targz_roundtrip_and_robustness():
    """tar.gz composition: the fixture decodes through BOTH layers
    (gzip CRC verify -> ustar checksum verify) to closed-form sums
    with the directory entry first; header-byte damage fails the
    ustar checksum; truncation and a missing terminator raise;
    link typeflags are honest NotImplementedError; 200 fuzz cases
    stay inside DECODE_ERRORS."""
    import random

    import pytest as _pytest

    from puffbird_spark.operators.archive import (
        encode_tar_gz, list_tar_entries)
    from puffbird_spark.operators.multimodal import DECODE_ERRORS
    from puffbird_spark.operators.warc import split_gzip_members

    blob = encode_tar_gz(42, 3, seed=7)
    stream = b"".join(split_gzip_members(blob))
    ents = list_tar_entries(stream)
    assert ents[0] == ("doc42/", 5, 0, b"")
    for e, (name, tf, size, payload) in enumerate(ents[1:]):
        s = 7 + 11 * e
        plen = 16 + (7 + 5 * e) % 48
        assert (name, tf, size) == (f"doc42/file{e}.txt", 0, plen)
        assert sum(payload) == sum(
            (s + 7 * i) % 95 + 32 for i in range(plen))

    bad = bytearray(stream)
    bad[0] ^= 1
    with _pytest.raises(ValueError, match="checksum"):
        list_tar_entries(bytes(bad))
    with _pytest.raises(ValueError, match="512"):
        list_tar_entries(stream[:512])
    with _pytest.raises(ValueError, match="terminator"):
        list_tar_entries(stream[:-1024])
    link = bytearray(stream)
    link[512 + 156] = ord("2")     # first file entry -> symlink
    # recompute that header's checksum so the typeflag check is hit
    h = link[512:1024]
    h[148:156] = b" " * 8
    csum = sum(h)
    h[148:156] = f"{csum:06o}\x00 ".encode()
    link[512:1024] = h
    with _pytest.raises(NotImplementedError, match="typeflag"):
        list_tar_entries(bytes(link))

    rng = random.Random(1818)
    for trial in range(200):
        if trial % 2 == 0:
            fz = bytes(rng.randrange(256)
                       for _ in range(rng.randint(0, 150)))
        else:
            b = bytearray(blob)
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            fz = bytes(b)
        try:
            list_tar_entries(b"".join(split_gzip_members(fz)))
        except DECODE_ERRORS:
            pass


def test_tfrecord_roundtrip_and_robustness():
    """TFRecord framing: crc32c pinned to the RFC 3720 Castagnoli
    test vector (0xE3069283 for '123456789' — and explicitly NOT
    zlib.crc32's answer, the wrong-polynomial confusion); the
    4-record fixture roundtrips to closed-form sums; payload or
    length-CRC damage and truncation raise; 200 fuzz cases stay in
    DECODE_ERRORS."""
    import random
    import zlib as _zlib

    import pytest as _pytest

    from puffbird_spark.operators.archive import (
        crc32c, encode_tfrecords, list_tfrecords)
    from puffbird_spark.operators.multimodal import DECODE_ERRORS

    assert crc32c(b"123456789") == 0xE3069283
    assert (_zlib.crc32(b"123456789") & 0xFFFFFFFF) != 0xE3069283

    blob = encode_tfrecords(42, 4, seed=7)
    recs = list_tfrecords(blob)
    assert len(recs) == 4
    for r, p in enumerate(recs):
        s = 7 + 11 * r
        plen = 24 + (7 + 5 * r) % 56
        assert len(p) == plen
        assert sum(p) == sum((s + 7 * i) % 251 for i in range(plen))

    bad = bytearray(blob)
    bad[20] ^= 1
    with _pytest.raises(ValueError, match="CRC"):
        list_tfrecords(bytes(bad))
    lenbad = bytearray(blob)
    lenbad[0] ^= 1
    with _pytest.raises(ValueError, match="length CRC"):
        list_tfrecords(bytes(lenbad))
    with _pytest.raises(ValueError, match="truncated"):
        list_tfrecords(blob[:-2])

    rng = random.Random(1919)
    for trial in range(200):
        if trial % 2 == 0:
            fz = bytes(rng.randrange(256)
                       for _ in range(rng.randint(0, 150)))
        else:
            b = bytearray(blob)
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            fz = bytes(b)
        try:
            list_tfrecords(fz)
        except DECODE_ERRORS:
            pass


def test_msgpack_walk_roundtrip_and_robustness():
    """MessagePack walk: the fixture census matches the hand-derived
    closed forms (multi-byte uint16, uint64 above 2³², NEGATIVE
    int8 two's-complement, str8/bin8 byte sums, nested fixarray at
    depth 3, nil-vs-true parity); every hand-built family token
    parses (array16, map16, str16, bin16, ext8, fixext4, float32,
    int16/32/64 negatives); reserved 0xc1, truncation, trailing
    bytes, and a 33-deep nest all raise; 300 fuzz cases stay in
    DECODE_ERRORS."""
    import random
    import struct as _struct

    import pytest as _pytest

    from puffbird_spark.operators.archive import (
        encode_msgpack_doc, parse_msgpack)
    from puffbird_spark.operators.multimodal import DECODE_ERRORS

    for s in (0, 1, 31, 996):
        st = parse_msgpack(encode_msgpack_doc(s))
        al, sl, bl = 2 + s % 3, 32 + s % 16, 8 + s % 8
        assert st["n_items"] == 19 + al
        assert st["n_ints"] == 4 + al
        assert st["int_sum"] == (
            (s % 128) + (256 + (3 * s) % 60000) + (-1 - (s % 32))
            + ((1 << 32) + s)
            + sum((7 * j + s) % 128 for j in range(al)))
        assert st["n_strs"] == 10
        assert st["str_bytes_sum"] == (
            sum(range(97, 106))
            + sum(97 + (s + 5 * i) % 26 for i in range(sl)))
        assert st["bin_bytes_sum"] == sum(
            (s + 7 * i) % 251 for i in range(bl))
        assert (st["n_bools"], st["n_nils"]) == (s % 2, 1 - s % 2)
        assert st["depth"] == 3 and st["n_exts"] == 0

    # every non-fix family hand-built
    toks = parse_msgpack(
        b"\xdc\x00\x09"                       # array16 of 9
        + b"\xd1\xff\xfe"                     # int16 -2
        + b"\xd2\xff\xff\xff\xfd"             # int32 -3
        + b"\xd3" + (-4).to_bytes(8, "big", signed=True)
        + b"\xce\x00\x01\x00\x00"             # uint32 65536
        + b"\xca" + _struct.pack(">f", 1.5)   # float32
        + b"\xda\x00\x03abc"                  # str16
        + b"\xc5\x00\x02\x01\x02"             # bin16
        + b"\xc7\x02\x07xy"                   # ext8 type 7, 2 bytes
        + b"\xd6\x01wxyz")                    # fixext4
    assert toks["n_ints"] == 4 and toks["int_sum"] == 65536 - 9
    assert toks["n_exts"] == 2 and toks["n_floats"] == 1
    assert toks["str_bytes_sum"] == ord("a") + ord("b") + ord("c")
    assert toks["bin_bytes_sum"] == 3

    with _pytest.raises(ValueError, match="reserved"):
        parse_msgpack(b"\xc1")
    with _pytest.raises(ValueError, match="truncated"):
        parse_msgpack(b"\xcd\x01")
    with _pytest.raises(ValueError, match="trailing"):
        parse_msgpack(b"\x01\x02")
    with _pytest.raises(ValueError, match="truncated"):
        parse_msgpack(b"\x91")
    with _pytest.raises(ValueError, match="nesting"):
        parse_msgpack(b"\x91" * 33 + b"\x01")
    with _pytest.raises(ValueError, match="empty"):
        parse_msgpack(b"")

    rng = random.Random(1414)
    blob = encode_msgpack_doc(123)
    for trial in range(300):
        if trial % 2 == 0:
            fz = bytes(rng.randrange(256)
                       for _ in range(rng.randint(0, 80)))
        else:
            bb = bytearray(blob)
            for _ in range(rng.randint(1, 5)):
                bb[rng.randrange(len(bb))] ^= 1 << rng.randrange(8)
            fz = bytes(bb)
        try:
            parse_msgpack(fz)
        except DECODE_ERRORS:
            pass


def test_proto_wire_roundtrip_and_robustness():
    """Protobuf wire walk: the 7-field fixture roundtrips with
    multi-byte varint sums; field-0 tags, group wire types,
    unterminated varints, 11-byte continuation runs, and truncated
    fixed/length payloads all raise; 200 fuzz cases stay in
    DECODE_ERRORS."""
    import random

    import pytest as _pytest

    from puffbird_spark.operators.archive import (
        encode_proto_message, parse_proto_fields)
    from puffbird_spark.operators.multimodal import DECODE_ERRORS

    blob = encode_proto_message(42, 7, seed=9)
    fields = parse_proto_fields(blob)
    assert len(fields) == 7
    assert max(f for f, _, _, _ in fields) == 7
    assert sum(v for _, w, v, _ in fields if w == 0) == sum(
        128 + (200 * f + 9) % 10000 for f in range(1, 8) if f % 3 == 1)

    with _pytest.raises(ValueError, match="field number 0"):
        parse_proto_fields(b"\x03")
    with _pytest.raises(ValueError, match="wire type 3"):
        parse_proto_fields(b"\x0b")
    with _pytest.raises(ValueError, match="truncated varint"):
        parse_proto_fields(b"\x80")
    with _pytest.raises(ValueError, match="over 10 bytes"):
        parse_proto_fields(b"\x08" + b"\x80" * 10 + b"\x01")
    with _pytest.raises(ValueError, match="past end"):
        parse_proto_fields(b"\x12\x05ab")
    with _pytest.raises(ValueError, match="fixed32"):
        parse_proto_fields(b"\x0d\x01\x02")

    rng = random.Random(2020)
    for trial in range(200):
        if trial % 2 == 0:
            fz = bytes(rng.randrange(256)
                       for _ in range(rng.randint(0, 100)))
        else:
            b = bytearray(blob)
            for _ in range(rng.randint(1, 5)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            fz = bytes(b)
        try:
            parse_proto_fields(fz)
        except DECODE_ERRORS:
            pass


def test_avro_ocf_roundtrip_and_robustness():
    """Avro OCF container: both codec paths (null/deflate)
    roundtrip to closed-form block sums with the zigzag metadata
    map decoded (schema + codec recovered); sync-marker corruption,
    bad magic, truncated varints, and bad framing raise; unknown
    codecs are honest NotImplementedError; the zigzag decoder
    round-trips negatives (it is NOT protobuf's plain varint); 200
    fuzz cases stay in DECODE_ERRORS."""
    import random

    import pytest as _pytest

    from puffbird_spark.operators.archive import (
        _avro_zigzag, encode_avro_ocf, list_avro_blocks)
    from puffbird_spark.operators.multimodal import DECODE_ERRORS

    # zigzag truth table: 0,-1,1,-2,2 encode to 0,1,2,3,4
    for raw, want in ((b"\x00", 0), (b"\x01", -1), (b"\x02", 1),
                      (b"\x03", -2), (b"\x04", 2)):
        assert _avro_zigzag(raw, 0)[0] == want

    for did in (42, 43):
        blob = encode_avro_ocf(did, 3, seed=7)
        meta, blocks = list_avro_blocks(blob)
        assert meta["avro.codec"] == (
            b"null" if did % 2 == 0 else b"deflate")
        assert len(blocks) == 3
        for blk, (n, p) in enumerate(blocks):
            s = 7 + 11 * blk
            plen = 20 + (7 + 5 * blk) % 40
            assert n == 1 + blk % 3
            assert sum(p) == sum(
                (s + 7 * i) % 251 for i in range(plen))

    bad = bytearray(encode_avro_ocf(42, 2, seed=7))
    bad[-3] ^= 1
    with _pytest.raises(ValueError, match="sync"):
        list_avro_blocks(bytes(bad))
    with _pytest.raises(ValueError, match="magic"):
        list_avro_blocks(b"Obj\x02" + bytes(40))
    with _pytest.raises(ValueError, match="varint"):
        list_avro_blocks(b"Obj\x01" + b"\x80" * 16)
    lzma_codec = encode_avro_ocf(42, 1, seed=7).replace(
        b"\x08null", b"\x08lzma", 1)
    with _pytest.raises(NotImplementedError, match="codec"):
        list_avro_blocks(lzma_codec)

    rng = random.Random(2121)
    blob = encode_avro_ocf(43, 3, seed=7)
    for trial in range(200):
        if trial % 2 == 0:
            fz = bytes(rng.randrange(256)
                       for _ in range(rng.randint(0, 120)))
        else:
            b = bytearray(blob)
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            fz = bytes(b)
        try:
            list_avro_blocks(fz)
        except DECODE_ERRORS:
            pass


def test_esd_outlier_rounds_hand_cases(spark):
    """Rosner unmasking pin: in {2.0,2.1,1.9,2.05,9.0,1.95,-4.0} the
    9.0 masks the -4.0 — round 1 reads R=1.823101 removing id 5,
    round 2's R=2.040391 is LARGER (the whole point of re-
    studentizing) removing id 7, round 3 reads 1.264911; a constant
    group releases NULL R every round and never shrinks; a 2-point
    group is too small (NULL); bad n_rounds raises."""
    import pytest as _pytest

    from puffbird_spark.operators.drift import esd_outlier_rounds

    vals = {1: 2.0, 2: 2.1, 3: 1.9, 4: 2.05, 5: 9.0, 6: 1.95,
            7: -4.0}
    rows = [("a", i, v) for i, v in vals.items()]
    rows += [("const", i, 5.0) for i in range(4)]
    rows += [("tiny", 1, 1.0), ("tiny", 2, 2.0)]
    df = spark.createDataFrame(rows, "g string, id int, v double")
    out = {(r["g"], r["round"]): r for r in esd_outlier_rounds(
        df, "g", "v", "id", n_rounds=3).collect()}
    a1, a2, a3 = out[("a", 1)], out[("a", 2)], out[("a", 3)]
    assert (a1["r_stat"], a1["removed_id"], a1["removed_value"]) == \
        (1.823101, 5, 9.0)
    assert (a2["r_stat"], a2["removed_id"]) == (2.040391, 7)
    assert a2["r_stat"] > a1["r_stat"]          # unmasking
    assert (a3["r_stat"], a3["removed_id"]) == (1.264911, 2)
    assert (a1["n_remaining"], a2["n_remaining"],
            a3["n_remaining"]) == (7, 6, 5)
    for rnd in (1, 2, 3):
        c = out[("const", rnd)]
        assert c["r_stat"] is None and c["removed_id"] is None
        assert c["n_remaining"] == 4            # never shrinks
        t = out[("tiny", rnd)]
        assert t["r_stat"] is None and t["n_remaining"] == 2
    with _pytest.raises(ValueError, match="n_rounds"):
        esd_outlier_rounds(df, "g", "v", "id", n_rounds=0)


def test_jarque_bera_hand_cases(spark):
    """JB pins: the symmetric {1..5} reads S=0, K=-1.3, JB=0.352083
    (pure kurtosis term); the one-sided {1,1,1,1,10} reads S=1.5,
    K=0.25, JB=1.888021; a constant group (zero variance) is
    omitted."""
    from puffbird_spark.operators.drift import jarque_bera

    rows = [("sym", float(v)) for v in (1, 2, 3, 4, 5)]
    rows += [("skew", float(v)) for v in (1, 1, 1, 1, 10)]
    rows += [("const", 7.0)] * 4
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in jarque_bera(df, "g", "v").collect()}
    sym = out["sym"]
    assert (sym["skewness"], sym["kurtosis_excess"]) == (0.0, -1.3)
    assert sym["jb"] == 0.352083
    sk = out["skew"]
    assert (sk["skewness"], sk["kurtosis_excess"]) == (1.5, 0.25)
    assert sk["jb"] == 1.888021
    assert "const" not in out


def test_icc_two_way_hand_cases(spark):
    """ICC(2,1) pins the alpha-vs-ICC contrast: a rater with a
    constant +1 bias still reads cronbach alpha 1.0 (consistency
    forgives bias) but ICC(2,1) = 10/13 (absolute agreement charges
    it); identical raters read exactly 1.0; an all-constant design
    has zero denominator -> NULL; the shared complete-design probe
    rejects disjoint panels; n or k < 2 raises."""
    import pytest as _pytest

    from puffbird_spark.operators.evaluation import (
        cronbach_alpha, icc_two_way)

    rows = [(s, "a", float(s)) for s in (1, 2, 3, 4)]
    rows += [(s, "b", float(s) + 1.0) for s in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, "s int, i string, v double")
    r = icc_two_way(df, "s", "i", "v").collect()[0]
    assert (r["n_subjects"], r["k"]) == (4, 2)
    assert abs(r["icc"] - 10.0 / 13.0) < 1e-12
    assert cronbach_alpha(df, "s", "i", "v").collect()[0]["alpha"] \
        == 1.0                      # the contrast, on the same data

    same = [(s, it, float(s)) for s in (1, 2, 3) for it in ("a", "b")]
    p = icc_two_way(
        spark.createDataFrame(same, "s int, i string, v double"),
        "s", "i", "v").collect()[0]
    assert p["icc"] == 1.0

    const = [(s, it, 7.0) for s in (1, 2) for it in ("a", "b")]
    c = icc_two_way(
        spark.createDataFrame(const, "s int, i string, v double"),
        "s", "i", "v").collect()[0]
    assert c["icc"] is None

    with _pytest.raises(ValueError, match="COMPLETE design"):
        icc_two_way(
            spark.createDataFrame(
                [(1, "a", 1.0), (1, "b", 2.0), (2, "c", 1.0),
                 (2, "d", 2.0)], "s int, i string, v double"),
            "s", "i", "v")
    with _pytest.raises(ValueError, match=">= 2 subjects"):
        icc_two_way(
            spark.createDataFrame(
                [(1, "a", 1.0), (1, "b", 2.0)],
                "s int, i string, v double"),
            "s", "i", "v")


def test_weighted_kappa_hand_cases(spark):
    """Weighted kappa pins: the 16-pair 3-level table reads exactly
    1 - 112/336 = 2/3 quadratic and 1 - 80/226 linear; perfect
    agreement reads 1.0 under both weights; constant raters (zero
    expected disagreement) release NULL; non-integer categories
    raise the metric contract; bad weight name raises."""
    import pytest as _pytest

    from puffbird_spark.operators.evaluation import weighted_kappa

    pairs = ([(0, 0)] * 5 + [(1, 1)] * 4 + [(2, 2)] * 3
             + [(0, 1)] * 2 + [(1, 2)] + [(0, 2)])
    df = spark.createDataFrame(pairs, "a int, b int")
    q = weighted_kappa(df, "a", "b", weight="quadratic").collect()[0]
    assert q["n_items"] == 16
    assert (q["weighted_po_num"], q["weighted_pe_num"]) == (112.0, 336.0)
    assert q["kappa_w"] == 1.0 - 112.0 / 336.0
    lin = weighted_kappa(df, "a", "b", weight="linear").collect()[0]
    assert lin["kappa_w"] == 1.0 - 80.0 / 226.0

    perfect = spark.createDataFrame(
        [(i % 3, i % 3) for i in range(9)], "a int, b int")
    assert weighted_kappa(perfect, "a", "b").collect()[0]["kappa_w"] \
        == 1.0
    const = spark.createDataFrame([(1, 1)] * 4, "a int, b int")
    assert weighted_kappa(const, "a", "b").collect()[0]["kappa_w"] \
        is None
    with _pytest.raises(TypeError, match="INTEGER ordinal"):
        weighted_kappa(
            spark.createDataFrame([("x", "y")], "a string, b string"),
            "a", "b")
    with _pytest.raises(ValueError, match="weight"):
        weighted_kappa(df, "a", "b", weight="cubic")


def test_concordance_ccc_hand_cases(spark):
    """CCC pins: identical series read exactly 1.0; y = x + 1
    (perfect correlation, constant bias) reads 2*sxy/(2*sx2+1) =
    0.8 on {1..5} — the bias penalty Pearson would forgive; a
    sign-flipped series reads -1 < ccc < 0; both-constant-equal
    releases NULL; NaN rows excluded pairwise-complete."""
    from puffbird_spark.operators.evaluation import concordance_ccc

    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    same = spark.createDataFrame([(x, x) for x in xs],
                                 "x double, y double")
    assert concordance_ccc(same, "x", "y").collect()[0]["ccc"] == 1.0

    bias = spark.createDataFrame([(x, x + 1.0) for x in xs],
                                 "x double, y double")
    r = concordance_ccc(bias, "x", "y").collect()[0]
    # sxy = sx2 = 2, mean diff 1: 2*2/(2+2+1) = 0.8
    assert r["ccc"] == 0.8

    anti = spark.createDataFrame([(x, -x) for x in xs],
                                 "x double, y double")
    a = concordance_ccc(anti, "x", "y").collect()[0]
    assert -1.0 <= a["ccc"] < 0.0

    const = spark.createDataFrame([(7.0, 7.0)] * 3,
                                  "x double, y double")
    assert concordance_ccc(const, "x", "y").collect()[0]["ccc"] is None

    nan = spark.createDataFrame(
        [(1.0, 1.0), (float("nan"), 2.0), (2.0, 2.0)],
        "x double, y double")
    assert concordance_ccc(nan, "x", "y").collect()[0]["n"] == 2


def test_r14_nan_decimal_hole_regressions(spark):
    """Pins for the continuation self-review NaN class: a NaN value
    passes isNotNull but casts to NULL decimal, so counts included
    the row while sums dropped it — every affected operator now
    excludes NaN rows up front (shared drop_nan_rows). Each
    assertion compares the NaN-bearing input against the clean
    subset."""
    from puffbird_spark.operators.drift import (
        esd_outlier_rounds, jarque_bera)
    from puffbird_spark.operators.evaluation import cronbach_alpha
    from puffbird_spark.operators.timeseries import (
        autocorrelation, changepoint_binary, dickey_fuller,
        granger_lag1)

    nan = float("nan")

    clean = [("g", i, float(v)) for i, v in enumerate(
        (2, 21, 19, 90, 3))]
    withnan = clean + [("g", 9, nan)]
    a = esd_outlier_rounds(
        spark.createDataFrame(clean, "g string, id int, v double"),
        "g", "v", "id", n_rounds=1).collect()[0]
    b = esd_outlier_rounds(
        spark.createDataFrame(withnan, "g string, id int, v double"),
        "g", "v", "id", n_rounds=1).collect()[0]
    assert (a["n_remaining"], a["r_stat"]) == \
        (b["n_remaining"], b["r_stat"])

    ja = jarque_bera(
        spark.createDataFrame(clean, "g string, id int, v double"),
        "g", "v").collect()[0]
    jb_ = jarque_bera(
        spark.createDataFrame(withnan, "g string, id int, v double"),
        "g", "v").collect()[0]
    assert (ja["n"], ja["jb"]) == (jb_["n"], jb_["jb"])

    ts = [("e", t, float(v)) for t, v in enumerate((1, 3, 2, 5, 4))]
    tnan = ts + [("e", 9, nan)]
    for op, kw in ((autocorrelation, dict(lags=(1,))),
                   (changepoint_binary, {}),
                   (dickey_fuller, {}),):
        d1 = spark.createDataFrame(ts, "e string, t int, x double") \
            .withColumn("ts", F.col("t").cast("timestamp"))
        d2 = spark.createDataFrame(tnan, "e string, t int, x double") \
            .withColumn("ts", F.col("t").cast("timestamp"))
        r1 = op(d1, "e", "ts", "x", order_tiebreak="t", **kw).collect()
        r2 = op(d2, "e", "ts", "x", order_tiebreak="t", **kw).collect()
        assert sorted(map(tuple, r1)) == sorted(map(tuple, r2)), op

    g1 = spark.createDataFrame(
        [("e", t, float(v), float(v + t)) for t, v in enumerate(
            (1, 3, 2, 5, 4, 2))], "e string, t int, x double, y double"
    ).withColumn("ts", F.col("t").cast("timestamp"))
    g2 = g1.unionByName(spark.createDataFrame(
        [("e", 9, nan, 1.0), ("e", 10, 1.0, nan)],
        "e string, t int, x double, y double"
    ).withColumn("ts", F.col("t").cast("timestamp")))
    assert granger_lag1(g1, "e", "ts", "x", "y",
                        order_tiebreak="t").collect() == \
        granger_lag1(g2, "e", "ts", "x", "y",
                     order_tiebreak="t").collect()

    # complete-design ops: a NaN cell now makes the design
    # INCOMPLETE (fail loud), same as a NULL cell would
    import pytest as _pytest

    rows = [(s, it, float(s)) for s in (1, 2) for it in ("a", "b")]
    rows[0] = (1, "a", nan)
    with _pytest.raises(ValueError, match="COMPLETE design"):
        cronbach_alpha(
            spark.createDataFrame(rows, "s int, i string, v double"),
            "s", "i", "v")

    # WARC: negative Content-Length is a grammar violation
    from puffbird_spark.operators.warc import parse_warc_record

    with _pytest.raises(ValueError, match="negative"):
        parse_warc_record(
            b"WARC/1.0\r\nContent-Length: -4\r\n\r\n\r\n\r\n")


def test_page_test_hand_cases(spark):
    """Page's L pins: a perfectly increasing design reads the max
    L = 42 against E[L] = 36 (n=3, k=3); the reversed order reads
    the min 30; incomplete designs raise; the treatment order is
    the NATURAL label sort (the documented contract)."""
    import pytest as _pytest

    from puffbird_spark.operators.drift import page_test

    inc = [(b, t, float(v)) for b in (1, 2, 3)
           for t, v in (("a", 1), ("b", 2), ("c", 3))]
    r = page_test(
        spark.createDataFrame(inc, "b int, t string, v double"),
        "b", "t", "v").collect()[0]
    assert (r["n_blocks"], r["k"]) == (3, 3)
    assert (r["l_stat"], r["l_expect"]) == (42.0, 36.0)

    dec = [(b, t, float(v)) for b in (1, 2, 3)
           for t, v in (("a", 3), ("b", 2), ("c", 1))]
    d = page_test(
        spark.createDataFrame(dec, "b int, t string, v double"),
        "b", "t", "v").collect()[0]
    assert d["l_stat"] == 30.0

    with _pytest.raises(ValueError, match="COMPLETE block design"):
        page_test(
            spark.createDataFrame(inc[:5], "b int, t string, v double"),
            "b", "t", "v")


def test_mase_hand_cases(spark):
    """MASE pins: a perfect forecast reads 0; a constant +1 error on
    a unit-step series reads exactly 1.0 (no better than
    persistence); a constant series has no persistence error ->
    NULL; a 1-point series -> NULL; NaN rows excluded."""
    from puffbird_spark.operators.timeseries import mase

    rows = [("a", t, float(t + 1), float(t + 2)) for t in range(4)]
    rows += [("perfect", t, float(t + 1), float(t + 1))
             for t in range(4)]
    rows += [("const", t, 5.0, 6.0) for t in range(4)]
    rows += [("one", 0, 1.0, 2.0)]
    rows += [("nan", 0, 1.0, 1.0), ("nan", 1, float("nan"), 1.0),
             ("nan", 2, 2.0, 2.0)]
    df = spark.createDataFrame(
        rows, "e string, t int, y double, f double") \
        .withColumn("ts", F.col("t").cast("timestamp"))
    out = {r["e"]: r for r in mase(
        df, "e", "ts", "y", "f", order_tiebreak="t").collect()}
    assert out["a"]["mase"] == 1.0
    assert out["perfect"]["mase"] == 0.0
    assert out["const"]["mase"] is None
    assert out["one"]["mase"] is None and out["one"]["n"] == 1
    assert out["nan"]["n"] == 2
