"""LLM-data-pipeline queries over documents/embeddings (BASELINE.json north
star): dedup family, similarity search, text analysis. Thin wrappers over
``operators/`` and ``functions/`` — the real implementations live there."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import text as TXT
from ..operators import dedup as DD
from ..operators.similarity import cosine_topk, ivf_topk, lsh_bucket_topk
from .base import dec, load, query


@query("dedup_exact", oracle="""
SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents GROUP BY md5(text)
""")
def dedup_exact(spark, sf_dir):
    """Exact content dedup: hash-groupBy on the digest (shuffles 16-byte
    digests, not documents)."""
    docs = load(spark, sf_dir, "documents")
    return DD.exact_dedup_groups(docs, "text", "doc_id").select(
        "digest", "keep_id", "n_dups"
    )


@query("dedup_jaccard", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id,
        CASE WHEN len(toks) >= 3
             THEN list_sort(list_distinct(
                    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     FOR i IN range(1, len(toks) - 1)]))
             ELSE [] END AS sh
      FROM t)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
    AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.4
""")
def dedup_jaccard(spark, sf_dir):
    """Word-3-gram Jaccard near-dup pairs (threshold 0.4). All-pairs kernel
    — exact and oracle-checked at sf0.01; the scale path is
    dedup_minhash_lsh below."""
    docs = load(spark, sf_dir, "documents")
    return DD.jaccard_pairs(docs, "text", "doc_id", threshold=0.4, n=3)


@query("dedup_minhash_lsh", oracle="""
SELECT TRUE AS found, TRUE AS est_calibrated, TRUE AS precision_ok
""")
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidate pairs (32 hashes, 8 bands) — the linear-scale
    fuzzy dedup, SELF-CHECKING (round-3 VERDICT #5): xxhash64 has no
    DuckDB twin, so instead of emitting the pairs we emit the *assertion*
    over them, computed Spark-side against the exact Jaccard of each
    candidate pair (verify-only-candidates — the scale-correct pattern;
    never all-pairs):

    - ``found``           — the LSH stage surfaced >= 1 candidate pair
      (the sf0.01 corpus contains 25 planted near-dups);
    - ``est_calibrated``  — every signature-estimated Jaccard is within
      0.2 of the true shingle Jaccard (32 perms => sigma ~ 0.09; observed
      max deviation 0.082);
    - ``precision_ok``    — every candidate at est >= 0.4 has true
      Jaccard >= 0.5 (observed min 0.90).

    All inputs are seeded/deterministic, so the booleans are stable; any
    regression in the banding/signature pipeline flips one and breaks the
    hash against the oracle's literal TRUEs."""
    from ..functions.text import shingles, tokens

    docs = load(spark, sf_dir, "documents")
    pairs = DD.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=32, bands=8, n=3
    ).filter(F.col("est_jaccard") >= 0.4)
    sets = docs.select(
        F.col("doc_id").alias("id"), shingles(tokens("text"), n=3).alias("sh")
    )
    a, b = sets.alias("a"), sets.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    verified = (
        pairs.join(a, pairs["id_a"] == F.col("a.id"))
        .join(b, pairs["id_b"] == F.col("b.id"))
        .select(
            "est_jaccard",
            F.round(inter.cast("double") / union, 6).alias("true_jaccard"),
        )
    )
    return verified.agg(
        (F.count(F.lit(1)) >= 1).alias("found"),
        (F.max(F.abs(F.col("est_jaccard") - F.col("true_jaccard"))) <= 0.2)
        .alias("est_calibrated"),
        (F.min("true_jaccard") >= 0.5).alias("precision_ok"),
    )


def _minhash_md5_ctes(num_hashes: int = 16, bands: int = 4) -> str:
    """The CTE chain replaying the md5-hasher MinHash-LSH banding pipeline
    in DuckDB SQL, ending in ``pairs`` (candidate pairs with signatures).
    Shared by the banding oracle and the cluster-resolution oracle."""
    from ..operators.dedup import _MERSENNE, _perm_params

    rpb = num_hashes // bands
    mins = ",\n          ".join(
        f"list_min(list_transform(hr, r -> (r * {a} + {b}) % {_MERSENNE}))"
        for a, b in _perm_params(num_hashes)
    )
    return f"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_sort(list_distinct(
                     [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                      FOR i IN range(1, len(toks) - 1)]))
              ELSE [] END AS sh
       FROM t),
hr AS (SELECT doc_id,
         list_transform(sh, s ->
           ('0x' || substr(md5(s), 1, 15))::BIGINT % {_MERSENNE}) AS hr
       FROM sh WHERE len(sh) > 0),
sig AS (SELECT doc_id,
         [{mins}] AS sig
        FROM hr),
banded AS (
  SELECT doc_id, sig, b.band,
         md5(array_to_string(list_transform(
             list_slice(sig, b.band * {rpb} + 1, b.band * {rpb} + {rpb}),
             x -> CAST(x AS VARCHAR)), ',')) AS band_hash
  FROM sig, (SELECT unnest(range(0, {bands})) AS band) b),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
         a.sig AS sig_a, c.sig AS sig_b
  FROM banded a JOIN banded c
    ON a.band = c.band AND a.band_hash = c.band_hash AND a.doc_id < c.doc_id)"""


def _minhash_md5_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB twin of the FULL MinHash-LSH banding pipeline with the md5
    hasher: shingle -> 60-bit md5 hash -> mod-p permutations (identical
    (a, b) literals, seed 42) -> band md5 -> bucket pairs -> signature
    match fraction. Every stage is plain SQL, so banding itself — not just
    the Jaccard verification kernel — gets a hash-matched oracle row."""
    est = (f"round(CAST(len(list_filter(range(1, {num_hashes} + 1), "
           f"i -> sig_a[i] = sig_b[i])) AS DOUBLE) / {num_hashes}, 6)")
    return f"""
WITH {_minhash_md5_ctes(num_hashes, bands)}
SELECT id_a, id_b, {est} AS est_jaccard
FROM pairs
WHERE {est} >= 0.4
"""


@query("dedup_minhash_md5", oracle=_minhash_md5_oracle())
def dedup_minhash_md5(spark, sf_dir):
    """MinHash-LSH with the engine-portable md5 hasher (16 hashes, 4
    bands): the same banding plan as dedup_minhash_lsh but every hash
    primitive has a DuckDB twin, so the whole pipeline hash-matches."""
    docs = load(spark, sf_dir, "documents")
    return DD.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=16, bands=4, n=3, hasher="md5"
    ).filter(F.col("est_jaccard") >= 0.4)


@query("dedup_ngram_jaccard", oracle="""
WITH s AS (SELECT doc_id,
         CASE WHEN length(text) >= 5
              THEN list_sort(list_distinct(
                     [substr(text, i, 5) FOR i IN range(1, length(text) - 3)]))
              ELSE [] END AS sh
       FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
    AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5
""")
def dedup_ngram_jaccard(spark, sf_dir):
    """Character-5-gram Jaccard near-dup pairs (threshold 0.5) —
    language-agnostic dedup signal, robust where whitespace tokenization
    is meaningless (CJK, code). Exact all-pairs kernel, oracle-checked."""
    docs = load(spark, sf_dir, "documents")
    return DD.jaccard_pairs(
        docs, "text", "doc_id", threshold=0.5, n=5, kind="char"
    )


@query("text_shingle_hash", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id,
        CASE WHEN len(toks) >= 3
             THEN list_sort(list_distinct(
                    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     FOR i IN range(1, len(toks) - 1)]))
             ELSE [] END AS sh
      FROM t)
SELECT doc_id, unnest(list_transform(sh, x -> md5(x))) AS shingle_md5
FROM s
""")
def text_shingle_hash(spark, sf_dir):
    """Exploded per-shingle md5 — the materialized signature input shared
    by the dedup family, hash-matched shingle-by-shingle."""
    from ..functions.text import shingles, tokens

    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.explode(
            F.transform(
                shingles(tokens("text"), n=3),
                lambda s: F.md5(s.cast("binary")),
            )
        ).alias("shingle_md5"),
    )


@query("dedup_simhash", oracle="""
SELECT TRUE AS found, TRUE AS bucketed_equals_brute
""")
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs, Hamming <= 6, SELF-CHECKING (round-3
    VERDICT #5): the 7-segment pigeonhole bucketing claims EXACTLY the
    pair set a brute-force all-pairs Hamming scan would find — so the
    gate runs both (brute force is fine at gate SF; it is the verifier,
    the bucketed path is the product) and asserts set equality via two
    anti-joins:

    - ``found``                 — >= 1 pair within the radius exists;
    - ``bucketed_equals_brute`` — no pair missed by the buckets
      (pigeonhole completeness) and no pair emitted that brute force
      rejects (hamming filter correctness).

    A regression in segment derivation, bucket pairing, or the vote
    vector flips a boolean and breaks the hash."""
    from ..functions.text import tokens

    docs = load(spark, sf_dir, "documents")
    bucketed = DD.simhash_pairs(docs, "text", "doc_id", max_hamming=6).select(
        "id_a", "id_b"
    )
    fp = docs.select(F.col("doc_id").alias("id"),
                     DD.simhash(tokens("text")).alias("fp"))
    a, b = fp.alias("a"), fp.alias("b")
    brute = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .filter(F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))) <= 6)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    n_pairs = bucketed.agg(F.count(F.lit(1)).alias("n_pairs"))
    n_missed = brute.join(bucketed, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_missed")
    )
    n_extra = bucketed.join(brute, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_extra")
    )
    return (
        n_pairs.crossJoin(n_missed).crossJoin(n_extra).select(
            (F.col("n_pairs") >= 1).alias("found"),
            ((F.col("n_missed") == 0) & (F.col("n_extra") == 0))
            .alias("bucketed_equals_brute"),
        )
    )


@query("knn_cosine", oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10)
SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
  round(list_dot_product(q.v, e.v)
        / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))),
        6) AS cosine
FROM q JOIN e ON e.vec_id != q.vec_id
QUALIFY row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY cosine DESC, e.vec_id) <= 5
""")
def knn_cosine(spark, sf_dir):
    """Brute-force cosine top-5 for the first 10 vectors as queries."""
    emb = load(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), id_col="vec_id",
        vec_col="embedding", k=5, est_queries=10,
    )


def _ann_recall_gate(spark, sf_dir, ann_fn, min_avg_recall: float):
    """Shared self-check for the ANN paths (round-3 VERDICT #5): run the
    approximate index AND the exact brute-force twin over the same seeded
    queries, join, and emit the assertion —

    - ``n_queries``  — distinct queries the ANN path answered (must be all
      10: every query found a non-empty bucket/cell);
    - ``recall_ok``  — mean recall@5 vs exact >= ``min_avg_recall``.

    Deterministic end to end (hyperplanes/centroids are seeded), so the
    booleans are stable and a recall regression breaks the hash."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5,
        est_queries=10,
    ).select("query_id", "cand_id")
    # ONE reference to the ann frame: the r13 shape fed it to BOTH the
    # recall join and a separate n_queries agg, and Spark has no
    # cross-branch CSE, so the entire index+probe pipeline was planned
    # AND executed twice (guide §2.4). A full-outer join on the two
    # tiny top-k lists carries both signals in one pass: exact-side
    # rows drive per-query recall exactly as the old left join did,
    # ann-side presence drives n_queries. (An eager localCheckpoint of
    # ann also deduplicates, but serializes the ann pipeline before
    # the exact twin instead of letting the two subtrees overlap —
    # measured slower at bench SF and still two scheduling waves at
    # scale.)
    ann = ann_fn(emb, queries).select("query_id", "cand_id")
    j = exact.withColumn("__ex", F.lit(1)).join(
        ann.withColumn("hit", F.lit(1)), ["query_id", "cand_id"], "full"
    )
    per_q = j.groupBy("query_id").agg(
        (F.sum(
            F.when(F.col("__ex") == 1, F.coalesce(F.col("hit"), F.lit(0)))
            .otherwise(F.lit(0))
        ) / F.lit(5.0)).alias("recall"),
        F.max(F.coalesce(F.col("hit"), F.lit(0))).alias("__ann_any"),
    )
    return per_q.agg(
        F.sum(F.when(F.col("__ann_any") == 1, F.lit(1)).otherwise(F.lit(0)))
        .cast("long").alias("n_queries"),
        (F.avg("recall") >= F.lit(min_avg_recall)).alias("recall_ok"),
    )


@query("knn_lsh", oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
""")
def knn_lsh(spark, sf_dir):
    """SRP-LSH bucketed ANN top-5 — the sub-linear scale path. Uses the
    operator's DEFAULT probing, now sized from a target SCANNED
    FRACTION (0.5) instead of a fixed probe count (VERDICT r6 #6: a
    fixed 3*planes read 0.62 recall at sf0.01 but 0.48 at sf0.1 — the
    fraction, not the count, is what recall tracks on this synthetic
    random corpus). Smallest-margin 1-3 bit flips first; recall@5
    observed 0.82 at sf0.01 / 0.64 at sf0.1. Floor 0.5, now holding at
    BOTH SFs."""
    return _ann_recall_gate(
        spark, sf_dir,
        lambda emb, q: lsh_bucket_topk(
            emb, q, dim=64, id_col="vec_id", vec_col="embedding", k=5,
            planes=6, est_queries=10,
        ),
        min_avg_recall=0.5,
    )


@query("knn_ivf", oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
""")
def knn_ivf(spark, sf_dir):
    """IVF-celled ANN top-5 — k-means quantizer, nprobe=4 of 16 cells,
    gated on recall@5 vs the exact twin (observed 0.60 at sf0.01;
    floor 0.4)."""
    return _ann_recall_gate(
        spark, sf_dir,
        lambda emb, q: ivf_topk(
            emb, q, dim=64, id_col="vec_id", vec_col="embedding", k=5,
            n_centroids=16, nprobe=4, sample_size=1024,
        ),
        min_avg_recall=0.4,
    )


@query("knn_ivf_exact", oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10)
SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
  round(list_dot_product(q.v, e.v)
        / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))),
        6) AS cosine
FROM q JOIN e ON e.vec_id != q.vec_id
QUALIFY row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY cosine DESC, e.vec_id) <= 5
""")
def knn_ivf_exact(spark, sf_dir):
    """IVF with nprobe == n_centroids: every cell is probed, so the
    quantizer/cell-assignment/probe machinery must reproduce brute-force
    cosine EXACTLY — a hash-matched gate for the whole IVF path (the
    approximate-recall variant knn_ivf stays rows-only by design)."""
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), dim=64, id_col="vec_id",
        vec_col="embedding", k=5, n_centroids=8, nprobe=8, sample_size=1024,
    )


@query("knn_pq", oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
""")
def knn_pq(spark, sf_dir):
    """Product-quantized ANN (`pq_topk`, operators/similarity.py): each
    corpus vector stores as m=8 byte codes (64-dim float32: 256 B ->
    8 B, 32x — the representation billion-vector IVF-PQ systems scan),
    stage 1 scores reconstructed vectors (== the classic ADC table sum),
    stage 2 re-ranks overfetch*k survivors exactly. Recall@5 vs the
    exact twin: observed 1.0 at sf0.01 / 0.84 at sf0.1 with overfetch=8;
    floor 0.8."""
    from ..operators.similarity import pq_topk

    return _ann_recall_gate(
        spark, sf_dir,
        lambda emb, q: pq_topk(
            emb, q, dim=64, id_col="vec_id", vec_col="embedding", k=5,
            m=8, overfetch=8,
        ),
        min_avg_recall=0.8,
    )


@query("knn_sq_int8", oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10)
SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
  round(list_dot_product(q.v, e.v)
        / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))),
        6) AS cosine
FROM q JOIN e ON e.vec_id != q.vec_id
QUALIFY row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY cosine DESC, e.vec_id) <= 5
""")
def knn_sq_int8(spark, sf_dir):
    """int8 scalar-quantized ANN with exact re-rank (`sq_topk`,
    operators/similarity.py): the corpus representation that scans,
    caches, and shuffles is 1 byte/dim instead of 4 (a 100 TB float
    corpus becomes ~25 TB); stage 1 ranks overfetch*k candidates on the
    dequantized int8 vectors, stage 2 re-ranks the survivors on the
    full-precision vectors. Because the re-rank is exact, the gate
    hash-checks the ENTIRE output — ids, order, and 6-dp cosines —
    against the brute-force oracle (a lost true neighbor in stage 1
    would break the hash, which is the regression signal we want;
    measured recall 1.0 at sf0.01 and sf0.1 with overfetch=4)."""
    from ..operators.similarity import sq_topk

    emb = load(spark, sf_dir, "embeddings")
    return sq_topk(
        emb, emb.filter(F.col("vec_id") < 10), dim=64, id_col="vec_id",
        vec_col="embedding", k=5, overfetch=4, est_queries=10,
    )


@query("text_stats", oracle="""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
  CAST(len(toks) AS INT) AS n_tokens,
  CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars_nospace,
  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS mean_token_len,
  CAST(len(list_filter(toks, x -> list_contains(
       ['the','a','of','and','to','is','in'], x))) AS DOUBLE) / len(toks)
    AS stopword_ratio
FROM t
""")
def text_stats(spark, sf_dir):
    """Token counting + quality metrics as pure Column expressions."""
    docs = load(spark, sf_dir, "documents")
    toks = TXT.tokens("text")
    return docs.select(
        "doc_id",
        TXT.token_count(toks).alias("n_tokens"),
        TXT.char_count_no_spaces("text").alias("n_chars_nospace"),
        (TXT.char_count_no_spaces("text").cast("double")
         / TXT.token_count(toks)).alias("mean_token_len"),
        (TXT.stopword_count(toks, TXT.LANG_STOPWORDS["en"]).cast("double")
         / TXT.token_count(toks)).alias("stopword_ratio"),
    )


@query("text_fingerprint", oracle="""
SELECT doc_id,
  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
    AS fingerprint
FROM documents
""")
def text_fingerprint(spark, sf_dir):
    """Order-insensitive document fingerprint (md5 over canonical token
    set) — reorder-robust dedup key, oracle-checkable."""
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", TXT.fingerprint("text").alias("fingerprint"))


@query("text_langid", oracle="""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, lang,
  len(list_filter(toks, x -> list_contains(['the','a','of','and','to','is','in'], x))) AS s_en,
  len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','ein','nicht'], x))) AS s_de,
  len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','un'], x))) AS s_fr,
  len(list_filter(toks, x -> list_contains(['el','los','las','es','un','una','y'], x))) AS s_es,
  len(list_filter(toks, x -> list_contains(['的','是','了','在','我','有','和'], x))) AS s_zh
FROM t)
SELECT doc_id, lang AS labeled,
  CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
       WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
       WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
       WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
       ELSE 'zh' END AS predicted
FROM s
""")
def text_langid(spark, sf_dir):
    """Stopword-profile language ID (ties resolve en>de>fr>es>zh)."""
    docs = load(spark, sf_dir, "documents")
    toks = TXT.tokens("text")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled"),
        TXT.lang_id(toks).alias("predicted"),
    )


@query("text_quality", oracle="""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, length(text) AS nc, len(toks) AS nt,
        CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS ml,
        len(list_filter(toks, x -> list_contains(
            ['the','a','of','and','to','is','in'], x))) AS sw
      FROM t)
SELECT doc_id,
  CAST(CASE WHEN nc BETWEEN 100 AND 20000 THEN 0.25 ELSE 0.0 END
 + CASE WHEN nt BETWEEN 20 AND 5000 THEN 0.25 ELSE 0.0 END
 + CASE WHEN ml >= 2.0 AND ml <= 12.0 THEN 0.25 ELSE 0.0 END
 + CASE WHEN sw > 0 THEN 0.25 ELSE 0.0 END AS DOUBLE) AS quality
FROM s
""")
def text_quality(spark, sf_dir):
    """Composite quality score for pretraining filtering. The score is
    closed-form arithmetic over exact integer counts (mean token length is
    the one exact-division double), so the DuckDB twin hash-matches."""
    docs = load(spark, sf_dir, "documents")
    toks = TXT.tokens("text")
    return docs.select(
        "doc_id", TXT.quality_score("text", toks).alias("quality")
    )


@query("text_tfidf", oracle="""
WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents),
cnt AS (SELECT doc_id, token, COUNT(*) AS c FROM tf GROUP BY doc_id, token),
df AS (SELECT token, COUNT(*) AS dfreq FROM cnt GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT cnt.doc_id, cnt.token,
    round((CAST(cnt.c AS DOUBLE)
           / SUM(cnt.c) OVER (PARTITION BY cnt.doc_id))
          * ln(CAST(n.n_docs AS DOUBLE) / df.dfreq), 6) AS tfidf
  FROM cnt JOIN df USING (token) CROSS JOIN n)
SELECT doc_id, token, tfidf FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id
                           ORDER BY tfidf DESC, token) <= 3
""")
def text_tfidf(spark, sf_dir):
    """Top-3 TF-IDF terms per document — the classic signal for corpus
    keyword extraction. Scale shape: one shuffle for per-doc term counts;
    per-doc token totals come from a window over those counts (no second
    tokenization pass); document frequencies are a vocabulary-sized
    shuffle whose result broadcasts back. No all-pairs anything."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(TXT.tokens("text")).alias("token")
    )
    # cnt feeds BOTH the scored join and the dfreq aggregate; exchange
    # reuse does not fire (the branches' partial-aggregate stacking
    # differs), so the corpus is tokenized once per branch. Measured
    # trade-off at sf0.1: persist()-ing cnt halves the CPU but costs more
    # wall (cache build + columnar conversion > the cheap re-tokenize) and
    # leaks cache across a long session; at 100 TB a pipeline would
    # materialize the term-count table EXPLICITLY (write it out once, read
    # twice) rather than rely on executor cache. The gated query keeps the
    # stateless two-branch plan — both branches are map-parallel and
    # nothing shuffles twice.
    cnt = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    # each (doc, token) row is unique, so doc-frequency is a plain count
    dfreq = cnt.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    # corpus size as a 1-row broadcast aggregate folded into the same plan
    # — no separate .count() action / second driver job (VERDICT r2 #6)
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w_doc = Window.partitionBy("doc_id")
    scored = (
        cnt.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "token",
            F.round(
                (F.col("c").cast("double") / F.sum("c").over(w_doc))
                * F.log(F.col("n_docs").cast("double") / F.col("dfreq")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf")
    )


@query("text_top_ngrams", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id,
        CASE WHEN len(toks) >= 3
             THEN list_sort(list_distinct(
                    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     FOR i IN range(1, len(toks) - 1)]))
             ELSE [] END AS sh
      FROM t),
e AS (SELECT doc_id, unnest(sh) AS ngram FROM s)
SELECT ngram, COUNT(*) AS n_docs FROM e GROUP BY ngram
ORDER BY n_docs DESC, ngram LIMIT 20
""")
def text_top_ngrams(spark, sf_dir):
    """Corpus-wide top-20 trigrams by document frequency — boilerplate
    detection (the shingle whose doc-frequency explodes is the banner
    every page shares). One shuffle on the ngram key; top-k plans
    TakeOrderedAndProject, never a global sort."""
    from ..functions.text import shingles, tokens

    docs = load(spark, sf_dir, "documents")
    e = docs.select(
        "doc_id", F.explode(shingles(tokens("text"), n=3)).alias("ngram")
    )
    return (
        e.groupBy("ngram").agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("ngram"))
        .limit(20)
    )


@query("dedup_incremental", oracle="""
WITH b AS (SELECT doc_id, md5(text) AS digest FROM documents
           WHERE doc_id % 10 = 0),
c AS (SELECT DISTINCT md5(text) AS digest FROM documents
      WHERE doc_id % 10 <> 0),
f AS (SELECT digest, MIN(doc_id) AS doc_id FROM b GROUP BY digest)
SELECT f.doc_id, f.digest FROM f
WHERE NOT EXISTS (SELECT 1 FROM c
                  WHERE c.digest IS NOT DISTINCT FROM f.digest)
""")
def dedup_incremental(spark, sf_dir):
    """Append-shard dedup: a NEW batch (doc_id % 10 = 0) deduplicated
    against the existing corpus WITHOUT rescanning it — only the
    corpus's 16-byte digest column participates (`incremental_dedup`,
    operators/dedup.py). Survivors are first-per-digest within the
    batch minus anything already in the corpus; both the intra-batch
    min-id pin and the anti-join are hash-checked."""
    from ..operators.dedup import incremental_dedup

    docs = load(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    corpus_digests = docs.filter(F.col("doc_id") % 10 != 0).select(
        F.md5(F.col("text").cast("binary")).alias("digest")).distinct()
    out = incremental_dedup(batch, corpus_digests, "text", "doc_id")
    return out.select("doc_id", "digest")


@query("sketch_count_min", oracle="""
WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact FROM t
      WHERE token IS NOT NULL GROUP BY token)
SELECT token, n_exact, TRUE AS never_undercount, TRUE AS eps_bound_ok
FROM c ORDER BY n_exact DESC, token ASC LIMIT 20
""")
def sketch_count_min(spark, sf_dir):
    """Count-Min frequency sketch (`operators/sketch.py`): depth x width
    counter cells built as ONE explode + ONE aggregation (the sketch IS
    a tiny DataFrame — Spark 4 dropped stat.countMinSketch from the
    Python API); estimation is a broadcast join of the probe hashes
    against the cells. xxhash64 has no DuckDB twin, so the gate is
    SELF-CHECKING: the top-20 tokens' EXACT counts are oracle-verified,
    and the sketch's classic guarantees ship as deterministic booleans —
    ``never_undercount`` (estimate >= exact for every probe) and
    ``eps_bound_ok`` (estimate <= exact + 3*(e/width)*N — the classic
    bound with 3x headroom: at depth 5 the per-probe failure odds drop
    from ~e^-5 = 0.7% to ~(3e)^-5 = 3e-5, so the gate stays green on
    ANY corpus/SF the driver picks, not just the one it was tuned on;
    ADVICE r5). Everything is seeded, so the booleans are stable, not
    flaky."""
    import math

    from ..functions.text import tokens as toks_fn
    from ..operators.sketch import cms_estimate, count_min_sketch

    width, depth = 2048, 5
    toks = load(spark, sf_dir, "documents").select(
        F.explode(toks_fn("text")).alias("token")
    ).filter(F.col("token").isNotNull())
    exact = (
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("token")).limit(20)
    )
    sketch = count_min_sketch(toks, "token", width=width, depth=depth)
    est = cms_estimate(sketch, exact.select("token"), "token",
                       width=width, depth=depth)
    n_total = toks.agg(F.count(F.lit(1)).alias("__n"))
    eps = math.e / width
    return (
        exact.join(est, "token")
        .crossJoin(F.broadcast(n_total))
        .select(
            "token",
            F.col("n_exact").cast("long").alias("n_exact"),
            (F.col("estimate") >= F.col("n_exact")).alias("never_undercount"),
            (F.col("estimate") <= F.col("n_exact")
             + F.lit(3.0 * eps) * F.col("__n")).alias("eps_bound_ok"),
        )
    )


def _enc_doc_id() -> str:
    """DuckDB replay of splits._len_prefixed for the never-NULL doc_id."""
    v = "CAST(doc_id AS VARCHAR)"
    return f"'v' || CAST(length({v}) AS VARCHAR) || ':' || {v}"


@query("sketch_quantile_kmv", oracle=f"""
WITH d AS (
  SELECT source, n_chars AS val, CAST(doc_id AS VARCHAR) AS key,
    substr(md5('kmv:' || {_enc_doc_id()}), 1, 16) AS draw
  FROM documents WHERE n_chars IS NOT NULL),
sk AS (
  SELECT source, val, key FROM (
    SELECT source, val, key,
      row_number() OVER (PARTITION BY source ORDER BY draw, key) AS rk
    FROM d) WHERE rk <= 64),
sm AS (
  SELECT source, val,
    row_number() OVER (PARTITION BY source ORDER BY val, key) AS rn,
    COUNT(*) OVER (PARTITION BY source) AS m
  FROM sk),
fx AS (
  SELECT source, val,
    row_number() OVER (PARTITION BY source ORDER BY val, key) AS rn,
    COUNT(*) OVER (PARTITION BY source) AS n
  FROM d),
qs AS (SELECT CAST(q AS DOUBLE) AS q
       FROM (VALUES (0.1), (0.5), (0.9)) t(q)),
est AS (
  SELECT sm.source, qs.q, sm.m, sm.val AS est
  FROM sm CROSS JOIN qs
  WHERE sm.rn = CAST(floor(qs.q * (sm.m - 1)) AS BIGINT) + 1),
ex AS (
  SELECT fx.source, qs.q, fx.n, fx.val AS exact_q
  FROM fx CROSS JOIN qs
  WHERE fx.rn = CAST(floor(qs.q * (fx.n - 1)) AS BIGINT) + 1)
SELECT est.source, est.q, CAST(est.m AS BIGINT) AS sample_n,
  CAST(est.est AS BIGINT) AS est, CAST(ex.n AS BIGINT) AS n,
  CAST(ex.exact_q AS BIGINT) AS exact_q
FROM est JOIN ex ON est.source = ex.source AND est.q = ex.q
""")
def sketch_quantile_kmv(spark, sf_dir):
    """Mergeable KMV (bottom-k) quantile sketch (`operators/sketch.py`):
    per-source length quantiles (p10/p50/p90) estimated from the
    deterministic bottom-64-by-md5 sample, next to the exact quantiles
    of the full data as the accuracy twin. The sketch build is
    scan-local (mapInPandas fold, ≤ k rows per partition-group; only
    candidates shuffle) and the sketch persists/merges losslessly
    across shards — the quantile analogue of the HLL state column.
    Every estimate is an actual data value selected at a deterministic
    rank, so estimate AND exact sides hash-match the single-threaded
    oracle bit for bit; accuracy bounds are asserted by unit test (not
    gate booleans — the sample-quantile bound is probabilistic; ADVICE
    r5 precedent)."""
    from ..operators.sketch import kmv_quantiles, kmv_sample

    docs = load(spark, sf_dir, "documents")
    qs = [0.1, 0.5, 0.9]
    sketch = kmv_sample(docs, key="doc_id", value_col="n_chars", k=64,
                        group_cols=["source"], seed="kmv")
    est = kmv_quantiles(sketch, qs, group_cols=["source"])
    exact_in = docs.select(
        "source",
        F.col("n_chars").alias("__val"),
        F.col("doc_id").cast("string").alias("__key"),
    ).filter(F.col("__val").isNotNull())
    exact = kmv_quantiles(
        exact_in, qs, group_cols=["source"], est_col="exact_q", n_col="n")
    return (
        est.join(exact, ["source", "q"])
        .select(
            "source", "q",
            F.col("sample_n").cast("long").alias("sample_n"),
            F.col("est").cast("long").alias("est"),
            F.col("n").cast("long").alias("n"),
            F.col("exact_q").cast("long").alias("exact_q"),
        )
    )


@query("text_heavy_hitters", oracle="""
WITH t AS (SELECT unnest(string_split(text, ' ')) AS item FROM documents)
SELECT item, CAST(COUNT(*) AS BIGINT) AS n_occurrences, TRUE AS guarantee_ok
FROM t WHERE item IS NOT NULL
GROUP BY item ORDER BY n_occurrences DESC, item ASC LIMIT 20
""")
def text_heavy_hitters(spark, sf_dir):
    """Top-20 most frequent tokens via bounded-memory Misra-Gries
    candidates + exact recount (`operators/sketch.py`): phase 1 is a
    scan-local mapInPandas fold emitting <= capacity candidates per
    partition (never a full-cardinality shuffle); phase 2 recounts ONLY
    candidate-matching rows exactly. The output is exact whenever the
    20th count exceeds N/capacity — emitted as the ``guarantee_ok``
    audit boolean, which the oracle pins TRUE — so the whole answer
    (membership, exact counts, deterministic tie-break, and the
    pigeonhole audit) is hash-matched against DuckDB's exact GROUP BY."""
    from ..functions.text import tokens
    from ..operators.sketch import top_k_frequent

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("token"))
    return top_k_frequent(toks, "token", k=20, capacity=4096)


@query("embedding_centroids", oracle="""
WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
x AS (SELECT label,
        CAST(unnest(range(0, len(v))) AS INT) AS pos,
        unnest(v) AS x
      FROM e)
SELECT label, pos,
  CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS centroid
FROM x GROUP BY label, pos
""")
def embedding_centroids(spark, sf_dir):
    """Per-label embedding centroid, element-wise — the distributed
    vector-aggregation shape (class prototypes, IVF retraining).
    posexplode then ONE shuffle on (label, pos); means use fixed-scale
    decimal sums so the result is independent of partitioning and
    aggregation order (the float-determinism policy applied to
    arbitrary-precision floats: snap to decimal(28,12) first — same
    deterministic rounding on both engines)."""
    from ..functions.vectors import as_double

    emb = load(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", F.posexplode(as_double("embedding")).alias("pos", "x")
    )
    return x.groupBy("label", "pos").agg(
        (F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
         / F.count(F.lit(1))).alias("centroid")
    )


def _dedup_clusters_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """Recursive-CTE components over the md5-MinHash-LSH candidate pairs
    — the full scale pipeline (banding -> filter -> clusters) in SQL."""
    est = (f"round(CAST(len(list_filter(range(1, {num_hashes} + 1), "
           f"i -> sig_a[i] = sig_b[i])) AS DOUBLE) / {num_hashes}, 6)")
    return f"""
WITH RECURSIVE {_minhash_md5_ctes(num_hashes, bands)},
cand AS (SELECT id_a, id_b FROM pairs WHERE {est} >= 0.4),
edges AS (SELECT id_a AS s, id_b AS d FROM cand
          UNION SELECT id_b, id_a FROM cand),
reach AS (
  SELECT DISTINCT s AS v, s AS r FROM edges
  UNION
  SELECT e.s AS v, reach.r FROM edges e JOIN reach ON e.d = reach.v)
SELECT v AS doc_id, MIN(r) AS cluster_id,
       (v = MIN(r)) AS is_canonical
FROM reach GROUP BY v
"""


@query("dedup_clusters", oracle=_dedup_clusters_oracle())
def dedup_clusters_q(spark, sf_dir):
    """END-TO-END fuzzy dedup at the scale shape: md5-MinHash-LSH banding
    generates candidate pairs (bucketed, never all-pairs), the estimated-
    jaccard filter trims them, and iterative min-label connected
    components (operators/graph.py) resolve per-document cluster ids +
    the canonical-survivor flag — the actual keep/drop pipeline a 100 TB
    corpus runs, hash-matched stage-for-stage against a recursive-CTE
    oracle."""
    from ..operators.graph import dedup_clusters

    docs = load(spark, sf_dir, "documents")
    pairs = DD.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=16, bands=4, n=3, hasher="md5"
    ).filter(F.col("est_jaccard") >= 0.4)
    return dedup_clusters(pairs)


@query("text_repetition", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (SELECT doc_id,
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         FOR i IN range(1, len(toks) - 1)] AS grams
      FROM t WHERE len(toks) >= 3),
e AS (SELECT doc_id, unnest(grams) AS gram, len(grams) AS n_grams FROM g),
c AS (SELECT doc_id, gram, COUNT(*) AS cnt, MIN(n_grams) AS n_grams
      FROM e GROUP BY doc_id, gram)
SELECT doc_id,
  CAST(MAX(cnt) AS BIGINT) AS top_gram_count,
  CAST(MIN(n_grams) AS BIGINT) AS n_grams,
  round(CAST(MAX(cnt) AS DOUBLE) / MIN(n_grams), 6) AS repetition_ratio
FROM c GROUP BY doc_id
""")
def text_repetition(spark, sf_dir):
    """Intra-document repetition (most-frequent-trigram share of all
    trigram OCCURRENCES, duplicates counted) — the boilerplate/spam
    signal of a pretraining quality filter. One keyed shuffle on
    (doc, gram), then a per-doc max; no distinct pass."""
    docs = load(spark, sf_dir, "documents")
    toks = TXT.tokens("text")
    # non-distinct trigram occurrences (shingles() dedups — here the
    # duplicate count IS the signal); zip-shifted build, no O(tokens²)
    # slice-per-position lambda (see functions/text.py::gram_occurrences)
    grams = TXT.gram_occurrences(toks, n=3)
    e = docs.select("doc_id", F.col("text")).select(
        "doc_id", grams.alias("grams")
    ).filter(F.size("grams") >= 1).select(
        "doc_id", F.explode("grams").alias("gram"), F.size("grams").alias("n_grams")
    )
    c = e.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("n_grams").alias("n_grams")
    )
    return c.groupBy("doc_id").agg(
        F.max("cnt").alias("top_gram_count"),
        F.min("n_grams").alias("n_grams"),
        F.round(
            F.max("cnt").cast("double") / F.min("n_grams"), 6
        ).alias("repetition_ratio"),
    )


@query("text_decontaminate", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id,
        CASE WHEN len(toks) >= 3
             THEN list_sort(list_distinct(
                    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     FOR i IN range(1, len(toks) - 1)]))
             ELSE [] END AS sh
      FROM t),
ev AS (SELECT DISTINCT unnest(sh) AS gram FROM s WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS gram
       FROM s WHERE doc_id % 20 <> 0)
SELECT tr.doc_id AS doc_id,
       CAST(MAX(tr.n_grams) AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_contaminated,
       round(CAST(COUNT(*) AS DOUBLE) / MAX(tr.n_grams), 6) AS contamination
FROM tr JOIN ev USING (gram)
GROUP BY tr.doc_id
""")
def text_decontaminate(spark, sf_dir):
    """Train/eval decontamination: eval slice = every 20th doc; train docs
    sharing any distinct trigram with it are flagged with their overlap
    fraction. Eval gram set is broadcast — the train corpus is a map-side
    semi-join + one groupBy(doc), never shuffled by gram."""
    from ..operators.decontam import contamination

    docs = load(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    tr = docs.filter(F.col("doc_id") % 20 != 0)
    out = contamination(tr, ev, "text", "doc_id", n=3)
    return out.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        "contamination",
    )


@query("pack_spanning", oracle="""
WITH t AS (
  SELECT doc_id, doc_id % 8 AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
), s AS (
  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       PARTITION BY shard ORDER BY doc_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    AS start_offset
  FROM t WHERE n_tokens > 0
)
SELECT shard, doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, start_offset,
  CAST(start_offset // 512 AS BIGINT) AS first_pack,
  CAST((start_offset + n_tokens - 1) // 512 AS BIGINT) AS last_pack,
  CAST((start_offset + n_tokens - 1) // 512
       - start_offset // 512 + 1 AS BIGINT) AS n_packs_spanned
FROM s
""")
def pack_spanning_q(spark, sf_dir):
    """GPT-style concat-then-cut sequence packing (budget 512, 8 shards):
    a prefix-sum window per shard — one Exchange, closed-form, no UDF.
    Packs never cross shards, so 1000 executors pack independently."""
    from ..operators.packing import pack_spanning

    docs = load(spark, sf_dir, "documents")
    return pack_spanning(
        docs, TXT.tokens("text"), "doc_id", budget=512, shards=8
    )


@query("pack_greedy", oracle="""
WITH RECURSIVE t AS (
  SELECT doc_id, doc_id % 8 AS shard,
         len(string_split(text, ' ')) AS n_tokens,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents
  WHERE len(string_split(text, ' ')) > 0
), packed AS (
  SELECT shard, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS pack_id,
         CAST(n_tokens AS BIGINT) AS pack_fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN p.pack_fill + t.n_tokens > 512
              THEN p.pack_id + 1 ELSE p.pack_id END,
         CASE WHEN p.pack_fill + t.n_tokens > 512
              THEN CAST(t.n_tokens AS BIGINT)
              ELSE p.pack_fill + t.n_tokens END
  FROM packed p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT shard, doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       pack_id, pack_fill
FROM packed
""")
def pack_greedy_q(spark, sf_dir):
    """No-split greedy packing (budget 512, 8 shards): per-shard
    sequential fill via ONE applyInPandas scan; the DuckDB oracle replays
    the recurrence as a recursive CTE — cross-engine proof of a
    non-closed-form operator."""
    from ..operators.packing import pack_greedy

    docs = load(spark, sf_dir, "documents")
    return pack_greedy(
        docs, TXT.tokens("text"), "doc_id", budget=512, shards=8
    )


@query("text_chunk_windows", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
w AS (SELECT doc_id, len(toks) AS sz,
             unnest([s FOR s IN range(0, GREATEST(len(toks), 1), 48)])
               AS start
      FROM t)
SELECT w.doc_id AS doc_id,
       CAST(start // 48 AS INTEGER) AS chunk_id,
       array_to_string(list_slice(t.toks, start + 1, start + 64), ' ')
         AS chunk,
       CAST(LEAST(sz - start, 64) AS INTEGER) AS chunk_tokens
FROM w JOIN t USING (doc_id)
WHERE start < sz
""")
def text_chunk_windows(spark, sf_dir):
    """Overlapping token-window chunking (width 64, stride 48) — the
    RAG / long-doc split stage. Generator expressions only: no UDF, no
    shuffle; the explode inlines in codegen."""
    docs = load(spark, sf_dir, "documents")
    ch = TXT.chunk_windows(TXT.tokens("text"), width=64, stride=48)
    return docs.select(
        "doc_id", F.explode(ch).alias("c")
    ).select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.chunk").alias("chunk"),
        F.col("c.chunk_tokens").alias("chunk_tokens"),
    )


@query("text_decontaminate_bloom", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id,
        CASE WHEN len(toks) >= 3
             THEN list_sort(list_distinct(
                    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     FOR i IN range(1, len(toks) - 1)]))
             ELSE [] END AS sh
      FROM t),
ev AS (SELECT DISTINCT unnest(sh) AS gram FROM s WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id, unnest(sh) AS gram
       FROM s WHERE doc_id % 20 <> 0)
SELECT CAST(COUNT(DISTINCT tr.doc_id) AS BIGINT) AS n_exact,
       TRUE AS no_false_negatives, TRUE AS fp_rate_ok
FROM tr JOIN ev USING (gram)
""")
def text_decontaminate_bloom(spark, sf_dir):
    """Bloom-filter decontamination — the scale path when the eval gram
    set outgrows a broadcast join: the filter is m bits (2^17 here) no
    matter how many grams went in, and the train side becomes a
    SCAN-LOCAL membership test (literal word array + native bit
    arithmetic in an exists HOF — no join, no shuffle, no Python).

    xxhash64 has no DuckDB twin, so the gate is SELF-CHECKING (same
    pattern as dedup_minhash_lsh): it runs the exact broadcast-join
    operator alongside the Bloom probe and emits —

    - ``n_exact``            — exact contaminated-doc count, replayed and
      hash-verified by the DuckDB oracle;
    - ``no_false_negatives`` — every exactly-contaminated doc is
      Bloom-flagged (the Bloom guarantee; a hash-mismatch between build
      and probe sides would break it);
    - ``fp_rate_ok``         — false-positive rate over clean docs
      <= 2%: (1-e^{-kn/m})^k ~ 0.4% at 5 hashes, ~42k grams, 2^17 bits.
    """
    from ..functions.text import shingles, tokens
    from ..operators.decontam import (
        bloom_contaminated,
        bloom_filter_words,
        contamination,
    )
    from ..plans import fence

    docs = load(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    tr = docs.filter(F.col("doc_id") % 20 != 0)

    ev_grams = fence(ev, [], sh=shingles(tokens("text"), 3)).select(
        F.explode("sh").alias("gram")).distinct()
    words = bloom_filter_words(ev_grams, "gram", m_bits=1 << 17, k=5)
    bloom = bloom_contaminated(tr, words, "text", "doc_id", n=3, k=5)

    exact = contamination(tr, ev, "text", "doc_id", n=3).select(
        "doc_id", F.lit(True).alias("exact_hit"))
    joined = bloom.join(exact, "doc_id", "left")
    n_train = joined.agg(F.count(F.lit(1)).alias("n_train"))
    stats = joined.agg(
        F.sum(F.when(F.col("exact_hit"), 1).otherwise(0)).alias("n_exact"),
        F.sum(F.when(F.col("exact_hit") & ~F.col("bloom_hit"), 1)
              .otherwise(0)).alias("n_missed"),
        F.sum(F.when(F.col("bloom_hit") & F.col("exact_hit").isNull(), 1)
              .otherwise(0)).alias("n_fp"),
    )
    return stats.crossJoin(n_train).select(
        F.col("n_exact").cast("long").alias("n_exact"),
        (F.col("n_missed") == 0).alias("no_false_negatives"),
        ((F.col("n_fp") / (F.col("n_train") - F.col("n_exact"))) <= 0.02)
        .alias("fp_rate_ok"),
    )


@query("dedup_embedding_clusters", oracle="""
WITH RECURSIVE
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45),
edges AS (SELECT id_a AS s, id_b AS d FROM cand
          UNION SELECT id_b, id_a FROM cand),
reach AS (
  SELECT DISTINCT s AS v, s AS r FROM edges
  UNION
  SELECT ed.s AS v, reach.r FROM edges ed JOIN reach ON ed.d = reach.v)
SELECT v AS vec_id, MIN(r) AS cluster_id, (v = MIN(r)) AS is_canonical
FROM reach GROUP BY v
""")
def dedup_embedding_clusters(spark, sf_dir):
    """END-TO-END embedding near-dup resolution: exact cosine pairs at
    threshold 0.45 (the verifier kernel — at 100 TB the SRP-LSH buckets
    generate candidates first and the same exact-cosine filter verifies
    them, feeding the identical cluster stage) resolved into per-vector
    cluster ids + canonical-survivor flags by the iterative min-label
    connected components of operators/graph.py. The embedding sibling of
    dedup_clusters, hash-matched against a recursive-CTE oracle."""
    from ..operators.graph import dedup_clusters
    from .sql_q import dedup_embedding

    pairs = dedup_embedding(spark, sf_dir).select("id_a", "id_b")
    out = dedup_clusters(pairs)
    return out.select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "is_canonical"
    )


@query("text_normalize", oracle="""
SELECT doc_id,
  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
       ' +', ' ', 'g')) AS norm,
  CAST(length(trim(regexp_replace(regexp_replace(lower(text),
       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS norm_len
FROM documents
""")
def text_normalize(spark, sf_dir):
    """Canonical text normalization (the first stage of every dedup/
    quality pipeline): lowercase, strip non-alphanumerics to spaces,
    collapse whitespace runs, trim. Pure scan-local regexp Columns —
    zero UDFs, zero shuffles — and byte-identical on both engines."""
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +", " ",
        )
    )
    return docs.select(
        "doc_id", norm.alias("norm"),
        F.length(norm).cast("long").alias("norm_len"),
    )


@query("dedup_substring_spans", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
           WHERE text IS NOT NULL),
w0 AS (SELECT doc_id, greatest(len(toks) - 19, 0) AS nw,
         CASE WHEN len(toks) >= 20
              THEN [array_to_string(toks[i:i+19], ' ')
                    FOR i IN range(1, len(toks) - 18)]
              ELSE [] END AS wins
       FROM t),
w AS (SELECT doc_id, unnest(wins) AS win,
             generate_subscripts(wins, 1) AS pos
      FROM w0 WHERE nw >= 1),
dup AS (SELECT win FROM w GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2),
f AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (win)),
isl AS (SELECT doc_id, pos,
          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM f),
runs AS (SELECT doc_id, g, COUNT(*) AS rl FROM isl GROUP BY doc_id, g),
per AS (SELECT doc_id, SUM(rl) AS ndw, MAX(rl) + 19 AS span
        FROM runs GROUP BY doc_id)
SELECT d.doc_id, CAST(d.nw AS BIGINT) AS n_windows,
  CAST(COALESCE(p.ndw, 0) AS BIGINT) AS n_dup_windows,
  CAST(COALESCE(p.span, 0) AS BIGINT) AS max_dup_span_tokens
FROM w0 d LEFT JOIN per p USING (doc_id) WHERE d.nw >= 1
""")
def dedup_substring_spans(spark, sf_dir):
    """Exact substring duplication at 20-token-window granularity
    (`duplicate_spans`, operators/dedup.py — the distributed stand-in
    for Lee et al. 2022's suffix-array pass): every cross-document
    duplicated substring of >= 20 tokens contains a duplicated window,
    so per-doc duplicated-window counts and the longest consecutive
    duplicated stretch (gaps-and-islands fold) find all such spans. One
    shuffle keyed on the 16-byte window digest — window TEXT never
    shuffles; the oracle groups by the window text itself, so a digest
    collision would break the hash (none expected at 2^-64/pair). All
    three per-doc statistics are hash-checked for every document."""
    from ..operators.dedup import duplicate_spans

    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    return duplicate_spans(docs, "text", "doc_id", n=20)


def _kmeans_ctes(k: int = 8) -> str:
    """CTE chain replaying one hash-seeded Lloyd refinement, ending in
    ``a2`` (vec_id, v, cid, d2 — the final assignment). Shared by the
    k-means oracle and the semantic-dedup oracle."""
    enc = ("'v' || CAST(length(CAST(vec_id AS VARCHAR)) AS VARCHAR) "
           "|| ':' || CAST(vec_id AS VARCHAR)")
    return f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ini AS (
  SELECT vec_id, v,
    CAST(row_number() OVER (
      ORDER BY substr(md5('kmeans:' || {enc}), 1, 16), vec_id) AS INT) - 1
      AS cid
  FROM e
  QUALIFY row_number() OVER (
      ORDER BY substr(md5('kmeans:' || {enc}), 1, 16), vec_id) <= {k}),
c0 AS (SELECT cid, v AS c FROM ini),
a1 AS (
  SELECT e.vec_id, e.v, c0.cid,
    round(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c0.c)
          + list_dot_product(c0.c, c0.c), 6) AS d2
  FROM e CROSS JOIN c0
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d2, cid) = 1),
m1 AS (SELECT cid, CAST(unnest(range(0, len(v))) AS INT) AS pos,
              unnest(v) AS x
       FROM a1),
c1e AS (SELECT cid, pos,
          CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
        FROM m1 GROUP BY cid, pos),
c1 AS (SELECT cid, list(m ORDER BY pos) AS c FROM c1e GROUP BY cid),
a2 AS (
  SELECT e.vec_id, e.v, c1.cid,
    round(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c1.c)
          + list_dot_product(c1.c, c1.c), 6) AS d2
  FROM e CROSS JOIN c1
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d2, cid) = 1)"""


def _kmeans_oracle(k: int = 8) -> str:
    return f"""
WITH {_kmeans_ctes(k)}
SELECT vec_id, cluster, d2
FROM (SELECT vec_id, cid AS cluster, d2 FROM a2)
"""


@query("embedding_kmeans", oracle=_kmeans_oracle())
def embedding_kmeans(spark, sf_dir):
    """Deterministic distributed k-means (`operators/clustering.py`,
    k=8, one Lloyd refinement from hash-seeded centroids) — corpus
    clustering for curation (domain discovery, SemDeDup-style
    cluster-then-dedup). Assignment is scan-local (centroids ship as k
    ndarray literals; squared L2 via the same left-fold dot the cosine
    family uses, 6-dp rounded, cid tiebreak); the update is ONE
    (cluster, pos) keyed aggregation with decimal-snapped means, so the
    whole trajectory is partitioning-independent. The oracle replays
    seed selection, both assignment passes, and the mean update in SQL
    — every vector's final cluster AND distance hash-checked."""
    from ..operators.clustering import kmeans_assign

    emb = load(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, "vec_id", "embedding", k=8, iters=1)


@query("dedup_semantic", oracle=f"""
WITH RECURSIVE {_kmeans_ctes(8)},
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM a2 a JOIN a2 b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45),
edges AS (SELECT id_a AS s, id_b AS d FROM cand
          UNION SELECT id_b, id_a FROM cand),
reach AS (
  SELECT DISTINCT s AS v, s AS r FROM edges
  UNION
  SELECT ed.s AS v, reach.r FROM edges ed JOIN reach ON ed.d = reach.v)
SELECT v AS vec_id, MIN(r) AS cluster_id, (v = MIN(r)) AS is_canonical
FROM reach GROUP BY v
""")
def dedup_semantic(spark, sf_dir):
    """SemDeDup-shaped semantic dedup (`semantic_dedup`,
    operators/clustering.py; Abbas et al. 2023): k-means-cluster the
    embeddings, search cosine >= 0.45 pairs ONLY WITHIN each cluster
    (pair cost n²/k, not n² — the reason billion-doc semantic dedup is
    feasible; raise k with the corpus), resolve with the shared
    min-label connected components. The within-cluster restriction is
    the documented approximation vs the exact all-pairs twin
    `dedup_embedding_clusters`; the oracle replays the SAME clustering
    + restriction, so every surviving pair, cluster id, and canonical
    flag is hash-checked end to end."""
    from ..operators.clustering import semantic_dedup

    emb = load(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding", k=8, iters=1, threshold=0.45)


@query("dedup_lines", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
           WHERE text IS NOT NULL),
l AS (SELECT doc_id,
        [array_to_string(toks[(i-1)*8+1:(i-1)*8+8], ' ')
         FOR i IN range(1, CAST(ceil(len(toks) / 8.0) AS INT) + 1)]
          AS lines
      FROM t),
x AS (SELECT doc_id, unnest(lines) AS line,
             generate_subscripts(lines, 1) AS pos
      FROM l),
bo AS (SELECT line FROM x GROUP BY line
       HAVING COUNT(DISTINCT doc_id) >= 3),
m AS (SELECT x.doc_id, x.pos, x.line, (bo.line IS NOT NULL) AS b
      FROM x LEFT JOIN bo USING (line))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_lines,
  COALESCE(array_to_string(list(line ORDER BY pos) FILTER (WHERE NOT b),
           chr(10)), '') AS clean_text
FROM m GROUP BY doc_id
""")
def dedup_lines(spark, sf_dir):
    """Line-level boilerplate removal (`strip_boilerplate_lines`,
    operators/dedup.py — the RefinedWeb/CCNet line-dedup stage): lines
    occurring verbatim in >= 3 distinct documents are stripped and each
    document's surviving lines reassemble in original order. The
    synthetic corpus has no newlines, so the gate line-ifies each text
    into 8-token chunks first (the operator is separator-generic; the
    chunking is replayed identically in the oracle). Counting shuffles
    16-byte line digests, never line text; reassembly order is pinned
    by array_sort over (pos, ...) structs. Per-doc line counts,
    boilerplate counts AND the full cleaned text are hash-checked."""
    from ..operators.dedup import strip_boilerplate_lines

    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    nl = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(1), nl),
        lambda i: F.array_join(
            F.slice(toks, (i - 1) * 8 + 1, 8), " "),
    )
    lined = docs.select(
        "doc_id", F.array_join(lines, "\n").alias("text"))
    return strip_boilerplate_lines(
        lined, "text", "doc_id", min_docs=3, sep="\n")


@query("text_perplexity_bigram", oracle="""
WITH tr AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents
            WHERE doc_id % 2 = 0 AND text IS NOT NULL
              AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 2),
trb AS (SELECT unnest([{'p': toks[i], 'w': toks[i+1]}
                       FOR i IN range(1, len(toks))]) AS bg
        FROM tr),
bi AS (SELECT bg.p AS p, bg.w AS w, COUNT(*) AS c FROM trb GROUP BY 1, 2),
ctx AS (SELECT p, SUM(c) AS cc FROM bi GROUP BY 1),
voc AS (SELECT COUNT(DISTINCT t) AS v
        FROM (SELECT unnest(toks) AS t FROM tr)),
d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents
      WHERE text IS NOT NULL AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 2),
db AS (SELECT doc_id, unnest([{'p': toks[i], 'w': toks[i+1]}
                              FOR i IN range(1, len(toks))]) AS bg
       FROM d),
sc AS (SELECT doc_id,
         CAST(round(ln((COALESCE(bi.c, 0) + 0.5)
                       / (COALESCE(ctx.cc, 0) + 0.5 * voc.v)), 9)
              AS DECIMAL(20,9)) AS lp
       FROM db
       LEFT JOIN bi ON db.bg.p = bi.p AND db.bg.w = bi.w
       LEFT JOIN ctx ON db.bg.p = ctx.p
       CROSS JOIN voc)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(lp) AS DOUBLE) / -COUNT(*), 6) AS avg_neg_logp
FROM sc GROUP BY doc_id
""")
def text_perplexity_bigram(spark, sf_dir):
    """CCNet-style LM perplexity scoring (`perplexity_score`,
    operators/lm.py; Wenzek et al. 2020): train add-0.5-smoothed
    token-bigram counts on the even-doc_id half of the corpus (the
    "trusted" LM corpus), score EVERY document's average negative
    log-probability under it — the quality filter drops the
    high-perplexity tail. Odd documents exercise the unseen-bigram /
    unseen-context smoothing floor for real. Counts are (p,w)-keyed
    aggs (shuffles counts, never text); scoring is two co-keyed LEFT
    joins + a vocabulary-scalar broadcast; per-bigram log-probs are
    9-dp decimal-snapped so the per-doc sum is exact and
    order-independent. Every doc's bigram count AND 6-dp score is
    hash-checked."""
    from ..operators.lm import perplexity_score

    docs = load(spark, sf_dir, "documents")
    return perplexity_score(
        docs, docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id")


@query("text_quality_classifier", oracle="""
WITH w AS (SELECT i AS bucket,
         CAST(round(CAST(CAST('0x' || substr(md5('qwv:' || CAST(i AS VARCHAR)), 1, 8)
                         AS BIGINT) AS DOUBLE) / 4294967296 - 0.5, 9)
              AS DECIMAL(20,9)) AS weight
       FROM range(0, 256) t(i)),
t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL),
b AS (SELECT doc_id,
        CAST('0x' || substr(md5('qw:' || tok), 1, 8) AS BIGINT) % 256
          AS bucket
      FROM t),
s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        round(CAST(SUM(weight) AS DOUBLE) / COUNT(*), 6) AS score
      FROM b JOIN w USING (bucket) GROUP BY doc_id)
SELECT doc_id, n_tokens, score,
       round(1 / (1 + exp(-score)), 6) AS p_keep
FROM s
""")
def text_quality_classifier(spark, sf_dir):
    """fastText-shaped hashed linear quality scoring
    (`linear_quality_score`, operators/classifier.py; Joulin et al.
    2016) — the model-based quality filter next to LM perplexity: each
    token hashes to one of 256 buckets (md5 hashing trick, scan-local
    codegen), bucket weights broadcast-join the exploded tokens (a
    weight vector is model-sized — always broadcastable; zero shuffle),
    and the per-doc mean rides one id-keyed agg with 9-dp
    decimal-snapped sums. The gate's weights are the deterministic
    `hashed_weights` stand-in so the ENTIRE pipeline — hashing, join,
    exact mean, sigmoid — is replayed in SQL and every doc's token
    count, 6-dp score, and keep-probability hash-checked; production
    passes trained coefficients as the same (bucket, weight) table."""
    from ..operators.classifier import linear_quality_score

    docs = load(spark, sf_dir, "documents")
    return linear_quality_score(docs, "text", "doc_id", dim=256)


@query("filter_pipeline_audit", oracle="""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
           FROM documents),
c AS (SELECT doc_id,
        CASE
          WHEN NOT COALESCE(len(toks) >= 20, FALSE) THEN 'min_words'
          WHEN NOT COALESCE(len(toks) <= 90, FALSE) THEN 'max_words'
          WHEN NOT COALESCE(len(list_filter(toks, x -> x IN ('the','a')))
                    * 1.0 / len(toks) <= 0.10, FALSE) THEN 'stopword_ratio'
          WHEN NOT COALESCE(list_sum(list_transform(toks, x -> len(x)))
                    * 1.0 / len(toks) BETWEEN 4.3 AND 4.7, FALSE)
            THEN 'mean_word_len'
          ELSE '__kept' END AS ff,
        NOT COALESCE(len(toks) >= 20, FALSE) AS f1,
        NOT COALESCE(len(toks) <= 90, FALSE) AS f2,
        NOT COALESCE(len(list_filter(toks, x -> x IN ('the','a')))
             * 1.0 / len(toks) <= 0.10, FALSE) AS f3,
        NOT COALESCE(list_sum(list_transform(toks, x -> len(x)))
             * 1.0 / len(toks) BETWEEN 4.3 AND 4.7, FALSE) AS f4
      FROM t),
a AS (SELECT
        SUM(CASE WHEN ff = 'min_words' THEN 1 ELSE 0 END) AS ff1,
        SUM(CASE WHEN ff = 'max_words' THEN 1 ELSE 0 END) AS ff2,
        SUM(CASE WHEN ff = 'stopword_ratio' THEN 1 ELSE 0 END) AS ff3,
        SUM(CASE WHEN ff = 'mean_word_len' THEN 1 ELSE 0 END) AS ff4,
        SUM(CASE WHEN ff = '__kept' THEN 1 ELSE 0 END) AS kept,
        SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS a1,
        SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS a2,
        SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS a3,
        SUM(CASE WHEN f4 THEN 1 ELSE 0 END) AS a4
      FROM c)
SELECT 'min_words' AS rule, CAST(ff1 AS BIGINT) AS n_first_fail,
       CAST(a1 AS BIGINT) AS n_fail_any FROM a
UNION ALL SELECT 'max_words', CAST(ff2 AS BIGINT), CAST(a2 AS BIGINT) FROM a
UNION ALL SELECT 'stopword_ratio', CAST(ff3 AS BIGINT), CAST(a3 AS BIGINT) FROM a
UNION ALL SELECT 'mean_word_len', CAST(ff4 AS BIGINT), CAST(a4 AS BIGINT) FROM a
UNION ALL SELECT '__kept', CAST(kept AS BIGINT), CAST(0 AS BIGINT) FROM a
""")
def filter_pipeline_audit(spark, sf_dir):
    """Quality-filter chain with drop accounting (`filter_audit`,
    operators/filters.py — the per-rule removal rates every published
    curation pipeline reports): four rules (word-count floor/ceiling,
    stopword ratio, mean word length) classify each doc to the FIRST
    rule it fails plus an order-independent fails-at-all count per
    rule. The whole audit is one scan-local CASE chain + ONE global
    aggregation — documents never shuffle; the audit is a partition of
    the corpus (sum of n_first_fail == corpus size, unit-pinned).
    NULL/unevaluable predicates count as failures. Both counters per
    rule hash-checked."""
    from ..operators.filters import filter_audit

    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    sw = F.size(F.filter(toks, lambda x: x.isin("the", "a")))
    mwl = (F.aggregate(toks, F.lit(0),
                       lambda acc, x: acc + F.length(x))
           * 1.0 / F.size(toks))
    rules = [
        ("min_words", F.size(toks) >= 20),
        ("max_words", F.size(toks) <= 90),
        ("stopword_ratio", sw * 1.0 / F.size(toks) <= 0.10),
        ("mean_word_len", (mwl >= 4.3) & (mwl <= 4.7)),
    ]
    return filter_audit(docs, rules)


@query("text_winnowing", oracle="""
WITH t AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
g AS (SELECT doc_id,
        [CAST('0x' || substr(md5(substr(text, i, 5)), 1, 8) AS BIGINT)
         FOR i IN range(1, greatest(len(text) - 4, 0) + 1)] AS gr
      FROM t),
s AS (SELECT doc_id, gr,
        list_distinct([
          list_max([p FOR p IN range(j, j + 4)
                    IF gr[p] = list_min(gr[j:j+3])])
          FOR j IN range(1, greatest(len(gr) - 3, 0) + 1)]) AS pos
      FROM g)
SELECT doc_id, CAST(len(gr) AS BIGINT) AS n_grams,
       CAST(len(pos) AS BIGINT) AS n_fingerprints,
       CAST(len(list_distinct([gr[p] FOR p IN pos])) AS BIGINT)
         AS n_fp_hashes
FROM s
""")
def text_winnowing(spark, sf_dir):
    """Winnowing document fingerprints (`winnow_gram_hashes` /
    `winnow_positions`, functions/text.py; Schleimer et al. SIGMOD'03 —
    the MOSS algorithm): rolling char-5-gram md5 hashes, a 4-hash
    sliding window selecting the RIGHTMOST minimum per window, distinct
    selected positions = the fingerprint set. Guarantees any shared
    substring >= w+k-1 chars shares a fingerprint while storing O(n/w)
    hashes per doc — the storable middle ground between exact substring
    dedup (`dedup_substring_spans`) and whole-doc MinHash. Entirely
    scan-local codegen HOFs — zero UDF, zero shuffle; per-doc gram,
    fingerprint, and distinct-hash counts all hash-checked against the
    SQL replay."""
    from ..functions import text as TXT

    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    out = docs.select(
        "doc_id", TXT.winnow_gram_hashes("text", k=5).alias("gr"))
    out = out.withColumn("pos", TXT.winnow_positions(F.col("gr"), w=4))
    return out.select(
        "doc_id",
        F.size("gr").cast("long").alias("n_grams"),
        F.size("pos").cast("long").alias("n_fingerprints"),
        F.size(F.array_distinct(
            F.transform(F.col("pos"),
                        lambda p: F.element_at(F.col("gr"), p))
        )).cast("long").alias("n_fp_hashes"),
    )


@query("sketch_hll_overlap", oracle="""
WITH d AS (SELECT md5(text) AS dg,
             max(CASE WHEN doc_id % 3 IN (0, 1) THEN 1 ELSE 0 END) AS a,
             max(CASE WHEN doc_id % 3 IN (1, 2) THEN 1 ELSE 0 END) AS b
           FROM documents WHERE text IS NOT NULL
           GROUP BY md5(text))
SELECT CAST(SUM(a) AS BIGINT) AS n_a_exact,
       CAST(SUM(b) AS BIGINT) AS n_b_exact,
       CAST(COUNT(*) AS BIGINT) AS n_union_exact,
       CAST(SUM(a * b) AS BIGINT) AS n_inter_exact,
       TRUE AS a_ok, TRUE AS b_ok, TRUE AS union_ok, TRUE AS inter_ok
FROM d
""")
def sketch_hll_overlap(spark, sf_dir):
    """Corpus-overlap estimation from HLL sketches (`hll_overlap`,
    operators/sketch.py): two overlapping doc subsets (doc_id % 3 in
    {0,1} vs {1,2}, keyed on the text digest) are sketched once each,
    |A u B| comes from the lossless sketch union and |A n B| by
    inclusion-exclusion. SELF-CHECKING like the other sketch gates
    (Datasketches has no DuckDB twin): the gate emits the EXACT
    overlap counts (oracle-verified) plus booleans pinning every
    estimate within 5% of union + 5 absolute of its exact value —
    the documented inclusion-exclusion error envelope (intersection
    error scales with UNION size; this is the cheap first question
    before an exact semi-join, not the final answer)."""
    from ..operators.sketch import hll_overlap

    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()).withColumn("dg", F.md5("text"))
    a = docs.filter(F.col("doc_id") % 3 < 2)
    b = docs.filter(F.col("doc_id") % 3 > 0)
    est = hll_overlap(a, b, "dg")
    exact = (
        docs.groupBy("dg")
        .agg(F.max((F.col("doc_id") % 3 < 2).cast("int")).alias("a"),
             F.max((F.col("doc_id") % 3 > 0).cast("int")).alias("b"))
        .agg(F.sum("a").cast("long").alias("n_a_exact"),
             F.sum("b").cast("long").alias("n_b_exact"),
             F.count(F.lit(1)).cast("long").alias("n_union_exact"),
             F.sum(F.col("a") * F.col("b")).cast("long")
             .alias("n_inter_exact"))
    )

    def ok(est_col, exact_col):
        return (
            F.abs(F.col(est_col) - F.col(exact_col))
            <= 0.05 * F.col("n_union_exact") + 5)

    return exact.crossJoin(F.broadcast(est)).select(
        "n_a_exact", "n_b_exact", "n_union_exact", "n_inter_exact",
        ok("n_a", "n_a_exact").alias("a_ok"),
        ok("n_b", "n_b_exact").alias("b_ok"),
        ok("n_union", "n_union_exact").alias("union_ok"),
        ok("n_intersect", "n_inter_exact").alias("inter_ok"),
    )


@query("dedup_cdc_chunks", oracle="""
WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
           WHERE text IS NOT NULL AND length(text) > 0),
w AS (SELECT doc_id, text, n,
        CASE WHEN n >= 8 THEN
          [i FOR i IN range(8, CAST(n AS BIGINT))
           IF ((ascii(text[i - 0]) * 1 + ascii(text[i - 1]) * 131 + ascii(text[i - 2]) * 17161 + ascii(text[i - 3]) * 248085 + ascii(text[i - 4]) * 499039 + ascii(text[i - 5]) * 373914 + ascii(text[i - 6]) * 982590 + ascii(text[i - 7]) * 718906) % 1000003) % 64 = 0]
        ELSE [] END AS b
      FROM d),
c AS (SELECT doc_id, text, ([0] || b || [n]) AS cuts FROM w),
u AS (SELECT doc_id, text, cuts, t.range AS k
      FROM c, range(1, 100) t WHERE t.range < len(cuts))
SELECT doc_id, CAST(k AS INT) AS chunk_idx,
       CAST(cuts[CAST(k AS INT)] + 1 AS INT) AS start,
       CAST(cuts[CAST(k AS INT) + 1] - cuts[CAST(k AS INT)] AS INT)
         AS length,
       md5(substr(text, CAST(cuts[CAST(k AS INT)] + 1 AS INT),
                  CAST(cuts[CAST(k AS INT) + 1] - cuts[CAST(k AS INT)]
                       AS INT))) AS digest
FROM u
""")
def dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (`cdc_chunks`, operators/dedup.py — the
    FastCDC/rsync family): every document splits where a rolling
    8-char polynomial hash (base 131 mod the prime 1000003) divides
    64, so chunk boundaries move WITH the content — an edit
    re-synchronizes after one chunk and every later chunk digest still
    matches (the property fixed windows lack; unit-pinned with a
    prepend test). Pure exact BIGINT Column arithmetic, scan-local,
    zero shuffle; the md5 chunk digests are the join key for exact
    chunk-level dedup. The oracle replays the full rolling hash,
    boundary filter, and cuts walk per document; every chunk row —
    index, offsets, digest — is in the hash."""
    from ..operators.dedup import cdc_chunks

    docs = load(spark, sf_dir, "documents")
    return cdc_chunks(docs, "text", "doc_id")


@query("dedup_cdc_shared", oracle="""
WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
           WHERE text IS NOT NULL AND length(text) > 0),
w AS (SELECT doc_id, text, n,
        CASE WHEN n >= 8 THEN
          [i FOR i IN range(8, CAST(n AS BIGINT))
           IF ((ascii(text[i - 0]) * 1 + ascii(text[i - 1]) * 131 + ascii(text[i - 2]) * 17161 + ascii(text[i - 3]) * 248085 + ascii(text[i - 4]) * 499039 + ascii(text[i - 5]) * 373914 + ascii(text[i - 6]) * 982590 + ascii(text[i - 7]) * 718906) % 1000003) % 64 = 0]
        ELSE [] END AS b
      FROM d),
c AS (SELECT doc_id, text, ([0] || b || [n]) AS cuts FROM w),
u AS (SELECT doc_id, text, cuts, t.range AS k
      FROM c, range(1, 100) t WHERE t.range < len(cuts)),
ch AS (SELECT DISTINCT doc_id,
         md5(substr(text, CAST(cuts[CAST(k AS INT)] + 1 AS INT),
                    CAST(cuts[CAST(k AS INT) + 1] - cuts[CAST(k AS INT)]
                         AS INT))) AS digest
       FROM u),
rare AS (SELECT digest FROM ch GROUP BY digest HAVING COUNT(*) <= 8)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM ch a JOIN rare r ON a.digest = r.digest
JOIN ch b ON a.digest = b.digest AND a.doc_id < b.doc_id
GROUP BY 1, 2
""")
def dedup_cdc_shared(spark, sf_dir):
    """Cross-document near-dup pairs from shared CDC chunks
    (`cdc_shared_chunks`, operators/dedup.py) — what the chunk digests
    are FOR: documents sharing content-defined chunks contain
    literally identical runs even at different offsets. The scale
    shape is the containment-pairs pattern: inverted index on the
    chunk digest with document-frequency pruning (df <= 8) BEFORE the
    digest-keyed self-join — candidate pairs only, 32-byte digests on
    the wire, never text, never all-pairs. The synthetic word-soup
    corpus yields ~340 genuine shared-chunk pairs at sf0.01; every
    (pair, count) row is in the hash against the full SQL replay of
    chunking + index + join."""
    from ..operators.dedup import cdc_shared_chunks

    docs = load(spark, sf_dir, "documents")
    return cdc_shared_chunks(docs, "text", "doc_id")


@query("dedup_containment", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id,
        CASE WHEN len(toks) >= 3
             THEN list_sort(list_distinct(
                    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     FOR i IN range(1, len(toks) - 1)]))
             ELSE [] END AS sh
      FROM t),
f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6)
    AS containment_a,
  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh), 6)
    AS containment_b
FROM f a JOIN f b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh)) > 0
  AND (round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(a.sh), 6) >= 0.6
    OR round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(b.sh), 6) >= 0.6)
""")
def dedup_containment(spark, sf_dir):
    """Asymmetric containment near-dup pairs (`containment_pairs`,
    operators/dedup.py; Broder's resemblance-vs-containment, 1997):
    C(A,B) = |sh(A) n sh(B)| / |sh(A)| catches a short doc quoted
    inside a long one where Jaccard stays low. NOT all-pairs: an
    inverted-index self-join on 16-byte shingle digests materializes
    only pairs actually sharing a shingle (cost = candidate mass
    sum df(s)^2, pruned by the max_df knob at scale); shared counts
    ride one keyed agg. Both directions of every surviving pair
    hash-checked against the exact list_intersect replay."""
    from ..operators.dedup import containment_pairs

    docs = load(spark, sf_dir, "documents")
    return containment_pairs(
        docs, "text", "doc_id", threshold=0.6, n=3)


@query("embedding_standardize", oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
x AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS INT) AS pos,
             unnest(v) AS val
      FROM e),
st AS (SELECT pos,
         CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
           AS m,
         CAST(SUM(CAST(val * val AS DECIMAL(28,12))) AS DOUBLE)
           / COUNT(*) AS m2
       FROM x GROUP BY pos),
s2 AS (SELECT pos, m, sqrt(greatest(m2 - m * m, 0)) AS s FROM st),
z AS (SELECT x.vec_id, x.pos,
        CASE WHEN s2.s > 0 THEN round((x.val - s2.m) / s2.s, 6)
             ELSE 0.0 END AS zv
      FROM x JOIN s2 USING (pos))
SELECT vec_id,
       array_to_string(list(CAST(CAST(round(zv * 1000000, 0) AS BIGINT)
                                 AS VARCHAR) ORDER BY pos), ',') AS zvec
FROM z GROUP BY vec_id
""")
def embedding_standardize(spark, sf_dir):
    """Per-dimension z-score standardization
    (`standardize_embeddings`, operators/clustering.py) — the
    preprocessing pass before distance-based curation when dims have
    different scales. One (pos)-keyed agg computes decimal-snapped
    per-dim mean and E[x^2]; the dim-sized stats (bounded by
    DIMENSIONALITY, never corpus size) ship back as two ndarray
    literals so the transform is scan-local — zero shuffle on the data
    path. Zero-variance dims standardize to 0 (guarded vs negative
    float variance). Every vector's full standardized array
    hash-checked at 6 dp against the SQL replay."""
    from ..operators.clustering import standardize_embeddings

    emb = load(spark, sf_dir, "embeddings")
    out = standardize_embeddings(emb, "vec_id", "embedding")
    # driver canonicalizer contract: no top-level array columns — ship
    # the vector as a comma-joined micro-unit (1e-6) integer string
    return out.select(
        "vec_id",
        F.array_join(
            F.transform(
                F.col("zvec"),
                lambda x: F.round(x * 1000000, 0).cast("bigint")
                .cast("string")), ",").alias("zvec"))


@query("split_curriculum_phases", oracle="""
WITH tr AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents
            WHERE doc_id % 2 = 0 AND text IS NOT NULL
              AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 2),
trb AS (SELECT unnest([{'p': toks[i], 'w': toks[i+1]}
                       FOR i IN range(1, len(toks))]) AS bg
        FROM tr),
bi AS (SELECT bg.p AS p, bg.w AS w, COUNT(*) AS c FROM trb GROUP BY 1, 2),
ctx AS (SELECT p, SUM(c) AS cc FROM bi GROUP BY 1),
voc AS (SELECT COUNT(DISTINCT t) AS v
        FROM (SELECT unnest(toks) AS t FROM tr)),
d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents
      WHERE text IS NOT NULL AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 2),
db AS (SELECT doc_id, unnest([{'p': toks[i], 'w': toks[i+1]}
                              FOR i IN range(1, len(toks))]) AS bg
       FROM d),
sc AS (SELECT doc_id,
         CAST(round(ln((COALESCE(bi.c, 0) + 0.5)
                       / (COALESCE(ctx.cc, 0) + 0.5 * voc.v)), 9)
              AS DECIMAL(20,9)) AS lp
       FROM db
       LEFT JOIN bi ON db.bg.p = bi.p AND db.bg.w = bi.w
       LEFT JOIN ctx ON db.bg.p = ctx.p
       CROSS JOIN voc),
scores AS (SELECT doc_id,
             round(CAST(SUM(lp) AS DOUBLE) / -COUNT(*), 6) AS score
           FROM sc GROUP BY doc_id),
b AS (SELECT round(quantile_cont(score, 0.25), 6) AS b0,
             round(quantile_cont(score, 0.5), 6) AS b1,
             round(quantile_cont(score, 0.75), 6) AS b2
      FROM scores)
SELECT s.doc_id, s.score,
  CAST(1 + CASE WHEN s.score > b.b0 THEN 1 ELSE 0 END
         + CASE WHEN s.score > b.b1 THEN 1 ELSE 0 END
         + CASE WHEN s.score > b.b2 THEN 1 ELSE 0 END AS INT) AS phase
FROM scores s CROSS JOIN b
""")
def split_curriculum_phases(spark, sf_dir):
    """Perplexity-quartile curriculum phases (`quantile_buckets`,
    operators/splits.py — the CCNet head/middle/tail mechanism,
    quartile flavor): every doc's bigram-LM score (the
    `text_perplexity_bigram` pipeline) buckets into 4 global quantile
    phases WITHOUT a global sort — boundaries come from ONE exact
    percentile agg, broadcast back, assignment is scan-local. The
    naive ntile()-over-everything funnels 100 TB through one task;
    this never sorts the data (swap in kmv_quantiles for the
    boundary source at extreme scale). Per-doc score AND phase
    hash-checked against the quantile_cont replay."""
    from ..operators.lm import perplexity_score
    from ..operators.splits import quantile_buckets

    docs = load(spark, sf_dir, "documents")
    scores = perplexity_score(
        docs, docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id"
    ).select("doc_id", F.col("avg_neg_logp").alias("score"))
    return quantile_buckets(scores, "score", bucket_col="phase")


@query("embedding_outliers", oracle=f"""
WITH RECURSIVE {_kmeans_ctes(8)},
b AS (SELECT round(quantile_cont(d2, 0.9), 6) AS b0 FROM a2)
SELECT a2.vec_id, a2.cid AS cluster, a2.d2,
       (a2.d2 > b.b0) AS is_outlier
FROM a2 CROSS JOIN b
""")
def embedding_outliers(spark, sf_dir):
    """Distance-quantile outlier flagging (`embedding_outliers`,
    operators/clustering.py — the DataComp-style noise prune): vectors
    whose squared distance to their nearest k-means centroid exceeds
    the global 90th percentile are flagged junk. Pure composition of
    two scale-audited operators — the deterministic Lloyd loop and the
    sort-free quantile bucketing — so the whole pipeline (seed pick,
    assignment, mean update, boundary, flag) replays in SQL and every
    vector's cluster, distance AND outlier flag hash-match."""
    from ..operators.clustering import embedding_outliers

    emb = load(spark, sf_dir, "embeddings")
    return embedding_outliers(emb, "vec_id", "embedding", k=8, iters=1)


@query("text_bpe_pairs", oracle="""
WITH t AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents
           WHERE text IS NOT NULL),
w AS (SELECT word, COUNT(*) AS wc FROM t WHERE len(word) > 0
      GROUP BY word),
p AS (SELECT unnest([{'a': word[i:i], 'b': word[i+1:i+1]}
                     FOR i IN range(1, len(word))]) AS pr, wc
      FROM w)
SELECT pr.a AS a, pr.b AS b, CAST(SUM(wc) AS BIGINT) AS n
FROM p GROUP BY pr.a, pr.b
ORDER BY n DESC, a, b LIMIT 20
""")
def text_bpe_pairs(spark, sf_dir):
    """BPE tokenizer training, round-1 merge candidates (`word_counts`/
    `pair_counts`, operators/bpe.py; Sennrich et al. ACL'16): weighted
    adjacent-char pair counts over the vocabulary — the statistic every
    BPE merge round argmaxes. The working set is VOCAB-sized (one
    corpus agg up front), so training cost is independent of corpus
    size after the first pass; the full iterative trainer (`bpe_train`,
    driver traffic = one row per round, scan-local literal-pair
    re-encode, localCheckpoint per round) is pinned against a
    from-scratch reference implementation in unit tests. Top-20 pairs
    with deterministic (count desc, pair asc) order hash-checked."""
    from ..operators.bpe import pair_counts, word_counts

    docs = load(spark, sf_dir, "documents")
    enc = word_counts(docs, "text").select(
        "word", "wc", F.split(F.col("word"), "").alias("s"))
    return (
        pair_counts(enc)
        .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


@query("text_unigram_seed", oracle="""
WITH t AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents
           WHERE text IS NOT NULL),
w AS (SELECT word, COUNT(*) AS wc FROM t WHERE len(word) > 0
      GROUP BY word),
p AS (SELECT unnest(flatten(
         [[word[i : j] FOR j IN range(i, least(len(word), i + 3) + 1)]
          FOR i IN range(1, len(word) + 1)])) AS piece, wc
      FROM w)
SELECT piece, CAST(SUM(wc) AS BIGINT) AS n
FROM p GROUP BY piece ORDER BY n DESC, piece LIMIT 30
""")
def text_unigram_seed(spark, sf_dir):
    """Unigram-LM tokenizer training, seed statistic
    (`seed_piece_counts`, operators/unigram.py; Kudo ACL 2018 §3.2 —
    the SentencePiece unigram trainer seeds from frequent substrings):
    word-weighted counts of EVERY substring up to 4 chars over the
    vocabulary — one generate + one keyed agg, vocab-sized input, so
    seeding cost is independent of corpus size after the word table.
    The full EM trainer (`unigram_train` — broadcast-dict Viterbi
    E-step, one keyed-agg M-step, char-coverage floor, deterministic
    count-ranked prune) is pinned piece-for-piece against a
    from-scratch reference implementation in unit tests, the
    `bpe_train` convention. Top-30 seeds, (count desc, piece asc)."""
    from ..operators.unigram import seed_piece_counts

    docs = load(spark, sf_dir, "documents")
    return (
        seed_piece_counts(docs, "text", max_piece_len=4)
        .orderBy(F.desc("n"), F.asc("piece"))
        .limit(30))


_UNIGRAM_PIECES = [
    ("e", -2.2), ("t", -2.4), ("a", -2.5), ("o", -2.6), ("i", -2.7),
    ("n", -2.7), ("s", -2.8), ("r", -2.9), ("h", -3.0), ("th", -3.2),
    ("the", -2.8), ("er", -3.4), ("in", -3.3), ("at", -3.5),
    ("ed", -3.6), ("an", -3.4)]

_UNIGRAM_SEG_ORACLE = f"""
WITH RECURSIVE vt AS (SELECT map(
    [{", ".join(repr(p) for p, _ in _UNIGRAM_PIECES)}],
    [CAST(x AS DOUBLE) FOR x IN
     [{", ".join(str(lp) for _, lp in _UNIGRAM_PIECES)}]]) AS m),
d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE text IS NOT NULL),
w AS (SELECT doc_id, unnest(ws) AS word,
        generate_subscripts(ws, 1) AS pos
      FROM d),
wf AS (SELECT * FROM w WHERE len(word) > 0),
r AS (
  SELECT doc_id, pos, word, 0 AS i,
         [CAST(0.0 AS DOUBLE)] AS sc, [0] AS np, [''] AS sg
  FROM wf
  UNION ALL
  SELECT doc_id, pos, word, i + 1,
         list_append(sc, best.s), list_append(np, best.n2),
         list_append(sg, best.g)
  FROM (
    SELECT doc_id, pos, word, i, sc, np, sg,
      list_reduce(
        [x FOR x IN [struct_pack(
             s := round(sc[i + 2 - l] + COALESCE(
                 m[word[i + 2 - l : i + 1]][1],
                 CASE WHEN l = 1 THEN CAST(-10.0 AS DOUBLE) END), 9),
             n2 := np[i + 2 - l] + 1,
             g := CASE WHEN sg[i + 2 - l] = ''
                       THEN word[i + 2 - l : i + 1]
                       ELSE sg[i + 2 - l] || '|'
                            || word[i + 2 - l : i + 1] END)
          FOR l IN range(1, least(4, i + 1) + 1)]
          IF x.s IS NOT NULL],
        (a, b) -> CASE
          WHEN b.s > a.s THEN b
          WHEN b.s < a.s THEN a
          WHEN b.n2 < a.n2 THEN b
          WHEN b.n2 > a.n2 THEN a
          WHEN b.g < a.g THEN b
          ELSE a END) AS best
    FROM r, vt WHERE i < len(word))
),
fin AS (SELECT doc_id, pos,
        string_split(sg[len(word) + 1], '|') AS pieces
  FROM r WHERE i = len(word)),
agg AS (SELECT doc_id, flatten(list(pieces ORDER BY pos)) AS allp
  FROM fin GROUP BY doc_id)
SELECT doc_id, CAST(len(allp) AS INT) AS n_pieces,
       array_to_string(allp[1:8], ' ') AS head8
FROM agg
"""


@query("text_unigram_segment", oracle=_UNIGRAM_SEG_ORACLE)
def text_unigram_segment(spark, sf_dir):
    """Unigram-LM Viterbi APPLICATION (`unigram_segment_text`,
    operators/unigram.py; Kudo ACL 2018) — the decode half of the
    unigram tokenizer over a FIXED 16-piece table (chars + th/the/er/
    in/at/ed/an, so single-char vs multi-piece paths genuinely
    compete — e.g. 'the' beats th|e beats t|h|e), unknown chars at
    the -10 floor. Per-word DP in an Arrow-batched kernel (zero
    shuffle; the split rides inside the kernel); ties break (score
    desc at 9 dp, fewer pieces, lexicographically smallest
    segmentation). The oracle replays the DP MOVE-FOR-MOVE via a
    recursive CTE over character position with the identical
    per-step 9-dp score snap and the identical tie-break reduce."""
    from ..operators.unigram import unigram_segment_text

    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    pieces = unigram_segment_text(
        F.col("text"), dict(_UNIGRAM_PIECES), max_piece_len=4)
    return docs.select(
        "doc_id",
        F.size(pieces).cast("int").alias("n_pieces"),
        F.array_join(F.slice(pieces, 1, 8), " ").alias("head8"))


@query("text_unigram_train")
def text_unigram_train(spark, sf_dir):
    """Unigram-LM EM trainer end-to-end (`unigram_train`,
    operators/unigram.py; Kudo ACL 2018): seed substring counts →
    2 EM rounds (broadcast-dict Viterbi E-step over DISTINCT words,
    one keyed-agg M-step, char floor) → deterministic count-ranked
    prune to 48 pieces + chars. Fully deterministic, but the
    iterative EM is not SQL-expressible — rows-only driver check;
    piece-for-piece correctness is pinned against a from-scratch
    pure-Python reference implementation in unit tests (the
    `bpe_train` convention). Releases the learned vocab."""
    from ..operators.unigram import unigram_train

    docs = load(spark, sf_dir, "documents")
    vocab = unigram_train(
        docs, "text", vocab_size=48, seed_size=128,
        max_piece_len=4, em_rounds=2)
    return spark.createDataFrame(
        [(p, c, lp) for p, c, lp in vocab],
        "piece string, n long, logp double")


@query("embedding_random_projection", oracle="""
WITH s AS (SELECT i, j,
             CASE WHEN CAST('0x' || substr(md5('rp:' || CAST(i AS VARCHAR)
                        || ',' || CAST(j AS VARCHAR)), 1, 8) AS BIGINT)
                       % 2 = 0
                  THEN 1.0 ELSE -1.0 END AS sg
           FROM range(0, 64) a(i), range(0, 16) b(j)),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
x AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS INT) - 1 AS i,
             unnest(v) AS val
      FROM e),
z AS (SELECT x.vec_id, s.j,
        round(CAST(SUM(CAST(x.val * s.sg AS DECIMAL(28,12))) AS DOUBLE)
              / sqrt(16), 6) AS zv
      FROM x JOIN s USING (i) GROUP BY x.vec_id, s.j)
SELECT vec_id,
       array_to_string(list(CAST(CAST(round(zv * 1000000, 0) AS BIGINT)
                                 AS VARCHAR) ORDER BY j), ',') AS zvec
FROM z GROUP BY vec_id
""")
def embedding_random_projection(spark, sf_dir):
    """JL random sign projection 64 -> 16 dims (`random_projection`,
    operators/clustering.py; Achlioptas 2001): the projection matrix
    derives from md5(seed:i,j), so BOTH engines re-create it exactly
    and every projected vector hash-matches — nothing to train,
    nothing to ship. Spark side is scan-local (16 decimal-snapped
    folds per row, signs as plan literals, zero shuffle); at 100 TB
    this is the pre-ANN shrink that cuts every downstream distance
    kernel and shuffle by the dimension ratio while preserving
    neighborhoods (JL guarantee; distance-preservation pinned in unit
    tests)."""
    from ..operators.clustering import random_projection

    emb = load(spark, sf_dir, "embeddings")
    out = random_projection(
        emb, "vec_id", "embedding", in_dim=64, out_dim=16)
    # driver canonicalizer contract: no top-level array columns
    return out.select(
        "vec_id",
        F.array_join(
            F.transform(
                F.col("zvec"),
                lambda x: F.round(x * 1000000, 0).cast("bigint")
                .cast("string")), ",").alias("zvec"))


@query("knn_rp_rerank", oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
""")
def knn_rp_rerank(spark, sf_dir):
    """Random-projection prefilter + exact re-rank ANN top-5
    (`rp_topk`, operators/similarity.py): stage-1 scoring runs in the
    JL-projected space (kernels and any cached/shuffled representation
    shrink by the dim ratio), stage 2 re-ranks survivors on full
    vectors — exact order and cosines whenever the true top-5 survive
    the prefilter. Same self-check as the other ANN gates: all 10
    seeded queries answered, mean recall@5 vs brute force >= 0.5
    (observed 0.58 at the driver's fixed sf0.01 — deterministic:
    projection and corpus are both seeded). Calibration note (the
    knn_lsh story): THIS corpus is random vectors, so top-5 cosine
    margins (~0.01) sit below the JL distortion at any useful
    compression — the worst case for a projection prefilter; on real
    clustered embeddings with meaningful neighbor margins the standard
    rp_dim=in_dim/4, overfetch=4 setting holds high recall. The gate
    runs rp_dim=32, overfetch=8."""
    from ..operators.similarity import rp_topk

    return _ann_recall_gate(
        spark, sf_dir,
        lambda emb, queries: rp_topk(
            emb, queries, in_dim=64, rp_dim=32, k=5, overfetch=16,
            est_queries=10),
        min_avg_recall=0.5,
    )


@query("eval_ir_metrics", oracle="""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
r AS (SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
        row_number() OVER (PARTITION BY q.vec_id ORDER BY
          round(list_dot_product(q.v, e.v)
                / (sqrt(list_dot_product(q.v, q.v))
                   * sqrt(list_dot_product(e.v, e.v))), 6) DESC,
          e.vec_id) AS rank
      FROM q JOIN e ON e.vec_id != q.vec_id
      QUALIFY rank <= 5),
t AS (SELECT q.vec_id AS query_id, e.vec_id AS cand_id
      FROM q JOIN e ON e.vec_id != q.vec_id AND e.label = q.label),
rel AS (SELECT query_id, COUNT(*) AS rel FROM t GROUP BY 1),
h AS (SELECT r.query_id, COUNT(*) AS hits, MIN(r.rank) AS first,
             SUM(1.0 / log2(r.rank + 1)) AS dcg
      FROM r JOIN t USING (query_id, cand_id) GROUP BY 1),
pq AS (SELECT rel.query_id,
         CAST(round(COALESCE(h.hits, 0) * 1.0 / rel.rel, 9)
              AS DECIMAL(20,9)) AS recall,
         CAST(round(COALESCE(1.0 / h.first, 0.0), 9)
              AS DECIMAL(20,9)) AS mrr,
         CAST(round(COALESCE(h.dcg, 0.0)
              / list_sum([1.0 / log2(i + 1)
                          FOR i IN range(1, least(rel.rel, 5) + 1)]), 9)
              AS DECIMAL(20,9)) AS ndcg
       FROM rel LEFT JOIN h USING (query_id))
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       round(CAST(SUM(recall) AS DOUBLE) / COUNT(*), 6) AS recall_at_k,
       round(CAST(SUM(mrr) AS DOUBLE) / COUNT(*), 6) AS mrr_at_k,
       round(CAST(SUM(ndcg) AS DOUBLE) / COUNT(*), 6) AS ndcg_at_k
FROM pq
""")
def eval_ir_metrics(spark, sf_dir):
    """Distributed retrieval scorecard (`ir_metrics`,
    operators/evaluation.py): exact cosine top-5 plays the retrieval
    system, same-label vectors play the relevance truth, and the
    operator computes macro recall@5 / MRR@5 / nDCG@5 with two keyed
    joins + two keyed aggs — the eval itself distributes, no
    driver-side scoring. Per-query metrics are 9-dp decimal-snapped so
    macro sums are exact; unanswered queries score zero rather than
    vanishing. Every macro value hash-checked against the full SQL
    replay (ranking included)."""
    from pyspark.sql import Window

    from ..operators.evaluation import ir_metrics
    from ..operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id"))
    results = cosine_topk(
        emb, queries, k=5, est_queries=10
    ).withColumn("rank", F.row_number().over(w))
    lbl = emb.select("vec_id", "label")
    truth = (
        queries.select(F.col("vec_id").alias("query_id"), "label")
        .join(lbl.select(F.col("vec_id").alias("cand_id"),
                         F.col("label").alias("__l")),
              F.col("label") == F.col("__l"))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
    )
    return ir_metrics(results, truth, k=5)


@query("dedup_incremental_minhash", oracle=f"""
WITH {_minhash_md5_ctes(16, 4)},
rej AS (SELECT DISTINCT id_b FROM pairs
        WHERE round(CAST(len(list_filter(range(1, 17),
                i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 16, 6) >= 0.4)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM rej)
""")
def dedup_incremental_minhash(spark, sf_dir):
    """Incremental FUZZY dedup (`incremental_minhash_dedup`,
    operators/dedup.py) — the near-dup twin of the exact append-shard
    dedup: the corpus persists only as banded MinHash state (text never
    rescans); each batch's bands equi-join the state so only genuine
    bucket collisions pair. The gate replays the corpus as TWO
    ascending-id batches (doc_id < 250, then the rest — the natural
    append order; an out-of-order batch cannot retroactively reject an
    already-accepted doc, as the operator documents) and the union of
    survivors must equal the one-shot rule — no est >= 0.4 pair with
    any smaller id — which the oracle computes from the full
    md5-banding pipeline in SQL."""
    from ..operators.dedup import incremental_minhash_dedup

    docs = load(spark, sf_dir, "documents")
    state = spark.createDataFrame(
        [], "id long, sig array<bigint>, band int, band_hash string")
    s1, state = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") < 250), state, hasher="md5")
    s2, _ = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") >= 250), state, hasher="md5")
    return s1.select("doc_id").unionByName(s2.select("doc_id"))


@query("pipeline_end_to_end", oracle="""
WITH t AS (SELECT doc_id, text, len(string_split(text, ' ')) AS ntok,
             md5(text) AS dg
           FROM documents WHERE text IS NOT NULL),
f AS (SELECT * FROM t WHERE ntok BETWEEN 20 AND 90),
d AS (SELECT * FROM f
      QUALIFY row_number() OVER (PARTITION BY dg ORDER BY doc_id) = 1),
s AS (SELECT *,
        CASE WHEN substr(md5('pipe:' || {enc}), 1, 16)
                  < 'e666666666666800'
             THEN 'train' ELSE 'val' END AS split
      FROM d)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS n_tokens,
       CAST(ceil(SUM(ntok) / 2048.0) AS BIGINT) AS n_packs
FROM s GROUP BY split
""".replace("{enc}", "'v' || CAST(length(dg) AS VARCHAR) || ':' || dg"))
def pipeline_end_to_end(spark, sf_dir):
    """The composition gate: a four-stage curation pipeline built
    ENTIRELY from this engine's operators chained as DataFrames —
    quality filter (`apply_filters`: 20-90 tokens) -> exact dedup
    survivors (`exact_dedup`) -> content-keyed 90/10 split
    (`hash_split` on the digest, leakage-safe) -> per-split token
    totals + closed-form spanning-pack counts (budget 2048). One lazy
    plan end to end: Catalyst fuses the filter into the scan, the
    dedup is the only doc-keyed shuffle, the split is scan-local, the
    report is one agg. The oracle replays all four stages in a single
    SQL chain — operators that each verify alone must ALSO verify
    composed, which is what a user actually runs."""
    from ..operators.dedup import exact_dedup
    from ..operators.filters import apply_filters
    from ..operators.splits import hash_split

    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    filtered = apply_filters(docs, [
        ("min_words", F.size(toks) >= 20),
        ("max_words", F.size(toks) <= 90),
    ])
    deduped = exact_dedup(filtered, "text", "doc_id").withColumn(
        "__dg", F.md5("text"))
    split = hash_split(
        deduped, "__dg", {"train": 0.9, "val": 0.1}, seed="pipe")
    ntok = F.size(F.split(F.col("text"), " "))
    return (
        split.groupBy("split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum(ntok).cast("long").alias("n_tokens"))
        .withColumn(
            "n_packs",
            F.ceil(F.col("n_tokens") / F.lit(2048.0)).cast("long"))
        .select("split", "n_docs", "n_tokens", "n_packs")
    )


@query("dedup_soft_weights", oracle="""
WITH s AS (SELECT md5(text) AS dg, COUNT(*) AS n
           FROM documents GROUP BY md5(text))
SELECT d.doc_id, round(1.0 / s.n, 6) AS weight
FROM documents d JOIN s ON md5(d.text) = s.dg
""")
def dedup_soft_weights(spark, sf_dir):
    """Soft dedup (`dedup_weights`, operators/dedup.py): every doc
    kept, weighted 1/cluster-size so each distinct content contributes
    total mass 1 — the repetition-bias fix that preserves signal hard
    dedup throws away. One digest-keyed count + join back (16-byte
    digests shuffle, never text). Per-doc weights hash-checked; the
    invariant sum(weight) == n_distinct_contents is unit-pinned."""
    from ..operators.dedup import dedup_weights

    docs = load(spark, sf_dir, "documents")
    return dedup_weights(docs, "text", "doc_id").select(
        "doc_id", "weight")


@query("text_decontaminate_report", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
sh AS (SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_sort(list_distinct(
                     [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                      FOR i IN range(1, len(toks) - 1)]))
              ELSE [] END AS sh
       FROM t),
ev AS (SELECT doc_id AS eval_id, len(sh) AS n_grams, unnest(sh) AS gram
       FROM sh WHERE doc_id % 10 = 0),
tr AS (SELECT doc_id AS train_id, unnest(sh) AS gram
       FROM sh WHERE doc_id % 10 != 0),
h AS (SELECT ev.eval_id, ev.n_grams, ev.gram, tr.train_id
      FROM tr JOIN ev USING (gram)),
summary AS (SELECT eval_id, MAX(n_grams) AS n_grams,
              CAST(COUNT(DISTINCT train_id) AS BIGINT) AS n_train_docs,
              CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_shared_grams
            FROM h GROUP BY eval_id),
worst AS (SELECT eval_id, CAST(MAX(o) AS BIGINT) AS worst_overlap
          FROM (SELECT eval_id, train_id, COUNT(*) AS o
                FROM h GROUP BY eval_id, train_id)
          GROUP BY eval_id)
SELECT s.eval_id, CAST(s.n_grams AS INT) AS n_grams, s.n_train_docs,
       s.n_shared_grams, w.worst_overlap
FROM summary s JOIN worst w USING (eval_id)
""")
def text_decontaminate_report(spark, sf_dir):
    """Per-EVAL-ITEM contamination attribution (`contamination_report`,
    operators/decontam.py) — the eval owner's view: which of my items
    are compromised, by how many train docs, how heavily (worst
    single-doc overlap)? Every 10th document plays the eval set; the
    eval gram map broadcasts and the train corpus map-side
    semi-filters against it, so only contaminated (train, gram) rows
    ever shuffle — bounded by contamination volume, never corpus size.
    All four per-item stats hash-checked."""
    from ..operators.decontam import contamination_report

    docs = load(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    tr = docs.filter(F.col("doc_id") % 10 != 0)
    out = contamination_report(tr, ev, "text", "doc_id")
    return out.select(
        "eval_id", F.col("n_grams").cast("int").alias("n_grams"),
        "n_train_docs", "n_shared_grams", "worst_overlap")


_INC_EMB_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
x AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS INT) - 1 AS i,
        unnest(v) AS xv
      FROM e),
s AS (SELECT band, j, i,
        CASE WHEN CAST('0x' || substr(md5('srp:' || CAST(band AS VARCHAR)
                  || ':' || CAST(i AS VARCHAR) || ','
                  || CAST(j AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0
             THEN 1.0 ELSE -1.0 END AS sg
      FROM range(0, 2) b(band), range(0, 4) pj(j), range(0, 64) ii(i)),
d AS (SELECT vec_id, band, j,
        SUM(CAST(xv * sg AS DECIMAL(28,12))) AS dt
      FROM x JOIN s USING (i) GROUP BY 1, 2, 3),
bkt AS (SELECT vec_id, band,
          CAST(SUM(CASE WHEN dt >= 0 THEN 1 << j ELSE 0 END) AS INT)
            AS bucket
        FROM d GROUP BY 1, 2),
cand AS (SELECT DISTINCT b.vec_id AS bid, o.vec_id AS oid
         FROM bkt b JOIN bkt o
           ON b.band = o.band AND b.bucket = o.bucket
          AND o.vec_id < b.vec_id),
rej AS (SELECT DISTINCT c.bid
        FROM cand c JOIN e eb ON eb.vec_id = c.bid
                    JOIN e eo ON eo.vec_id = c.oid
        WHERE round(list_dot_product(eb.v, eo.v)
              / (sqrt(list_dot_product(eb.v, eb.v))
                 * sqrt(list_dot_product(eo.v, eo.v))), 6) >= 0.45)
SELECT vec_id FROM e WHERE vec_id NOT IN (SELECT bid FROM rej)
"""


@query("dedup_incremental_embedding", oracle=_INC_EMB_ORACLE)
def dedup_incremental_embedding(spark, sf_dir):
    """INCREMENTAL semantic dedup (`incremental_embedding_dedup`,
    operators/clustering.py, round 8 — the embedding twin of
    `dedup_incremental_minhash`): the embeddings replay as THREE
    ascending-id batches against a living SRP band state (2 bands x 4
    md5-seeded sign planes, decimal-snapped dots so bucket codes are
    bit-identical on every engine); a vector is rejected iff it
    band-collides with a smaller-id vector at exact cosine >= 0.45.
    The corpus is never rescanned — each batch equi-joins the persisted
    state on (band, bucket). The oracle replays the ENTIRE pipeline
    one-shot (sign planes from the same md5 stream, decimal dot signs,
    bucket codes, collision pairs, exact cosine) — batch replay must
    equal the one-shot smaller-id rule bit-for-bit, and any drift in
    plane derivation, bucketing, or the state union breaks the hash."""
    from pyspark.sql import types as T

    from ..operators.clustering import incremental_embedding_dedup

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    hi = emb.agg(F.max("vec_id")).collect()[0][0]
    m = (int(hi) + 3) // 3
    state = spark.createDataFrame(
        [], T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("v", T.ArrayType(T.DoubleType())),
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.IntegerType()),
        ]))
    out = []
    for lo in (0, m, 2 * m):
        batch = emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + m)
            if lo < 2 * m else (F.col("vec_id") >= lo))
        survivors, state = incremental_embedding_dedup(
            batch, state, id_col="vec_id", vec_col="embedding",
            in_dim=64, bands=2, planes=4, threshold=0.45)
        out.append(survivors.select("vec_id"))
    res = out[0]
    for s in out[1:]:
        res = res.unionByName(s)
    return res


@query("dedup_incremental_embedding_sq8", oracle=_INC_EMB_ORACLE)
def dedup_incremental_embedding_sq8(spark, sf_dir):
    """The SQ-int8 STATE arm of `dedup_incremental_embedding` (r14,
    VERDICT #8): the same three-batch ascending-id replay, but the
    persisted state stores 1-byte/dim scalar-quantized vectors
    (`similarity.sq_quantize` under corpus `sq_minmax` params — the
    100 TB-state memory/bandwidth representation) and every collision
    re-ranks with the full float64 cosine over DEQUANTIZED codes.
    The oracle is the raw gate's EXACT-cosine one-shot replay,
    deliberately unchanged: hash-equality pins that on this corpus
    the quantization error never crosses a 6-dp decision boundary at
    threshold 0.45 — i.e. sq8 decisions ≡ raw decisions (also
    differential-pinned at unit scale, both kernels)."""
    import numpy as np
    from pyspark.sql import types as T

    from ..operators.clustering import incremental_embedding_dedup
    from ..operators.similarity import sq_minmax

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    lo, hi = sq_minmax(emb, "embedding", 64)
    scale = (hi - lo) / 255.0
    scale = np.where(scale > 0, scale, 1.0)
    mx = emb.agg(F.max("vec_id")).collect()[0][0]
    m = (int(mx) + 3) // 3
    state = spark.createDataFrame(
        [], T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("v", T.ArrayType(T.ByteType())),
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.IntegerType()),
        ]))
    out = []
    for b in (0, m, 2 * m):
        batch = emb.filter(
            (F.col("vec_id") >= b) & (F.col("vec_id") < b + m)
            if b < 2 * m else (F.col("vec_id") >= b))
        survivors, state = incremental_embedding_dedup(
            batch, state, id_col="vec_id", vec_col="embedding",
            in_dim=64, bands=2, planes=4, threshold=0.45,
            state_repr="sq8", sq_params=(lo, scale))
        out.append(survivors.select("vec_id"))
    res = out[0]
    for s in out[1:]:
        res = res.unionByName(s)
    return res


@query("dedup_clusters_incremental", oracle="""
WITH RECURSIVE mx AS (SELECT MAX(doc_id) AS m FROM documents),
e0 AS (SELECT doc_id AS a, doc_id - (doc_id % 10) AS b
       FROM documents WHERE doc_id % 10 != 0
       UNION ALL
       SELECT doc_id, doc_id + 10 FROM documents, mx
       WHERE doc_id % 50 = 0 AND doc_id + 10 <= mx.m),
ed AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
verts AS (SELECT DISTINCT a AS v FROM ed),
reach(v, r) AS (
  SELECT v, v FROM verts
  UNION
  SELECT ed.a, reach.r FROM ed JOIN reach ON ed.b = reach.v
)
SELECT v AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id,
       (v = MIN(r)) AS is_canonical
FROM reach GROUP BY v
""")
def dedup_clusters_incremental(spark, sf_dir):
    """INCREMENTAL connected components (`incremental_components`,
    operators/graph.py, round 8): the dedup pair graph grows by append
    batches, and the cluster state folds each batch in WITHOUT
    re-running CC over history — batch endpoints relabel through the
    state (two batch-sized equi-joins), only the CONTRACTED
    representative graph runs CC, and one keyed join relabels the
    state. The edge set here is a deterministic hub graph (each doc to
    its tens-hub, plus hub-to-hub bridges every 50) replayed as THREE
    interleaved batches, so later batches genuinely MERGE components
    resolved earlier. The oracle computes one-shot components over the
    full edge set with a recursive transitive closure — any divergence
    between incremental replay and one-shot resolution (a stale label,
    a missed merge, a lost vertex) breaks the hash."""
    from pyspark.sql import types as T

    from ..operators.graph import incremental_components
    from ..plans import iterate

    docs = load(spark, sf_dir, "documents").select("doc_id")
    hi = docs.agg(F.max("doc_id")).collect()[0][0]
    star = docs.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") - F.col("doc_id") % 10).alias("id_b"))
    bridge = docs.filter(
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") + 10 <= hi)
    ).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 10).alias("id_b"))
    edges = star.unionByName(bridge)
    state = spark.createDataFrame([], T.StructType([
        T.StructField("vertex", T.LongType()),
        T.StructField("component", T.LongType()),
    ]))
    state = iterate(
        state,
        lambda st, k: incremental_components(
            edges.filter(F.col("id_a") % 3 == k - 1), st),
        3)
    return state.select(
        F.col("vertex").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("vertex") == F.col("component")).alias("is_canonical"))


@query("split_mixture_temperature", oracle="""
WITH g AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(length(text)) AS toks
           FROM documents GROUP BY lang),
t AS (SELECT SUM(pow(n, 0.5)) AS ta, SUM(n) AS tn FROM g)
SELECT lang, CAST(n AS BIGINT) AS n,
  ROUND(pow(n, 0.5) / ta, 6) AS weight,
  ROUND((pow(n, 0.5) / ta) / (n / tn), 6) AS oversample_factor
FROM g, t
""")
def split_mixture_temperature(spark, sf_dir):
    """Temperature-scaled mixture weights
    (`mixture_temperature_weights`, operators/splits.py — the
    exponentiated sampling rule of the multilingual LLM corpora,
    alpha=0.5 here): per-language w = n^alpha / sum(n^alpha), plus the
    oversample factor a sampler multiplies against a token budget.
    One keyed agg + a 1-row broadcast; the oracle replays the exact
    pow/round arithmetic — low-resource languages must read factor > 1,
    high-resource < 1, and the weights sum to 1."""
    from ..operators.splits import mixture_temperature_weights

    docs = load(spark, sf_dir, "documents")
    return mixture_temperature_weights(docs, ["lang"], alpha=0.5)


_TEMP_ALLOC_CTE = """
d AS (SELECT doc_id,
        CAST(floor(sqrt(CAST(doc_id AS DOUBLE))) AS BIGINT) AS dom
      FROM documents),
c AS (SELECT dom, COUNT(*) AS n FROM d GROUP BY 1),
t AS (SELECT *, SUM(n) OVER () AS nn FROM c),
w AS (SELECT dom, n,
        CAST(round(pow(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE), 0.5),
                   9) AS DECIMAL(18,9)) AS wv
      FROM t),
s AS (SELECT *, CAST(SUM(wv) OVER () AS DOUBLE) AS ws FROM w),
q AS (SELECT dom, n, 250.0 * CAST(wv AS DOUBLE) / ws AS qv FROM s),
b AS (SELECT *, CAST(floor(qv) AS BIGINT) AS base FROM q),
l AS (SELECT *, 250 - SUM(base) OVER () AS lft,
        row_number() OVER (ORDER BY qv - base DESC, dom ASC) AS rnk
      FROM b),
a AS (SELECT dom, n, qv,
        LEAST(base + CASE WHEN rnk <= lft THEN 1 ELSE 0 END, n)
          AS alloc
      FROM l)"""


@query("split_temperature_alloc", oracle=f"""
WITH {_TEMP_ALLOC_CTE}
SELECT dom, CAST(n AS BIGINT) AS n, round(qv, 6) AS quota,
  CAST(alloc AS BIGINT) AS alloc
FROM a
""")
def split_temperature_alloc(spark, sf_dir):
    """Temperature-scaled INTEGER sample allocation
    (`temperature_allocation`, operators/splits.py; Arivazhagan et
    al. 2019 §5 — the T-scaled proportions behind the T5/GPT-3
    mixture tables): p_d ∝ (n_d/N)^(1/T) at T=2 over sqrt-bucketed
    document domains (sizes 1,3,5,… — genuinely skewed, so the
    temperature visibly flattens the head), integerized by the
    LARGEST-REMAINDER method (Σ alloc = 250 exactly; remainder ties
    to the smaller domain) and capped at each domain's size. The
    integer-allocation completion of `split_mixture_temperature`'s
    weights. Domain-frame-sized windows only; 9-dp pow snap, exact
    decimal weight pool."""
    from ..operators.splits import temperature_allocation

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.floor(F.sqrt(F.col("doc_id").cast("double")))
        .cast("long").alias("dom"))
    return temperature_allocation(docs, "dom", total=250,
                                  temperature=2.0)


@query("split_temperature_sample", oracle=f"""
WITH {_TEMP_ALLOC_CTE},
r AS (SELECT d.doc_id, d.dom,
        row_number() OVER (PARTITION BY d.dom
          ORDER BY substr(md5('tmix:' || 'v'
            || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) || ':'
            || CAST(doc_id AS VARCHAR)), 1, 16), doc_id) AS rk
      FROM d)
SELECT r.dom, r.doc_id, CAST(rk AS INT) AS mix_rank
FROM r JOIN a USING (dom) WHERE rk <= alloc
""")
def split_temperature_sample(spark, sf_dir):
    """The composed temperature mixture DRAW (`temperature_mixture`,
    operators/splits.py): `split_temperature_alloc`'s integer
    allocations filled in deterministic content-hash order (the
    cap_per_group draw — append-stable membership), one keyed window
    + a broadcast allocation join. Σ alloc = 250 exactly pre-cap (the
    Hamilton guarantee); the tail domains smaller than their
    allocation cap at their size (247 rows at sf0.001 — the
    documented no-replacement deficit). The oracle replays allocation
    AND per-domain draw order row-for-row."""
    from ..operators.splits import temperature_mixture

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.floor(F.sqrt(F.col("doc_id").cast("double")))
        .cast("long").alias("dom"))
    return temperature_mixture(
        docs, key="doc_id", domain="dom", total=250,
        temperature=2.0, seed="tmix", rank_col="mix_rank",
    ).select("dom", "doc_id", F.col("mix_rank").cast("int")
             .alias("mix_rank"))


@query("dedup_canonical_quality", oracle="""
WITH c AS (SELECT doc_id, doc_id - (doc_id % 7) AS cluster_id,
             ROUND(CAST(length(text) AS DOUBLE), 6) AS p
           FROM documents),
b AS (SELECT cluster_id, MAX(p) AS bp FROM c GROUP BY cluster_id),
m AS (SELECT c.cluster_id, MIN(c.doc_id) AS bid
      FROM c JOIN b ON c.cluster_id = b.cluster_id AND c.p = b.bp
      GROUP BY c.cluster_id)
SELECT c.doc_id, CAST(c.cluster_id AS BIGINT) AS cluster_id,
  c.p AS priority, (c.doc_id = m.bid) AS is_canonical
FROM c JOIN m ON c.cluster_id = m.cluster_id
""")
def dedup_canonical_quality(spark, sf_dir):
    """Quality-based canonical election (`canonical_by_priority`,
    operators/graph.py, round 8): production dedup keeps the BEST
    duplicate (highest quality score), not the min-id default of the
    resolution step. Deterministic septet clusters over documents
    (cluster = doc_id - doc_id % 7, so every cluster has real
    contenders) elect their survivor by document length standing in
    for a quality score, ties to the smallest id. One keyed join + one
    cluster-keyed argmax, id/score pairs only. The oracle replays the
    per-cluster max and the tie-break — exactly one canonical per
    cluster or the hash breaks."""
    from ..operators.graph import canonical_by_priority

    docs = load(spark, sf_dir, "documents")
    clusters = docs.select(
        "doc_id",
        (F.col("doc_id") - F.col("doc_id") % 7).alias("cluster_id"))
    scores = docs.select(
        "doc_id", F.length("text").alias("priority"))
    return canonical_by_priority(clusters, scores,
                                 priority_col="priority")


@query("dedup_jaccard_prefix_join", oracle="""
WITH s AS (SELECT doc_id,
         CASE WHEN length(text) >= 5
              THEN list_sort(list_distinct(
                     [substr(text, i, 5) FOR i IN range(1, length(text) - 3)]))
              ELSE [] END AS sh
       FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
    AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5
""")
def dedup_jaccard_prefix_join(spark, sf_dir):
    """EXACT similarity join at scale (`prefix_filter_jaccard_pairs`,
    operators/dedup.py — the PPJoin/prefix-filtering family): the SAME
    char-5-gram Jaccard >= 0.5 pairs as `dedup_ngram_jaccard`, computed
    by a completely different algorithm — per-doc gram prefixes in
    rarest-first global-df order drive the candidate join (recall
    exactly 1 by the prefix theorem, no all-pairs step, no MinHash
    miss), then digest-count verification. The oracle is the all-pairs
    formulation, so the hash only matches if the prefix length
    arithmetic, frequency ordering, candidate join, and verification
    agree with brute force pair-for-pair and value-for-value."""
    from ..operators.dedup import prefix_filter_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.5, n=5, kind="char")


@query("text_bm25_topk", oracle="""
WITH q(query_id, query_text) AS (VALUES
  (1, 'spark join fast'), (2, 'hash merge table'), (3, 'stream window'),
  (4, 'scan filter slow'), (5, 'vector group batch')),
tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        FROM documents),
cnt AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, term, tf,
         SUM(tf) OVER (PARTITION BY doc_id) AS dl
       FROM cnt),
qt AS (SELECT DISTINCT query_id,
         unnest(list_filter(string_split(query_text, ' '), x -> x <> '')) AS term
       FROM q),
dfq AS (SELECT term, COUNT(*) AS df FROM cnt
        WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term),
st AS (SELECT COUNT(*) AS n_docs,
         SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS total_dl
       FROM documents),
hit AS (SELECT qt.query_id, d.doc_id,
         round(ln(1 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * CAST(d.tf AS DOUBLE) * 2.2
               / (d.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl
                    / (CAST(st.total_dl AS DOUBLE) / st.n_docs))),
               6) AS contrib
        FROM dl d JOIN qt ON d.term = qt.term
        JOIN dfq ON d.term = dfq.term CROSS JOIN st),
sc AS (SELECT query_id, doc_id, round(SUM(contrib), 6) AS score
       FROM hit GROUP BY query_id, doc_id)
SELECT CAST(query_id AS INT) AS query_id, CAST(rn AS INT) AS rank,
       doc_id, score
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id) AS rn FROM sc)
WHERE rn <= 5
""")
def text_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-5 retrieval (`bm25_topk`,
    operators/retrieval.py): five fixed keyword queries probe the
    corpus through the inverted-index access path — postings shuffle
    once, document length rides a window over the same shuffle,
    document frequencies prune to the query vocabulary BEFORE
    broadcasting, and only hit documents reach scoring (never a
    corpus x queries cross join). Per-term contributions and the
    per-doc sum both round at 6 dp (the engine-portable float
    policy), so the oracle's full SQL replay — IDF, length
    normalization, tie-break — must agree value-for-value. Tokenizes
    with ``drop_empty=True`` (the clean-retrieval convention, r11) —
    an empty-string query matches NOTHING instead of term-matching
    empty documents; the oracle mirrors via ``list_filter``."""
    from ..operators.retrieval import bm25_topk

    docs = load(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(
        [(1, "spark join fast"), (2, "hash merge table"),
         (3, "stream window"), (4, "scan filter slow"),
         (5, "vector group batch")],
        "query_id int, query_text string")
    return bm25_topk(docs, qdf, k=5, drop_empty=True)


def _pagerank_oracle(n_iter: int = 8) -> str:
    """Unrolled power-iteration replay: one CTE per round, each
    mirroring the engine exactly — (1.0-0.85)/n written as the same
    float expression (0.15 is NOT the double 1.0-0.85), per-round
    HALF-away rounding at 9 dp, LEFT JOIN + coalesce for sink
    vertices."""
    parts = ["""
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
e AS (SELECT DISTINCT doc_id AS src,
        (doc_id * (3 + t.range) + 17 * t.range + 1) % nn.n AS dst
      FROM documents CROSS JOIN range(0, 3) t CROSS JOIN nn),
base AS (SELECT v.vertex, coalesce(o.outdeg, 0) AS outdeg
         FROM (SELECT src AS vertex FROM e
               UNION SELECT dst FROM e) v
         LEFT JOIN (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src) o
           ON v.vertex = o.src),
r0 AS (SELECT vertex, outdeg, round(1.0 / nn.n, 9) AS rank
       FROM base CROSS JOIN nn)"""]
    for k in range(1, n_iter + 1):
        parts.append(f""",
r{k} AS (SELECT b.vertex, b.outdeg,
    round((1.0 - 0.85) * (1.0 / nn.n)
          + 0.85 * coalesce(i.inflow, 0.0), 9) AS rank
  FROM base b CROSS JOIN nn
  LEFT JOIN (SELECT e.dst AS vertex,
               SUM(CAST(round(r.rank / r.outdeg * 1000000000000.0, 0)
                   AS BIGINT)) / 1000000000000.0 AS inflow
             FROM r{k - 1} r JOIN e ON r.vertex = e.src
             WHERE r.outdeg > 0
             GROUP BY e.dst) i ON b.vertex = i.vertex)""")
    parts.append(f"""
SELECT vertex, rank FROM r{n_iter}""")
    return "".join(parts)


def _textrank_oracle(n_iter: int = 8, k: int = 30) -> str:
    """TextRank replay: rebuild the undirected adjacency graph from
    the drop_empty token streams, then unroll the same ``n_iter``
    power-iteration rounds as `_pagerank_oracle` (identical float
    policy: per-round 9-dp HALF-away rounding, 1e12-scaled LONG
    inflow sums, LEFT JOIN for isolated sides)."""
    parts = ["""
WITH t AS (SELECT doc_id,
        list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents WHERE text IS NOT NULL),
pr0 AS (SELECT unnest([{'a': tk[i], 'b': tk[i + 1]}
                       FOR i IN range(1, len(tk))]) AS p
        FROM t),
eu AS (SELECT DISTINCT p.a AS src, p.b AS dst FROM pr0
       WHERE p.a <> p.b),
e AS (SELECT src, dst FROM eu
      UNION SELECT dst, src FROM eu),
nn AS (SELECT COUNT(*) AS n FROM
        (SELECT src AS v FROM e UNION SELECT dst FROM e)),
base AS (SELECT v.vertex, coalesce(o.outdeg, 0) AS outdeg
         FROM (SELECT src AS vertex FROM e
               UNION SELECT dst FROM e) v
         LEFT JOIN (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src) o
           ON v.vertex = o.src),
r0 AS (SELECT vertex, outdeg, round(1.0 / nn.n, 9) AS rank
       FROM base CROSS JOIN nn)"""]
    for j in range(1, n_iter + 1):
        parts.append(f""",
r{j} AS (SELECT b.vertex, b.outdeg,
    round((1.0 - 0.85) * (1.0 / nn.n)
          + 0.85 * coalesce(i.inflow, 0.0), 9) AS rank
  FROM base b CROSS JOIN nn
  LEFT JOIN (SELECT e.dst AS vertex,
               SUM(CAST(round(r.rank / r.outdeg * 1000000000000.0, 0)
                   AS BIGINT)) / 1000000000000.0 AS inflow
             FROM r{j - 1} r JOIN e ON r.vertex = e.src
             WHERE r.outdeg > 0
             GROUP BY e.dst) i ON b.vertex = i.vertex)""")
    parts.append(f"""
SELECT vertex AS word, rank FROM r{n_iter}
ORDER BY rank DESC, word LIMIT {k}""")
    return "".join(parts)


@query("text_textrank", oracle=_textrank_oracle())
def text_textrank(spark, sf_dir):
    """TextRank corpus keywords (Mihalcea & Tarau, EMNLP 2004) —
    COMPOSED from this engine's own pieces: the window-2 word
    co-occurrence graph (adjacent drop_empty tokens, undirected via
    both-direction edges, self-loops dropped) fed to `pagerank`
    (operators/graph.py — 8 rounds, damping 0.85, the 9-dp/scaled-
    LONG float policy), top-30 by (rank desc, word asc). The graph
    is VOCABULARY-sized: corpus scale only touches the one
    token-pair distinct; every iteration runs on distinct words.
    The oracle rebuilds the graph and unrolls all eight rounds."""
    from ..operators.graph import pagerank

    toks = TXT.tokens("text", drop_empty=True)
    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    # greatest(.., 0): slice raises on a negative length, and an
    # empty/whitespace-only text tokenizes to [] (r14 self-review —
    # latent: the current fixtures have no empty texts)
    pairs = docs.select(toks.alias("tk")).select(
        F.explode(F.expr(
            "transform(slice(tk, 1, greatest(size(tk) - 1, 0)),"
            " (x, i) -> struct(x AS a, element_at(tk, i + 2) AS b))"
        )).alias("p"))
    eu = (pairs.select(F.col("p.a").alias("src"),
                       F.col("p.b").alias("dst"))
          .filter(F.col("src") != F.col("dst")).distinct())
    edges = eu.unionByName(
        eu.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return (
        pagerank(edges, n_iter=8)
        .select(F.col("vertex").alias("word"), "rank")
        .orderBy(F.desc("rank"), F.asc("word"))
        .limit(30))


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """PageRank over a deterministic synthetic link graph (`pagerank`,
    operators/graph.py — 8 power-iteration rounds, damping 0.85,
    dangling-mass redistribution): every document links to three
    formula-derived targets, so the oracle can REBUILD THE GRAPH and
    unroll all eight rounds in SQL. Per-round 9-dp rounding is the
    engine-portable float policy — the per-vertex inflow sum has no
    guaranteed addition order in either engine, and rounding each
    round keeps every value far from a rounding boundary, so the
    final ranks hash-match value-for-value. The iterative twin of
    `dedup_clusters`' connected components: one join + one groupBy
    per round, lineage truncated by localCheckpoint every iteration
    (the planning-time lesson), nothing all-pairs."""
    from ..operators.graph import pagerank

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        docs.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[
                (F.col("doc_id") * (3 + t) + 17 * t + 1) % F.col("n")
                for t in range(3)])).alias("dst"))
    )
    return pagerank(edges, n_iter=8)


@query("text_perplexity_kn", oracle="""
WITH tr AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents
            WHERE doc_id % 2 = 0 AND text IS NOT NULL
              AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 2),
trb AS (SELECT unnest([{'p': toks[i], 'w': toks[i+1]}
                       FOR i IN range(1, len(toks))]) AS bg
        FROM tr),
bi AS (SELECT bg.p AS p, bg.w AS w, COUNT(*) AS c FROM trb GROUP BY 1, 2),
ctx AS (SELECT p, SUM(c) AS cc FROM bi GROUP BY 1),
t1p AS (SELECT p, COUNT(*) AS t1p FROM bi GROUP BY 1),
cw AS (SELECT w, COUNT(*) AS cw FROM bi GROUP BY 1),
tot AS (SELECT COUNT(*) AS n1p FROM bi),
voc AS (SELECT COUNT(DISTINCT t) AS v
        FROM (SELECT unnest(toks) AS t FROM tr)),
d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents
      WHERE text IS NOT NULL AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 2),
db AS (SELECT doc_id, unnest([{'p': toks[i], 'w': toks[i+1]}
                              FOR i IN range(1, len(toks))]) AS bg
       FROM d),
sc AS (SELECT doc_id,
         CAST(round(ln(CASE WHEN ctx.cc IS NOT NULL THEN
             greatest(COALESCE(bi.c, 0) - 0.75, 0.0) / ctx.cc
             + 0.75 * t1p.t1p / ctx.cc
               * ((COALESCE(cw.cw, 0) + 0.5) / (tot.n1p + 0.5 * voc.v))
           ELSE (COALESCE(cw.cw, 0) + 0.5) / (tot.n1p + 0.5 * voc.v)
           END), 9) AS DECIMAL(20,9)) AS lp
       FROM db
       LEFT JOIN bi ON db.bg.p = bi.p AND db.bg.w = bi.w
       LEFT JOIN ctx ON db.bg.p = ctx.p
       LEFT JOIN t1p ON db.bg.p = t1p.p
       LEFT JOIN cw ON db.bg.w = cw.w
       CROSS JOIN tot CROSS JOIN voc)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(lp) AS DOUBLE) / -COUNT(*), 6) AS avg_neg_logp
FROM sc GROUP BY doc_id
""")
def text_perplexity_kn(spark, sf_dir):
    """Interpolated Kneser-Ney perplexity scoring (`kneser_ney_score`,
    operators/lm.py; Kneser & Ney 1995, Chen & Goodman 1999) — the
    KenLM-grade upgrade over `text_perplexity_bigram`'s add-alpha:
    absolute discounting (D=0.75) on seen bigrams, interpolated with a
    CONTINUATION distribution (how many contexts each word completes,
    not how often it occurs), with an add-0.5 floor keeping unseen
    words scoreable. Same train/score split (even docs train, all
    score), same 9-dp decimal log snap so the per-doc sum is
    order-independent. The oracle replays discount, backoff weight,
    and continuation distribution exactly — five LEFT joins against
    count tables all derived from one materialized bigram table.
    Tokenizes with ``drop_empty=True`` (r11): the >= 2-token
    eligibility and every count apply to the FILTERED token list,
    mirrored in the oracle via ``list_filter``."""
    from ..operators.lm import kneser_ney_score

    docs = load(spark, sf_dir, "documents")
    return kneser_ney_score(
        docs, docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id",
        drop_empty=True)


@query("split_dsir_weights", oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
           WHERE text IS NOT NULL
             AND len(string_split(text, ' ')) >= 2),
f AS (SELECT doc_id,
        unnest([substr(md5('dsir:' || tk[i] || ' ' || tk[i+1]), 1, 2)
                FOR i IN range(1, len(tk))]) AS bucket
      FROM d),
tc AS (SELECT bucket, COUNT(*) AS tc FROM f
       WHERE doc_id % 5 = 0 GROUP BY 1),
rc AS (SELECT bucket, COUNT(*) AS rc FROM f GROUP BY 1),
tt AS (SELECT SUM(tc) AS tn FROM tc),
rt AS (SELECT SUM(rc) AS rn FROM rc),
ratio AS (SELECT rc.bucket,
    CAST(round(ln((COALESCE(tc.tc, 0) + 0.5) / (tt.tn + 0.5 * 256))
               - ln((rc.rc + 0.5) / (rt.rn + 0.5 * 256)), 9)
         AS DECIMAL(20,9)) AS lr
  FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tt CROSS JOIN rt)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       round(CAST(SUM(lr) AS DOUBLE), 6) AS log_weight
FROM f JOIN ratio USING (bucket) GROUP BY doc_id
""")
def split_dsir_weights(spark, sf_dir):
    """DSIR importance weighting (`dsir_log_weights`,
    operators/splits.py; Xie et al. 2023): every-5th documents stand
    in as the trusted target domain, and EVERY document scores
    log p_target − log p_raw summed over its hashed word-bigram
    features (md5-prefix bucketing into 256 buckets — the
    engine-portable hashing trick) — the published recipe for
    selecting domain-matched pretraining data. Both feature models
    are 256-row aggregates, so the log-ratio table broadcasts at ANY
    corpus size; per-feature terms snap to 9-dp decimal so the
    per-doc sum is order-independent. The oracle replays hashing,
    both smoothed models, and the ratio exactly."""
    from ..operators.splits import dsir_log_weights

    docs = load(spark, sf_dir, "documents")
    return dsir_log_weights(
        docs, docs.filter(F.col("doc_id") % 5 == 0), "text", "doc_id")


@query("join_fuzzy_del1", oracle="""
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 1
""")
def join_fuzzy_del1(spark, sf_dir):
    """Edit-distance-1 fuzzy self-join (`fuzzy_pairs_del1`,
    operators/fuzzy.py — the SymSpell/FastSS deletion-neighborhood
    rule): supplier names pair whenever one character edit separates
    them, found by digest-bucketed deletion variants + exact
    Levenshtein verification — never an all-pairs scan. The oracle IS
    the all-pairs formulation, so the hash only matches if the
    neighborhood generation, bucket pairing, dedup, and verify
    reproduce brute force pair-for-pair (recall exactly 1, the
    prefix-join discipline)."""
    from ..operators.fuzzy import fuzzy_pairs_del1

    sup = load(spark, sf_dir, "supplier")
    return fuzzy_pairs_del1(sup, "s_name", "s_suppkey")


def _ppr_oracle(n_iter: int = 8) -> str:
    """Personalized-teleport twin of `_pagerank_oracle`: the teleport
    column is 1/|seeds| on every 50th vertex, 0 elsewhere, replayed
    per round (dangling mass is zero on this fixture — every vertex
    has out-edges — so the dangling·t term vanishes exactly)."""
    parts = ["""
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
e AS (SELECT DISTINCT doc_id AS src,
        (doc_id * (3 + t.range) + 17 * t.range + 1) % nn.n AS dst
      FROM documents CROSS JOIN range(0, 3) t CROSS JOIN nn),
ns AS (SELECT COUNT(*) AS ns FROM (SELECT DISTINCT src AS vertex FROM e
        UNION SELECT dst FROM e) WHERE vertex % 50 = 0),
base AS (SELECT v.vertex, coalesce(o.outdeg, 0) AS outdeg,
           CASE WHEN v.vertex % 50 = 0 THEN 1.0 / ns.ns ELSE 0.0 END AS tel
         FROM (SELECT src AS vertex FROM e
               UNION SELECT dst FROM e) v
         CROSS JOIN ns
         LEFT JOIN (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src) o
           ON v.vertex = o.src),
r0 AS (SELECT vertex, outdeg, tel, round(tel, 9) AS rank FROM base)"""]
    for k in range(1, n_iter + 1):
        parts.append(f""",
r{k} AS (SELECT b.vertex, b.outdeg, b.tel,
    round((1.0 - 0.85) * b.tel
          + 0.85 * coalesce(i.inflow, 0.0), 9) AS rank
  FROM base b
  LEFT JOIN (SELECT e.dst AS vertex,
               SUM(CAST(round(r.rank / r.outdeg * 1000000000000.0, 0)
                   AS BIGINT)) / 1000000000000.0 AS inflow
             FROM r{k - 1} r JOIN e ON r.vertex = e.src
             WHERE r.outdeg > 0
             GROUP BY e.dst) i ON b.vertex = i.vertex)""")
    parts.append(f"""
SELECT vertex, rank FROM r{n_iter}""")
    return "".join(parts)


@query("graph_pagerank_personalized", oracle=_ppr_oracle())
def graph_pagerank_personalized(spark, sf_dir):
    """Personalized PageRank (Haveliwala 2002) on the same synthetic
    link graph as `graph_pagerank`, teleporting only to every 50th
    document — the seed-expansion selector that harvests
    domain-relevant pages by link proximity to a trusted set. Same
    checkpointed power iteration and per-round 9-dp rounding; the
    oracle unrolls all eight rounds with the personalized teleport
    column, so seed indicator, 1/|seeds| normalization, and the decay
    structure must replay value-for-value."""
    from ..operators.graph import pagerank

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        docs.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[
                (F.col("doc_id") * (3 + t) + 17 * t + 1) % F.col("n")
                for t in range(3)])).alias("dst"))
    )
    seeds = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("vertex"))
    return pagerank(edges, n_iter=8, seeds=seeds)


def _lpa_oracle(n_iter: int = 4) -> str:
    """Unrolled synchronous label propagation: per round, each vertex
    adopts its neighbors' modal label (ties to the smallest) via a
    grouped count + row_number window — pure integer replay."""
    parts = ["""
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
e0 AS (SELECT DISTINCT doc_id AS src,
        (doc_id * (3 + t.range) + 17 * t.range + 1) % nn.n AS dst
      FROM documents CROSS JOIN range(0, 3) t CROSS JOIN nn),
und AS MATERIALIZED (SELECT DISTINCT a, b FROM (
          SELECT src AS a, dst AS b FROM e0
          UNION ALL SELECT dst, src FROM e0)
        WHERE a != b),
l0 AS MATERIALIZED (SELECT DISTINCT a AS vertex, a AS label FROM und)"""]
    for k in range(1, n_iter + 1):
        parts.append(f""",
l{k} AS MATERIALIZED (SELECT l.vertex, coalesce(nb.lab, l.label) AS label
  FROM l{k - 1} l LEFT JOIN (
    SELECT vertex, lab FROM (
      SELECT u.a AS vertex, p.label AS lab, COUNT(*) AS n,
             row_number() OVER (PARTITION BY u.a
               ORDER BY COUNT(*) DESC, p.label) AS rn
      FROM und u JOIN l{k - 1} p ON u.b = p.vertex
      GROUP BY u.a, p.label)
    WHERE rn = 1) nb ON l.vertex = nb.vertex)""")
    parts.append(f"""
SELECT vertex, label FROM l{n_iter}""")
    return "".join(parts)


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark, sf_dir):
    """Synchronous label propagation (`label_propagation`,
    operators/graph.py; Raghavan et al. 2007) over the undirected
    version of the synthetic link graph — community detection where
    connected components are too coarse: 4 deterministic rounds of
    adopt-the-modal-neighbor-label with smallest-label tie-break
    (pure integers, no float policy at all). One join + one grouped
    count + one top-1 window per round, checkpointed; the oracle
    unrolls all four rounds, so the symmetrization, modal vote, and
    tie-break must replay label-for-label."""
    from ..operators.graph import label_propagation

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        docs.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[
                (F.col("doc_id") * (3 + t) + 17 * t + 1) % F.col("n")
                for t in range(3)])).alias("dst"))
    )
    return label_propagation(edges, n_iter=4)


def _hits_oracle(n_iter: int = 4) -> str:
    """Unrolled HITS: per round one authority pass (inflow of hub
    scores, L1-normalized, 9-dp rounded) then one hub pass — six CTEs
    a round, mirroring the engine's expressions exactly."""
    parts = ["""
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
e AS MATERIALIZED (SELECT DISTINCT doc_id AS src,
        (doc_id * (3 + t.range) + 17 * t.range + 1) % nn.n AS dst
      FROM documents CROSS JOIN range(0, 3) t CROSS JOIN nn),
v AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e),
s0 AS MATERIALIZED (SELECT vertex, round(1.0 / nn.n, 9) AS hub,
         round(1.0 / nn.n, 9) AS auth
       FROM v CROSS JOIN nn)"""]
    for k in range(1, n_iter + 1):
        parts.append(f""",
a{k}r AS (SELECT e.dst AS vertex,
    SUM(CAST(s.hub AS DECIMAL(38,12))) AS ar
  FROM s{k - 1} s JOIN e ON s.vertex = e.src GROUP BY e.dst),
a{k}t AS (SELECT SUM(ar) AS at FROM a{k}r),
a{k} AS MATERIALIZED (SELECT b.vertex, b.hub,
    round(CAST(coalesce(r.ar, 0) AS DOUBLE)
          / CAST(t.at AS DOUBLE), 9) AS auth
  FROM s{k - 1} b LEFT JOIN a{k}r r ON b.vertex = r.vertex
  CROSS JOIN a{k}t t),
h{k}r AS (SELECT e.src AS vertex,
    SUM(CAST(a.auth AS DECIMAL(38,12))) AS hr
  FROM a{k} a JOIN e ON a.vertex = e.dst GROUP BY e.src),
h{k}t AS (SELECT SUM(hr) AS ht FROM h{k}r),
s{k} AS MATERIALIZED (SELECT a.vertex,
    round(CAST(coalesce(r.hr, 0) AS DOUBLE)
          / CAST(t.ht AS DOUBLE), 9) AS hub, a.auth
  FROM a{k} a LEFT JOIN h{k}r r ON a.vertex = r.vertex
  CROSS JOIN h{k}t t)""")
    parts.append(f"""
SELECT vertex, hub, auth AS authority FROM s{n_iter}""")
    return "".join(parts)


@query("graph_hits", oracle=_hits_oracle())
def graph_hits(spark, sf_dir):
    """HITS hubs-and-authorities (`hits`, operators/graph.py;
    Kleinberg 1999) on the synthetic link graph — the curation
    complement to PageRank: hubs find the index pages whose outlinks
    concentrate on good content, authorities the content itself. Four
    mutual-recursion rounds, L1 normalization (no cross-engine sqrt),
    every normalized score 9-dp rounded; the oracle unrolls all four
    rounds (six CTEs each), so inflow sums, normalizers, and sink/
    source handling must replay value-for-value."""
    from ..operators.graph import hits

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        docs.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[
                (F.col("doc_id") * (3 + t) + 17 * t + 1) % F.col("n")
                for t in range(3)])).alias("dst"))
    )
    return hits(edges, n_iter=4)


@query("knn_ivf_pq", oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
""")
def knn_ivf_pq(spark, sf_dir):
    """IVF+PQ composed ANN (`ivf_pq_topk`, operators/similarity.py;
    Jegou et al. 2011 — the FAISS IVFPQ architecture): coarse cells
    bound the scan (nprobe=6 of 16, ~0.38 fraction — the documented
    small/random-corpus regime, same as knn_lsh; clustered production
    corpora probe far less), 8-byte PQ codes score the survivors, an
    exact re-rank finishes. Recall@5 vs brute force: observed 0.80 at
    sf0.001 / 0.76 at sf0.01; floor 0.7 — held at BOTH driven SFs per
    the r7 ANN rule."""
    from ..operators.similarity import ivf_pq_topk

    return _ann_recall_gate(
        spark, sf_dir,
        lambda emb, q: ivf_pq_topk(
            emb, q, dim=64, id_col="vec_id", vec_col="embedding", k=5,
            n_centroids=16, nprobe=6, m=8, overfetch=8,
        ),
        min_avg_recall=0.7,
    )


@query("text_char_entropy", oracle="""
WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
           FROM documents WHERE text IS NOT NULL AND text != ''),
cnt AS (SELECT doc_id, ch, COUNT(*) AS k FROM c GROUP BY 1, 2),
tot AS (SELECT doc_id, ch, k, SUM(k) OVER (PARTITION BY doc_id) AS n
        FROM cnt),
term AS (SELECT doc_id, n,
           CAST(round(-(CAST(k AS DOUBLE) / n)
                      * log2(CAST(k AS DOUBLE) / n), 9)
                AS DECIMAL(20,9)) AS t
         FROM tot)
SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS INT) AS n_distinct,
       round(CAST(SUM(t) AS DOUBLE), 6) AS entropy_bits
FROM term GROUP BY doc_id
""")
def text_char_entropy(spark, sf_dir):
    """Per-document Shannon character entropy (bits/char) — the
    classic garbage detector in web-scale curation (Rae et al. 2021
    use it among the Gopher filters): binary blobs and
    base64/hex-encoded junk sit far above natural text's ~4.2 bits,
    degenerate repetition far below. One explode + one (doc, char)
    count (alphabet-bounded per doc) + a per-doc window total;
    per-char terms snap to 9-dp decimal so the entropy sum is exact
    and order-independent, final round at 6 dp. The oracle replays
    split, counts, and the -p*log2(p) fold exactly."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("text") != ""))
    cnt = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    n = F.sum("k").over(Window.partitionBy("doc_id"))
    p = F.col("k").cast("double") / F.col("n")
    term = (
        cnt.withColumn("n", n)
        .select(
            "doc_id", "n",
            F.round(-p * F.log2(p), 9).cast("decimal(20,9)").alias("t"))
    )
    return term.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("int").alias("n_distinct"),
        F.round(F.sum("t").cast("double"), 6).alias("entropy_bits"),
    )


@query("web_domain_stats", oracle="""
WITH d AS (SELECT doc_id, text,
        'https://' ||
        CASE WHEN doc_id % 5 = 0 THEN 'user' ||
             CAST(doc_id % 7 AS VARCHAR) || '@' ELSE '' END ||
        CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'cdn.'
                        WHEN 2 THEN '' ELSE 'a.b.' END ||
        'site' || CAST(doc_id % 20 AS VARCHAR) ||
        '.example' || CAST(doc_id % 3 AS VARCHAR) || '.com' ||
        CASE WHEN doc_id % 6 = 0 THEN ':8443' ELSE '' END ||
        '/p/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents),
h AS (SELECT doc_id, text,
        regexp_extract(url,
          '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^@/?#]*@)?([^:/?#]+)', 1)
          AS host
      FROM d),
r AS (SELECT doc_id, text, host,
        regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain
      FROM h)
SELECT domain,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
  round(CAST(SUM(length(text)) AS DOUBLE) / COUNT(*), 6) AS mean_chars
FROM r GROUP BY domain
""")
def web_domain_stats(spark, sf_dir):
    """Per-domain corpus statistics (`url_host`/`registered_domain`,
    functions/text.py) — the aggregation web curation caps and
    blocklists key on (C4/RefinedWeb-style per-domain quotas feed
    `split_cap_per_group` directly): every document gets a synthetic
    but adversarial URL (userinfo@, ports, 0-2 subdomain labels — the
    parts naive parsers break on), host and registered domain extract
    via the SAME regex pattern the oracle runs verbatim (no engine
    parse_url — semantics differ), then one domain-keyed agg of doc
    counts, distinct hosts, and text mass. Scan-local parsing, one
    shuffle."""
    from ..functions.text import registered_domain, url_host

    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("user"),
                        (F.col("doc_id") % 7).cast("string"),
                        F.lit("@"))).otherwise(F.lit("")),
        F.element_at(
            F.array(F.lit("www."), F.lit("cdn."), F.lit(""),
                    F.lit("a.b.")),
            (F.col("doc_id") % 4 + 1).cast("int")),
        F.lit("site"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".example"), (F.col("doc_id") % 3).cast("string"),
        F.lit(".com"),
        F.when(F.col("doc_id") % 6 == 0, F.lit(":8443"))
        .otherwise(F.lit("")),
        F.lit("/p/"), F.col("doc_id").cast("string"))
    parsed = docs.select(
        "text", url_host(url).alias("host")
    ).select("text", "host", registered_domain("host").alias("domain"))
    return parsed.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.round(
            F.sum(F.length("text")).cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_chars"),
    )


@query("knn_cosine_filtered", oracle="""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10)
SELECT q.vec_id AS query_id, e.vec_id AS cand_id, e.label,
  round(list_dot_product(q.v, e.v)
        / (sqrt(list_dot_product(q.v, q.v))
           * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine
FROM q JOIN e ON e.vec_id != q.vec_id AND e.label = q.label
QUALIFY row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY cosine DESC, e.vec_id) <= 5
""")
def knn_cosine_filtered(spark, sf_dir):
    """FILTERED vector search — exact cosine top-5 restricted to
    candidates sharing the query's label (the attribute-constrained
    retrieval every production vector store exposes: 'nearest within
    this tenant/language/domain'). Pre-filtering, the
    correctness-first strategy: the predicate lands BEFORE scoring,
    so top-k is exact over the filtered set (post-filtering an
    unfiltered top-k silently under-returns — the classic filtered-ANN
    bug this gate's oracle would catch). Per-label corpora score
    label-co-partitioned; the broadcast query side carries its label
    into the join condition, nothing is ever corpus x queries. FULL
    output hash-matched (ids, labels, order, 6-dp cosines) — an exact
    gate, not a recall floor."""
    from ..functions.vectors import as_double, cosine_rounded

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    c = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("label"),
        as_double("embedding").alias("__cv"))
    qs = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label"),
        as_double("embedding").alias("__qv"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id"))
    return (
        c.join(F.broadcast(qs), "label")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id", "label",
            cosine_rounded(F.col("__qv"), F.col("__cv")).alias("cosine"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .select("query_id", "cand_id", "label", "cosine")
    )


@query("pipeline_domain_cap", oracle="""
WITH d AS (SELECT doc_id, text,
        'https://' ||
        CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'cdn.'
                        WHEN 2 THEN '' ELSE 'a.b.' END ||
        'site' || CAST(doc_id % 20 AS VARCHAR) ||
        '.example' || CAST(doc_id % 3 AS VARCHAR) || '.com/p/' ||
        CAST(doc_id AS VARCHAR) AS url
      FROM documents),
r AS (SELECT doc_id, text,
        regexp_extract(
          regexp_extract(url,
            '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^@/?#]*@)?([^:/?#]+)', 1),
          '([^.]+\\.[^.]+)$', 1) AS domain
      FROM d),
k AS (SELECT doc_id, domain,
        row_number() OVER (PARTITION BY domain
          ORDER BY substr(md5('domcap:' || 'v'
            || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) || ':'
            || CAST(doc_id AS VARCHAR)), 1, 16), doc_id) AS rk
      FROM r)
SELECT domain, doc_id, CAST(rk AS INT) AS cap_rank
FROM k WHERE rk <= 100
""")
def pipeline_domain_cap(spark, sf_dir):
    """The C4/RefinedWeb per-domain cap as a COMPOSED pipeline of this
    round's pieces: URL parse (`url_host`/`registered_domain`) feeds
    the deterministic per-group cap (`cap_per_group`,
    operators/splits.py) — at most 100 documents per registered
    domain, chosen by content-keyed hash order (append-stable: a kept
    doc is only ever displaced by one that hashes earlier). Scan-local
    parsing, ONE keyed window — the whole cap is a single shuffle.
    The oracle replays regex, draw, and rank row-for-row."""
    from ..functions.text import registered_domain, url_host
    from ..operators.splits import cap_per_group

    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.element_at(
            F.array(F.lit("www."), F.lit("cdn."), F.lit(""),
                    F.lit("a.b.")),
            (F.col("doc_id") % 4 + 1).cast("int")),
        F.lit("site"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".example"), (F.col("doc_id") % 3).cast("string"),
        F.lit(".com/p/"), F.col("doc_id").cast("string"))
    parsed = docs.select(
        "doc_id",
        registered_domain(url_host(url)).alias("domain"))
    return cap_per_group(
        parsed, key="doc_id", group_cols=["domain"], k=100,
        seed="domcap", rank_col="cap_rank",
    ).select("domain", "doc_id", F.col("cap_rank").cast("int")
             .alias("cap_rank"))


@query("text_bpe_segment", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
           WHERE text IS NOT NULL),
w AS (SELECT doc_id, unnest(ws) AS word,
        generate_subscripts(ws, 1) AS pos
      FROM t),
e0 AS (SELECT doc_id, pos,
        '(' || array_to_string(string_split(word, ''), ')(') || ')' AS x
       FROM w),
e1 AS (SELECT doc_id, pos, replace(x, '(t)(h)', '(th)') AS x FROM e0),
e2 AS (SELECT doc_id, pos, replace(x, '(th)(e)', '(the)') AS x FROM e1),
e3 AS (SELECT doc_id, pos, replace(x, '(a)(t)', '(at)') AS x FROM e2),
e4 AS (SELECT doc_id, pos, replace(x, '(e)(r)', '(er)') AS x FROM e3),
e5 AS (SELECT doc_id, pos, replace(x, '(s)(c)', '(sc)') AS x FROM e4),
s AS (SELECT doc_id, pos,
        string_split(substr(x, 2, length(x) - 2), ')(') AS subs
      FROM e5),
f AS (SELECT doc_id, flatten(list(subs ORDER BY pos)) AS allsubs
      FROM s GROUP BY doc_id)
SELECT doc_id, CAST(len(allsubs) AS INT) AS n_subwords,
       array_to_string(allsubs[1:8], ' ') AS head8
FROM f
""")
def text_bpe_segment(spark, sf_dir):
    """BPE APPLICATION (`bpe_segment`, operators/bpe.py) — the encode
    half the trainer gate (`text_bpe_pairs`) leaves unexercised: a
    fixed 5-merge table (incl. the chained th->the merge, so merge
    ORDER is load-bearing) segments every document scan-locally —
    |merges| greedy-leftmost folds per word, zero shuffle, zero
    Python. The oracle replays application through an independent
    mechanism: each word's symbols wrap as '(s)(t)...' and every
    merge is ONE string replace — left-to-right non-overlapping
    replacement IS greedy-leftmost BPE (no shared characters between
    adjacent wrapped matches, verified on chained and overlapping
    runs in unit tests) — so fold semantics, merge order, and
    per-word independence all hash-check."""
    from ..operators.bpe import bpe_segment

    merges = [("t", "h"), ("th", "e"), ("a", "t"), ("e", "r"),
              ("s", "c")]
    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    subs = bpe_segment(F.col("text"), merges)
    return docs.select(
        "doc_id",
        F.size(subs).cast("int").alias("n_subwords"),
        F.array_join(F.slice(subs, 1, 8), " ").alias("head8"),
    )


@query("text_novelty", oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
           WHERE text IS NOT NULL
             AND len(string_split(text, ' ')) >= 3),
g AS (SELECT doc_id,
        unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                FOR i IN range(1, len(tk) - 1)]) AS gram
      FROM d),
ref AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
j AS (SELECT g.doc_id, g.gram,
        CASE WHEN ref.gram IS NULL THEN 1 ELSE 0 END AS novel
      FROM g LEFT JOIN ref ON g.gram = ref.gram)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(SUM(novel) AS BIGINT) AS n_novel,
  round(CAST(SUM(novel) AS DOUBLE) / COUNT(*), 6) AS novelty
FROM j GROUP BY doc_id
""")
def text_novelty(spark, sf_dir):
    """N-gram novelty scoring — the memorization/duplication signal
    dual to decontamination: each document's word-3-gram MULTISET is
    scored by the fraction absent from a reference corpus (the
    even-doc half here; in production, the already-accepted corpus) —
    low novelty flags near-copies and boilerplate, the
    Lee-et-al-style dedup triage signal at document granularity.
    Scale shape: grams shuffle as 16-byte digests via the standard
    gram machinery's keys... here the join keys the gram STRING
    (bounded 3-gram width) against the distinct reference set — one
    distinct + one left join + one doc-keyed agg, nothing quadratic;
    exact integer counts, one 6-dp division."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    tk = F.split("text", " ")
    grams = F.expr(
        "transform(sequence(1, size(__tk) - 2), i -> concat("
        "element_at(__tk, i), ' ', element_at(__tk, i + 1), ' ', "
        "element_at(__tk, i + 2)))")
    g = (
        docs.select("doc_id", tk.alias("__tk"))
        .filter(F.size("__tk") >= 3)
        .select("doc_id", F.explode(grams).alias("gram"))
    )
    ref = g.filter(F.col("doc_id") % 2 == 0).select("gram").distinct()
    j = g.join(
        ref.withColumn("__seen", F.lit(1)), "gram", "left")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0))
        .cast("long").alias("n_novel"),
        F.round(
            F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0))
            .cast("double") / F.count(F.lit(1)), 6).alias("novelty"),
    )


@query("graph_triangles", oracle="""
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
e0 AS (SELECT DISTINCT doc_id AS s,
        (doc_id * (3 + t.range) + 17 * t.range + 1) % nn.n AS d
      FROM documents CROSS JOIN range(0, 3) t CROSS JOIN nn),
e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
      FROM e0 WHERE s != d),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1 JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
pv AS (SELECT unnest([x, y, z]) AS vertex FROM tri),
v AS (SELECT a AS vertex FROM e UNION SELECT b FROM e)
SELECT v.vertex,
  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_triangles
FROM v LEFT JOIN (SELECT vertex, COUNT(*) AS n FROM pv GROUP BY 1) c
  ON v.vertex = c.vertex
""")
def graph_triangles(spark, sf_dir):
    """Per-vertex triangle counting (`triangle_count`,
    operators/graph.py — degree orientation, the Chiba-Nishizeki /
    MapReduce-standard algorithm): every edge orients toward its
    (degree, id)-higher endpoint, so each triangle has exactly one
    all-preceding wedge center and the wedge join's fan-out is
    bounded by oriented out-degree (the power-law-hub survival
    property). The oracle counts triangles by a COMPLETELY DIFFERENT
    formulation — brute-force id-ordered 3-edge enumeration — so
    orientation, wedge join, closure semi-join, and the 3-way credit
    explode must agree vertex-for-vertex."""
    from ..operators.graph import triangle_count

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        docs.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[
                (F.col("doc_id") * (3 + t) + 17 * t + 1) % F.col("n")
                for t in range(3)])).alias("dst"))
    )
    return triangle_count(edges)


@query("retrieval_rrf_hybrid", oracle="""
WITH q(query_id, query_text) AS (VALUES
  (1, 'spark join fast'), (2, 'hash merge table'), (3, 'stream window'),
  (4, 'scan filter slow'), (5, 'vector group batch')),
tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        FROM documents),
cnt AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, term, tf,
         SUM(tf) OVER (PARTITION BY doc_id) AS dl
       FROM cnt),
qt AS (SELECT DISTINCT query_id,
         unnest(list_filter(string_split(query_text, ' '), x -> x <> '')) AS term
       FROM q),
dfq AS (SELECT term, COUNT(*) AS df FROM cnt
        WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term),
st AS (SELECT COUNT(*) AS n_docs,
         SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS total_dl
       FROM documents),
hit AS (SELECT qt.query_id, d.doc_id,
         round(ln(1 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * CAST(d.tf AS DOUBLE) * 2.2
               / (d.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl
                    / (CAST(st.total_dl AS DOUBLE) / st.n_docs))),
               6) AS contrib
        FROM dl d JOIN qt ON d.term = qt.term
        JOIN dfq ON d.term = dfq.term CROSS JOIN st),
sc AS (SELECT query_id, doc_id, round(SUM(contrib), 6) AS score
       FROM hit GROUP BY query_id, doc_id),
bm AS (SELECT query_id, doc_id, rn FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY score DESC, doc_id) AS rn FROM sc)
       WHERE rn <= 10),
rec AS (SELECT query_id, doc_id, rn FROM (
          SELECT query_id, doc_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY doc_id DESC) AS rn
          FROM (SELECT DISTINCT query_id, doc_id FROM hit))
        WHERE rn <= 10),
u AS (SELECT query_id, doc_id, round(1.0 / (60 + rn), 6) AS c FROM bm
      UNION ALL
      SELECT query_id, doc_id, round(1.0 / (60 + rn), 6) AS c FROM rec),
f AS (SELECT query_id, doc_id, round(SUM(c), 6) AS rrf_score,
        CAST(COUNT(*) AS INT) AS n_systems
      FROM u GROUP BY query_id, doc_id)
SELECT CAST(query_id AS INT) AS query_id, CAST(rn AS INT) AS fused_rank,
       doc_id, rrf_score, n_systems
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY rrf_score DESC, doc_id) AS rn FROM f)
WHERE rn <= 5
""")
def retrieval_rrf_hybrid(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion (`rrf_fuse`,
    operators/retrieval.py; Cormack et al. 2009): the BM25 top-10 for
    each of the five standing queries fuses with a per-query RECENCY
    ranking (hit documents by descending id — the freshness prior
    every news/docs search blends in), no score calibration, ranks
    only. Two-stage 6-dp rounding makes the fusion sum
    order-independent; the oracle replays BOTH rankings and the
    fusion — BM25 arithmetic, recency window, reciprocal sum,
    tie-break — value-for-value."""
    from pyspark.sql.window import Window

    from ..operators.retrieval import bm25_topk, rrf_fuse

    docs = load(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(
        [(1, "spark join fast"), (2, "hash merge table"),
         (3, "stream window"), (4, "scan filter slow"),
         (5, "vector group batch")],
        "query_id int, query_text string")
    bm = bm25_topk(docs, qdf, k=10)
    # recency ranking over the SAME hit set: docs sharing >= 1 term
    from ..functions import text as TXT

    toks = docs.select(
        "doc_id", F.explode(TXT.tokens("text")).alias("term"))
    qterms = qdf.select(
        "query_id", F.explode(TXT.tokens("query_text")).alias("term")
    ).distinct()
    hits = (
        toks.join(F.broadcast(qterms), "term")
        .select("query_id", "doc_id").distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("doc_id"))
    rec = (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
    )
    return rrf_fuse([bm, rec], k=60, top=5)


@query("graph_clustering_coeff", oracle="""
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
e0 AS (SELECT DISTINCT doc_id AS s,
        (doc_id * (3 + t.range) + 17 * t.range + 1) % nn.n AS d
      FROM documents CROSS JOIN range(0, 3) t CROSS JOIN nn),
e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
      FROM e0 WHERE s != d),
deg AS (SELECT vertex, COUNT(*) AS degree FROM (
          SELECT a AS vertex FROM e UNION ALL SELECT b FROM e)
        GROUP BY vertex),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1 JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
pv AS (SELECT vertex, COUNT(*) AS t FROM (
         SELECT unnest([x, y, z]) AS vertex FROM tri) GROUP BY vertex)
SELECT deg.vertex, CAST(deg.degree AS BIGINT) AS degree,
  CAST(COALESCE(pv.t, 0) AS BIGINT) AS n_triangles,
  CASE WHEN deg.degree >= 2
       THEN round(2.0 * COALESCE(pv.t, 0)
                  / (deg.degree * (deg.degree - 1)), 6)
       ELSE 0.0 END AS coefficient
FROM deg LEFT JOIN pv ON deg.vertex = pv.vertex
""")
def graph_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient (`clustering_coefficient`,
    operators/graph.py; Watts-Strogatz) over the synthetic link graph
    — degree, triangle count, and the closed-wedge ratio per vertex,
    the link-farm discriminator. Composes the degree-oriented
    triangle counter with one degree join; the oracle recomputes
    everything from brute-force enumeration."""
    from ..operators.graph import clustering_coefficient

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        docs.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[
                (F.col("doc_id") * (3 + t) + 17 * t + 1) % F.col("n")
                for t in range(3)])).alias("dst"))
    )
    return clustering_coefficient(edges)


@query("graph_bfs_distances", oracle="""
WITH RECURSIVE nn AS (SELECT COUNT(*) AS n FROM documents),
e0 AS (SELECT DISTINCT doc_id AS s,
        (doc_id * (3 + t.range) + 17 * t.range + 1) % nn.n AS d
      FROM documents CROSS JOIN range(0, 3) t CROSS JOIN nn),
und AS (SELECT DISTINCT a, b FROM (
          SELECT s AS a, d AS b FROM e0
          UNION ALL SELECT d, s FROM e0)
        WHERE a != b),
r AS (
  SELECT doc_id AS vertex, 0 AS dist FROM documents
  WHERE doc_id % 100 = 0
  UNION ALL
  SELECT u.b, r.dist + 1
  FROM r JOIN und u ON u.a = r.vertex
  WHERE r.dist < 4
)
SELECT vertex, CAST(MIN(dist) AS INT) AS dist
FROM r GROUP BY vertex
""")
def graph_bfs_distances(spark, sf_dir):
    """Multi-source BFS (`bfs_distances`, operators/graph.py): hop
    distance from the nearest every-100th-doc seed, radius 4 — the
    discrete seed-expansion selector next to personalized PageRank
    (select everything within k links of the trusted set). Frontier
    expansion with per-round anti-join settlement; the oracle is a
    recursive CTE whose path explosion MIN-collapses to the same
    distances — two different mechanisms, one truth."""
    from ..operators.graph import bfs_distances

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        docs.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[
                (F.col("doc_id") * (3 + t) + 17 * t + 1) % F.col("n")
                for t in range(3)])).alias("dst"))
    )
    seeds = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("vertex"))
    return bfs_distances(edges, seeds, max_depth=4)


def _kcore_oracle(k: int = 3, rounds: int = 6) -> str:
    """Unrolled peel: per round, degrees over the surviving edge set
    filter both endpoints — MATERIALIZED, the iterative-oracle rule."""
    parts = ["""
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
e00 AS (SELECT DISTINCT doc_id AS s,
        (doc_id * (3 + t.range) + 17 * t.range + 1) % nn.n AS d
      FROM documents CROSS JOIN range(0, 3) t CROSS JOIN nn),
e0 AS MATERIALIZED (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
      FROM e00 WHERE s != d)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
k{r} AS MATERIALIZED (SELECT v FROM (
    SELECT vertex AS v, COUNT(*) AS dg FROM (
      SELECT a AS vertex FROM e{r - 1}
      UNION ALL SELECT b FROM e{r - 1}) GROUP BY vertex)
  WHERE dg >= {k}),
e{r} AS MATERIALIZED (SELECT e.a, e.b FROM e{r - 1} e
  JOIN k{r} ka ON e.a = ka.v JOIN k{r} kb ON e.b = kb.v)""")
    parts.append(f"""
SELECT vertex, CAST(COUNT(*) AS BIGINT) AS degree FROM (
  SELECT a AS vertex FROM e{rounds} UNION ALL SELECT b FROM e{rounds})
GROUP BY vertex""")
    return "".join(parts)


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark, sf_dir):
    """3-core peeling (`k_core_peel`, operators/graph.py; Seidman
    1983) over the synthetic link graph — six rounds of
    delete-degree-below-3, the density filter that separates
    tightly-linked cores from tendrils (and link spam chains from
    organic neighborhoods). Per round one degree agg + two semi-join
    filters, checkpointed; fixed-round truncation semantics (the LPA
    convention) so the oracle unrolls every peel with MATERIALIZED
    CTEs and the surviving subgraph's degrees hash-match."""
    from ..operators.graph import k_core_peel

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        docs.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[
                (F.col("doc_id") * (3 + t) + 17 * t + 1) % F.col("n")
                for t in range(3)])).alias("dst"))
    )
    return k_core_peel(edges, k=3, rounds=6)


@query("graph_link_prediction", oracle="""
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
e0 AS (SELECT DISTINCT doc_id AS s,
        (doc_id * (3 + t.range) + 17 * t.range + 1) % nn.n AS d
      FROM documents CROSS JOIN range(0, 3) t CROSS JOIN nn),
und AS MATERIALIZED (SELECT DISTINCT a, b FROM (
          SELECT s AS a, d AS b FROM e0
          UNION ALL SELECT d, s FROM e0)
        WHERE a != b),
deg AS (SELECT a AS z, COUNT(*) AS d FROM und GROUP BY a),
c AS (SELECT u.a AS z, u.b AS n,
        CAST(round(1.0 / ln(deg.d), 9) AS DECIMAL(20,9)) AS w
      FROM und u JOIN deg ON u.a = deg.z),
p AS (SELECT c1.n AS x, c2.n AS y, c1.w
      FROM c c1 JOIN c c2 ON c1.z = c2.z
      WHERE c1.n < c2.n),
np AS (SELECT p.x, p.y, p.w FROM p
       ANTI JOIN und ON und.a = p.x AND und.b = p.y),
sc AS (SELECT x AS id_a, y AS id_b,
         round(CAST(SUM(w) AS DOUBLE), 6) AS score
       FROM np GROUP BY x, y)
SELECT id_a, id_b, score FROM sc
ORDER BY score DESC, id_a, id_b LIMIT 20
""")
def graph_link_prediction(spark, sf_dir):
    """Adamic-Adar link prediction (`adamic_adar_links`,
    operators/graph.py; Adamic & Adar 2003) — the top-20 missing
    links of the synthetic graph, each non-adjacent pair scored by
    its common neighbors weighted 1/ln(degree) (rare shared
    neighbors beat celebrity hubs). Wedge self-join on the center +
    anti-join against the edge set, weights decimal-snapped before
    the pair sum; the oracle replays degrees, weights, pairing,
    exclusion, and the ordered top-20."""
    from ..operators.graph import adamic_adar_links

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        docs.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[
                (F.col("doc_id") * (3 + t) + 17 * t + 1) % F.col("n")
                for t in range(3)])).alias("dst"))
    )
    return adamic_adar_links(edges, top=20)


@query("graph_jaccard_links", oracle="""
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
e0 AS (SELECT DISTINCT doc_id AS s,
        (doc_id * (3 + t.range) + 17 * t.range + 1) % nn.n AS d
      FROM documents CROSS JOIN range(0, 3) t CROSS JOIN nn),
und AS MATERIALIZED (SELECT DISTINCT a, b FROM (
          SELECT s AS a, d AS b FROM e0
          UNION ALL SELECT d, s FROM e0)
        WHERE a != b),
deg AS (SELECT a AS z, COUNT(*) AS d FROM und GROUP BY a),
p AS (SELECT c1.b AS x, c2.b AS y
      FROM und c1 JOIN und c2 ON c1.a = c2.a
      WHERE c1.b < c2.b),
np AS (SELECT p.x, p.y FROM p
       ANTI JOIN und ON und.a = p.x AND und.b = p.y),
inter AS (SELECT x, y, COUNT(*) AS c FROM np GROUP BY x, y),
sc AS (SELECT i.x AS id_a, i.y AS id_b, i.c AS common_neighbors,
         round(CAST(i.c AS DOUBLE) / (dx.d + dy.d - i.c), 6) AS score
       FROM inter i
       JOIN deg dx ON dx.z = i.x
       JOIN deg dy ON dy.z = i.y)
SELECT id_a, id_b, common_neighbors, score FROM sc
ORDER BY score DESC, id_a, id_b LIMIT 20
""")
def graph_jaccard_links(spark, sf_dir):
    """Jaccard link prediction (`jaccard_links`, operators/graph.py) —
    the size-normalized twin of `graph_link_prediction`: top-20
    non-adjacent pairs by |N∩N| / |N∪N|. Integer wedge counts and
    degrees until one final division, so the oracle replays the whole
    ranking bit-for-bit."""
    from ..operators.graph import jaccard_links

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        docs.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[
                (F.col("doc_id") * (3 + t) + 17 * t + 1) % F.col("n")
                for t in range(3)])).alias("dst"))
    )
    return jaccard_links(edges, top=20)


@query("text_pmi_collocations", oracle="""
WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
bi AS (SELECT unnest([toks[i] || ' ' || toks[i+1]
                      FOR i IN range(1, len(toks))]) AS bg
       FROM t WHERE len(toks) >= 2),
uni AS (SELECT unnest(toks) AS w FROM t),
cb AS (SELECT bg, COUNT(*) AS c FROM bi GROUP BY bg),
cu AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
nb AS (SELECT COUNT(*) AS n FROM bi),
nu AS (SELECT COUNT(*) AS n FROM uni),
sc AS (SELECT cb.bg AS bigram, cb.c AS n_pair,
         cx.c AS n_left, cy.c AS n_right,
         round(ln(CAST(cb.c * nu.n * nu.n AS DOUBLE)
                  / CAST(nb.n * cx.c * cy.c AS DOUBLE)), 6) AS pmi
       FROM cb
       JOIN cu cx ON cx.w = string_split(cb.bg, ' ')[1]
       JOIN cu cy ON cy.w = string_split(cb.bg, ' ')[2]
       CROSS JOIN nb CROSS JOIN nu
       WHERE cb.c >= 5)
SELECT bigram, n_pair, n_left, n_right, pmi FROM sc
ORDER BY pmi DESC, bigram LIMIT 20
""")
def text_pmi_collocations(spark, sf_dir):
    """Pointwise-mutual-information collocations (Church & Hanks 1990)
    — the top-20 adjacent-token bigrams whose joint frequency most
    exceeds chance:

        PMI = ln( P(xy) / (P(x)·P(y)) )
            = ln( c_xy · N_uni² / (N_bi · c_x · c_y) )

    the phrase-mining / tokenizer-merge-candidate primitive (BPE's
    `text_bpe_pairs` ranks by raw count; PMI normalizes away
    stopword gravity). All counts are integers; the single ln of an
    exact integer ratio is bit-identical across engines. Count
    floor c_xy >= 5 (PMI is noise below it — Church & Hanks'
    own cutoff). One shuffle per count; the unigram side joins
    twice on the split halves."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bi = (
        docs.select(toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select(F.explode(F.expr(
            "transform(sequence(0, size(t) - 2),"
            " i -> concat(element_at(t, i + 1), ' ',"
            " element_at(t, i + 2)))")).alias("bg"))
    )
    uni = docs.select(F.explode(toks).alias("w"))
    cb = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("n_pair"))
    cu = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nb = bi.agg(F.count(F.lit(1)).alias("__nb"))
    nu = uni.agg(F.count(F.lit(1)).alias("__nu"))
    cx = cu.select(F.col("w").alias("__wx"), F.col("c").alias("n_left"))
    cy = cu.select(F.col("w").alias("__wy"), F.col("c").alias("n_right"))
    halves = F.split(F.col("bg"), " ")
    sc = (
        cb.filter(F.col("n_pair") >= 5)
        .withColumn("__wx", F.element_at(halves, 1))
        .withColumn("__wy", F.element_at(halves, 2))
        .join(cx, "__wx").join(cy, "__wy")
        .crossJoin(F.broadcast(nb)).crossJoin(F.broadcast(nu))
        .select(
            F.col("bg").alias("bigram"), "n_pair", "n_left", "n_right",
            F.round(F.log(
                (F.col("n_pair") * F.col("__nu") * F.col("__nu"))
                .cast("double")
                / (F.col("__nb") * F.col("n_left") * F.col("n_right"))
                .cast("double")), 6).alias("pmi"),
        )
    )
    return sc.orderBy(F.desc("pmi"), F.asc("bigram")).limit(20)


@query("text_rake_keywords", oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
toks AS (SELECT doc_id, generate_subscripts(tk, 1) AS i,
                unnest(tk) AS w FROM t),
fl AS (SELECT doc_id, i, w,
        CASE WHEN w IN ('the','a','of','and','to','is','in')
               OR w = '' THEN 1 ELSE 0 END AS s
      FROM toks),
gr AS (SELECT doc_id, i, w,
        SUM(s) OVER (PARTITION BY doc_id ORDER BY i) AS g
      FROM fl WHERE TRUE QUALIFY s = 0),
ph AS (SELECT doc_id, g,
        string_agg(w, ' ' ORDER BY i) AS phrase,
        CAST(COUNT(*) AS INT) AS n_words
      FROM gr GROUP BY doc_id, g),
ws AS (SELECT w,
        CAST(round(CAST(SUM(n_words) AS DOUBLE) / COUNT(*), 9)
             AS DECIMAL(28,9)) AS wsc
      FROM (SELECT n_words, unnest(string_split(phrase, ' ')) AS w
            FROM ph) GROUP BY w),
dph AS (SELECT DISTINCT phrase, n_words FROM ph),
psc AS (SELECT d.phrase, MAX(d.n_words) AS n_words,
         round(CAST(SUM(ws.wsc) AS DOUBLE), 6) AS score
       FROM (SELECT phrase, n_words,
               unnest(string_split(phrase, ' ')) AS w FROM dph) d
       JOIN ws ON ws.w = d.w
       GROUP BY d.phrase),
occ AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
       FROM ph GROUP BY phrase)
SELECT p.phrase, p.n_words, occ.n_occurrences, p.score
FROM psc p JOIN occ ON occ.phrase = p.phrase
ORDER BY p.score DESC, p.phrase LIMIT 20
""")
def text_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (`rake_keywords`,
    operators/retrieval.py; Rose et al. 2010) — top-20 candidate
    phrases (maximal non-stopword runs, the 'en' stopword list of
    `text_langid`) scored by summed word degree/frequency ratios.
    Segmentation is a per-doc cumulative stopword count; deg and
    freq are integers; word scores snap to 9-dp decimal before the
    order-free phrase sum — the whole ranking replays in SQL."""
    from ..functions.text import LANG_STOPWORDS
    from ..operators.retrieval import rake_keywords

    docs = load(spark, sf_dir, "documents")
    return rake_keywords(docs, "text", LANG_STOPWORDS["en"], top=20)


def _cov_block_oracle(block: int = 8) -> str:
    pair_rows = ", ".join(
        f"({i}, {j})" for i in range(block) for j in range(block) if i <= j)
    return f"""
WITH pr(i, j) AS (VALUES {pair_rows}),
prod AS (SELECT pr.i, pr.j,
    CAST(round(CAST(e.embedding[pr.i + 1] AS DOUBLE), 12)
         AS DECIMAL(38,12)) AS xi,
    CAST(round(CAST(e.embedding[pr.j + 1] AS DOUBLE), 12)
         AS DECIMAL(38,12)) AS xj,
    CAST(round(CAST(e.embedding[pr.i + 1] AS DOUBLE)
               * CAST(e.embedding[pr.j + 1] AS DOUBLE), 12)
         AS DECIMAL(38,12)) AS xij
  FROM embeddings e CROSS JOIN pr),
agg AS (SELECT i, j, COUNT(*) AS n,
    SUM(xi) AS sx, SUM(xj) AS sy, SUM(xij) AS sxy
  FROM prod GROUP BY i, j)
SELECT CAST(i AS INT) AS dim_i, CAST(j AS INT) AS dim_j,
  round((CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        / (n - 1), 6) AS cov
FROM agg ORDER BY dim_i, dim_j
"""


@query("embedding_covariance", oracle=_cov_block_oracle())
def embedding_covariance(spark, sf_dir):
    """Exact sample covariance of the leading 8×8 embedding block —
    the decimal-audited counterpart of the float moment kernel inside
    `pca_fit_project` (operators/clustering.py): per-pair products
    snap to 12-dp decimal before the order-free sums, so all 36 upper-
    triangle covariances replay bit-for-bit. ONE wide aggregation pass
    (45 decimal sums), no explode, no shuffle beyond the final 1-row
    agg — the fixed-block shape costs O(block²) state per task and
    nothing per row at 100 TB."""
    emb = load(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    block = 8

    def x(i):
        return F.element_at(e, i + 1).cast("double")

    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(block):
        aggs.append(
            F.sum(F.round(x(i), 12).cast("decimal(38,12)"))
            .alias(f"s{i}"))
    for i in range(block):
        for j in range(i, block):
            aggs.append(
                F.sum(F.round(x(i) * x(j), 12).cast("decimal(38,12)"))
                .alias(f"p{i}_{j}"))
    wide = emb.agg(*aggs)
    cells = F.array(*[
        F.struct(
            F.lit(i).cast("int").alias("dim_i"),
            F.lit(j).cast("int").alias("dim_j"),
            F.round(
                (F.col(f"p{i}_{j}").cast("double")
                 - F.col(f"s{i}").cast("double")
                   * F.col(f"s{j}").cast("double") / F.col("n"))
                / (F.col("n") - 1), 6).alias("cov"))
        for i in range(block) for j in range(i, block)])
    return (
        wide.select(F.explode(cells).alias("c"))
        .select("c.dim_i", "c.dim_j", "c.cov")
        .orderBy("dim_i", "dim_j")
    )


@query("embedding_pca", oracle="""
SELECT CAST((SELECT COUNT(*) FROM embeddings
             WHERE embedding IS NOT NULL) AS BIGINT) AS n_rows,
       TRUE AS orthonormal_loadings, TRUE AS descending_variance,
       TRUE AS scores_centered, TRUE AS variance_matches
""")
def embedding_pca(spark, sf_dir):
    """PCA projection (`pca_fit_project`, operators/clustering.py):
    every vector reduced to its top-4 principal scores. The
    eigendecomposition is not SQL-expressible, so — per the registry's
    self-checking ANN-gate convention (VERDICT r8 next-round #4) — the
    gate releases Spark-COMPUTED invariant booleans that the trivial
    oracle pins TRUE plus a cross-engine row count:

    - ``orthonormal_loadings``: max|WᵀW − I| < 1e-9 over the d×k
      loading matrix the distributed moment pass produced;
    - ``descending_variance``: eigenvalues non-negative and sorted
      descending;
    - ``scores_centered``: every projected component's mean is 0 within
      1e-6 (centered projection);
    - ``variance_matches``: every component's sample variance equals
      its eigenvalue within 1e-4 relative — ties the DISTRIBUTED score
      column back to the fit, so a broken projection kernel (wrong
      mean, wrong matmul, stale broadcast) flips the bit.

    The per-row score geometry (planted low-rank basis recovery) stays
    pinned in tests/test_operators.py."""
    from ..operators.clustering import pca_fit_project

    emb = load(spark, sf_dir, "embeddings")
    scores, evals, w = pca_fit_project(
        emb, "vec_id", "embedding", k=4, return_loadings=True)

    import numpy as np

    gram = w.T @ w
    orthonormal = bool(
        np.max(np.abs(gram - np.eye(gram.shape[0]))) < 1e-9)
    descending = bool(
        all(a >= b for a, b in zip(evals, evals[1:]))
        and all(v >= -1e-12 for v in evals))

    k = len(evals)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for j in range(1, k + 1):
        aggs.append(F.avg(f"pc_{j}").alias(f"m{j}"))
        aggs.append(F.var_samp(f"pc_{j}").alias(f"v{j}"))
    one = scores.agg(*aggs)
    centered = None
    var_ok = None
    for j in range(1, k + 1):
        c = F.abs(F.col(f"m{j}")) < F.lit(1e-6)
        ev = float(evals[j - 1])
        v = (F.abs(F.col(f"v{j}") - F.lit(ev))
             <= F.lit(1e-4) * F.greatest(F.lit(abs(ev)), F.lit(1e-12)))
        centered = c if centered is None else (centered & c)
        var_ok = v if var_ok is None else (var_ok & v)
    return one.select(
        "n_rows",
        F.lit(orthonormal).alias("orthonormal_loadings"),
        F.lit(descending).alias("descending_variance"),
        centered.alias("scores_centered"),
        var_ok.alias("variance_matches"),
    )


def _mmr_oracle(k: int = 5, pool: int = 20) -> str:
    """Unrolled greedy MMR replay: one MATERIALIZED CTE per selection
    step (the HITS/k-core unroll pattern — DuckDB inlines plain CTEs
    exponentially)."""
    lam = "CAST(0.7 AS DOUBLE)"
    om = f"(CAST(1 AS DOUBLE) - {lam})"
    parts = [f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
pool AS MATERIALIZED (
  SELECT qid, cid, cv, rel FROM (
    SELECT q.vec_id AS qid, e.vec_id AS cid, e.v AS cv,
      round(list_dot_product(q.v, e.v)
            / (sqrt(list_dot_product(q.v, q.v))
               * sqrt(list_dot_product(e.v, e.v))), 6) AS rel
    FROM q JOIN e ON e.vec_id != q.vec_id)
  QUALIFY row_number() OVER (PARTITION BY qid
                             ORDER BY rel DESC, cid) <= {pool}),
pw AS MATERIALIZED (
  SELECT a.qid, a.cid AS ca, b.cid AS cb,
    round(list_dot_product(a.cv, b.cv)
          / (sqrt(list_dot_product(a.cv, a.cv))
             * sqrt(list_dot_product(b.cv, b.cv))), 6) AS s
  FROM pool a JOIN pool b ON a.qid = b.qid AND a.cid != b.cid),
s1 AS MATERIALIZED (
  SELECT qid, cid, {lam} * rel AS score FROM pool
  QUALIFY row_number() OVER (PARTITION BY qid
                             ORDER BY {lam} * rel DESC, cid) = 1),
sel1 AS (SELECT qid, cid FROM s1)"""]
    for n in range(2, k + 1):
        parts.append(f""",
s{n} AS MATERIALIZED (
  SELECT qid, cid, score FROM (
    SELECT p.qid, p.cid,
      {lam} * p.rel - {om}
        * (SELECT MAX(pw.s) FROM pw
           WHERE pw.qid = p.qid AND pw.ca = p.cid
             AND pw.cb IN (SELECT cid FROM sel{n - 1}
                           WHERE sel{n - 1}.qid = p.qid)) AS score
    FROM pool p
    WHERE NOT EXISTS (SELECT 1 FROM sel{n - 1}
                      WHERE sel{n - 1}.qid = p.qid
                        AND sel{n - 1}.cid = p.cid))
  QUALIFY row_number() OVER (PARTITION BY qid
                             ORDER BY score DESC, cid) = 1),
sel{n} AS (SELECT qid, cid FROM sel{n - 1}
           UNION ALL SELECT qid, cid FROM s{n})""")
    sel = "\nUNION ALL\n".join(
        f"SELECT qid, {n} AS rk, cid, score FROM s{n}"
        for n in range(1, k + 1))
    parts.append(f"""
SELECT qid AS query_id, CAST(rk AS INT) AS rank, cid AS cand_id,
       round(score, 6) AS mmr_score
FROM ({sel}) ORDER BY query_id, rank""")
    return "".join(parts)


@query("knn_mmr", oracle=_mmr_oracle())
def knn_mmr(spark, sf_dir):
    """MMR diversified retrieval (`mmr_rerank`,
    operators/similarity.py; Carbonell & Goldstein 1998) — top-5
    diverse picks from each query's exact top-20 cosine pool at
    λ=0.7. Relevance and pool-pairwise similarities snap to 6 dp
    before the greedy loop and ties break on candidate id, so the
    oracle replays every selection step exactly (one MATERIALIZED
    CTE per step)."""
    from ..operators.similarity import mmr_rerank

    emb = load(spark, sf_dir, "embeddings")
    out = mmr_rerank(
        emb, emb.filter(F.col("vec_id") % 100 == 0),
        id_col="vec_id", vec_col="embedding", k=5, pool=20, lam=0.7)
    return out.orderBy("query_id", "rank")


@query("text_gopher_rules", oracle="""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
           FROM documents),
m AS (SELECT doc_id, text, toks,
    len(toks) AS n_words,
    length(replace(text, ' ', '')) AS chars,
    round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
          / len(toks), 6) AS mean_word_len,
    round(CAST(len(list_filter(toks,
            x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
          / len(toks), 6) AS alpha_word_frac,
    round(CAST((length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) / 3
          AS DOUBLE) / len(toks), 6) AS symbol_ratio,
    len(list_filter(list_distinct(toks), x -> list_contains(
        ['the','a','of','and','to','is','in'], x))) AS n_stopwords
  FROM t),
bi AS (SELECT doc_id, chars, bg, COUNT(*) AS c FROM (
    SELECT m.doc_id, m.chars,
      unnest([toks[i] || ' ' || toks[i+1]
              FOR i IN range(1, len(toks))]) AS bg
    FROM m WHERE len(toks) >= 2)
  GROUP BY doc_id, chars, bg),
tb AS (SELECT doc_id,
    round(CAST(c * (length(bg) - 1) AS DOUBLE) / chars, 6) AS tbf
  FROM bi
  QUALIFY row_number() OVER (PARTITION BY doc_id
                             ORDER BY c DESC, bg) = 1)
SELECT m.doc_id, m.n_words, m.mean_word_len, m.alpha_word_frac,
  m.symbol_ratio, m.n_stopwords,
  COALESCE(tb.tbf, 0.0) AS top_bigram_char_frac,
  (m.n_words BETWEEN 50 AND 100000) AS ok_word_count,
  (m.mean_word_len >= 3.0 AND m.mean_word_len <= 10.0)
    AS ok_mean_word_len,
  (m.alpha_word_frac >= 0.8) AS ok_alpha_words,
  (m.symbol_ratio <= 0.1) AS ok_symbol_ratio,
  (m.n_stopwords >= 2) AS ok_stopwords,
  (COALESCE(tb.tbf, 0.0) <= 0.2) AS ok_repetition,
  ((m.n_words BETWEEN 50 AND 100000)
   AND (m.mean_word_len >= 3.0 AND m.mean_word_len <= 10.0)
   AND (m.alpha_word_frac >= 0.8)
   AND (m.symbol_ratio <= 0.1)
   AND (m.n_stopwords >= 2)
   AND (COALESCE(tb.tbf, 0.0) <= 0.2)) AS passes_gopher
FROM m LEFT JOIN tb ON tb.doc_id = m.doc_id
""")
def text_gopher_rules(spark, sf_dir):
    """Gopher quality-rule battery (`gopher_rules`,
    operators/filters.py; Rae et al. 2021) — the named pretraining
    filter set: word count, mean word length, alphabetic-word
    fraction, symbol ratio, distinct-stopword floor, and the
    top-bigram repetition cap, each as an exact metric plus verdict
    bit, with the AND fold in `passes_gopher`. Every metric is
    integer counting with one division, so all 13 columns replay in
    SQL."""
    from ..functions.text import LANG_STOPWORDS
    from ..operators.filters import gopher_rules

    docs = load(spark, sf_dir, "documents")
    return gopher_rules(docs, "doc_id", "text", LANG_STOPWORDS["en"])


def _modularity_oracle(n_iter: int = 4) -> str:
    """LPA labels (the `_lpa_oracle` unroll) + the integer-exact
    per-community modularity contribution."""
    lpa = _lpa_oracle(n_iter)
    head = lpa.rsplit("\nSELECT vertex, label FROM", 1)[0]
    return head + f""",
lab AS MATERIALIZED (SELECT vertex, label FROM l{n_iter}),
twom AS (SELECT COUNT(*) AS t FROM und),
degs AS (SELECT a AS vertex, COUNT(*) AS d FROM und GROUP BY a),
within AS (SELECT la.label AS lbl, COUNT(*) AS mc2
    FROM und u
    JOIN lab la ON u.a = la.vertex
    JOIN lab lb ON u.b = lb.vertex AND la.label = lb.label
    GROUP BY la.label),
comm AS (SELECT lab.label AS lbl,
        CAST(COUNT(*) AS BIGINT) AS n_vertices, SUM(degs.d) AS dc
    FROM lab JOIN degs ON degs.vertex = lab.vertex
    GROUP BY lab.label)
SELECT comm.lbl AS community, comm.n_vertices,
  CAST(COALESCE(within.mc2, 0) / 2 AS BIGINT) AS internal_edges,
  CAST(comm.dc AS BIGINT) AS degree_sum,
  round(CAST(COALESCE(within.mc2, 0) * twom.t
             - comm.dc * comm.dc AS DOUBLE)
        / (twom.t * twom.t), 6) AS contribution
FROM comm LEFT JOIN within ON within.lbl = comm.lbl
CROSS JOIN twom
ORDER BY community"""


@query("graph_modularity", oracle=_modularity_oracle())
def graph_modularity(spark, sf_dir):
    """Modularity scoring (`modularity_communities`,
    operators/graph.py; Newman & Girvan 2004) of the 4-round
    label-propagation partition of the synthetic link graph — the
    partition-quality audit that tells you whether
    `graph_label_propagation`'s communities beat random wiring.
    Integer numerators (edge rows, within-rows, degree sums) with
    one division per community; the oracle replays LPA and the
    contribution arithmetic end to end."""
    from ..operators.graph import label_propagation, modularity_communities

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        docs.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[
                (F.col("doc_id") * (3 + t) + 17 * t + 1) % F.col("n")
                for t in range(3)])).alias("dst"))
    )
    labels = label_propagation(edges, n_iter=4)
    return modularity_communities(edges, labels)


@query("eval_calibration_bins", oracle="""
WITH w AS (SELECT i AS bucket,
         CAST(round(CAST(CAST('0x' || substr(md5('qwv:' || CAST(i AS VARCHAR)), 1, 8)
                         AS BIGINT) AS DOUBLE) / 4294967296 - 0.5, 9)
              AS DECIMAL(20,9)) AS weight
       FROM range(0, 256) t(i)),
t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL),
b AS (SELECT doc_id,
        CAST('0x' || substr(md5('qw:' || tok), 1, 8) AS BIGINT) % 256
          AS bucket
      FROM t),
s AS (SELECT doc_id,
        round(1 / (1 + exp(-round(CAST(SUM(weight) AS DOUBLE)
                                  / COUNT(*), 6))), 6) AS p
      FROM b JOIN w USING (bucket) GROUP BY doc_id),
lab AS (SELECT s.doc_id, s.p,
        CAST(d.n_chars >= 500 AS INT) AS y
      FROM s JOIN documents d ON d.doc_id = s.doc_id),
binned AS (SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin,
        CAST(round(p, 9) AS DECIMAL(20,9)) AS pd, y
      FROM lab)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
  round(CAST(SUM(pd) AS DOUBLE) / COUNT(*), 6) AS mean_pred,
  round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS frac_pos,
  round(abs(round(CAST(SUM(pd) AS DOUBLE) / COUNT(*), 6)
            - round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6)), 6) AS gap
FROM binned GROUP BY bin ORDER BY bin
""")
def eval_calibration_bins(spark, sf_dir):
    """Calibration audit of the quality classifier (reliability
    diagram bins — the standard check before trusting `p_keep` as a
    probability; Σ n·gap/N is the ECE): `linear_quality_score`'s
    keep-probabilities against the deterministic long-doc label, ten
    equal-width bins, exact decimal mean prediction vs observed
    positive rate per bin. The oracle replays the ENTIRE classifier
    (hashing trick, weight join, sigmoid) plus the binning."""
    from ..operators.classifier import linear_quality_score

    docs = load(spark, sf_dir, "documents")
    scored = linear_quality_score(docs, "text", "doc_id", dim=256)
    lab = scored.join(docs.select("doc_id", "n_chars"), "doc_id").select(
        F.col("p_keep").alias("p"),
        (F.col("n_chars") >= 500).cast("int").alias("y"))
    binned = lab.select(
        F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9))
        .alias("bin"),
        F.round(F.col("p"), 9).cast("decimal(20,9)").alias("pd"),
        "y")
    n = F.count(F.lit(1))
    mean_pred = F.round(F.sum("pd").cast("double") / n, 6)
    frac_pos = F.round(F.sum("y").cast("double") / n, 6)
    return (
        binned.groupBy("bin")
        .agg(n.cast("long").alias("n"),
             mean_pred.alias("mean_pred"),
             frac_pos.alias("frac_pos"),
             F.round(F.abs(mean_pred - frac_pos), 6).alias("gap"))
        .orderBy("bin")
    )


@query("text_html_extract", oracle="""
WITH h AS (SELECT doc_id,
  '<html><head><title>' || coalesce(source, '') ||
  '</title><style type="text/css">body{margin:0}</style></head>' ||
  '<body><nav><a href="/">Home</a> <a href="/about">About</a></nav>' ||
  '<h1>Doc ' || doc_id || '</h1><p>' || text ||
  '</p><script>var x=1;</script>' ||
  '<footer>&copy; 2026 &amp; &lt;Example&gt;</footer></body></html>'
    AS html
  FROM documents WHERE text IS NOT NULL),
s1 AS (SELECT doc_id, html,
  regexp_replace(html, '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g')
    AS t FROM h),
s2 AS (SELECT doc_id, html,
  regexp_replace(t, '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g')
    AS t FROM s1),
s3 AS (SELECT doc_id, html,
  regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM s2),
s4 AS (SELECT doc_id, html,
  replace(replace(replace(replace(replace(replace(t,
    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
    '&#39;', ''''), '&amp;', '&') AS t FROM s3),
s5 AS (SELECT doc_id, html,
  trim(regexp_replace(t, '\\s+', ' ', 'g')) AS t FROM s4)
SELECT doc_id,
       CAST(length(html) AS BIGINT) AS html_len,
       CAST(length(t) AS BIGINT) AS text_len,
       round(1.0 - CAST(length(t) AS DOUBLE) / length(html), 6)
         AS markup_ratio,
       substr(t, 1, 60) AS head_text
FROM s5
""")
def text_html_extract(spark, sf_dir):
    """HTML -> plain-text extraction (`strip_html`, functions/text.py —
    the WET-extraction / boilerplate-removal front door of a crawl
    curation pipeline). The gate WRAPS each document in a deterministic
    page skeleton (title, style element, nav links, script element,
    entity-laden footer), then the operator must drop script/style
    elements wholesale, strip tags, decode core entities, and collapse
    whitespace; `markup_ratio` is the boilerplate-share feature quality
    filters cut on. Four regexp passes in the RE2<->Java common subset,
    replayed verbatim by the oracle; undecoded entities (``&copy;``)
    stay literal on BOTH engines, which the value hash checks."""
    from ..functions.text import strip_html

    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    html = F.concat(
        F.lit("<html><head><title>"),
        F.coalesce(F.col("source"), F.lit("")),
        F.lit('</title><style type="text/css">body{margin:0}</style>'
              "</head><body>"
              '<nav><a href="/">Home</a> <a href="/about">About</a></nav>'
              "<h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><script>var x=1;</script>"
              "<footer>&copy; 2026 &amp; &lt;Example&gt;</footer>"
              "</body></html>"),
    )
    out = docs.select("doc_id", html.alias("html"))
    out = out.withColumn("t", strip_html("html"))
    return out.select(
        "doc_id",
        F.length("html").cast("long").alias("html_len"),
        F.length("t").cast("long").alias("text_len"),
        F.round(
            F.lit(1.0) - F.length("t").cast("double") / F.length("html"), 6
        ).alias("markup_ratio"),
        F.substring("t", 1, 60).alias("head_text"),
    )


@query("timeseries_holt_winters", oracle="""
WITH RECURSIVE
d AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS x
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2),
s AS (SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
      FROM d),
rec AS (
  SELECT event_type, t, x, x AS l, CAST(0 AS DOUBLE) AS b
  FROM s WHERE t = 1
  UNION ALL
  SELECT s.event_type, s.t, s.x,
         0.5*s.x + 0.5*(r.l + r.b) AS l,
         0.25*((0.5*s.x + 0.5*(r.l + r.b)) - r.l) + 0.75*r.b AS b
  FROM rec r JOIN s ON s.event_type = r.event_type AND s.t = r.t + 1)
SELECT event_type, CAST(t AS INT) AS t, round(x, 6) AS x,
       round(l, 6) AS level, round(b, 6) AS trend,
       round(l + b, 6) AS forecast_next
FROM rec
""")
def timeseries_holt_winters(spark, sf_dir):
    """Holt's linear-trend double exponential smoothing
    (`holt_linear`, operators/timeseries.py) over per-type daily
    revenue series — the trend-aware forecaster a monitoring plane
    runs beside EWMA. The recursion is sequential per key, so the
    engine ships each series ONCE through `applyInPandas` (state walk
    in a tight loop, cross-key parallelism Spark's); the float policy
    makes it oracle-replayable: dyadic constants (alpha=1/2, beta=1/4),
    exact 2-dp inputs, and the recursive CTE spelling the IDENTICAL
    IEEE expression sequence — every level/trend bit-for-bit across a
    Python loop and a SQL recursion."""
    from ..operators.timeseries import holt_linear
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull())
    d = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.sum(dec("value")).cast("double").alias("x"))
    s = d.withColumn(
        "t",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("day")),
    ).select("event_type", "t", "x")
    out = holt_linear(s, ["event_type"], "t", "x")
    return out.select(
        "event_type",
        F.col("t").cast("int").alias("t"),
        F.round("x", 6).alias("x"),
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast_next", 6).alias("forecast_next"),
    )


@query("graph_shortest_path_weighted", oracle="""
WITH RECURSIVE nn AS (SELECT COUNT(*) AS n FROM documents),
e0 AS (SELECT DISTINCT doc_id AS s,
        (doc_id * (3 + t.range) + 17 * t.range + 1) % nn.n AS d
      FROM documents CROSS JOIN range(0, 3) t CROSS JOIN nn),
und AS (SELECT a, b, MIN(w) AS w FROM (
          SELECT s AS a, d AS b, 1 + (s + d) % 7 AS w FROM e0
          UNION ALL SELECT d, s, 1 + (s + d) % 7 FROM e0)
        WHERE a != b GROUP BY a, b),
r AS (
  SELECT doc_id AS vertex, CAST(0 AS BIGINT) AS dist, 0 AS hops
  FROM documents WHERE doc_id % 100 = 0
  UNION ALL
  SELECT u.b, r.dist + u.w, r.hops + 1
  FROM r JOIN und u ON u.a = r.vertex
  WHERE r.hops < 4
)
SELECT vertex, CAST(MIN(dist) AS BIGINT) AS dist
FROM r GROUP BY vertex
""")
def graph_shortest_path_weighted(spark, sf_dir):
    """Multi-source WEIGHTED shortest paths
    (`shortest_paths_weighted`, operators/graph.py — Bellman-Ford
    with the delta-relaxation cut, 4 rounds): minimum total edge
    weight over <=4-hop paths from the every-100th-doc seed set, on
    the BFS gate's synthetic graph with weight 1+(src+dst)%7 — so
    the cheapest route is often NOT the fewest-hop route, which is
    exactly what separates this from `graph_bfs_distances`. Integer
    weights keep every min-merge engine-exact; the oracle is the
    path-exploding recursive CTE MIN-collapsed to the same metric —
    frontier relaxation vs path enumeration, one truth."""
    from ..operators.graph import shortest_paths_weighted

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        docs.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[
                (F.col("doc_id") * (3 + t) + 17 * t + 1) % F.col("n")
                for t in range(3)])).alias("dst"))
        .withColumn(
            "weight", 1 + (F.col("src") + F.col("dst")) % 7)
    )
    seeds = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("vertex"))
    return shortest_paths_weighted(edges, seeds, max_hops=4)


@query("eval_auc_roc", oracle="""
WITH w AS (SELECT i AS bucket,
         CAST(round(CAST(CAST('0x' || substr(md5('qwv:' || CAST(i AS VARCHAR)), 1, 8)
                         AS BIGINT) AS DOUBLE) / 4294967296 - 0.5, 9)
              AS DECIMAL(20,9)) AS weight
       FROM range(0, 256) t(i)),
t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL),
bk AS (SELECT doc_id,
        CAST('0x' || substr(md5('qw:' || tok), 1, 8) AS BIGINT) % 256
          AS bucket
      FROM t),
s AS (SELECT doc_id,
        round(1 / (1 + exp(-round(CAST(SUM(weight) AS DOUBLE)
                                  / COUNT(*), 6))), 6) AS p
      FROM bk JOIN w USING (bucket) GROUP BY doc_id),
lab AS (SELECT s.p, CAST(d.n_chars >= 500 AS INT) AS y
        FROM s JOIN documents d ON d.doc_id = s.doc_id),
g AS (SELECT p, COUNT(*) AS cnt, SUM(y) AS npos,
             CAST(round(-ln(p), 9) AS DECIMAL(20,9)) AS l1,
             CAST(round(-ln(1 - p), 9) AS DECIMAL(20,9)) AS l0,
             CAST(round((p - 1) * (p - 1), 9) AS DECIMAL(20,9)) AS b1,
             CAST(round(p * p, 9) AS DECIMAL(20,9)) AS b0
      FROM lab GROUP BY p),
r AS (SELECT *, SUM(cnt) OVER (ORDER BY p) - cnt AS below FROM g),
a AS (SELECT SUM(cnt) AS n, SUM(npos) AS np,
             SUM(npos * (2 * below + cnt + 1)) AS s2,
             SUM(npos * l1 + (cnt - npos) * l0) AS ll,
             SUM(npos * b1 + (cnt - npos) * b0) AS br
      FROM r)
SELECT CAST(n AS BIGINT) AS n, CAST(np AS BIGINT) AS n_pos,
       round(CAST(s2 - np * (np + 1) AS DOUBLE)
             / (2.0 * np * (n - np)), 6) AS auc,
       round(CAST(ll AS DOUBLE) / n, 6) AS log_loss,
       round(CAST(br AS DOUBLE) / n, 6) AS brier
FROM a
""")
def eval_auc_roc(spark, sf_dir):
    """Classifier scorecard: ROC-AUC + log-loss + Brier for the
    hashed linear quality classifier against the deterministic
    long-doc label — the threshold-free companions of
    `eval_calibration_bins`. AUC uses the EXACT midrank/Mann-Whitney
    identity kept integral to the last step: group by distinct score,
    one tiny window over score groups for the cumulative count, then
    AUC = (2*sum_pos_midranks - npos(npos+1)) / (2*npos*nneg) — no
    per-row global sort, no float ranks. Log-loss and Brier terms
    snap to 9-dp decimals per DISTINCT score (exact, order-free
    sums). The oracle replays the entire classifier plus the rank
    algebra; a single swapped comparison or a leaked tie would move
    the hash."""
    from pyspark.sql.window import Window

    from ..operators.classifier import linear_quality_score

    docs = load(spark, sf_dir, "documents")
    scored = linear_quality_score(docs, "text", "doc_id", dim=256)
    lab = scored.join(docs.select("doc_id", "n_chars"), "doc_id").select(
        F.col("p_keep").alias("p"),
        (F.col("n_chars") >= 500).cast("int").alias("y"))
    g = lab.groupBy("p").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("y").alias("npos"),
        F.round(-F.log(F.col("p")), 9).cast("decimal(20,9)").alias("l1"),
        F.round(-F.log(F.lit(1) - F.col("p")), 9)
        .cast("decimal(20,9)").alias("l0"),
        F.round((F.col("p") - 1) * (F.col("p") - 1), 9)
        .cast("decimal(20,9)").alias("b1"),
        F.round(F.col("p") * F.col("p"), 9)
        .cast("decimal(20,9)").alias("b0"),
    )
    r = g.withColumn(
        "below",
        F.sum("cnt").over(
            Window.orderBy("p").rowsBetween(Window.unboundedPreceding, 0))
        - F.col("cnt"),
    )
    a = r.agg(
        F.sum("cnt").alias("n"),
        F.sum("npos").alias("np"),
        F.sum(F.col("npos") * (2 * F.col("below") + F.col("cnt") + 1))
        .alias("s2"),
        F.sum(F.col("npos") * F.col("l1")
              + (F.col("cnt") - F.col("npos")) * F.col("l0")).alias("ll"),
        F.sum(F.col("npos") * F.col("b1")
              + (F.col("cnt") - F.col("npos")) * F.col("b0")).alias("br"),
    )
    return a.select(
        F.col("n").cast("long").alias("n"),
        F.col("np").cast("long").alias("n_pos"),
        F.round(
            (F.col("s2") - F.col("np") * (F.col("np") + 1)).cast("double")
            / (2.0 * F.col("np") * (F.col("n") - F.col("np"))), 6
        ).alias("auc"),
        F.round(F.col("ll").cast("double") / F.col("n"), 6)
        .alias("log_loss"),
        F.round(F.col("br").cast("double") / F.col("n"), 6).alias("brier"),
    )


@query("text_readability", oracle="""
WITH s AS (SELECT doc_id, lang,
             substr(text, 1, 80) || '. ' || substr(text, 81, 60)
               || '! Is it ' || lang || '?' AS body
           FROM documents),
c AS (SELECT doc_id, lang,
        greatest(len(regexp_extract_all(body, '[.!?]+')), 1) AS sentences,
        greatest(len(regexp_extract_all(body, '[A-Za-z]+')), 1) AS words,
        greatest(len(regexp_extract_all(lower(body), '[aeiouy]+')), 1)
          AS syllables
      FROM s),
f AS (SELECT doc_id, lang,
        CAST(sentences AS BIGINT) AS sentences,
        CAST(words AS BIGINT) AS words,
        CAST(syllables AS BIGINT) AS syllables,
        round(206.835
              - 1.015 * (CAST(words AS DOUBLE) / sentences)
              - 84.6 * (CAST(syllables AS DOUBLE) / words), 6) AS flesch
      FROM c)
SELECT doc_id, lang, sentences, words, syllables, flesch,
       CASE WHEN flesch >= 60 THEN 'easy'
            WHEN flesch >= 30 THEN 'medium' ELSE 'hard' END AS band
FROM f
""")
def text_readability(spark, sf_dir):
    """Flesch reading-ease scoring (`flesch_reading_ease`,
    functions/text.py — Flesch 1948, the readability screen used to
    band curation corpora by audience level). Sentence/word/syllable
    counts are exact single-scan `regexp_count`s (vowel-group syllable
    approximation; no per-word explode — groups never span words), the
    score one double expression, the band a CASE over the ROUNDED
    score so both engines band identically. Punctuated text is
    synthesized deterministically from columns (the corpus ships
    unpunctuated). Zero shuffles — pure codegen scan."""
    docs = load(spark, sf_dir, "documents")
    body = F.concat(
        F.substring("text", 1, 80), F.lit(". "),
        F.substring("text", 81, 60), F.lit("! Is it "),
        F.col("lang"), F.lit("?"),
    )
    s = docs.select("doc_id", "lang", body.alias("body"))
    sent, words, syl = TXT.readability_counts("body")
    f = s.select(
        "doc_id", "lang",
        sent.cast("long").alias("sentences"),
        words.cast("long").alias("words"),
        syl.cast("long").alias("syllables"),
        TXT.flesch_reading_ease("body").alias("flesch"),
    )
    return f.select(
        "*",
        F.when(F.col("flesch") >= 60, F.lit("easy"))
        .when(F.col("flesch") >= 30, F.lit("medium"))
        .otherwise(F.lit("hard")).alias("band"),
    )


@query("text_code_detect", oracle="""
WITH s AS (SELECT doc_id,
             substr(text, 1, 150) ||
             CASE WHEN doc_id % 4 = 0
                  THEN chr(10) || '  if (x) { return fooBar(i); }'
                       || chr(10) || '  def f(self): import os'
                  ELSE '' END AS body
           FROM documents),
c AS (SELECT doc_id, body,
        greatest(length(body), 1) AS n,
        len(regexp_extract_all(body, '[{}();=<>\\[\\]]')) AS sym,
        len(regexp_extract_all(body, '(^|\\n)(  |\\t)')) AS ind,
        len(regexp_extract_all(body,
          '\\b(def|return|import|function|class|if|else|for|while|var'
          || '|const|int|void|public|self)\\b')) AS kw,
        len(regexp_extract_all(body, '[a-z][A-Z]')) AS camel
      FROM s),
f AS (SELECT doc_id,
        CAST(sym AS BIGINT) AS symbol_count,
        CAST(ind AS BIGINT) AS indent_count,
        CAST(kw AS BIGINT) AS keyword_count,
        CAST(camel AS BIGINT) AS camel_count,
        round(10.0 * CAST(sym AS DOUBLE) / n
              + 40.0 * CAST(ind AS DOUBLE) / n
              + 20.0 * CAST(kw AS DOUBLE) / n
              + 5.0 * CAST(camel AS DOUBLE) / n, 6) AS code_score
      FROM c)
SELECT *, code_score >= 0.5 AS is_code FROM f
""")
def text_code_detect(spark, sf_dir):
    """Code-likeness routing features (`code_likeness`,
    functions/text.py — the text/code corpus splitter in Stack-style
    pipelines): exact per-doc counts of code symbols, indented-line
    starts, cross-language reserved words, and camelCase humps, blended
    into a fixed-weight per-char score with an `is_code` flag on the
    ROUNDED score. Code-shaped suffixes are synthesized onto every
    4th document so both classes appear at every SF. Zero shuffles —
    one codegen scan; patterns are RE2/Java-portable (no
    lookarounds)."""
    docs = load(spark, sf_dir, "documents")
    body = F.concat(
        F.substring("text", 1, 150),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit("\n  if (x) { return fooBar(i); }"
                  "\n  def f(self): import os"),
        ).otherwise(F.lit("")),
    )
    s = docs.select("doc_id", body.alias("body"))
    feats = TXT.code_likeness("body")
    f = s.select(
        "doc_id",
        feats["symbol_count"].alias("symbol_count"),
        feats["indent_count"].alias("indent_count"),
        feats["keyword_count"].alias("keyword_count"),
        feats["camel_count"].alias("camel_count"),
        feats["code_score"].alias("code_score"),
    )
    return f.select("*", (F.col("code_score") >= 0.5).alias("is_code"))


def _feature_hashing_oracle() -> str:
    from ..functions.hashing import oracle_hex_int

    bucket = f"({oracle_hex_int('__tok', 1, 8)} % 64)"
    sign = f"(CASE WHEN {oracle_hex_int('__tok', 9, 1)} < 8 THEN 1 ELSE -1 END)"
    return f"""
WITH t AS (SELECT doc_id, unnest(regexp_extract_all(
             lower(substr(text, 1, 120)), '[a-z]+')) AS __tok
           FROM documents WHERE doc_id < 100),
h AS (SELECT doc_id,
        CAST({bucket} AS BIGINT) AS bucket,
        {sign} AS __sign
      FROM t)
SELECT doc_id, bucket,
       CAST(SUM(__sign) AS BIGINT) AS weight,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM h GROUP BY doc_id, bucket
"""


@query("feature_hashing", oracle=_feature_hashing_oracle())
def feature_hashing(spark, sf_dir):
    """Hashing-trick featurizer (`hashed_features`,
    operators/features.py — Weinberger 2009 / Vowpal Wabbit): tokens
    map straight to ``md5 % 64`` buckets with a +/-1 sign from a
    disjoint digest span — NO vocabulary build, no fit pass, no driver
    dictionary, which is what makes the encoder coordination-free at
    100 TB. Sparse output rows (doc, bucket, signed weight, count);
    one explode + one groupBy shuffling only digests. The oracle
    rebuilds the md5 integer as a strpos polynomial (DuckDB has no
    base-16 conv)."""
    from ..operators.features import hashed_features

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.regexp_extract_all(
        F.lower(F.substring("text", 1, 120)), F.lit("[a-z]+"), 0
    )
    return hashed_features(
        docs.select("doc_id", toks.alias("toks")),
        "doc_id", "toks", n_buckets=64,
    )


@query("knn_radius", oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10)
SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
  round(list_dot_product(q.v, e.v)
        / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))),
        6) AS cosine
FROM q JOIN e ON e.vec_id != q.vec_id
WHERE round(list_dot_product(q.v, e.v)
        / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))),
        6) >= 0.2
""")
def knn_radius(spark, sf_dir):
    """Cosine range search (`cosine_radius`, operators/similarity.py —
    FAISS range_search): every candidate within cosine >= 0.2 of the
    first 10 query vectors, thresholded on the ROUNDED score so the
    boundary set is engine-identical. The exact twin of the top-k
    API — at corpus scale the same rounded-cosine verify composes
    with SRP-bucket or IVF-cell blocking (a filter, unlike top-k,
    needs no per-query window). Kernel auto-gates HOF vs Arrow like
    cosine_topk."""
    from ..operators.similarity import cosine_radius

    emb = load(spark, sf_dir, "embeddings")
    return cosine_radius(
        emb, emb.filter(F.col("vec_id") < 10), tau=0.2,
        id_col="vec_id", vec_col="embedding", est_queries=10,
    )


@query("dedup_url_canonical", oracle="""
WITH u AS (SELECT doc_id,
    's' || CAST((doc_id // 4) % 10 AS VARCHAR) AS grp,
    CASE doc_id % 4
      WHEN 0 THEN 'HTTPS://WWW.' || grp || '.Example.COM:443/Docs/'
                  || CAST(doc_id // 4 AS VARCHAR)
                  || '/?utm_source=x&utm_campaign=y'
      WHEN 1 THEN 'https://www.' || grp || '.example.com/Docs/'
                  || CAST(doc_id // 4 AS VARCHAR) || '?fbclid=c'
                  || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'https://www.' || grp || '.example.com/Docs/'
                  || CAST(doc_id // 4 AS VARCHAR) || '/#frag'
      ELSE 'http://www.' || grp || '.example.com:80/Docs/'
           || CAST(doc_id // 4 AS VARCHAR) || '?a=1&utm_medium=z&b=2'
    END AS url
  FROM documents),
q0 AS (SELECT doc_id, url,
         regexp_replace(regexp_replace(
           regexp_extract(url, '\\?([^#]*)', 1),
           '(^|&)(utm_[A-Za-z]+|fbclid|gclid|ref_src)=[^&]*', '', 'g'),
           '^&+', '') AS qc
       FROM u),
c AS (SELECT doc_id,
        CASE WHEN regexp_extract(url,
               '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) <> ''
          AND regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) <> ''
        THEN
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        || '://'
        || regexp_replace(regexp_replace(
             lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
             ':(80|443)$', ''), '^www\\.', '')
        || regexp_replace(
             regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
             '/+$', '')
        || (CASE WHEN qc <> '' THEN '?' || qc ELSE '' END)
        END AS canon
      FROM q0)
SELECT canon AS canonical_url,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_variants
FROM c GROUP BY canon
""")
def dedup_url_canonical(spark, sf_dir):
    """URL-level dedup on the canonical form (`canonical_url`,
    functions/text.py — the C4/CCNet URL normalizer): scheme/host
    lowercased, default ports and www. and fragments stripped,
    tracking params dropped, emptied queries removed, trailing path
    slashes trimmed — then one hash-groupBy on the canonical string
    (16-byte-digest-class shuffle, the exact-dedup shape). Four messy
    variants are synthesized per URL id; three canonicalize together
    (the http:80 variant keeps its real params and stays distinct —
    the negative case). Oracle replays every regexp verbatim."""
    from ..functions.text import canonical_url

    docs = load(spark, sf_dir, "documents").withColumn(
        "grp",
        F.concat(F.lit("s"),
                 ((F.col("doc_id") / 4).cast("long") % 10).cast("string")),
    )
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("HTTPS://WWW."), F.col("grp"),
                     F.lit(".Example.COM:443/Docs/"),
                     (F.col("doc_id") / 4).cast("long").cast("string"),
                     F.lit("/?utm_source=x&utm_campaign=y")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("https://www."), F.col("grp"),
                     F.lit(".example.com/Docs/"),
                     (F.col("doc_id") / 4).cast("long").cast("string"),
                     F.lit("?fbclid=c"), F.col("doc_id").cast("string")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://www."), F.col("grp"),
                     F.lit(".example.com/Docs/"),
                     (F.col("doc_id") / 4).cast("long").cast("string"),
                     F.lit("/#frag")),
        )
        .otherwise(
            F.concat(F.lit("http://www."), F.col("grp"),
                     F.lit(".example.com:80/Docs/"),
                     (F.col("doc_id") / 4).cast("long").cast("string"),
                     F.lit("?a=1&utm_medium=z&b=2")),
        )
    )
    u = docs.select("doc_id", url.alias("url"))
    return (
        u.select("doc_id", canonical_url("url").alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").cast("long").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_variants"),
        )
    )


@query("eval_pr_curve", oracle="""
WITH w AS (SELECT i AS bucket,
         CAST(round(CAST(CAST('0x' || substr(md5('qwv:' || CAST(i AS VARCHAR)), 1, 8)
                         AS BIGINT) AS DOUBLE) / 4294967296 - 0.5, 9)
              AS DECIMAL(20,9)) AS weight
       FROM range(0, 256) t(i)),
t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL),
bk AS (SELECT doc_id,
        CAST('0x' || substr(md5('qw:' || tok), 1, 8) AS BIGINT) % 256
          AS bucket
      FROM t),
s AS (SELECT doc_id,
        round(1 / (1 + exp(-round(CAST(SUM(weight) AS DOUBLE)
                                  / COUNT(*), 6))), 6) AS p
      FROM bk JOIN w USING (bucket) GROUP BY doc_id),
lab AS (SELECT s.p, CAST(d.n_chars >= 500 AS INT) AS y
        FROM s JOIN documents d ON d.doc_id = s.doc_id),
g AS (SELECT CAST(i AS DOUBLE) / 10 AS threshold FROM range(1, 10) t(i)),
c AS (SELECT g.threshold,
        CAST(SUM(CASE WHEN p >= g.threshold THEN y ELSE 0 END) AS BIGINT)
          AS tp,
        CAST(SUM(CASE WHEN p >= g.threshold THEN 1 ELSE 0 END) AS BIGINT)
          AS pp,
        CAST(SUM(y) AS BIGINT) AS pos
      FROM lab CROSS JOIN g GROUP BY g.threshold)
SELECT threshold, tp, pp - tp AS fp, pos - tp AS fn,
  CASE WHEN pp > 0 THEN round(CAST(tp AS DOUBLE) / pp, 6) END AS precision,
  CASE WHEN pos > 0 THEN round(CAST(tp AS DOUBLE) / pos, 6) END AS recall,
  CASE WHEN pp + pos > 0
       THEN round(2.0 * CAST(tp AS DOUBLE) / (pp + pos), 6) END AS f1
FROM c
""")
def eval_pr_curve(spark, sf_dir):
    """Operating-point scorecard (`pr_curve`, operators/evaluation.py):
    precision/recall/F1 of the hashed linear quality classifier against
    the long-doc label at the 0.1..0.9 threshold grid — the
    threshold-PICKING companion of `eval_auc_roc`'s threshold-free
    metrics. ONE aggregation pass computes all nine grid points as
    conditional sums (no per-threshold rescan — plan-pinned in
    tests/test_plans.py), counts stay integral, ratios round at 6 dp,
    undefined cells stay NULL. Oracle replays classifier + grid."""
    from ..operators.classifier import linear_quality_score
    from ..operators.evaluation import pr_curve

    docs = load(spark, sf_dir, "documents")
    scored = linear_quality_score(docs, "text", "doc_id", dim=256)
    lab = scored.join(docs.select("doc_id", "n_chars"), "doc_id").select(
        F.col("p_keep").alias("p"),
        (F.col("n_chars") >= 500).cast("int").alias("y"),
    )
    return pr_curve(lab, "p", "y")


@query("knn_binary_quantized", oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
""")
def knn_binary_quantized(spark, sf_dir):
    """Binary-quantization ANN top-5 (`bq_topk`,
    operators/similarity.py — the pgvector/Qdrant BQ fast path): every
    vector compresses to 256 SRP sign bits packed 32-per-BIGINT;
    candidate generation is a full scan of the 32-byte CODES ranked by
    Hamming distance (bit_count of XORs — pure codegen, 16x less data
    than the float scan), then an exact rounded-cosine re-rank of the
    k*8 survivors. Same self-check as the other ANN gates: all 10
    seeded queries answered, mean recall@5 vs brute force >= 0.5
    (observed 0.92 at sf0.001, 0.68 at sf0.1 — deterministic, seeded
    planes). Plan note: the signature pipeline is double-fenced (dots
    array, then packed words) — unfenced, the per-pair window
    re-inlines the planes x dim fold (measured 29s vs 0.5s on 500
    rows)."""
    from ..operators.similarity import bq_topk

    return _ann_recall_gate(
        spark, sf_dir,
        lambda emb, q: bq_topk(
            emb, q, dim=64, id_col="vec_id", vec_col="embedding",
            k=5, planes=256, prefilter=8,
        ),
        min_avg_recall=0.5,
    )


@query("text_zipf_fit", oracle="""
WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM t WHERE tok <> '' GROUP BY tok),
top AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
        FROM c ORDER BY cnt DESC, tok LIMIT 200),
l AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(20,9)) AS x,
             CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(20,9)) AS y
      FROM top),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy,
             MIN(y) AS ymin, MAX(y) AS ymax
      FROM l)
SELECT n AS n_ranks,
  CASE WHEN n > 1 THEN
  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END AS slope,
  CASE WHEN n > 1 THEN
  round((CAST(sy AS DOUBLE)
         - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
           * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) END AS intercept,
  CASE WHEN n > 1 AND ymin <> ymax THEN
  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) END AS r2
FROM s
""")
def text_zipf_fit(spark, sf_dir):
    """Corpus Zipf-law fit (`zipf_fit`, operators/lm.py — Zipf 1949):
    OLS of ln(count) on ln(rank) over the exact top-200 tokens, the
    distribution-health check that flags boilerplate floods (flat
    head) and failed dedup (steep head). Logs snap to 9-dp decimals so
    the OLS sums are exact and order-free; slope/intercept/r2 are one
    closed-form double expression spelled identically in the oracle.
    One token-count shuffle + one TakeOrdered(200)."""
    from ..operators.lm import zipf_fit

    return zipf_fit(load(spark, sf_dir, "documents"), "text", top_n=200)


@query("pipeline_pretrain_filter", oracle="""
WITH u AS (SELECT doc_id, text,
    's' || CAST((doc_id // 4) % 10 AS VARCHAR) AS grp,
    CASE doc_id % 4
      WHEN 0 THEN 'HTTPS://WWW.' || 's' || CAST((doc_id // 4) % 10 AS VARCHAR)
                  || '.Example.COM:443/Docs/' || CAST(doc_id // 4 AS VARCHAR)
                  || '/?utm_source=x'
      WHEN 1 THEN 'https://www.' || 's' || CAST((doc_id // 4) % 10 AS VARCHAR)
                  || '.example.com/Docs/' || CAST(doc_id // 4 AS VARCHAR)
                  || '?fbclid=c' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'https://www.' || 's' || CAST((doc_id // 4) % 10 AS VARCHAR)
                  || '.example.com/Docs/' || CAST(doc_id // 4 AS VARCHAR)
                  || '/#frag'
      ELSE 'http://www.' || 's' || CAST((doc_id // 4) % 10 AS VARCHAR)
           || '.example.com:80/Docs/' || CAST(doc_id // 4 AS VARCHAR)
           || '?a=1'
    END AS url
  FROM documents),
c AS (SELECT doc_id, text,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        || '://'
        || regexp_replace(regexp_replace(
             lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
             ':(80|443)$', ''), '^www\\.', '')
        || regexp_replace(
             regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
             '/+$', '')
        || (CASE WHEN regexp_replace(regexp_replace(
               regexp_extract(url, '\\?([^#]*)', 1),
               '(^|&)(utm_[A-Za-z]+|fbclid|gclid|ref_src)=[^&]*', '', 'g'),
               '^&+', '') <> ''
             THEN '?' || regexp_replace(regexp_replace(
               regexp_extract(url, '\\?([^#]*)', 1),
               '(^|&)(utm_[A-Za-z]+|fbclid|gclid|ref_src)=[^&]*', '', 'g'),
               '^&+', '')
             ELSE '' END) AS canon
      FROM u),
keep AS (SELECT MIN(doc_id) AS doc_id FROM c GROUP BY canon),
f AS (SELECT k.doc_id, d.text FROM keep k JOIN documents d USING (doc_id)),
sc AS (SELECT doc_id,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sents,
         greatest(len(regexp_extract_all(text, '[A-Za-z]+')), 1) AS words,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
           AS sylls,
         len(regexp_extract_all(text, '[{}();=<>\\[\\]]')) AS sym,
         greatest(length(text), 1) AS n
       FROM f),
g AS (SELECT doc_id,
        round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sents)
              - 84.6 * (CAST(sylls AS DOUBLE) / words), 6) AS flesch,
        round(10.0 * CAST(sym AS DOUBLE) / n, 6) AS sym_density,
        CAST(words AS BIGINT) AS words
      FROM sc),
b AS (SELECT CASE WHEN flesch >= 60 THEN 'easy'
                  WHEN flesch >= 30 THEN 'medium' ELSE 'hard' END AS band,
             sym_density >= 0.5 AS code_like, words
      FROM g)
SELECT band, code_like,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(words) AS BIGINT) AS total_words
FROM b GROUP BY band, code_like
""")
def pipeline_pretrain_filter(spark, sf_dir):
    """End-to-end pretraining curation composition over THIS session's
    operators: canonical-URL dedup (`canonical_url`) keeps one doc per
    canonical page, survivors route through the Flesch readability
    band and the code-symbol-density screen, and the report aggregates
    per (band, code_like) doc and word totals — the shape of a real
    corpus-intake dashboard. One canonical groupBy + one broadcast-
    size keep-join + one scan of the survivors + one tiny aggregate;
    the oracle replays every stage SQL-for-regexp."""
    from ..functions.text import canonical_url, readability_counts

    docs = load(spark, sf_dir, "documents").withColumn(
        "grp",
        F.concat(F.lit("s"),
                 ((F.col("doc_id") / 4).cast("long") % 10).cast("string")),
    )
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("HTTPS://WWW."), F.col("grp"),
                     F.lit(".Example.COM:443/Docs/"),
                     (F.col("doc_id") / 4).cast("long").cast("string"),
                     F.lit("/?utm_source=x")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("https://www."), F.col("grp"),
                     F.lit(".example.com/Docs/"),
                     (F.col("doc_id") / 4).cast("long").cast("string"),
                     F.lit("?fbclid=c"), F.col("doc_id").cast("string")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://www."), F.col("grp"),
                     F.lit(".example.com/Docs/"),
                     (F.col("doc_id") / 4).cast("long").cast("string"),
                     F.lit("/#frag")),
        )
        .otherwise(
            F.concat(F.lit("http://www."), F.col("grp"),
                     F.lit(".example.com:80/Docs/"),
                     (F.col("doc_id") / 4).cast("long").cast("string"),
                     F.lit("?a=1")),
        )
    )
    keep = (
        docs.select("doc_id", canonical_url(url).alias("canon"))
        .groupBy("canon").agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    f = keep.join(docs.select("doc_id", "text"), "doc_id")
    sents, words, sylls = readability_counts("text")
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sents)
        - F.lit(84.6) * (sylls.cast("double") / words),
        6,
    )
    sym_density = F.round(
        F.lit(10.0)
        * F.regexp_count("text", F.lit(r"[{}();=<>\[\]]")).cast("double")
        / F.greatest(F.length("text"), F.lit(1)),
        6,
    )
    g = f.select(
        F.when(flesch >= 60, F.lit("easy"))
        .when(flesch >= 30, F.lit("medium"))
        .otherwise(F.lit("hard")).alias("band"),
        (sym_density >= 0.5).alias("code_like"),
        words.cast("long").alias("words"),
    )
    return g.groupBy("band", "code_like").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("total_words"),
    )


@query("text_entity_extract", oracle="""
WITH m AS (SELECT doc_id,
    substr(text, 1, 30) || ' invoice on 20' || lpad(CAST(10 + doc_id % 30
      AS VARCHAR), 2, '0') || '-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR),
      2, '0') || '-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
    || ' pay $' || CAST(100 + doc_id % 900 AS VARCHAR) || '.'
    || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
    || ' to Acme Corp and Blue River Labs via user'
    || CAST(doc_id AS VARCHAR) || '@' || source || '.org' AS body
  FROM documents),
e AS (
  SELECT doc_id, 'date' AS entity_type,
         unnest(regexp_extract_all(body,
           '\\d{4}-\\d{2}-\\d{2}')) AS entity FROM m
  UNION ALL
  SELECT doc_id, 'money',
         unnest(regexp_extract_all(body, '\\$\\d+\\.\\d{2}')) FROM m
  UNION ALL
  SELECT doc_id, 'email',
         unnest(regexp_extract_all(body,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) FROM m
  UNION ALL
  SELECT doc_id, 'org',
         unnest(regexp_extract_all(body,
           '[A-Z][a-z]+( [A-Z][a-z]+)+')) FROM m)
SELECT doc_id, entity_type, entity, CAST(COUNT(*) AS BIGINT) AS n
FROM e GROUP BY 1, 2, 3
""")
def text_entity_extract(spark, sf_dir):
    """Rule-based typed entity extraction (`regexp_extract_all` +
    explode — the extraction twin of the `fn_pii_mask` redaction):
    dates, money amounts, emails, and capitalized multi-word spans
    pulled from deterministic synthesized bodies into typed
    (doc, type, entity, count) rows — the entity-statistics pass a
    curation pipeline runs to profile a crawl. Four scan-local
    extractions unioned; only matched spans shuffle to the count.
    Patterns are the RE2/Java common subset; the oracle replays each
    one verbatim."""
    docs = load(spark, sf_dir, "documents")
    body = F.concat(
        F.substring("text", 1, 30), F.lit(" invoice on 20"),
        F.lpad((F.lit(10) + F.col("doc_id") % 30).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((F.lit(1) + F.col("doc_id") % 12).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((F.lit(1) + F.col("doc_id") % 28).cast("string"), 2, "0"),
        F.lit(" pay $"),
        (F.lit(100) + F.col("doc_id") % 900).cast("string"), F.lit("."),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" to Acme Corp and Blue River Labs via user"),
        F.col("doc_id").cast("string"), F.lit("@"), F.col("source"),
        F.lit(".org"),
    )
    m = docs.select("doc_id", body.alias("body"))
    kinds = [
        ("date", r"\d{4}-\d{2}-\d{2}"),
        ("money", r"\$\d+\.\d{2}"),
        ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
        ("org", r"[A-Z][a-z]+( [A-Z][a-z]+)+"),
    ]
    parts = [
        m.select(
            "doc_id", F.lit(kind).alias("entity_type"),
            F.explode(
                F.regexp_extract_all(F.col("body"), F.lit(pat), 0)
            ).alias("entity"),
        )
        for kind, pat in kinds
    ]
    e = parts[0]
    for p in parts[1:]:
        e = e.unionAll(p)
    return e.groupBy("doc_id", "entity_type", "entity").agg(
        F.count(F.lit(1)).cast("long").alias("n"))


@query("text_boilerplate_strip", oracle="""
WITH d AS (SELECT doc_id,
    'COOKIE NOTICE accept all' || chr(10)
      || substr(text, 1, 60) || chr(10)
      || 'unique ' || CAST(doc_id AS VARCHAR) || ' '
      || substr(text, 61, 40) || chr(10)
      || 'copyright footer ' || source AS body
  FROM documents),
l AS (SELECT doc_id, line, ln
      FROM (SELECT doc_id,
              unnest(string_split(body, chr(10))) AS line,
              generate_subscripts(string_split(body, chr(10)), 1) AS ln
            FROM d)),
freq AS (SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         FROM l GROUP BY line),
k AS (SELECT l.doc_id, l.line, l.ln, freq.df
      FROM l JOIN freq ON l.line = freq.line),
kept AS (SELECT doc_id, line, ln FROM k WHERE df < 50)
SELECT doc_id,
  CAST(4 AS BIGINT) AS n_lines,
  CAST(4 - COUNT(*) AS BIGINT) AS n_removed,
  md5(string_agg(line, chr(10) ORDER BY ln)) AS kept_digest
FROM kept GROUP BY doc_id
""")
def text_boilerplate_strip(spark, sf_dir):
    """Corpus-frequency boilerplate removal (the CCNet/C4 line-level
    dedup pass: drop lines whose DOCUMENT frequency says template,
    keep lines that say content): synthesized 4-line docs share a
    cookie banner globally and a footer per source; lines explode
    with their position, one line-grain count computes document
    frequency (only md5-class line keys shuffle), lines at df >= 50
    drop, and each doc reassembles IN ORIGINAL ORDER (position-sorted
    string_agg — reassembly order is the correctness trap). Emits
    per-doc removed counts and the digest of the rebuilt text."""
    docs = load(spark, sf_dir, "documents")
    body = F.concat(
        F.lit("COOKIE NOTICE accept all\n"),
        F.substring("text", 1, 60), F.lit("\n"),
        F.lit("unique "), F.col("doc_id").cast("string"), F.lit(" "),
        F.substring("text", 61, 40), F.lit("\n"),
        F.lit("copyright footer "), F.col("source"),
    )
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(body, "\n")).alias("ln0", "line"),
    ).select("doc_id", (F.col("ln0") + 1).alias("ln"), "line")
    freq = lines.groupBy("line").agg(
        F.countDistinct("doc_id").alias("df"))
    kept = lines.join(freq, "line").filter(F.col("df") < 50)
    rebuilt = F.concat_ws(
        "\n",
        F.array_sort(
            F.collect_list(F.struct("ln", "line"))
        ).getField("line"),
    )
    return kept.groupBy("doc_id").agg(
        F.lit(4).cast("long").alias("n_lines"),
        (F.lit(4) - F.count(F.lit(1))).cast("long").alias("n_removed"),
        F.md5(rebuilt).alias("kept_digest"),
    )


_NDCG_FIXTURE_SQL = """
e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 25),
r AS (SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
        row_number() OVER (PARTITION BY q.vec_id ORDER BY
          round(list_dot_product(q.v, e.v)
                / (sqrt(list_dot_product(q.v, q.v))
                   * sqrt(list_dot_product(e.v, e.v))), 6) DESC,
          e.vec_id) AS rank
      FROM q JOIN e ON e.vec_id != q.vec_id
      QUALIFY rank <= 5),
t AS (SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
        1 + (q.vec_id + e.vec_id) % 3 AS grade
      FROM q JOIN e ON e.vec_id != q.vec_id AND e.label = q.label),
dcg AS (SELECT r.query_id,
          SUM(CAST(round((pow(2, t.grade) - 1) / log2(r.rank + 1.0), 9)
                   AS DECIMAL(20,9))) AS dcg
        FROM r JOIN t USING (query_id, cand_id) GROUP BY 1),
ideal AS (SELECT query_id,
            SUM(CAST(round((pow(2, grade) - 1) / log2(pos + 1.0), 9)
                     AS DECIMAL(20,9))) AS idcg
          FROM (SELECT query_id, grade,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY grade DESC, cand_id) AS pos
                FROM t)
          WHERE pos <= 5 GROUP BY 1),
pq AS (SELECT ideal.query_id,
         round(CAST(COALESCE(dcg.dcg, 0) AS DOUBLE), 6) AS dcg_at_k,
         round(CAST(ideal.idcg AS DOUBLE), 6) AS idcg_at_k,
         round(CASE WHEN ideal.idcg > 0 THEN
                 CAST(COALESCE(dcg.dcg, 0) AS DOUBLE)
                 / CAST(ideal.idcg AS DOUBLE)
               ELSE 0.0 END, 6) AS ndcg_at_k
       FROM ideal LEFT JOIN dcg USING (query_id))
"""


def _ndcg_fixture(spark, sf_dir):
    """Shared fixture for the graded-nDCG gates: exact cosine top-5
    plays the retrieval system (25 query vectors), same-label vectors
    play graded truth with deterministic grades 1..3."""
    from pyspark.sql import Window

    from ..operators.evaluation import graded_ndcg

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 25)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id"))
    results = cosine_topk(
        emb, queries, k=5, est_queries=25
    ).withColumn("rank", F.row_number().over(w))
    lbl = emb.select(F.col("vec_id").alias("cand_id"),
                     F.col("label").alias("__l"))
    truth = (
        queries.select(F.col("vec_id").alias("query_id"), "label")
        .join(lbl, F.col("label") == F.col("__l"))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id", "cand_id",
            (F.lit(1) + (F.col("query_id") + F.col("cand_id")) % 3)
            .alias("grade"))
    )
    return graded_ndcg(results, truth, k=5)


@query("eval_ndcg_graded", oracle=f"""
WITH {_NDCG_FIXTURE_SQL}
SELECT query_id, dcg_at_k, idcg_at_k, ndcg_at_k FROM pq
""")
def eval_ndcg_graded(spark, sf_dir):
    """Graded-relevance nDCG@5 (`graded_ndcg`,
    operators/evaluation.py; Järvelin & Kekäläinen TOIS 2002
    exponential gain): exact cosine top-5 retrieval scored against
    same-label truth with deterministic grades 1..3 — DCG joins
    results to truth on (query, doc), the IDEAL ranking is a per-query
    window over truth (never a global sort), per-position gain terms
    snap to 9-dp decimal so both sums are order-free. Per-query rows
    released so the hash pins DCG, IDCG, and the ratio
    independently."""
    return _ndcg_fixture(spark, sf_dir)


@query("eval_ndcg_bootstrap", oracle=f"""
WITH {_NDCG_FIXTURE_SQL},
x AS (SELECT query_id,
        CAST(round(ndcg_at_k, 9) AS DECIMAL(20,9)) AS x FROM pq),
drawn AS (SELECT x.query_id, x.x, t.range AS b,
    (('0x' || substr(md5('ndcgboot:' || CAST(x.query_id AS VARCHAR)
                         || ':' || CAST(t.range AS VARCHAR)), 1, 15))
     ::BIGINT + 0.5) / 1152921504606846976.0 AS u
  FROM x CROSS JOIN range(1, 201) t),
wt AS (SELECT query_id, x, b,
    CASE WHEN u < 0.36787944117144233 THEN 0
         WHEN u < 0.7357588823428847 THEN 1
         WHEN u < 0.9196986029286058 THEN 2
         WHEN u < 0.9810118431238463 THEN 3
         WHEN u < 0.9963401531726563 THEN 4
         WHEN u < 0.9994058151824183 THEN 5
         WHEN u < 0.999916758850712 THEN 6
         WHEN u < 0.9999897508033253 THEN 7
         WHEN u < 0.999998874797402 THEN 8
         ELSE 9 END AS w
  FROM drawn),
reps AS (SELECT b, round(CAST(SUM(x * w) AS DOUBLE) / SUM(w), 9) AS m
         FROM wt GROUP BY b HAVING SUM(w) > 0),
ranked AS (SELECT m, row_number() OVER (ORDER BY m, b) AS r,
                  COUNT(*) OVER () AS bn
           FROM reps),
ci AS (SELECT CAST(MAX(bn) AS BIGINT) AS n_boot,
         round(MAX(CASE WHEN r = CAST(ceil(0.025 * bn) AS INT)
                        THEN m END), 6) AS ci_lo,
         round(MAX(CASE WHEN r = CAST(ceil(0.975 * bn) AS INT)
                        THEN m END), 6) AS ci_hi
       FROM ranked),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS mean
       FROM x)
SELECT st.n_queries, ci.n_boot, st.mean, ci.ci_lo, ci.ci_hi
FROM st CROSS JOIN ci
""")
def eval_ndcg_bootstrap(spark, sf_dir):
    """Percentile-bootstrap 95% CI on macro nDCG@5 (`bootstrap_ci`,
    operators/evaluation.py) — the deterministic POISSON bootstrap
    (Chamandy et al. 2012): each (query, replicate) weight is an
    independent Poisson(1) PRF draw (md5 inverse-CDF), so resampling
    is scan-local with no global index — the shape that survives a
    million queries, where per-replicate multinomial draws would need
    a single-task row_number. 200 replicates; replicate means are
    exact decimal×int sums; the CI is order statistics over the
    (bounded, replicate-count-sized) ranked means. The oracle replays
    draw, weight CASE, replicate means, and both percentile positions
    exactly."""
    from ..operators.evaluation import bootstrap_ci

    pq = _ndcg_fixture(spark, sf_dir)
    return bootstrap_ci(
        pq, "ndcg_at_k", n_boot=200, seed="ndcgboot")


def _theta_setops_oracle() -> str:
    """Full replay of the theta-sketch pipeline: PRF draws over
    distinct custkeys, rank-k theta per side, retained sets, and the
    four set-algebra estimates — every θ, filter, and division
    mirrored from operators/sketch.py."""
    enc = ("'v' || CAST(length(CAST(o_custkey AS VARCHAR)) AS VARCHAR)"
           " || ':' || CAST(o_custkey AS VARCHAR)")
    u = (f"((('0x' || substr(md5('theta:' || {enc}), 1, 16))::UBIGINT"
         f")::DOUBLE + 0.5) / 18446744073709551616.0")
    k = 128
    return f"""
WITH da AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key, {u} AS u
            FROM orders WHERE o_orderkey % 3 != 0
              AND o_custkey IS NOT NULL),
db AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key, {u} AS u
       FROM orders WHERE o_orderkey % 2 = 0 AND o_custkey IS NOT NULL),
ra AS (SELECT key, u, row_number() OVER (ORDER BY u, key) AS rn FROM da),
rb AS (SELECT key, u, row_number() OVER (ORDER BY u, key) AS rn FROM db),
tha AS (SELECT COALESCE(MAX(CASE WHEN rn = {k} THEN u END), 1.0) AS th
        FROM ra),
thb AS (SELECT COALESCE(MAX(CASE WHEN rn = {k} THEN u END), 1.0) AS th
        FROM rb),
ka AS (SELECT key, u FROM ra CROSS JOIN tha WHERE u < tha.th),
kb AS (SELECT key, u FROM rb CROSS JOIN thb WHERE u < thb.th),
tm AS (SELECT least(tha.th, thb.th) AS t FROM tha CROSS JOIN thb),
ae AS (SELECT round(COUNT(*)::DOUBLE / MAX(tha.th), 6) AS a_est
       FROM ka CROSS JOIN tha),
be AS (SELECT round(COUNT(*)::DOUBLE / MAX(thb.th), 6) AS b_est
       FROM kb CROSS JOIN thb),
uu AS (SELECT key, u FROM (SELECT key, u FROM ka UNION
                           SELECT key, u FROM kb) CROSS JOIN tm
       WHERE u < tm.t),
uf AS (SELECT key, u, row_number() OVER (ORDER BY u, key) AS rn FROM uu),
thu AS (SELECT COALESCE(MAX(CASE WHEN rn = {k} THEN u END),
                        MAX(tm.t)) AS th
        FROM uf CROSS JOIN tm),
ue AS (SELECT round(COUNT(*)::DOUBLE / MAX(thu.th), 6) AS union_est
       FROM uf CROSS JOIN thu WHERE uf.u < thu.th),
ie AS (SELECT round(COUNT(*)::DOUBLE / MAX(tm.t), 6) AS intersect_est
       FROM ka JOIN kb USING (key) CROSS JOIN tm WHERE ka.u < tm.t),
de AS (SELECT round(COUNT(*)::DOUBLE / MAX(tm.t), 6) AS difference_est
       FROM ka CROSS JOIN tm
       WHERE ka.u < tm.t AND ka.key NOT IN (SELECT key FROM kb))
SELECT ae.a_est, be.b_est, ue.union_est, ie.intersect_est,
       de.difference_est
FROM ae CROSS JOIN be CROSS JOIN ue CROSS JOIN ie CROSS JOIN de
"""


@query("sketch_theta_setops", oracle=_theta_setops_oracle())
def sketch_theta_setops(spark, sf_dir):
    """Theta-sketch SET ALGEBRA (`theta_sketch`/`theta_union`/
    `theta_intersect_estimate`/`theta_difference_estimate`,
    operators/sketch.py — the DataSketches KMV/theta formulation):
    customer sets of two overlapping order segments sketched at k=128,
    then |A|, |B|, |A∪B|, |A∩B|, |A\\B| all estimated from the
    sketches alone — the audience-overlap primitive HLL cannot answer
    (HLL unions but never intersects). Draws are md5 PRFs of the
    length-prefixed key, so the sketch is deterministic,
    re-run-stable, and the oracle replays draws, rank-k thetas,
    retained sets, and every division exactly. Build is scan-local
    (dedup + bottom-k fold per partition, ≤ k rows out); every
    estimate is a window/join over ≤ 2k-row frames."""
    from ..operators.sketch import (
        theta_difference_estimate, theta_estimate,
        theta_intersect_estimate, theta_sketch, theta_union)

    orders = load(spark, sf_dir, "orders")
    # r14: both segment sketches build from ONE scan/one checkpoint —
    # rows tag the sides they belong to and the side rides group_cols
    # (identical retained sets: same per-key draws, same per-side k-th
    # smallest θ; the separate-build form paid two sequential
    # checkpoint jobs and two scans of orders). The grouped window is
    # also partitioned by side, where the ungrouped build ran the
    # candidate rank in a single partition.
    tagged = orders.select(
        "o_custkey",
        F.explode(F.array_compact(F.array(
            F.when(F.col("o_orderkey") % 3 != 0, F.lit("a")),
            F.when(F.col("o_orderkey") % 2 == 0, F.lit("b")),
        ))).alias("__side"))
    sk = theta_sketch(
        tagged, "o_custkey", k=128, group_cols=["__side"]
    ).localCheckpoint(eager=True)
    sa = sk.filter(F.col("__side") == "a").select("__u", "__key", "__theta")
    sb = sk.filter(F.col("__side") == "b").select("__u", "__key", "__theta")
    ae = theta_estimate(sa, est_col="a_est")
    be = theta_estimate(sb, est_col="b_est")
    ue = theta_estimate(
        theta_union(sa, sb, k=128), est_col="union_est")
    ie = theta_intersect_estimate(sa, sb)
    de = theta_difference_estimate(sa, sb)
    return (
        ae.crossJoin(F.broadcast(be)).crossJoin(F.broadcast(ue))
        .crossJoin(F.broadcast(ie)).crossJoin(F.broadcast(de))
    )


_BM25F_QUERIES = [
    (1, "src3 spark join"), (2, "src7 hash table"),
    (3, "stream window src11"), (4, "scan filter src0"),
    (5, "vector group src15")]


def _bm25f_oracle() -> str:
    """Field-for-field replay of bm25f_topk: per-field length-normalized
    weighted tf (9-dp decimal), decimal sum across fields, single
    saturation, Lucene idf over document-level df, two-stage 6-dp
    contribution/score rounding, id tie-break."""
    filt = "list_filter(string_split({col}, ' '), x -> x <> '')"

    def field(tag, col, w, b):
        tf = filt.format(col=col)
        return f"""
tok{tag} AS (SELECT doc_id, unnest({tf}) AS term FROM documents),
c{tag} AS (SELECT doc_id, term, COUNT(*) AS tf
           FROM tok{tag} GROUP BY 1, 2),
d{tag} AS (SELECT doc_id, term, tf,
             SUM(tf) OVER (PARTITION BY doc_id) AS dl FROM c{tag}),
s{tag} AS (SELECT COUNT(*) AS n_docs, SUM(len({tf})) AS total_dl
           FROM documents),
w{tag} AS (SELECT doc_id, term,
    CAST(round({w!r} * tf / (1 - {b!r} + {b!r} * dl
          / (CAST(s{tag}.total_dl AS DOUBLE) / s{tag}.n_docs)), 9)
         AS DECIMAL(20,9)) AS wtf
  FROM d{tag} CROSS JOIN s{tag})"""

    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25F_QUERIES)
    qfilt = filt.format(col="query_text")
    return f"""
WITH q(query_id, query_text) AS (VALUES {vals}),{field(1, "text", 1.0, 0.75)},{field(2, "source", 3.0, 0.0)},
comb AS (SELECT doc_id, term, SUM(wtf) AS tff
         FROM (SELECT * FROM w1 UNION ALL SELECT * FROM w2)
         GROUP BY 1, 2),
qt AS (SELECT DISTINCT query_id, unnest({qfilt}) AS term FROM q),
dfq AS (SELECT term, COUNT(*) AS df FROM comb
        WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
hit AS (SELECT qt.query_id, comb.doc_id,
         round(ln(1 + (nd.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * CAST(comb.tff AS DOUBLE)
               / (1.2 + CAST(comb.tff AS DOUBLE)), 6) AS contrib
        FROM comb JOIN qt USING (term) JOIN dfq USING (term)
        CROSS JOIN nd),
sc AS (SELECT query_id, doc_id, round(SUM(contrib), 6) AS score
       FROM hit GROUP BY 1, 2)
SELECT CAST(query_id AS INT) AS query_id, CAST(rn AS INT) AS rank,
       doc_id, score
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id) AS rn FROM sc)
WHERE rn <= 5
"""


@query("retrieval_bm25f", oracle=_bm25f_oracle())
def retrieval_bm25f(spark, sf_dir):
    """BM25F multi-field retrieval (`bm25f_topk`,
    operators/retrieval.py; Zaragoza et al. CIKM 2004): body text at
    weight 1 with standard length normalization plus the short
    `source` field at weight 3 with b=0 (title-like: no length
    penalty) — per-field weighted tfs combine BEFORE the single
    saturation, the provably-right order. Queries mix body keywords
    with source tokens so both fields decide rankings. Postings
    shuffle once per field, dfs prune to the query vocabulary before
    broadcasting, only hit documents reach scoring; the oracle replays
    every field, rounding stage, and tie-break."""
    from ..operators.retrieval import bm25f_topk

    docs = load(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(
        _BM25F_QUERIES, "query_id int, query_text string")
    return bm25f_topk(
        docs, qdf, [("text", 1.0, 0.75), ("source", 3.0, 0.0)], k=5)


def _fused_oracle() -> str:
    """Replay of cosine top-10 + BM25 top-10 + convex min-max fusion."""
    alpha = 0.6
    filt = "list_filter(string_split({col}, ' '), x -> x <> '')"
    tf = filt.format(col="text")
    qfilt = filt.format(col="query_text")
    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25F_QUERIES)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
qv AS (SELECT * FROM e WHERE vec_id < 5),
dn AS (SELECT qv.vec_id AS query_id, e.vec_id AS doc_id,
         round(list_dot_product(qv.v, e.v)
               / (sqrt(list_dot_product(qv.v, qv.v))
                  * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine,
         row_number() OVER (PARTITION BY qv.vec_id ORDER BY
           round(list_dot_product(qv.v, e.v)
                 / (sqrt(list_dot_product(qv.v, qv.v))
                    * sqrt(list_dot_product(e.v, e.v))), 6) DESC,
           e.vec_id) AS rk
       FROM qv JOIN e ON e.vec_id != qv.vec_id
       QUALIFY rk <= 10),
q(query_id, query_text) AS (VALUES {vals}),
tok AS (SELECT doc_id, unnest({tf}) AS term FROM documents),
cnt AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, term, tf,
         SUM(tf) OVER (PARTITION BY doc_id) AS dl FROM cnt),
qt AS (SELECT DISTINCT query_id, unnest({qfilt}) AS term FROM q),
dfq AS (SELECT term, COUNT(*) AS df FROM cnt
        WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1),
st AS (SELECT COUNT(*) AS n_docs, SUM(len({tf})) AS total_dl
       FROM documents),
hit AS (SELECT qt.query_id, d.doc_id,
         round(ln(1 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * CAST(d.tf AS DOUBLE) * 2.2
               / (d.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl
                    / (CAST(st.total_dl AS DOUBLE) / st.n_docs))),
               6) AS contrib
        FROM dl d JOIN qt ON d.term = qt.term
        JOIN dfq ON d.term = dfq.term CROSS JOIN st),
sp AS (SELECT query_id, doc_id, round(SUM(contrib), 6) AS score,
         row_number() OVER (PARTITION BY query_id
           ORDER BY round(SUM(contrib), 6) DESC, doc_id) AS rk
       FROM hit GROUP BY 1, 2 QUALIFY rk <= 10),
-- query id alignment: BM25 queries 1..5 pair with vectors 0..4
dnorm AS (SELECT query_id + 1 AS query_id, doc_id,
    round(CASE WHEN MAX(cosine) OVER (PARTITION BY query_id)
               > MIN(cosine) OVER (PARTITION BY query_id)
          THEN (cosine - MIN(cosine) OVER (PARTITION BY query_id))
               / (MAX(cosine) OVER (PARTITION BY query_id)
                  - MIN(cosine) OVER (PARTITION BY query_id))
          ELSE 0.0 END, 6) AS dnv
  FROM dn),
snorm AS (SELECT query_id, doc_id,
    round(CASE WHEN MAX(score) OVER (PARTITION BY query_id)
               > MIN(score) OVER (PARTITION BY query_id)
          THEN (score - MIN(score) OVER (PARTITION BY query_id))
               / (MAX(score) OVER (PARTITION BY query_id)
                  - MIN(score) OVER (PARTITION BY query_id))
          ELSE 0.0 END, 6) AS snv
  FROM sp),
fused AS (SELECT COALESCE(dnorm.query_id, snorm.query_id) AS query_id,
            COALESCE(dnorm.doc_id, snorm.doc_id) AS doc_id,
            round({alpha!r} * COALESCE(dnv, 0.0)
                  + {1.0 - alpha!r} * COALESCE(snv, 0.0), 6)
              AS fused_score
          FROM dnorm FULL OUTER JOIN snorm
            USING (query_id, doc_id))
SELECT CAST(query_id AS INT) AS query_id, CAST(rn AS INT) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, fused_score
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY fused_score DESC, doc_id) AS rn FROM fused)
WHERE rn <= 5
"""


@query("retrieval_fused_hybrid", oracle=_fused_oracle())
def retrieval_fused_hybrid(spark, sf_dir):
    """Convex dense+sparse hybrid retrieval (`fused_topk`,
    operators/retrieval.py; the normalized-score fusion of Bruch et
    al., TOIS 2023 — the calibrated upgrade over `retrieval_rrf_hybrid`
    when score magnitudes carry signal): exact cosine top-10 per query
    vector and BM25 top-10 per keyword query min-max normalize PER
    QUERY over their own candidate lists, then combine at alpha=0.6
    over the candidate union (absent side scores 0). All windows ride
    the bounded top-10 lists; the heavy retrieval is the upstream
    inverted-index / kernel work. The oracle replays both retrievals,
    both normalizations, the id alignment and the fusion exactly."""
    from ..operators.retrieval import bm25_topk, fused_topk
    from ..operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    dense = cosine_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, est_queries=5
    ).select(
        (F.col("query_id") + 1).alias("query_id"),
        F.col("cand_id").alias("doc_id"), "cosine")
    qdf = spark.createDataFrame(
        _BM25F_QUERIES, "query_id int, query_text string")
    sparse = bm25_topk(docs, qdf, k=10, drop_empty=True) \
        .select("query_id", "doc_id", "score")
    return fused_topk(dense, sparse, alpha=0.6, top=5)


_KLL_QS = [0.01, 0.25, 0.5, 0.75, 0.99]


@query("sketch_quantile_kll", oracle="""
SELECT CAST(0.01 AS DOUBLE) AS q,
       round(quantile_cont(l_extendedprice, 0.01), 6) AS exact_q,
       TRUE AS within_bound, TRUE AS est_is_retained FROM lineitem
UNION ALL SELECT CAST(0.25 AS DOUBLE),
       round(quantile_cont(l_extendedprice, 0.25), 6), TRUE, TRUE
FROM lineitem
UNION ALL SELECT CAST(0.5 AS DOUBLE),
       round(quantile_cont(l_extendedprice, 0.5), 6), TRUE, TRUE
FROM lineitem
UNION ALL SELECT CAST(0.75 AS DOUBLE),
       round(quantile_cont(l_extendedprice, 0.75), 6), TRUE, TRUE
FROM lineitem
UNION ALL SELECT CAST(0.99 AS DOUBLE),
       round(quantile_cont(l_extendedprice, 0.99), 6), TRUE, TRUE
FROM lineitem
""")
def sketch_quantile_kll(spark, sf_dir):
    """KLL quantile sketch (`kll_sketch`, operators/sketch.py; Karnin,
    Lang & Liberty FOCS'16) — O(1/k) rank error at O(k·log n) space,
    the reason it exists next to the bottom-k sample's O(1/sqrt k):
    the sketch builds scan-locally (one mapInPandas fold per
    partition, PRF compaction coins, total weight == input count
    EXACTLY) and merges in one bounded task. SELF-CHECKING gate (the
    `sketch_count_min` / `dedup_simhash` precedent — sketch CONTENT is
    partitioning-dependent by construction, its GUARANTEES are not):

    - ``within_bound`` — the exact rank of each estimate is within
      0.025 of its target quantile (k=200's theoretical ~0.012 with
      2x margin; computed distributed from the full data);
    - ``est_is_retained`` — every estimate is an actual data value
      (KLL returns retained items, never interpolants);
    - ``exact_q`` — the exact interpolated quantile as the accuracy
      twin, hash-matched against the oracle."""
    from ..operators.sketch import kll_quantiles, kll_sketch

    li = load(spark, sf_dir, "lineitem")
    rows = kll_sketch(li, "l_extendedprice", k=200).collect()
    ests = kll_quantiles(rows, _KLL_QS)
    retained = {r["value"] for r in rows}

    ranks = li.filter(F.col("l_extendedprice").isNotNull()).agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(F.when(F.col("l_extendedprice") <= F.lit(float(e)), 1)
                .otherwise(0)).alias(f"__r{i}")
          for i, e in enumerate(ests)],
        *[F.round(F.percentile("l_extendedprice", F.lit(float(q))), 6)
          .alias(f"__q{i}") for i, q in enumerate(_KLL_QS)],
    ).collect()[0]
    n = ranks["__n"]
    out = []
    for i, (q, e) in enumerate(zip(_KLL_QS, ests)):
        frac = ranks[f"__r{i}"] / n
        out.append((
            float(q), float(ranks[f"__q{i}"]),
            bool(abs(frac - q) <= 0.025),
            bool(float(e) in retained)))
    return spark.createDataFrame(
        out, "q double, exact_q double, within_bound boolean, "
             "est_is_retained boolean")

_EVAL_PAIR_SQL = """
d AS (SELECT doc_id,
        list_filter(string_split(text, ' '), x -> x <> '') AS rt
      FROM documents),
b AS (SELECT doc_id,
        [rt[i] FOR i IN range(1, len(rt) + 1) IF i % 5 != 0] AS ct, rt
      FROM d)"""


def _clip_match_sql(src: str, cand: str, ref: str, n: int,
                    gram: str) -> str:
    """Per-order clipped-match CTEs: candidate/reference gram counts
    and SUM(min) per doc — the oracle twin of _clipped_gram_match."""

    def grams(col):
        g = gram.format(col=col, n=n)
        return (f"CASE WHEN len({col}) >= {n} THEN {g} "
                f"ELSE [] END")

    return f"""
c{n} AS (SELECT doc_id, g, COUNT(*) AS cc FROM
   (SELECT doc_id, unnest({grams(cand)}) AS g FROM {src}) GROUP BY 1, 2),
r{n} AS (SELECT doc_id, g, COUNT(*) AS rc FROM
   (SELECT doc_id, unnest({grams(ref)}) AS g FROM {src}) GROUP BY 1, 2),
m{n} AS (SELECT c{n}.doc_id, SUM(LEAST(cc, COALESCE(rc, 0))) AS mt
         FROM c{n} LEFT JOIN r{n}
           ON r{n}.doc_id = c{n}.doc_id AND r{n}.g = c{n}.g
         GROUP BY 1)"""


def _bleu_oracle(max_n: int = 4) -> str:
    """Full replay of sentence_bleu over the dropped-token fixture:
    clipped matches per order, BLEU+1 smoothing, 9-dp decimal log
    terms, brevity penalty, 6-dp release."""
    tok_gram = ("[array_to_string({col}[i:i+{n}-1], ' ') "
                "FOR i IN range(1, len({col}) - {n} + 2)]")
    orders = ",".join(
        _clip_match_sql("b", "ct", "rt", n, tok_gram)
        for n in range(1, max_n + 1))
    munion = " UNION ALL ".join(
        f"SELECT {n} AS n, doc_id, mt FROM m{n}"
        for n in range(1, max_n + 1))
    ncols = ",".join(str(n) for n in range(1, max_n + 1))
    pcols = ",\n    ".join(
        f"MAX(CASE WHEN n = {n} THEN round(p, 6) END) AS p{n}"
        for n in range(1, max_n + 1))
    psel = ", ".join(f"p{n}" for n in range(1, max_n + 1))
    return f"""
WITH {_EVAL_PAIR_SQL},{orders},
pern AS (
  SELECT b.doc_id, n.n, len(b.ct) AS clen, len(b.rt) AS rlen,
    GREATEST(len(b.ct) - n.n + 1, 0) AS total, COALESCE(m.mt, 0) AS mt
  FROM b
  CROSS JOIN (SELECT unnest([{ncols}]) AS n) n
  LEFT JOIN ({munion}) m ON m.doc_id = b.doc_id AND m.n = n.n),
p AS (SELECT doc_id, n, clen, rlen,
    CASE WHEN (total + s) > 0
         THEN CAST(mt + s AS DOUBLE) / (total + s) ELSE 0.0 END AS p
  FROM (SELECT *, CASE WHEN n = 1 THEN 0 ELSE 1 END AS s FROM pern)),
agg AS (SELECT doc_id, MAX(clen) AS clen, MAX(rlen) AS rlen,
    MIN(p) AS pmin,
    SUM(CASE WHEN p > 0
             THEN CAST(round(ln(p), 9) AS DECIMAL(20,9)) END) AS slog,
    {pcols}
  FROM p GROUP BY 1),
fin AS (SELECT doc_id, clen, rlen, {psel}, pmin, slog,
    CASE WHEN clen = 0 THEN 0.0
         WHEN clen >= rlen THEN 1.0
         ELSE round(exp(1.0 - CAST(rlen AS DOUBLE) / clen), 9) END AS bp
  FROM agg)
SELECT doc_id, CAST(clen AS BIGINT) AS cand_len,
  CAST(rlen AS BIGINT) AS ref_len, {psel}, round(bp, 6) AS bp,
  CASE WHEN pmin > 0 AND clen > 0
       THEN round(bp * exp(CAST(slog AS DOUBLE) / {max_n}.0), 6)
       ELSE 0.0 END AS bleu
FROM fin
"""


def _chrf_oracle(max_n: int = 6, beta: float = 2.0) -> str:
    """Full replay of chrf over the same fixture: char-gram clipped
    matches per order, vacuous-order exclusion, 9-dp decimal P/R
    terms, F-beta, 6-dp release."""
    chr_gram = ("[substr({col}, i, {n}) "
                "FOR i IN range(1, len({col}) - {n} + 2)]")
    orders = ",".join(
        _clip_match_sql("s", "cs", "rs", n, chr_gram)
        for n in range(1, max_n + 1))
    munion = " UNION ALL ".join(
        f"SELECT {n} AS n, doc_id, mt FROM m{n}"
        for n in range(1, max_n + 1))
    ncols = ",".join(str(n) for n in range(1, max_n + 1))
    b2 = beta * beta
    return f"""
WITH {_EVAL_PAIR_SQL},
s AS (SELECT doc_id,
        regexp_replace(array_to_string(ct, ''), '\\s', '', 'g') AS cs,
        regexp_replace(array_to_string(rt, ''), '\\s', '', 'g') AS rs
      FROM b),{orders},
pern AS (
  SELECT s.doc_id, n.n,
    GREATEST(len(s.cs) - n.n + 1, 0) AS tc,
    GREATEST(len(s.rs) - n.n + 1, 0) AS tr, COALESCE(m.mt, 0) AS mt
  FROM s
  CROSS JOIN (SELECT unnest([{ncols}]) AS n) n
  LEFT JOIN ({munion}) m ON m.doc_id = s.doc_id AND m.n = n.n),
pr AS (SELECT doc_id,
    CASE WHEN tc > 0 OR tr > 0 THEN CAST(round(
      CASE WHEN tc > 0 THEN CAST(mt AS DOUBLE) / tc ELSE 0.0 END, 9)
      AS DECIMAL(20,9)) END AS pt,
    CASE WHEN tc > 0 OR tr > 0 THEN CAST(round(
      CASE WHEN tr > 0 THEN CAST(mt AS DOUBLE) / tr ELSE 0.0 END, 9)
      AS DECIMAL(20,9)) END AS rt,
    CASE WHEN tc > 0 OR tr > 0 THEN 1 END AS inc
  FROM pern),
agg AS (SELECT doc_id, SUM(pt) AS sp, SUM(rt) AS sr,
    COALESCE(SUM(inc), 0) AS k
  FROM pr GROUP BY 1),
f AS (SELECT doc_id,
    CASE WHEN k > 0
         THEN round(CAST(sp AS DOUBLE) / k, 9) ELSE 0.0 END AS chrp,
    CASE WHEN k > 0
         THEN round(CAST(sr AS DOUBLE) / k, 9) ELSE 0.0 END AS chrr
  FROM agg)
SELECT doc_id, round(chrp, 6) AS chrp, round(chrr, 6) AS chrr,
  round(CASE WHEN {b2!r} * chrp + chrr > 0
             THEN {1.0 + b2!r} * chrp * chrr
                  / ({b2!r} * chrp + chrr)
             ELSE 0.0 END, 6) AS chrf
FROM f
"""


def _eval_pair_fixture(spark, sf_dir):
    """Candidate/reference pairs for the generation-eval gates: the
    reference is each document's drop_empty token stream; the
    candidate drops every 5th token (1-based) — a deterministic
    'lossy decode' whose unigrams stay clipped-perfect (p1 = 1) while
    higher orders break at every deletion and the brevity penalty
    bites (|cand| < |ref|)."""
    toks = TXT.tokens("text", drop_empty=True)
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.filter(toks, lambda x, i: (i + 1) % 5 != 0).alias("__cand"),
        toks.alias("__ref"))


@query("eval_bleu", oracle=_bleu_oracle())
def eval_bleu(spark, sf_dir):
    """Per-document sentence BLEU with BLEU+1 smoothing
    (`sentence_bleu`, operators/evaluation.py; Papineni et al. ACL
    2002, Lin & Och COLING 2004) — the generation-eval metric a
    training pipeline runs over millions of (model output, reference)
    pairs: clipped n-gram precision per order 1..4, smoothed geometric
    mean, brevity penalty. Entirely JVM-side (one generate + two keyed
    aggregations + a spine join); per-doc rows release every order's
    precision so the hash pins clipping, smoothing, BP, and the final
    score independently."""
    from ..operators.evaluation import sentence_bleu

    return sentence_bleu(
        _eval_pair_fixture(spark, sf_dir), "__cand", "__ref",
        id_col="doc_id", max_n=4)


@query("eval_chrf", oracle=_chrf_oracle())
def eval_chrf(spark, sf_dir):
    """Per-document chrF2 (`chrf`, operators/evaluation.py; Popović
    WMT 2015) — the tokenization-free character-n-gram F-score
    (sacreBLEU's chrF2 defaults: orders 1..6, beta=2, spaces
    stripped): clipped char-gram matches give per-order precision AND
    recall, vacuous orders are excluded, chrP/chrR average over
    included orders, F-beta combines. Same linear one-generate shape
    as eval_bleu, over characters instead of tokens."""
    from ..operators.evaluation import chrf

    pairs = _eval_pair_fixture(spark, sf_dir)
    return chrf(
        pairs.select(
            "doc_id", F.array_join("__cand", " ").alias("__ct"),
            F.array_join("__ref", " ").alias("__rt")),
        "__ct", "__rt", id_col="doc_id", max_n=6, beta=2.0)


def _corpus_bleu_oracle(max_n: int = 4) -> str:
    """Pooled replay of corpus_bleu over the same dropped-token fixture
    as eval_bleu: per-order matches and candidate totals sum over ALL
    pairs before the ratio; BP compares total lengths."""
    tok_gram = ("[array_to_string({col}[i:i+{n}-1], ' ') "
                "FOR i IN range(1, len({col}) - {n} + 2)]")
    orders = ",".join(
        _clip_match_sql("b", "ct", "rt", n, tok_gram)
        for n in range(1, max_n + 1))
    munion = " UNION ALL ".join(
        f"SELECT {n} AS n, doc_id, mt FROM m{n}"
        for n in range(1, max_n + 1))
    ncols = ",".join(str(n) for n in range(1, max_n + 1))
    pcols = ",\n    ".join(
        f"MAX(CASE WHEN n = {n} THEN round(p, 6) END) AS p{n}"
        for n in range(1, max_n + 1))
    psel = ", ".join(f"p{n}" for n in range(1, max_n + 1))
    return f"""
WITH {_EVAL_PAIR_SQL},{orders},
mall AS (SELECT n, SUM(mt) AS m FROM ({munion}) GROUP BY n),
tall AS (SELECT n.n,
    SUM(GREATEST(len(b.ct) - n.n + 1, 0)) AS t,
    COUNT(*) AS pairs, SUM(len(b.ct)) AS sc, SUM(len(b.rt)) AS sr
  FROM b CROSS JOIN (SELECT unnest([{ncols}]) AS n) n GROUP BY 1),
pern AS (SELECT tall.n, tall.t, COALESCE(mall.m, 0) AS m,
    tall.pairs, tall.sc, tall.sr
  FROM tall LEFT JOIN mall ON mall.n = tall.n),
p AS (SELECT n, pairs, sc, sr,
    CASE WHEN t > 0 THEN CAST(m AS DOUBLE) / t ELSE 0.0 END AS p
  FROM pern),
agg AS (SELECT MAX(pairs) AS n_pairs, MAX(sc) AS sc, MAX(sr) AS sr,
    MIN(p) AS pmin,
    SUM(CASE WHEN p > 0
             THEN CAST(round(ln(p), 9) AS DECIMAL(20,9)) END) AS slog,
    {pcols}
  FROM p),
fin AS (SELECT n_pairs, sc, sr, {psel}, pmin, slog,
    CASE WHEN sc = 0 THEN 0.0
         WHEN sc >= sr THEN 1.0
         ELSE round(exp(1.0 - CAST(sr AS DOUBLE) / sc), 9) END AS bp
  FROM agg)
SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
  CAST(sc AS BIGINT) AS cand_tokens, CAST(sr AS BIGINT) AS ref_tokens,
  {psel}, round(bp, 6) AS bp,
  CASE WHEN pmin > 0 AND sc > 0
       THEN round(bp * exp(CAST(slog AS DOUBLE) / {max_n}.0), 6)
       ELSE 0.0 END AS bleu
FROM fin
"""


@query("eval_corpus_bleu", oracle=_corpus_bleu_oracle())
def eval_corpus_bleu(spark, sf_dir):
    """Corpus-level BLEU (`corpus_bleu`, operators/evaluation.py;
    Papineni et al. ACL 2002 exact micro-average) over the same
    dropped-token fixture as eval_bleu: matches and candidate totals
    pool over all 500 pairs before the per-order ratio, BP compares
    total lengths — one short pair dilutes instead of zeroing (the
    sentence/corpus distinction, unit- and property-pinned). One row;
    the oracle replays the pooled sums, the log ladder, and BP."""
    from ..operators.evaluation import corpus_bleu

    return corpus_bleu(
        _eval_pair_fixture(spark, sf_dir), "__cand", "__ref",
        id_col="doc_id", max_n=4)


def _rouge_oracle(max_n: int = 2) -> str:
    """Full replay of rouge_n over the eval-pair fixture: clipped
    token-gram matches per order, per-order P/R as 9-dp-snapped exact
    ratios, F1 from the snapped doubles, 6-dp release."""
    tok_gram = ("[array_to_string({col}[i:i+{n}-1], ' ') "
                "FOR i IN range(1, len({col}) - {n} + 2)]")
    orders = ",".join(
        _clip_match_sql("b", "ct", "rt", n, tok_gram)
        for n in range(1, max_n + 1))
    munion = " UNION ALL ".join(
        f"SELECT {n} AS n, doc_id, mt FROM m{n}"
        for n in range(1, max_n + 1))
    ncols = ",".join(str(n) for n in range(1, max_n + 1))
    pivots = ",\n  ".join(
        f"round(MAX(CASE WHEN n = {n} THEN {m} END), 6) AS rouge{n}_{s}"
        for n in range(1, max_n + 1)
        for s, m in (("p", "CAST(pt AS DOUBLE)"),
                     ("r", "CAST(rt2 AS DOUBLE)"),
                     ("f", "f1")))
    return f"""
WITH {_EVAL_PAIR_SQL},{orders},
mall AS (SELECT n, doc_id, mt FROM ({munion})),
spine AS (SELECT b.doc_id, n.n, len(b.ct) AS clen, len(b.rt) AS rlen
  FROM b CROSS JOIN (SELECT unnest([{ncols}]) AS n) n),
pern AS (SELECT spine.doc_id, spine.n,
    GREATEST(clen - spine.n + 1, 0) AS tc,
    GREATEST(rlen - spine.n + 1, 0) AS tr,
    COALESCE(mall.mt, 0) AS m
  FROM spine LEFT JOIN mall
    ON mall.doc_id = spine.doc_id AND mall.n = spine.n),
pr AS (SELECT doc_id, n,
    CASE WHEN tc > 0 THEN CAST(round(CAST(m AS DOUBLE) / tc, 9)
         AS DECIMAL(20,9)) ELSE CAST(0.0 AS DECIMAL(20,9)) END AS pt,
    CASE WHEN tr > 0 THEN CAST(round(CAST(m AS DOUBLE) / tr, 9)
         AS DECIMAL(20,9)) ELSE CAST(0.0 AS DECIMAL(20,9)) END AS rt2
  FROM pern),
f AS (SELECT doc_id, n, pt, rt2,
    CASE WHEN CAST(pt AS DOUBLE) + CAST(rt2 AS DOUBLE) > 0
         THEN 2.0 * CAST(pt AS DOUBLE) * CAST(rt2 AS DOUBLE)
              / (CAST(pt AS DOUBLE) + CAST(rt2 AS DOUBLE))
         ELSE 0.0 END AS f1
  FROM pr)
SELECT doc_id,
  {pivots}
FROM f GROUP BY doc_id
"""


@query("eval_rouge", oracle=_rouge_oracle())
def eval_rouge(spark, sf_dir):
    """Per-document ROUGE-1/ROUGE-2 (`rouge_n`,
    operators/evaluation.py; Lin ACL-W 2004) — the RECALL-oriented
    n-gram overlap summarization evals report next to BLEU: clipped
    multiset gram matches give per-order precision AND recall, F1
    combines per order (no smoothing, no cross-order pooling). Same
    one-generate + two-keyed-aggregation shape as eval_bleu; the
    dropped-token fixture makes recall land around 0.8 (every 5th
    token missing) while precision stays 1 at order 1."""
    from ..operators.evaluation import rouge_n

    return rouge_n(
        _eval_pair_fixture(spark, sf_dir), "__cand", "__ref",
        id_col="doc_id", max_n=2)


_ROUGE_L_ORACLE = f"""
WITH RECURSIVE {_EVAL_PAIR_SQL},
cp AS (SELECT doc_id, ct[1:40] AS c0, rt[1:40] AS rl FROM b),
sw AS (SELECT doc_id,
    [CASE WHEN i % 2 = 1 AND i + 1 <= len(c0) THEN c0[i + 1]
          WHEN i % 2 = 0 THEN c0[i - 1]
          ELSE c0[i] END FOR i IN range(1, len(c0) + 1)] AS ct, rl
  FROM cp),
dp AS (
  SELECT doc_id, ct, rl, 0 AS i,
         [0 FOR j IN range(0, len(rl) + 1)] AS row
  FROM sw
  UNION ALL
  SELECT doc_id, ct, rl, i + 1,
         list_prepend(0, [GREATEST(row[j + 1],
             list_max([row[k] + CASE WHEN rl[k] = ct[i + 1]
                                     THEN 1 ELSE 0 END
                       FOR k IN range(1, j + 1)]))
           FOR j IN range(1, len(rl) + 1)])
  FROM dp WHERE i < len(ct)),
fin AS (SELECT doc_id, len(ct) AS clen, len(rl) AS rlen,
        CASE WHEN len(ct) > 0 AND len(rl) > 0
             THEN row[len(rl) + 1] ELSE 0 END AS lcs
  FROM dp WHERE i = len(ct)),
pr AS (SELECT doc_id, clen, rlen, lcs,
    CASE WHEN clen > 0
         THEN CAST(round(CAST(lcs AS DOUBLE) / clen, 9)
                   AS DECIMAL(20,9))
         ELSE CAST(0.0 AS DECIMAL(20,9)) END AS p,
    CASE WHEN rlen > 0
         THEN CAST(round(CAST(lcs AS DOUBLE) / rlen, 9)
                   AS DECIMAL(20,9))
         ELSE CAST(0.0 AS DECIMAL(20,9)) END AS r
  FROM fin)
SELECT doc_id, CAST(clen AS BIGINT) AS cand_len,
  CAST(rlen AS BIGINT) AS ref_len, CAST(lcs AS BIGINT) AS lcs,
  round(CAST(p AS DOUBLE), 6) AS rouge_l_p,
  round(CAST(r AS DOUBLE), 6) AS rouge_l_r,
  round(CASE WHEN CAST(p AS DOUBLE) + CAST(r AS DOUBLE) > 0
             THEN 2.0 * CAST(p AS DOUBLE) * CAST(r AS DOUBLE)
                  / (CAST(p AS DOUBLE) + CAST(r AS DOUBLE))
             ELSE 0.0 END, 6) AS rouge_l_f
FROM pr
"""


@query("eval_rouge_l", oracle=_ROUGE_L_ORACLE)
def eval_rouge_l(spark, sf_dir):
    """Per-document ROUGE-L (`rouge_l`, operators/evaluation.py; Lin
    ACL-W 2004 §3.1) — the LCS member of the ROUGE family beside
    ROUGE-1/2: in-order non-contiguous coverage, P/R/F from the exact
    LCS length. Fixture: the dropped-token candidate (every 5th gone)
    with ADJACENT PAIRS SWAPPED and both sides capped at 40 tokens —
    the swaps make the candidate a genuine non-subsequence (each pair
    contributes ~1, not 2, to the LCS), so the max-of-three DP is
    really exercised, and the cap honors the documented O(|c|·|r|²)
    short-field contract at every SF. The oracle replays the
    identical prefix-max DP via a recursive CTE over candidate
    position (row monotonicity proof in the operator docstring)."""
    from ..operators.evaluation import rouge_l

    pairs = _eval_pair_fixture(spark, sf_dir)
    c0 = F.slice(F.col("__cand"), 1, 40)
    n = F.size(c0)
    swapped = F.transform(
        c0,
        lambda x, i: F.when(
            (i % 2 == 0) & (i + F.lit(2) <= n),
            F.element_at(c0, (i + F.lit(2)).cast("int")))
        .when(i % 2 == 1, F.element_at(c0, i.cast("int")))
        .otherwise(x))
    return rouge_l(
        pairs.select(
            "doc_id", swapped.alias("__c"),
            F.slice(F.col("__ref"), 1, 40).alias("__r")),
        "__c", "__r", id_col="doc_id")


_EDIT_ORACLE = f"""
WITH {_EVAL_PAIR_SQL},
s AS (SELECT doc_id, array_to_string(ct, ' ') AS cs,
        array_to_string(rt, ' ') AS rs
      FROM b)
SELECT doc_id,
  CAST(length(cs) AS BIGINT) AS cand_chars,
  CAST(length(rs) AS BIGINT) AS ref_chars,
  CAST(levenshtein(cs, rs) AS BIGINT) AS dist,
  CASE WHEN length(rs) > 0
       THEN round(CAST(levenshtein(cs, rs) AS DOUBLE) / length(rs), 6)
  END AS cer,
  CASE WHEN GREATEST(length(cs), length(rs)) > 0
       THEN round(1 - CAST(levenshtein(cs, rs) AS DOUBLE)
                  / GREATEST(length(cs), length(rs)), 6)
       ELSE 1.0 END AS sim
FROM s
"""


@query("eval_edit_distance", oracle=_EDIT_ORACLE)
def eval_edit_distance(spark, sf_dir):
    """Per-document Levenshtein distance, character error rate, and
    normalized similarity (`edit_distance_metrics`,
    operators/evaluation.py) — the ASR/OCR transcription scorecard,
    here over the dropped-token fixture's candidate/reference strings
    (the deletions surface as real edit runs). Row-local JVM DP, zero
    shuffle; the O(|c|·|r|) per-row cost is the documented short-field
    contract (these are ~300-char documents)."""
    from ..operators.evaluation import edit_distance_metrics

    pairs = _eval_pair_fixture(spark, sf_dir)
    return edit_distance_metrics(
        pairs.select(
            "doc_id", F.array_join("__cand", " ").alias("__c"),
            F.array_join("__ref", " ").alias("__r")),
        "__c", "__r", id_col="doc_id")


def _pass_at_k_oracle(ks=(1, 5, 10)) -> str:
    cases = ",\n  ".join(
        f"""CASE WHEN n < {k} THEN NULL
       WHEN n - c < {k} THEN 1.0
       ELSE round(1 - list_reduce(
         [CAST(n - c - i AS DOUBLE) / (n - i) FOR i IN range(0, {k})],
         (a, b) -> a * b), 6) END AS pass_at_{k}"""
        for k in ks)
    return f"""
WITH per AS (SELECT user_id AS problem_id, COUNT(*) AS n,
    SUM(CASE WHEN event_type = 'purchase' AND value > 15
        THEN 1 ELSE 0 END) AS c
  FROM events GROUP BY 1)
SELECT problem_id, CAST(n AS BIGINT) AS n_samples,
  CAST(c AS BIGINT) AS n_correct,
  {cases}
FROM per
"""


@query("eval_pass_at_k", oracle=_pass_at_k_oracle())
def eval_pass_at_k(spark, sf_dir):
    """Unbiased pass@{{1,5,10}} per problem (`pass_at_k`,
    operators/evaluation.py; Chen et al. 2021's HumanEval estimator):
    1 - C(n-c,k)/C(n,k) evaluated as an ordered exact-ratio product —
    no factorials, bit-equal across engines. Fixture: each events
    user is a 'problem', its events the generated samples, a
    high-value purchase the passing one; n varies per problem so the
    n<k NULL and n-c<k short-circuit branches are both exercised.
    One keyed count aggregation + a k-term per-group fold."""
    from ..operators.evaluation import pass_at_k

    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("problem_id"),
        ((F.col("event_type") == "purchase")
         & (F.col("value") > 15)).alias("__ok"))
    return pass_at_k(ev, "problem_id", F.col("__ok"), ks=(1, 5, 10))


_KAPPA_ORACLE = """
WITH l AS (SELECT
    CAST(length(text) % 5 AS VARCHAR) AS ra,
    CAST(CASE WHEN doc_id % 10 < 7 THEN length(text) % 5
         ELSE (length(text) % 5 + 1) % 5 END AS VARCHAR) AS rb
  FROM documents),
tot AS (SELECT COUNT(*) AS n,
    SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS agree FROM l),
ma AS (SELECT ra AS cat, COUNT(*) AS na FROM l GROUP BY 1),
mb AS (SELECT rb AS cat, COUNT(*) AS nb FROM l GROUP BY 1),
pes AS (SELECT SUM(CAST(COALESCE(na, 0) AS HUGEINT)
                   * CAST(COALESCE(nb, 0) AS HUGEINT)) AS pesum
  FROM ma FULL OUTER JOIN mb USING (cat))
SELECT CAST(n AS BIGINT) AS n_items,
  round(CAST(agree AS DOUBLE) / n, 6) AS po,
  round(CAST(pesum AS DOUBLE)
        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
  CASE WHEN CAST(pesum AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1
       THEN round((CAST(agree AS DOUBLE) / n
                   - CAST(pesum AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                  / (1 - CAST(pesum AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
  END AS kappa
FROM tot, pes WHERE n > 0
"""


@query("eval_cohens_kappa", oracle=_KAPPA_ORACLE)
def eval_cohens_kappa(spark, sf_dir):
    """Cohen's kappa over two deterministic pseudo-raters
    (`cohens_kappa`, operators/evaluation.py; Cohen 1960) — the
    inter-annotator agreement gate a labeling pipeline runs before
    trusting a batch: observed agreement vs the marginal-product
    chance rate. Rater A buckets documents by text length mod 5;
    rater B agrees on ~70% of doc_ids and shifts one bucket on the
    rest — a known-kappa fixture with every category populated. Two
    tiny marginal aggregations + one outer join on category."""
    from ..operators.evaluation import cohens_kappa

    docs = load(spark, sf_dir, "documents")
    a = F.length("text") % 5
    lab = docs.select(
        a.alias("ra"),
        F.when((F.col("doc_id") % 10) < 7, a)
        .otherwise((a + 1) % 5).alias("rb"))
    return cohens_kappa(lab, "ra", "rb")


_KRIPPENDORFF_ORACLE = """
WITH base AS (SELECT event_id % 700 AS u, event_type AS c FROM events),
uc AS (SELECT u, c, COUNT(*) AS nuc FROM base GROUP BY 1, 2),
pu AS (SELECT u, SUM(nuc) AS nu FROM uc GROUP BY 1),
p AS (SELECT uc.u, uc.c, uc.nuc, pu.nu
      FROM uc JOIN pu ON uc.u = pu.u WHERE pu.nu >= 2),
obs AS (SELECT
    SUM(CAST(round(CAST(nuc * (nu - nuc) AS DOUBLE) / (nu - 1), 6)
        AS DECIMAL(38,6))) AS dosum,
    SUM(nuc) AS n, COUNT(DISTINCT u) AS n_units
  FROM p),
vc AS (SELECT c, SUM(nuc) AS nc FROM p GROUP BY 1),
sq AS (SELECT SUM(CAST(nc AS HUGEINT) * CAST(nc AS HUGEINT)) AS sumsq
       FROM vc),
f AS (SELECT n_units, n,
    CAST(dosum AS DOUBLE) / n AS d_o,
    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sumsq AS DOUBLE))
      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS d_e
  FROM obs, sq WHERE n >= 2)
SELECT CAST(n_units AS BIGINT) AS n_units, CAST(n AS BIGINT) AS n_ratings,
  round(d_o, 6) AS d_obs, round(d_e, 6) AS d_exp,
  CASE WHEN d_e > 0 THEN round(1 - d_o / d_e, 6) END AS alpha
FROM f
"""


@query("eval_krippendorff_alpha", oracle=_KRIPPENDORFF_ORACLE)
def eval_krippendorff_alpha(spark, sf_dir):
    """Krippendorff's alpha, nominal metric (`krippendorff_alpha`,
    operators/evaluation.py; Krippendorff 2004) — the multi-rater
    agreement coefficient with MISSING-DATA support that generalizes
    eval_cohens_kappa past two fixed raters: observed vs expected
    disagreement over pairable units. Fixture: events grouped into
    pseudo-units (event_id mod 700) rated with their event_type —
    unit sizes vary and, at the small SF, single-rating units
    exercise the unpairable-drop path. Three keyed aggregations +
    broadcast folds, all exact integer/decimal arithmetic."""
    from ..operators.evaluation import krippendorff_alpha

    ev = load(spark, sf_dir, "events").select(
        (F.col("event_id") % 700).alias("unit"),
        F.col("event_type").alias("value"))
    return krippendorff_alpha(ev, "unit", "value")


_FLEISS_ORACLE = """
WITH base AS (SELECT event_id // 4 AS u, event_type AS c FROM events),
uc AS (SELECT u, c, COUNT(*) AS nuc FROM base GROUP BY 1, 2),
pu AS (SELECT u, SUM(nuc) AS n,
         SUM(CAST(nuc AS HUGEINT) * CAST(nuc AS HUGEINT)) AS sq
       FROM uc GROUP BY 1),
obs AS (SELECT COUNT(*) AS nu,
    SUM(CAST(round((CAST(sq AS DOUBLE) - 4) / (4 * 3), 9)
        AS DECIMAL(20,9))) AS pusum
  FROM pu),
cat AS (SELECT c, SUM(nuc) AS nc FROM uc GROUP BY 1),
esq AS (SELECT SUM(CAST(nc AS HUGEINT) * CAST(nc AS HUGEINT)) AS s
        FROM cat),
f AS (SELECT nu, CAST(pusum AS DOUBLE) / nu AS pbar,
    CAST(s AS DOUBLE) / ((CAST(nu AS DOUBLE) * 4)
                         * (CAST(nu AS DOUBLE) * 4)) AS pe
  FROM obs, esq)
SELECT CAST(nu AS BIGINT) AS n_units, CAST(4 AS BIGINT) AS n_raters,
  round(pbar, 6) AS p_bar, round(pe, 6) AS p_e,
  CASE WHEN pe < 1 THEN round((pbar - pe) / (1 - pe), 6) END AS kappa
FROM f
"""


@query("eval_fleiss_kappa", oracle=_FLEISS_ORACLE)
def eval_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa over a fixed 4-rater panel (`fleiss_kappa`,
    operators/evaluation.py; Fleiss 1971): per-unit agreement from
    category count squares vs squared category marginals. Fixture:
    every 4 consecutive events form one unit (event_id // 4 — the
    panel-size contract holds exactly at both oracle SFs), rated with
    their event_type. One count aggregation + two tiny folds."""
    from ..operators.evaluation import fleiss_kappa

    # integer `div`, never double division (the round-9 hour-bucket
    # lesson): exact at any id magnitude; event_id is non-negative in
    # every test table, where `div` and the oracle's `//` coincide
    ev = load(spark, sf_dir, "events").select(
        F.expr("event_id div 4").alias("unit"),
        F.col("event_type").alias("value"))
    return fleiss_kappa(ev, "unit", "value")


_ROC_AUC_ORACLE = """
WITH b AS (SELECT value AS s,
    event_type IN ('purchase', 'signup') AS y
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    AND NOT isnan(value)),
per AS (SELECT s, COUNT(*) AS c,
    SUM(CASE WHEN y THEN 1 ELSE 0 END) AS p FROM b GROUP BY 1),
cum AS (SELECT c, p,
    COALESCE(SUM(c) OVER (ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bb
  FROM per),
t AS (SELECT SUM(p) AS np, SUM(c - p) AS nn,
    SUM(CAST(p AS HUGEINT) * (2 * bb + c + 1)) AS s2 FROM cum),
f AS (SELECT np, nn,
    CASE WHEN np > 0 AND nn > 0 THEN
      round(CAST(s2 - CAST(np AS HUGEINT) * (np + 1) AS DOUBLE)
            / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6)
    END AS auc FROM t)
SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
  auc, round(2.0 * auc - 1.0, 6) AS gini
FROM f
"""


@query("eval_roc_auc", oracle=_ROC_AUC_ORACLE)
def eval_roc_auc(spark, sf_dir):
    """ROC AUC via exact midranks (`roc_auc`,
    operators/evaluation.py; Hanley & McNeil 1982) — the threshold-
    free binary-classifier scorecard beside the fixed-grid
    `eval_pr_curve` operating points: P(random positive outscores a
    random negative), ties half-credited through average ranks.
    Fixture: score := event value, label := conversion event types —
    a near-chance AUC with real tie groups (2-dp values collide).
    The oracle replays the identical integer rank algebra from a
    distinct-score cumulative sum."""
    from ..operators.evaluation import roc_auc

    ev = load(spark, sf_dir, "events")
    return roc_auc(
        ev, F.col("value"),
        F.col("event_type").isin("purchase", "signup"))


_AVG_PRECISION_ORACLE = """
WITH b AS (SELECT value AS s,
    event_type IN ('purchase', 'signup') AS y
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    AND NOT isnan(value)),
per AS (SELECT s, CAST(COUNT(*) AS HUGEINT) AS c,
    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS HUGEINT) AS p
  FROM b GROUP BY 1),
cum AS (SELECT c, p,
    SUM(p) OVER (ORDER BY s DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
    SUM(c) OVER (ORDER BY s DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
  FROM per),
tot AS (SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
    CAST(SUM(c - p) AS BIGINT) AS n_neg,
    SUM(CASE WHEN p > 0
             THEN (p * cp * 1000000000) // cn END) AS units
  FROM cum)
SELECT n_pos, n_neg,
  CASE WHEN n_pos > 0
       THEN CAST((units // n_pos + 500) // 1000 AS DOUBLE)
            / 1000000.0 END AS ap
FROM tot
"""


@query("eval_average_precision", oracle=_AVG_PRECISION_ORACLE)
def eval_average_precision(spark, sf_dir):
    """Average precision (`average_precision`,
    operators/evaluation.py; the sklearn step-interpolation
    definition) — the threshold-free PR-curve area beside
    `eval_roc_auc`'s ROC rank form, ties collapsed to one operating
    point per distinct score: AP = (1/P)·Σ p_s·cp_s/cn_s with every
    term an exact integer floor division to nano units (no double
    before the shared half-up release). Same fixture as the AUC
    gate (event value scores vs conversion labels) so the two
    scorecards are directly comparable. The oracle replays the
    integer algebra verbatim with HUGEINT //."""
    from ..operators.evaluation import average_precision

    ev = load(spark, sf_dir, "events")
    return average_precision(
        ev, F.col("value"),
        F.col("event_type").isin("purchase", "signup"))


_PROB_SCORES_ORACLE = """
WITH b AS (SELECT value - floor(value) AS p,
    event_type IN ('purchase', 'signup') AS y
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    AND NOT isnan(value)),
c AS (SELECT p, CASE WHEN y THEN 1.0 ELSE 0.0 END AS yd,
    CASE WHEN y THEN 1 ELSE 0 END AS yi FROM b),
t AS (SELECT COUNT(*) AS n, SUM(yi) AS np,
    SUM(CAST(round((greatest(least(p, 1.0), 0.0) - yd)
                   * (greatest(least(p, 1.0), 0.0) - yd), 9)
        AS DECIMAL(38,9))) AS sb,
    SUM(CAST(round(-(yd * ln(greatest(least(p, 1 - 1e-15), 1e-15))
                     + (1 - yd)
                       * ln(greatest(least(1 - p, 1 - 1e-15),
                                     1e-15))), 9)
        AS DECIMAL(38,9))) AS sl
  FROM c)
SELECT CAST(n AS BIGINT) AS n, CAST(np AS BIGINT) AS n_pos,
  CASE WHEN n > 0 THEN round(CAST(sb AS DOUBLE) / n, 6) END AS brier,
  CASE WHEN n > 0 THEN round(CAST(sl AS DOUBLE) / n, 6) END AS log_loss
FROM t
"""


@query("eval_probabilistic", oracle=_PROB_SCORES_ORACLE)
def eval_probabilistic(spark, sf_dir):
    """Brier score + log loss (`probabilistic_scores`,
    operators/evaluation.py; Brier 1950) — the proper-scoring-rule
    calibration pair beside `eval_roc_auc`'s rank-only AUC and the
    binned `eval_calibration_bins` reliability diagram. Fixture:
    p := the event value's fractional part (a dense [0,1) pseudo-
    probability), label := conversion event types. One aggregation
    pass; 9-dp decimal term snap (the BLEU ln ladder)."""
    from ..operators.evaluation import probabilistic_scores

    ev = load(spark, sf_dir, "events")
    return probabilistic_scores(
        ev, F.col("value") - F.floor("value"),
        F.col("event_type").isin("purchase", "signup"))


_MCC_ORACLE = """
WITH b AS (SELECT value > 10 AS y, value > 8 AS p FROM events
           WHERE value IS NOT NULL),
t AS (SELECT
    SUM(CASE WHEN y AND p THEN 1 ELSE 0 END) AS tp,
    SUM(CASE WHEN NOT y AND p THEN 1 ELSE 0 END) AS fp,
    SUM(CASE WHEN NOT y AND NOT p THEN 1 ELSE 0 END) AS tn,
    SUM(CASE WHEN y AND NOT p THEN 1 ELSE 0 END) AS fn
  FROM b)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
  CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
  CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0
        AND tn + fn > 0
       THEN round(CAST(CAST(tp AS HUGEINT) * tn
                       - CAST(fp AS HUGEINT) * fn AS DOUBLE)
                  / sqrt(CAST(tp + fp AS DOUBLE)
                         * CAST(tp + fn AS DOUBLE)
                         * CAST(tn + fp AS DOUBLE)
                         * CAST(tn + fn AS DOUBLE)), 6)
  END AS mcc
FROM t
"""


@query("eval_mcc", oracle=_MCC_ORACLE)
def eval_mcc(spark, sf_dir):
    """Matthews correlation coefficient (`mcc_binary`,
    operators/evaluation.py; Matthews 1975) — the imbalance-honest
    confusion-matrix summary: exact long cells from one aggregation
    pass, IEEE-exact sqrt, NULL on a degenerate marginal. Fixture: a
    threshold 'classifier' (value > 8) scored against a stricter
    truth (value > 10) — all four cells populated, MCC strongly
    positive."""
    from ..operators.evaluation import mcc_binary

    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return mcc_binary(
        ev, F.col("value") > 10, F.col("value") > 8)


_ZIPF_ORACLE = """
WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '),
                                       x -> x <> '')) AS t
  FROM documents WHERE text IS NOT NULL),
cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1),
rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, t ASC) AS r,
    COUNT(*) OVER () AS vocab FROM cnt),
f AS (SELECT vocab, round(ln(CAST(r AS DOUBLE)), 9) AS x,
    round(ln(CAST(c AS DOUBLE)), 9) AS y
  FROM rk WHERE r <= 1000),
t2 AS (SELECT MAX(vocab) AS vocab, COUNT(*) AS n,
    SUM(CAST(x AS DECIMAL(38,9))) AS sx,
    SUM(CAST(y AS DECIMAL(38,9))) AS sy,
    SUM(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS sxy,
    SUM(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS sxx,
    SUM(CAST(round(y * y, 9) AS DECIMAL(38,9))) AS syy
  FROM f),
g AS (SELECT CAST(vocab AS BIGINT) AS n_vocab, CAST(n AS BIGINT) AS n_fit,
    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS dxy,
    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dxx,
    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dyy,
    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
    CAST(n AS DOUBLE) AS nd
  FROM t2)
SELECT n_vocab, n_fit,
  CASE WHEN dxx > 0 THEN round(dxy / dxx, 6) END AS slope,
  CASE WHEN dxx > 0
       THEN round((syd - (dxy / dxx) * sxd) / nd, 6) END AS intercept,
  CASE WHEN dxx > 0 AND dyy > 0
       THEN round(dxy / sqrt(dxx * dyy), 6) END AS corr
FROM g
"""


@query("text_zipf", oracle=_ZIPF_ORACLE)
def text_zipf(spark, sf_dir):
    """Zipf rank-frequency fit (`zipf_fit`, operators/profile.py;
    Zipf 1949) — log-log OLS over the top-1000 vocabulary
    frequencies, the corpus-naturalness diagnostic (template floods
    and spam bend the ~-1 slope). Corpus-linear token counting, one
    vocabulary-sized ordered window, 9-dp transcendental ladder."""
    from ..operators.profile import zipf_fit

    docs = load(spark, sf_dir, "documents")
    return zipf_fit(docs, "text", top_n=1000)
