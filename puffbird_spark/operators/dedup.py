"""Deduplication operators for training-data pipelines (BASELINE.json north
star): exact hash dedup, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:
- exact dedup = one hash-keyed groupBy (single shuffle on the digest, never
  on the raw text — at 100 TB you shuffle 32-byte digests, not documents).
- MinHash-LSH = shingle → signature (narrow, per-row), band → bucket join
  (shuffle keyed on (band, hash) buckets, candidate pairs only) — never the
  O(n²) cross join.
- n-gram Jaccard here is the *verification* kernel applied to candidate
  pairs (or, for oracle-checking at small SF, all pairs).

Everything below is native Column expressions; the only hash primitive is
``xxhash64`` (JVM, codegen) — no Python in the path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import telemetry
from ..functions import RELEASE_DP
from ..functions.text import char_shingles, shingles, tokens


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group rows by content digest; keep the smallest id as canonical.

    Returns (keep_id, n_dups, digest). Deterministic: min() pins the
    survivor (plain ``dropDuplicates`` keeps an arbitrary row).
    """
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("digest"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The deduplicated table itself: survivors only, one shuffle."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def incremental_dedup(
    batch: DataFrame,
    corpus_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest_col: str = "digest",
) -> DataFrame:
    """Dedup a NEW batch against an already-deduplicated corpus without
    rescanning the corpus: the append-shard operation of a living
    pretraining dataset (pairs with the rollup_incremental refresh
    pattern — history is state, not input).

    ``corpus_digests`` holds one ``digest_col`` (md5 of content) per
    existing document — 16 bytes/doc, maintained incrementally by
    unioning each accepted batch's digests. Survivors are batch rows
    that are (a) first-per-digest WITHIN the batch (min ``id_col``
    pins the survivor deterministically) and (b) absent from the
    corpus digest set (left-anti on the digest).

    Scale shape: the corpus never moves — only its digest column joins,
    and only the batch (the small side, broadcast when it fits) shuffles.
    Returns the surviving batch rows plus their ``digest_col`` so the
    caller can append them to ``corpus_digests`` for the next batch.

    NULL semantics: ``md5(NULL)`` is NULL, so NULL-text rows share the
    NULL digest group. Both joins are null-safe (``eqNullSafe``): the
    intra-batch pin keeps exactly one NULL-text survivor per batch, and
    the corpus anti-join treats a NULL corpus digest as a match — so
    replaying batches reproduces one-shot :func:`exact_dedup` (which
    keeps ONE NULL-text survivor corpus-wide) bit-for-bit. A plain
    equality anti-join would re-admit a NULL-text row every batch.
    """
    digest = F.md5(F.col(text_col).cast("binary"))
    b = batch.withColumn(digest_col, digest)
    w_min = b.groupBy(digest_col).agg(F.min(id_col).alias("__keep"))
    first = b.join(
        w_min,
        b[digest_col].eqNullSafe(w_min[digest_col])
        & (b[id_col] == w_min["__keep"]),
    ).select(b["*"])
    corpus = corpus_digests.select(F.col(digest_col).alias("__corpus_digest"))
    return first.join(
        corpus,
        first[digest_col].eqNullSafe(corpus["__corpus_digest"]),
        "left_anti",
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.4,
    n: int = 3,
    kind: str = "word",
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity >= threshold.

    O(n²) by construction — correctness kernel for small inputs and the
    verifier stage after LSH candidate generation. For full-corpus scale use
    :func:`minhash_candidate_pairs` to generate candidates first.
    Output: (id_a, id_b, jaccard), id_a < id_b, jaccard rounded 6dp.

    ``kind``: ``"word"`` (word n-grams over whitespace tokens) or
    ``"char"`` (character n-grams — language-agnostic, the right signal
    for unsegmented scripts).
    """
    if kind == "word":
        sh_expr = shingles(tokens(text_col), n=n)
    elif kind == "char":
        sh_expr = char_shingles(text_col, n=n)
    else:
        raise ValueError(f"kind must be 'word' or 'char', got {kind!r}")
    sh = widen_parallelism(df).select(
        F.col(id_col).alias("id"),
        sh_expr.alias("sh"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    # two EMPTY gram sets (blank/short docs) make union 0 — Jaccard is
    # undefined there and ANSI division would error; such pairs are not
    # near-dups, so they read NULL and the threshold filter drops them
    # (round-8 fix, found by the prefix-join differential fixture)
    jac = F.when(union > 0, F.round(inter.cast("double") / union, 6))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def widen_parallelism(df: DataFrame) -> DataFrame:
    """Hash-heavy per-row pipelines need every core: an input that arrives
    in fewer partitions than the cluster has slots (one small parquet file,
    a driver-built frame) would serialize the signature compute behind a
    single task. Round-robin repartition up to ``defaultParallelism`` —
    measured 2.5x on a one-file corpus; a no-op at scale, where the scan
    already yields more splits than slots. File count via ``inputFiles()``
    (metadata-only) rather than ``df.rdd`` — the RDD hop forces a
    plan-to-RDD conversion on the driver per call."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        # the scan already yields at least one split per slot (usually
        # more: maxPartitionBytes splits large files further)
        return df
    # few/no input files: fall back to the actual partition count (a large
    # file still splits by maxPartitionBytes) — the RDD hop runs only on
    # this already-small path
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def shingle_hashes(shingle_arr: Column, hasher: str = "xxhash64") -> Column:
    """Hash every shingle string ONCE — materialize this as its own column
    before deriving signatures, so the string hashing is not re-inlined per
    permutation.

    ``hasher``: ``"xxhash64"`` (JVM-native, the fast default) or ``"md5"``
    (first 60 bits of the md5 hex digest as a positive long). md5 exists on
    both Spark and DuckDB with identical output, so an md5-hashed MinHash
    pipeline is oracle-checkable end-to-end; xxhash64 has no DuckDB twin.
    """
    if hasher == "xxhash64":
        return F.transform(shingle_arr, lambda s: F.xxhash64(s))
    if hasher == "md5":
        # 15 hex chars = 60 bits: always positive, no long overflow; the
        # DuckDB twin is ('0x' || substr(md5(s), 1, 15))::BIGINT
        return F.transform(
            shingle_arr,
            lambda s: F.conv(
                F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10
            ).cast("long"),
        )
    raise ValueError(f"hasher must be 'xxhash64' or 'md5', got {hasher!r}")




#: Mersenne prime 2^31-1: permutation values < 2^31, products < 2^62 — no
#: long overflow even under ANSI mode (Spark 4 default throws on overflow)
_MERSENNE = (1 << 31) - 1


def _perm_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


def minhash_signature(
    hashes_or_shingles: Column,
    num_hashes: int = 32,
    pre_hashed: bool = False,
    pre_reduced: bool = False,
) -> Column:
    """MinHash signature via universal-hash permutations over per-shingle
    hashes: one xxhash64 per shingle, then ``num_hashes`` cheap
    ``(a*h + b) mod p`` permutations (p = 2^31-1). Empty shingle sets get
    NULL signatures. ``pre_reduced``: input hashes are already mod-p
    (materialize that as its own bound column so the mod isn't re-inlined
    into every permutation)."""
    src = hashes_or_shingles if pre_hashed else shingle_hashes(hashes_or_shingles)
    params = _perm_params(num_hashes)
    reduced = (src if pre_reduced
               else F.transform(src, lambda h: F.pmod(h, F.lit(_MERSENNE))))
    # ONE nested transform over the (a, b) literal array instead of
    # num_hashes unrolled array_min expressions: identical result, but the
    # generated code is a loop — measured ~1.6s less cold-plan codegen at
    # num_hashes=32, and the plan stays small at 128+ hashes
    perms = F.array(*[
        F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")) for a, b in params
    ])
    return F.when(
        F.size(src) > 0,
        F.transform(perms, lambda pr: F.array_min(
            F.transform(
                reduced,
                lambda h: F.pmod(h * pr["a"] + pr["b"], F.lit(_MERSENNE)),
            )
        )),
    )


def _signature_arrow_udf(num_hashes: int):
    """Vectorized MinHash signature kernel: Arrow-batched numpy over the
    per-shingle hash arrays.

    Spark evaluates higher-order functions (``transform``/``array_min``)
    interpreted — they sit outside whole-stage codegen, costing ~µs per
    element, and the signature is ``num_hashes × shingles`` elements per
    row. The numpy kernel computes the exact same ``(a*h + b) mod p``
    permutation minima as ONE batched multiply-mod over the concatenated
    batch (``minimum.reduceat`` per row) — measured ~10x faster on the
    signature stage, and still embarrassingly parallel per partition.
    Output is element-for-element equal to :func:`minhash_signature`
    (empty inputs get NULL)."""
    import numpy as np

    params = _perm_params(num_hashes)
    a = np.array([p[0] for p in params], dtype=np.int64)[:, None]
    b = np.array([p[1] for p in params], dtype=np.int64)[:, None]
    # bound the (num_hashes x elements) intermediate to ~32 MB per chunk
    elem_budget = max((1 << 22) // max(num_hashes, 1), 4096)

    def kernel(batch: pd.Series) -> pd.Series:
        out: list = [None] * len(batch)
        arrs = [np.asarray(v, dtype=np.int64) for v in batch]
        i = 0
        while i < len(arrs):
            j, elems = i, 0
            while j < len(arrs) and (elems == 0 or elems + len(arrs[j]) <= elem_budget):
                elems += len(arrs[j])
                j += 1
            chunk = [x for x in arrs[i:j] if len(x)]
            if chunk:
                flat = np.concatenate(chunk) % _MERSENNE
                perm = (a * flat[None, :] + b) % _MERSENNE
                lens = np.array([len(x) for x in chunk], dtype=np.int64)
                starts = np.zeros(len(chunk), dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                mins = np.minimum.reduceat(perm, starts, axis=1)
                k = 0
                for row in range(i, j):
                    if len(arrs[row]):
                        out[row] = mins[:, k].tolist()
                        k += 1
            i = j
        return pd.Series(out)

    return F.pandas_udf(kernel, returnType=T.ArrayType(T.LongType()))


def lsh_banding_config(
    threshold: float,
    num_hashes: int = 32,
    fp_weight: float = 0.5,
) -> tuple[int, int]:
    """Pick ``(bands, rows_per_band)`` for a target jaccard ``threshold``
    from the banding S-curve ``P(candidate) = 1 - (1 - s^r)^b``.

    Over every divisor split ``b*r = num_hashes``, minimize the weighted
    sum of the false-positive area (integral of P below the threshold) and
    the false-negative area (integral of 1-P above it) — the standard
    datasketch-style auto-config, computed with a small midpoint quadrature
    (no scipy dependency). ``fp_weight`` in (0,1) trades fewer spurious
    candidate pairs (higher) against fewer missed near-duplicates (lower).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    if not 0.0 < fp_weight < 1.0:
        raise ValueError(f"fp_weight must be in (0,1), got {fp_weight}")
    steps = 200

    def areas(b: int, r: int) -> float:
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s ** r) ** b
            if s < threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        return fp_weight * fp + (1.0 - fp_weight) * fn

    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        err = areas(b, num_hashes // b)
        if best is None or err < best[0]:
            best = (err, b, num_hashes // b)
    return best[1], best[2]


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    max_bucket_size: int = 10_000,
    threshold: float | None = None,
    hasher: str = "xxhash64",
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` rows of
    ``num_hashes/bands``; docs sharing any band hash become candidates.

    The only shuffle is the groupBy on (band, band_hash) — bucket sizes are
    data-dependent but each bucket holds near-duplicates, so the output is
    ~linear in the number of true duplicate clusters. Output:
    (id_a, id_b, est_jaccard) where est_jaccard = matching signature
    fraction.

    ``threshold``: target jaccard similarity — when given, ``bands`` is
    ignored and derived via :func:`lsh_banding_config` so the banding
    S-curve's steep section sits at the threshold.

    ``hasher``: shingle/band hash primitive — ``"xxhash64"`` (fast default)
    or ``"md5"`` (engine-portable; every stage replays in plain SQL, so the
    whole banding pipeline — not just the Jaccard kernel — hash-matches a
    DuckDB oracle; see queries/llm_q.py::dedup_minhash_md5).
    """
    if threshold is not None:
        bands, _ = lsh_banding_config(threshold, num_hashes)
    banded = minhash_banded(
        df, text_col, id_col, num_hashes, bands, n, hasher)
    # pair WITHIN buckets instead of a banded self-join: one groupBy shuffle,
    # no double computation of the shingle/signature pipeline, and the
    # quadratic work is bounded per bucket (a bucket is a duplicate cluster)
    buckets = (
        banded.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_list(F.struct("id", "sig"))).alias("ms"))
        .filter(F.size("ms") > 1)
        # monster-bucket guard: a degenerate band hash (e.g. a boilerplate
        # shingle set shared by millions of docs) would otherwise do
        # quadratic work inside one task — at 100 TB that is the job-killer.
        # Oversized buckets are dropped; their members are by definition
        # massive duplicate clusters better handled by exact dedup first.
        .filter(F.size("ms") <= max_bucket_size)
    )
    # est_jaccard is computed INSIDE the bucket, before the pair-dedup
    # shuffle: a pair row is then (id_a, id_b, est) ~24 bytes instead of
    # dragging both 32-long signatures through the exchange (~0.5 KB/pair
    # — at 100 TB the pair stream is the biggest intermediate in the job).
    # A pair re-surfacing in several bands recomputes est redundantly, but
    # bands ≤ 16 cheap compares beat shuffling 64 longs every time.
    def est(m, m2) -> Column:
        matches = F.size(F.filter(
            F.zip_with(m["sig"], m2["sig"], lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        ))
        return F.round(matches.cast("double") / F.lit(num_hashes), 6)

    pair_structs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda m, i: F.transform(
                F.slice(F.col("ms"), i + 2,
                        F.greatest(F.size(F.col("ms")) - i - 1, F.lit(0))),
                lambda m2: F.struct(
                    m["id"].alias("id_a"),
                    m2["id"].alias("id_b"),
                    est(m, m2).alias("est_jaccard"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.est_jaccard")
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash(toks: Column, bits: int = 64) -> Column:
    """SimHash: per-token xxhash64; each bit position votes +1/-1; the
    fingerprint bit is the vote sign. Native bit arithmetic via HOFs.

    ONE aggregate pass building a ``bits``-wide vote vector, then one fold
    to the fingerprint. The naive per-bit formulation (``bits`` separate
    aggregates, each referencing the hash-transform *expression*)
    re-evaluates tokenization+hashing per bit in interpreted HOF mode —
    64x the hash work for the same result."""
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # bit masks as one literal array; j=63 is the sign bit (= min long)
    masks = F.array(*[
        F.lit(-(2 ** 63) if j == 63 else 1 << j).cast("long")
        for j in range(bits)
    ])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, F.lit(1))
                              .otherwise(F.lit(-1)).cast("long"),
        ),
    )
    weighted = F.zip_with(
        votes, masks,
        lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        weighted, F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3,
    max_bucket_size: int = 4096,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    The 64-bit fingerprint is split into ``max_hamming + 1`` segments
    (pigeonhole: two signatures within the radius must agree exactly on at
    least one segment), so candidate generation is a keyed groupBy on
    ``(segment_index, segment_value)`` — never an O(n²) self-join. Segment
    count is DERIVED from the requested radius; a fixed split would silently
    miss pairs whose differing bits span every segment.

    ``max_bucket_size``: buckets above this are dropped (same monster-bucket
    guard as MinHash banding) — a bucket of m members materializes m²/2
    pair structs in one array cell, so an ungated bucket of identical
    fingerprints (templated/boilerplate corpora) is a straight OOM
    (observed at 100k docs on a default heap). Run exact dedup first;
    identical documents belong to it, not to the near-dup pass.
    """
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    nseg = max_hamming + 1
    base, rem = divmod(64, nseg)
    widths = [base + (1 if i < rem else 0) for i in range(nseg)]
    offsets = [sum(widths[:i]) for i in range(nseg)]
    sig = widen_parallelism(df).select(
        F.col(id_col).alias("id"),
        simhash(tokens(text_col)).alias("sh"),
    )

    def seg(off: int, width: int) -> Column:
        shifted = F.shiftrightunsigned("sh", off)
        if width >= 64:
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    quarters = sig.select(
        "id", "sh",
        F.posexplode(
            F.array(*[seg(o, w) for o, w in zip(offsets, widths)])
        ).alias("q", "qval"),
    )
    buckets = (
        quarters.groupBy("q", "qval")
        .agg(F.array_sort(F.collect_list(F.struct("id", "sh"))).alias("ms"))
        .filter((F.size("ms") > 1) & (F.size("ms") <= max_bucket_size))
    )
    # hamming computed INSIDE the bucket and filtered before emission:
    # dissimilar pairs that merely share one segment never materialize
    # past the generator, and the surviving pair row is (id_a, id_b,
    # hamming) — 20 bytes through the dedup shuffle instead of two
    # fingerprints (same payload-shrink rationale as est_jaccard in
    # minhash_candidate_pairs).
    def ham(m, m2) -> Column:
        return F.bit_count(m["sh"].bitwiseXOR(m2["sh"]))

    pair_structs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda m, i: F.filter(
                F.transform(
                    F.slice(F.col("ms"), i + 2,
                            F.greatest(F.size(F.col("ms")) - i - 1, F.lit(0))),
                    lambda m2: F.struct(
                        m["id"].alias("id_a"),
                        m2["id"].alias("id_b"),
                        ham(m, m2).alias("hamming"),
                    ),
                ),
                lambda p: p["hamming"] <= max_hamming,
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 20,
) -> DataFrame:
    """Exact substring duplication at token-window granularity: every
    duplicated substring of >= ``n`` tokens shared across documents
    contains at least one duplicated ``n``-token window, so flagging
    positions whose window occurs in >= 2 distinct documents finds ALL
    such spans (the distributed stand-in for the suffix-array pass of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL 2022 — a suffix array does not distribute; a
    window-digest inverted index does).

    Per input document (with at least one full window) returns::

        id_col, n_windows, n_dup_windows, max_dup_span_tokens

    where ``n_dup_windows`` counts positions whose window text occurs in
    another document and ``max_dup_span_tokens`` is the longest
    CONSECUTIVE duplicated stretch, converted back to tokens
    (``run_length + n - 1``; 0 when the document shares no window).
    Consecutive flagged positions are folded with the gaps-and-islands
    trick (pos - row_number), the same shape as sessionize.

    Scale: one shuffle keyed on the 16-byte window digest (one row per
    token position — the cost of building an inverted index, the honest
    lower bound for EXACT substring dedup); the per-document island fold
    partitions by doc id over only the FLAGGED positions. Grouping is by
    md5 digest, not the window text, so the wide window strings never
    shuffle; an md5 collision between distinct windows is the only
    approximation (~2^-64 per pair).
    """
    toks = tokens(text_col)
    nw = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    wins = F.transform(
        F.sequence(F.lit(1), nw),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    base = df.select(
        F.col(id_col), nw.alias("n_windows"), wins.alias("__wins")
    ).filter(F.col("n_windows") >= 1)
    pos_w = base.select(
        id_col, "n_windows",
        F.posexplode("__wins").alias("__p0", "__win"),
    ).select(
        id_col, "n_windows",
        (F.col("__p0") + 1).alias("pos"),
        F.md5(F.col("__win").cast("binary")).alias("__wh"),
    )
    dup = (
        pos_w.groupBy("__wh")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("__wh")
    )
    flagged = pos_w.join(dup, "__wh", "left_semi")
    from pyspark.sql import Window

    isl = flagged.withColumn(
        "__g",
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy(id_col).orderBy("pos")),
    )
    runs = isl.groupBy(id_col, "__g").agg(F.count(F.lit(1)).alias("__rl"))
    per = runs.groupBy(id_col).agg(
        F.sum("__rl").alias("n_dup_windows"),
        (F.max("__rl") + F.lit(n - 1)).alias("max_dup_span_tokens"),
    )
    return (
        base.select(id_col, "n_windows")
        .join(per, id_col, "left")
        .select(
            id_col,
            F.col("n_windows").cast("long").alias("n_windows"),
            F.coalesce(F.col("n_dup_windows"), F.lit(0))
            .cast("long").alias("n_dup_windows"),
            F.coalesce(F.col("max_dup_span_tokens"), F.lit(0))
            .cast("long").alias("max_dup_span_tokens"),
        )
    )


def strip_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 5,
    sep: str = "\n",
) -> DataFrame:
    """Line-level boilerplate removal (the RefinedWeb/CCNet line-dedup
    stage): a line occurring verbatim in >= ``min_docs`` DISTINCT
    documents is boilerplate (cookie banners, nav menus, license
    headers) and is stripped; each document's surviving lines are
    reassembled in original order.

    Returns ``(id_col, n_lines, n_boiler_lines, clean_text)`` — an
    all-boilerplate document comes back as the empty string, preserving
    the row so downstream length filters make the drop decision.

    Scale shape: one shuffle keyed on the 16-byte line digest to find
    boilerplate (line text never shuffles for the count), one left join
    marking flagged lines (the boilerplate side is typically tiny and
    broadcasts; at worst it is keyed on the same digest), and one
    per-document regroup whose order is pinned by ``array_sort`` over
    (pos, ...) structs — collect_list order is plan-dependent, the sort
    makes the reassembly deterministic.
    """
    import re

    pat = re.escape(sep)
    ln = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), pat)).alias("pos", "line"),
    ).withColumn("__lh", F.md5(F.col("line").cast("binary")))
    boiler = (
        ln.groupBy("__lh")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__lh", F.lit(True).alias("__is_b"))
    )
    marked = ln.join(boiler, "__lh", "left").withColumn(
        "__b", F.coalesce(F.col("__is_b"), F.lit(False)))
    kept_lines = F.transform(
        F.filter(
            F.array_sort(F.collect_list(
                F.struct("pos", "line", F.col("__b").alias("b")))),
            lambda s: ~s["b"],
        ),
        lambda s: s["line"],
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("__b"), 1).otherwise(0))
        .cast("long").alias("n_boiler_lines"),
        F.array_join(kept_lines, sep).alias("clean_text"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    n: int = 3,
    kind: str = "word",
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection by n-gram CONTAINMENT
    ``C(A,B) = |sh(A) n sh(B)| / |sh(A)|`` — the signal Jaccard misses:
    a short document quoted inside a long one has C(short->long) ~ 1
    while Jaccard stays near |short|/|long|. This is how partial-copy /
    quotation / version relationships surface in a corpus (Broder's
    original resemblance-vs-containment distinction, 1997).

    Unlike :func:`jaccard_pairs` this is NOT an all-pairs kernel: the
    plan is an inverted-index self-join — explode each doc's distinct
    shingles, md5 them (16-byte digests shuffle, never shingle text),
    equi-join on the digest, and count shared shingles per pair in one
    keyed aggregation. Only pairs sharing at least one shingle are ever
    materialized; cost is sum over shingles of df(s)^2, which is the
    real candidate mass, not n^2.

    The scale knob is ``max_df``: shingles occurring in more than
    ``max_df`` documents are dropped from the INDEX (one tiny df-count
    agg) — ubiquitous boilerplate shingles are what make df(s)^2
    explode, and dropping them turns the intersection into a documented
    lower bound (counts lose only stop-shingle overlap). ``None`` keeps
    the operator exact.

    Order of operations at scale (measured, sf1 NOTES): run EXACT
    dedup first. Large exact-duplicate clusters make every one of
    their shingles high-df, so the candidate mass AND the true pair
    output are quadratic in cluster size — on a 10x-replicated corpus
    this operator honestly materializes the quarter-million true pairs
    (27s) and ``max_df`` cannot help, because there the duplicates ARE
    the boilerplate. After exact dedup, containment sees only the
    asymmetric-quote structure it exists to find.

    Output: ``(id_a, id_b, containment_a, containment_b)`` with
    ``id_a < id_b``, both directions 6-dp rounded, rows where either
    direction ``>= threshold``.
    """
    # precondition filters match size(sh) > 0 exactly (word shingles are
    # non-empty iff >= n tokens, char shingles iff >= n chars; NULL text
    # fails both) but cost one split/length at the scan instead of the
    # pushed-down predicate re-evaluating the whole shingle expression
    # below the projection (the minhash_candidate_pairs fix)
    if kind == "word":
        sh_expr = shingles(tokens(text_col), n=n)
        pre = F.size(tokens(text_col)) >= n
    elif kind == "char":
        sh_expr = char_shingles(text_col, n=n)
        pre = F.length(text_col) >= n
    else:
        raise ValueError(f"kind must be 'word' or 'char', got {kind!r}")
    sh = widen_parallelism(df).filter(pre).select(
        F.col(id_col).alias("id"), sh_expr.alias("sh")
    )
    inv = sh.select(
        "id", F.explode("sh").alias("__g")
    ).withColumn("__g", F.md5("__g")).drop("sh")
    # per-doc shingle counts derive from the exploded index (shingles
    # are distinct per doc, so the count IS the set size) — computing
    # them from `sh` would be a second corpus scan + second shingle
    # pipeline; this is one keyed agg over data already produced
    sizes = inv.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_df is not None:
        hot = inv.groupBy("__g").agg(
            F.count(F.lit(1)).alias("__df")
        ).filter(F.col("__df") > max_df).select("__g")
        inv = inv.join(F.broadcast(hot), "__g", "left_anti")
    x, y = inv.alias("x"), inv.alias("y")
    shared = (
        x.join(y, (F.col("x.__g") == F.col("y.__g"))
               & (F.col("x.id") < F.col("y.id")))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("__na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("__nb"))
    ca = F.round(F.col("__inter").cast("double") / F.col("__na"), 6)
    cb = F.round(F.col("__inter").cast("double") / F.col("__nb"), 6)
    return (
        shared.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b",
                ca.alias("containment_a"), cb.alias("containment_b"))
        .filter((F.col("containment_a") >= threshold)
                | (F.col("containment_b") >= threshold))
    )


def minhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    hasher: str = "md5",
) -> DataFrame:
    """The reusable first half of the LSH pipeline: per-doc MinHash
    signature exploded into ``bands`` rows of
    ``(id, sig, band, band_hash)`` — the exact representation the
    banding bucket join of :func:`minhash_candidate_pairs` keys on, and
    the STATE an incremental fuzzy dedup persists between batches; docs
    with no shingles (< n tokens) produce no rows."""
    if bands <= 0 or num_hashes % bands:
        # silently dropping the trailing num_hashes % bands signature
        # entries would weaken candidate recall with no warning
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes})")
    rows_per_band = num_hashes // bands
    # staged selects: shingles -> their hashes -> mod-reduced hashes ->
    # signature. Each stage's result is a bound column, so nothing
    # expensive is re-inlined per permutation (measured 40x slower when the
    # shingle construction collapsed into the per-hash transforms; string
    # shingles + one xxhash64 each beats hashing token slots directly).
    # The empty-shingle filter runs BEFORE the signature so the pushed-down
    # predicate never re-evaluates the expensive expression, and the final
    # signature is packed behind a one-element explode — a Generate is an
    # optimizer fence, so the banding projections downstream reference the
    # sig ATTRIBUTE instead of re-inlining 32 transforms into each band.
    # Empty-shingle filter as the CHEAP precondition (>= n tokens is one
    # split at the scan) rather than size(hs) > 0 after the projections:
    # the pushed-down deterministic predicate re-evaluated the ENTIRE
    # shingle+sort+distinct+hash expression in a Filter below the Project
    # (the guide §4.4 duplication hazard, Column form — seen as a second
    # full shingle tree in the r14 before-plan). Row set is identical:
    # shingles are non-empty exactly when the doc has >= n tokens.
    sh = widen_parallelism(df).filter(
        F.size(tokens(text_col)) >= n
    ).select(
        F.col(id_col).alias("id"),
        shingles(tokens(text_col), n=n).alias("sh"),
    )
    hashed = sh.select("id", shingle_hashes(F.col("sh"), hasher).alias("hs"))
    # signature: batch-size-gated kernel (same trade as the cosine scorer,
    # similarity.py). Big corpora take the vectorized Arrow/numpy kernel —
    # HOF expressions are interpreted, outside codegen; the numpy batch
    # multiply-mod is ~10x warm on this stage. Small corpora take the
    # native Column formulation: it skips the ~0.5s/worker Python spin-up
    # the first Arrow stage of a session pays (10-20s at local[32] —
    # measured as the r2->r3 cold regression on this very pipeline). Both
    # are element-for-element equal (tested), so the md5 variant REMAINS
    # oracle-checkable end-to-end either way. Fencing: the ArrowEvalPython
    # node is its own optimizer fence; the Column path needs plans.fence()
    # or each of the `bands` band projections would re-inline the whole
    # 32-permutation signature expression.
    # ~320 B/doc on disk for the synthetic corpus
    n_docs = telemetry.est_rows(df, 320)
    if telemetry.arrow_kernel("minhash_signature", n_docs):
        sig = hashed.select(
            "id", _signature_arrow_udf(num_hashes)(F.col("hs")).alias("sig")
        )
    else:
        from ..plans import fence

        sig = fence(
            hashed, ["id"],
            sig=minhash_signature(F.col("hs"), num_hashes, pre_hashed=True),
        ).select("id", "sig")

    def band_hash(b: int) -> Column:
        joined = F.array_join(
            F.transform(
                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                lambda x: x.cast("string"),
            ),
            ",",
        )
        if hasher == "md5":
            return F.md5(joined.cast("binary"))
        return F.xxhash64(joined).cast("string")

    return sig.select(
        "id", "sig",
        F.posexplode(
            F.array(*[band_hash(b) for b in range(bands)])
        ).alias("band", "band_hash"),
    )


def incremental_minhash_dedup(
    batch: DataFrame,
    band_state: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.4,
    hasher: str = "md5",
) -> tuple[DataFrame, DataFrame]:
    """Fuzzy (MinHash-LSH) dedup of a NEW batch against a living corpus
    without rescanning it — the near-dup twin of
    :func:`incremental_dedup`: the corpus exists only as its persisted
    banded-signature state (``bands`` rows x (sig + 16-byte hash) per
    doc; text never moves again).

    Policy (documented, deterministic): a batch doc is REJECTED iff it
    bucket-collides with ANY smaller-id doc — already-seen or in this
    batch — at estimated Jaccard >= ``threshold``. The state keeps
    every SEEN doc's bands (accepted and rejected alike — a rejected
    near-dup still disqualifies later copies). Batches must arrive in
    ASCENDING-ID order — the natural append-shard case, where new docs
    get new, larger ids; then batch-by-batch replay reproduces the
    one-shot "no est >= t pair with a smaller id" rule bit-for-bit
    (unit-pinned). An out-of-order batch holding a SMALLER id than an
    already-accepted doc cannot retroactively reject it — that is the
    inherent asymmetry of any incremental dedup, not a defect of this
    one.

    Scale shape: the batch's bands equi-join the state on
    ``(band, band_hash)`` — only genuinely colliding rows ever pair,
    the corpus never rescans, and the per-batch cost is the batch's
    signature pipeline plus a keyed join against a state table that
    grows 16 bytes x bands per doc.

    Returns ``(survivors, new_state)``: surviving batch rows, and the
    state to persist for the next batch.
    """
    bb = minhash_banded(
        batch, text_col, id_col, num_hashes, bands, n, hasher)
    # bb is consumed twice (probe side + appended into the state union);
    # materialize so the signature pipeline runs once per batch — the
    # caller persists this state anyway
    bb = bb.localCheckpoint(eager=True)
    all_b = band_state.unionByName(bb)
    b, o = bb.alias("b"), all_b.alias("o")
    matches = F.size(F.filter(
        F.zip_with(
            F.col("b.sig"), F.col("o.sig"),
            lambda x, y: (x == y).cast("int")),
        lambda v: v == 1,
    ))
    est = F.round(matches.cast("double") / F.lit(num_hashes), 6)
    rejected = (
        b.join(
            o,
            (F.col("b.band") == F.col("o.band"))
            & (F.col("b.band_hash") == F.col("o.band_hash"))
            & (F.col("o.id") < F.col("b.id")),
        )
        .filter(est >= F.lit(threshold))
        .select(F.col("b.id").alias("__rej"))
        .distinct()
    )
    survivors = batch.join(
        rejected, batch[id_col] == rejected["__rej"], "left_anti")
    return survivors, all_b


def dedup_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    weight_col: str = "weight",
) -> DataFrame:
    """Soft dedup: KEEP every document but weight it ``1 / n`` where
    ``n`` is its exact-duplicate cluster size — so each distinct
    content contributes total mass 1 to the training mixture. The
    alternative to hard dropping when duplicates carry signal (a doc
    repeated across many sources IS more canonical; hard dedup throws
    that away, upweighting nothing — soft dedup preserves the corpus
    marginal while removing the repetition bias).

    One digest-keyed count + one digest-keyed join back — 16-byte
    digests shuffle, text never does. NULL-text rows form one cluster
    (they share the NULL digest) via a null-safe join. Weights are
    6-dp-rounded for engine portability.
    """
    d = df.withColumn("__dg", F.md5(F.col(text_col)))
    sizes = d.groupBy("__dg").agg(F.count(F.lit(1)).alias("__n"))
    s2 = sizes.select(
        F.col("__dg").alias("__dg2"), F.col("__n"))
    return (
        d.join(s2, d["__dg"].eqNullSafe(s2["__dg2"]))
        .withColumn(weight_col, F.round(1.0 / F.col("__n"), RELEASE_DP))
        .drop("__dg", "__dg2", "__n")
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 8,
    base: int = 131,
    mod: int = 1_000_003,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking (the FastCDC/rsync family): split each
    document at positions where a rolling polynomial hash of the last
    ``window`` characters satisfies ``h % divisor == 0`` — so chunk
    BOUNDARIES move with the content, not the offsets. Insert a
    sentence at the front of a document and a fixed-window chunker
    re-digests everything; a CDC chunker re-synchronizes after one
    chunk and every later chunk digest still matches (unit-pinned) —
    which is what makes chunk-level dedup robust to edits.

    Pure Column arithmetic, scan-local, zero shuffle: per-char codes
    via one transform, the rolling hash as an unrolled ``window``-term
    polynomial mod a prime (exact BIGINT — engine-replayable, no
    floating point), boundaries by filter, chunks by a cuts-array walk.
    Documents shorter than ``window`` emit one whole-text chunk. Pure
    CDC: no min/max chunk clamps (documented; production chunkers add
    them — they'd be two more filter terms). Average chunk length on
    non-repetitive text is ~``divisor`` chars.

    Emits ``(id, chunk_idx, start, length, digest)`` with 1-based
    ``start`` and md5 chunk digests — the join key for exact chunk
    dedup across the corpus. The char-code array comes from one
    ``split('')`` pass (O(n); the substr-per-index form costs an O(i)
    seek per char — O(n^2) per doc, measured 3x slower at sf0.1).
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    inner = " + ".join(
        f"CAST(element_at(__codes, i - {j}) AS BIGINT) "
        f"* CAST({pow(base, j, mod)} AS BIGINT)"
        for j in range(window)
    )
    from ..plans import fence

    d = (
        df.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .select(
            F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .withColumn("__n", F.length("__t"))
    )
    # Every level of this pipeline is consumed MULTIPLE times by the
    # next (codes by all `window` hash terms, hashes by every boundary
    # candidate, cuts by three fields per chunk) — each stage goes
    # behind a Generate fence so CollapseProject cannot re-inline the
    # defining transform per use site (the decontamination/minhash
    # staging lesson; unfenced this was O(n^2) re-evaluation per doc).
    d = fence(
        d, ["id", "__t", "__n"],
        # split('') yields the char array in ONE pass — the substr(i, 1)
        # form costs an O(i) UTF-8 seek per char, O(n^2) per doc
        # (measured 3.2 -> 1.1s warm at sf0.1)
        __codes=F.expr("transform(split(__t, ''), c -> ascii(c))"),
    )
    d = fence(
        d, ["id", "__t", "__n"],
        __hs=F.when(
            F.col("__n") >= window,
            F.expr(
                f"transform(sequence({window}, __n), i -> pmod({inner}, {mod}))"),
        ).otherwise(F.expr("CAST(array() AS array<bigint>)")),
    )
    # boundary at i when the window hash divides; the final position is
    # excluded so the closing cut (appended below) is never duplicated
    d = fence(
        d, ["id", "__t", "__n"],
        __b=F.when(
            F.col("__n") >= window,
            F.expr(
                f"filter(sequence({window}, __n - 1), "
                f"i -> pmod(element_at(__hs, i - {window} + 1), {divisor}) = 0)"),
        ).otherwise(F.expr("CAST(array() AS array<int>)")),
    )
    d = fence(
        d, ["id", "__t", "__n"],
        __cuts=F.concat(
            F.expr("array(0)"), F.col("__b"), F.expr("array(__n)")),
    )
    chunks = F.expr(
        "transform(sequence(1, size(__cuts) - 1), k -> struct("
        "k AS chunk_idx, element_at(__cuts, k) + 1 AS start, "
        "element_at(__cuts, k + 1) - element_at(__cuts, k) AS length))")
    return (
        d.select("id", "__t", F.explode(chunks).alias("__c"))
        .select(
            F.col("id").alias(id_col),
            F.col("__c.chunk_idx").alias("chunk_idx"),
            F.col("__c.start").alias("start"),
            F.col("__c.length").alias("length"),
            F.md5(F.expr("substr(__t, __c.start, __c.length)"))
            .alias("digest"),
        )
    )


def cdc_shared_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_shared: int = 1,
    max_df: int = 8,
    window: int = 8,
    base: int = 131,
    mod: int = 1_000_003,
    divisor: int = 64,
) -> DataFrame:
    """Cross-document near-dup pairs from shared CDC chunks — what the
    chunk digests are FOR: two documents sharing ``min_shared``+
    content-defined chunks contain literally identical runs even when
    offsets differ (the edit-robustness :func:`cdc_chunks` pins).

    Scale shape is the containment-pairs pattern: an inverted index on
    the chunk digest, with digests appearing in more than ``max_df``
    documents dropped FIRST (boilerplate headers/footers would
    otherwise quadratically explode the hottest buckets — same guard,
    same reason), then a digest-keyed self-join — candidate pairs
    only, never all-pairs; the join ships 32-byte digests, never text.

    Output: ``(id_a, id_b, n_shared)`` with ``id_a < id_b``, counting
    DISTINCT shared digests.
    """
    chunks = cdc_chunks(
        df, text_col, id_col, window=window, base=base, mod=mod,
        divisor=divisor,
    ).select(F.col(id_col).alias("id"), "digest").distinct()
    rare = chunks.groupBy("digest").agg(
        F.count(F.lit(1)).alias("__df")).filter(F.col("__df") <= max_df)
    pruned = chunks.join(rare.select("digest"), "digest")
    a = pruned.select(F.col("id").alias("id_a"), "digest")
    b = pruned.select(F.col("id").alias("id_b"), "digest")
    return (
        a.join(b, "digest")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


#: dense-regime knobs for :func:`prefix_filter_jaccard_pairs` — see the
#: round-9 sf1 rehearsal note in NOTES.md: prefix filtering collapses
#: when the distinct-gram space is tiny relative to the corpus (the sf1
#: synthetic corpus has 2,821 distinct char-5-grams over 50k docs; ~97%
#: of ALL pairs share a prefix gram, so the candidate join emitted
#: 17.6e9 rows for a 250k-pair answer and OOM'd the 32-thread JVM).
DENSE_GRAM_LIMIT = 8192
DENSE_BLOCK_DOCS = 4096
#: hard ceiling on block count: beyond it the block-pair fan-out
#: (nb²/2 tasks, each doc shipped nb times) and the Θ(N²·G) compute are
#: past the dense path's honest envelope — raise with guidance instead
#: of grinding into an OOM. 1024 blocks × 4096 docs ≈ 4M docs.
DENSE_MAX_BLOCKS = 1024


def _dense_jaccard_pairs(
    grams: DataFrame,
    threshold: float,
    n_grams_distinct: int,
    block_docs: int | None = None,
) -> DataFrame:
    """Exact Jaccard join for the DENSE regime — tiny distinct-gram
    space, huge per-gram document frequency — where prefix filtering
    provably prunes nothing (when avg df is in the thousands, almost
    every pair shares a prefix gram, so the candidate join materializes
    Σ bucket² rows: 70,000× the sf1 answer).

    Strategy: each document becomes a G-bit set-membership vector over
    a dense gram index (G bounded by ``DENSE_GRAM_LIMIT``, so the index
    is codebook-sized metadata); documents split into ``ceil(N/B)``
    blocks and every block PAIR is one ``applyInPandas`` task computing
    the full intersection matrix with one float32 matmul (0/1 entries,
    G < 2^24 ⇒ every partial sum is an exact integer — order-free).
    Jaccard rounds with the HALF_UP replay (the cosine_rounded_arrow
    rule) so results are value-identical to the sparse path's
    ``F.round``. Work is Θ(N²·G) bit-ops at SIMD speed — honest
    quadratic, which is also the OUTPUT's complexity class here (dense
    low-diversity corpora have quadratically many qualifying pairs);
    for corpora too big for that, use MinHash banding instead
    (:func:`minhash_candidate_pairs`), trading exactness for scale."""
    import math

    if block_docs is None:
        block_docs = DENSE_BLOCK_DOCS  # module attr, patchable in tests
    spark = grams.sparkSession
    from pyspark.sql.window import Window as W

    # dense gram index: G rows — bounded metadata, single-partition sort
    # is the codebook convention (never data-sized)
    gid = (
        grams.select("dg").distinct()
        .withColumn("gi", F.row_number().over(W.orderBy("dg")) - 1)
    )
    docvecs = (
        grams.join(F.broadcast(gid), "dg")
        .groupBy("id")
        .agg(F.collect_list("gi").alias("gis"),
             F.count(F.lit(1)).cast("long").alias("sz"))
    ).localCheckpoint(eager=True)
    n_docs = docvecs.count()
    nb = max(1, math.ceil(n_docs / block_docs))
    if nb > DENSE_MAX_BLOCKS:
        raise ValueError(
            f"dense exact-Jaccard path: {n_docs} docs need {nb} blocks "
            f"(> DENSE_MAX_BLOCKS={DENSE_MAX_BLOCKS}); the Θ(N²·G) "
            "exact join is past its honest envelope at this corpus size "
            "— use minhash_candidate_pairs (approximate, sub-quadratic) "
            "or raise the block size knowing the cost")
    pairs = spark.createDataFrame(
        [(i, j) for i in range(nb) for j in range(i, nb)],
        "bi int, bj int")
    blk = F.pmod(F.hash("id"), F.lit(nb))
    d = docvecs.withColumn("blk", blk)
    a_side = d.join(F.broadcast(pairs), F.col("blk") == F.col("bi")) \
        .withColumn("role", F.lit(0))
    b_side = d.join(F.broadcast(pairs), F.col("blk") == F.col("bj")) \
        .withColumn("role", F.lit(1))
    both = a_side.unionByName(b_side).select(
        "bi", "bj", "role", "id", "gis", "sz")

    id_type = dict(docvecs.dtypes)["id"]
    g_total = int(n_grams_distinct)
    thr = float(threshold)

    def _block_kernel(key, pdf):
        import numpy as np
        import pandas as pd

        bi, bj = int(key[0]), int(key[1])
        a = pdf[pdf["role"] == 0]
        b = a if bi == bj else pdf[pdf["role"] == 1]
        empty = pd.DataFrame({
            "id_a": pd.Series([], dtype=pdf["id"].dtype),
            "id_b": pd.Series([], dtype=pdf["id"].dtype),
            "jaccard": pd.Series([], dtype="float64")})
        if a.empty or b.empty:
            return empty

        def mat(part):
            m = np.zeros((len(part), g_total), dtype=np.float32)
            for r, gis in enumerate(part["gis"].to_numpy()):
                m[r, np.asarray(gis, dtype=np.int64)] = 1.0
            return m
        A = mat(a)
        B = A if bi == bj else mat(b)
        inter = A @ B.T  # 0/1 entries, G < 2^24: every cell an exact int
        sa32 = a["sz"].to_numpy().astype(np.float32)
        sb32 = sa32 if bi == bj else b["sz"].to_numpy().astype(np.float32)
        ia_all = a["id"].to_numpy()
        ib_all = ia_all if bi == bj else b["id"].to_numpy()
        # coarse candidate mask IN f32 on the full matrix (the full-f64
        # jaccard on B² cells was 7× the matmul cost): J >= t  ⟺
        # inter·(1+t) >= t·(sa+sb); +8 absolute slack over-covers both
        # f32 rounding (< 4 at 2^25 magnitudes) and the 6-dp HALF_UP
        # boundary, so the mask is a strict superset — exactness comes
        # from the f64 re-check on the (output-sized) survivor list
        mask = (inter * np.float32(1.0 + thr) + np.float32(8.0)
                >= (sa32[:, None] + sb32[None, :]) * np.float32(thr))
        if bi == bj:
            # upper triangle by id: each unordered pair once
            mask &= ia_all[:, None] < ib_all[None, :]
        ii, jj = np.nonzero(mask)
        if not len(ii):
            return empty
        iv = inter[ii, jj].astype(np.float64)
        union = (sa32[ii].astype(np.float64)
                 + sb32[jj].astype(np.float64) - iv)
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = np.where(union > 0, iv / union, 0.0)
        jac = np.floor(jac * 1e6 + 0.5) / 1e6  # HALF_UP replay
        keep = jac >= thr
        ii, jj, jac = ii[keep], jj[keep], jac[keep]
        ia, ib = ia_all[ii], ib_all[jj]
        if bi == bj:
            return pd.DataFrame({"id_a": ia, "id_b": ib, "jaccard": jac})
        # orient cross-block pairs smaller id first
        swap = ~(ia < ib)
        ia2 = np.where(swap, ib, ia)
        ib2 = np.where(swap, ia, ib)
        return pd.DataFrame({"id_a": ia2, "id_b": ib2, "jaccard": jac})

    return both.groupBy("bi", "bj").applyInPandas(
        _block_kernel,
        f"id_a {id_type}, id_b {id_type}, jaccard double")


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    n: int = 5,
    kind: str = "char",
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join. Two physical strategies,
    both returning the SAME pairs as the all-pairs kernel
    :func:`jaccard_pairs` (differential-tested; same oracle):

    **sparse** — PREFIX FILTERING (Chaudhuri et al. ICDE'06 / the
    PPJoin family), the scale path for real text, where the distinct
    gram space is huge and per-gram document frequencies are small:

    - each document's distinct gram digests sort by (global document
      frequency asc, digest) — rarest first;
    - only the first ``|x| - ceil(t*|x|) + 1`` grams (the PREFIX) go
      into the candidate join: any pair with J >= t must share at
      least ``ceil(t*|x|)`` grams, and two sets sharing that much
      cannot have disjoint prefixes under a common total order — so
      recall is exactly 1, a theorem rather than a tuning knob;
    - a length filter (``min ≥ t·max``, guard-banded so 6-dp rounding
      at the boundary can never be pruned) drops size-incompatible
      candidates inside the join;
    - the PPJoin POSITIONAL filter (Xiao et al. WWW'08) prunes inside
      the same join: the first shared token's prefix positions bound
      the overlap by ``min(|x|-i, |y|-j)``, which must reach
      ``⌈t/(1+t)·(|x|+|y|)⌉`` — exact recall (see the inline proof),
      fewer candidates reach verification;
    - candidates verify with two keyed joins counting shared digests
      (|x∩y|), then the exact Jaccard filter.
      16-byte digests shuffle, text never does.

    **dense** — blocked bitset matmul (:func:`_dense_jaccard_pairs`),
    for degenerate corpora whose distinct-gram space is tiny (≤
    ``DENSE_GRAM_LIMIT``) while per-gram document frequency is huge
    (avg df ≥ ``telemetry.ARROW_MIN_WORK["prefix_filter"]``). There
    prefix filtering prunes ~nothing — the round-9 sf1 rehearsal
    measured a 17.6e9-row candidate join (70,000× the 250k-pair answer)
    that OOM'd the JVM — and the throughput-optimal exact plan is
    block-pair matrix intersection counts over the (codebook-sized)
    dense gram index.

    The path is picked per corpus from two bounded aggregates
    (distinct-gram count and average document frequency)."""
    if kind == "word":
        sh_expr = shingles(tokens(text_col), n=n)
    elif kind == "char":
        sh_expr = char_shingles(text_col, n=n)
    else:
        raise ValueError(f"kind must be 'word' or 'char', got {kind!r}")
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    grams = (
        widen_parallelism(df)
        .select(F.col(id_col).alias("id"), F.explode(sh_expr).alias("g"))
        .select("id", F.md5("g").alias("dg"))
        .distinct()
    )
    # both the df-count and the per-doc sort consume `grams`, and the
    # verification joins consume it twice more — materialize once
    grams = grams.localCheckpoint(eager=True)
    gdf = grams.groupBy("dg").agg(F.count(F.lit(1)).alias("__df"))

    # regime stats: two bounded scalars off the checkpointed frame
    stats = gdf.agg(
        F.count(F.lit(1)).alias("g"),
        F.sum("__df").alias("rows")).collect()[0]
    n_distinct = int(stats["g"] or 0)
    avg_df = (float(stats["rows"]) / n_distinct) if n_distinct else 0.0
    # the dense index only exists for a codebook-sized gram space
    if telemetry.arrow_kernel(
            "prefix_filter",
            avg_df if 0 < n_distinct <= DENSE_GRAM_LIMIT else 0.0):
        return _dense_jaccard_pairs(grams, threshold, n_distinct)
    return _sparse_jaccard_pairs(grams, gdf, threshold)


def _sparse_jaccard_pairs(
    grams: DataFrame, gdf: DataFrame, threshold: float
) -> DataFrame:
    """The PPJoin-style prefix-filter path over a distinct
    ``(id, dg)`` digest frame plus its per-digest document-frequency
    frame ``gdf`` (``dg``, ``__df``). Split out so the boundary-pair
    regression test can drive it with synthetic digests at the ~1e6-gram
    scale where the 6-dp release slack matters."""
    ordered = (
        grams.join(gdf, "dg")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(
            F.struct(F.col("__df"), F.col("dg")))).alias("__o"))
    )
    sz = F.size("__o")
    # prefix length must use the SAME slacked threshold as len_ok below:
    # the release filter (round(j,6) >= t) admits pairs whose exact
    # jaccard is as low as t - 5e-7, and for those the lossless-prefix
    # guarantee only holds at the slacked threshold — with the unslacked
    # t, ceil((t-5e-7)*sz) can be one less than ceil(t*sz) (reachable at
    # ~1e6-gram documents), leaving the prefix one gram too short and
    # silently pruning a boundary pair before len_ok ever sees it
    t_eff = float(threshold) - 5e-7 - 1e-9
    lp = sz - F.ceil(F.lit(t_eff) * sz).cast("int") + 1
    prefix = ordered.select(
        "id", sz.alias("__sz"),
        F.posexplode(F.slice("__o", 1, lp)).alias("__pos", "__p"),
    ).select("id", "__sz", F.col("__pos"),
             F.col("__p.dg").alias("dg"))
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    # length filter: J >= t forces min(|x|,|y|) >= t*max(|x|,|y|); the
    # release filter admits pairs whose EXACT jaccard is as low as
    # t - 5e-7 (6-dp HALF_UP rounding), and jaccard <= min/max, so the
    # guard band must cover that rounding slack plus float fuzz or a
    # boundary pair gets wrongly pruned (possible once documents reach
    # ~1e6 distinct grams, where jaccard resolution crosses 5e-7)
    sa, sb = F.col("pa.__sz"), F.col("pb.__sz")
    len_ok = F.least(sa, sb).cast("double") \
        >= (F.lit(t_eff) * F.greatest(sa, sb))
    # POSITIONAL filter (PPJoin, Xiao et al. WWW'08 §3.2; VERDICT r12
    # #9 / r11 #8): for the FIRST token two ordered sets share — at
    # 0-based prefix positions i, j — every other common token sorts
    # after it on both sides, so overlap <= 1 + min(|x|-i-1, |y|-j-1)
    # = min(|x|-i, |y|-j). J >= t needs overlap >= t/(1+t)·(|x|+|y|),
    # and the first shared token provably sits inside BOTH prefixes
    # (if it missed x's prefix, overlap <= ceil(t·|x|)-1 < t·|x|, yet
    # the length filter forces overlap >= t/(1+t)·(|x|+t·|x|) = t·|x|).
    # Per-gram pruning keeps a pair if ANY shared prefix gram passes —
    # the first shared token is among them and carries the loosest
    # bound, so recall stays exactly 1; t_eff keeps the 6-dp release
    # slack from pruning boundary pairs (same discipline as len_ok).
    alpha = F.ceil(
        F.lit(t_eff / (1.0 + t_eff)) * (sa + sb).cast("double"))
    pos_ok = F.least(
        sa - F.col("pa.__pos"), sb - F.col("pb.__pos")) >= alpha
    cands = (
        pa.join(pb, (F.col("pa.dg") == F.col("pb.dg"))
                & (F.col("pa.id") < F.col("pb.id")) & len_ok & pos_ok)
        .select(
            F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"),
            F.col("pa.__sz").alias("__sa"), F.col("pb.__sz").alias("__sb"))
        .distinct()
    )
    ga = grams.select(F.col("id").alias("__ia"), F.col("dg").alias("__da"))
    gb = grams.select(F.col("id").alias("__ib"), F.col("dg").alias("__db"))
    inter = (
        cands.join(ga, cands["id_a"] == ga["__ia"])
        .join(gb, (F.col("id_b") == F.col("__ib"))
              & (F.col("__da") == F.col("__db")))
        .groupBy("id_a", "id_b", "__sa", "__sb")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    jac = F.round(
        F.col("__c").cast("double")
        / (F.col("__sa") + F.col("__sb") - F.col("__c")), 6)
    return (
        inter.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
