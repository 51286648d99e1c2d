"""Similarity search over embedding columns (BASELINE.json north star).

Three paths:
- :func:`cosine_topk` — brute-force exact top-k. The query side is
  broadcast; the corpus is scanned once, cosine folded JVM-side, and top-k
  selected with a per-query window. Exact, oracle-checkable, and the right
  baseline up to ~10⁵ queries x corpus partitions.
- :func:`lsh_bucket_topk` — sign-random-projection LSH: corpus and queries
  are hashed into 2^planes buckets by deterministic hyperplanes (seeded
  numpy, shipped as literals); search only joins matching buckets, cutting
  the scanned fraction to ~1/2^planes per probe (multi-probe widens recall,
  either as a Hamming sweep or query-directed smallest-margin flips).
- :func:`ivf_topk` — inverted-file: a tiny driver-trained spherical-k-means
  quantizer cells the corpus; queries probe their nprobe nearest cells
  (~nprobe/n_centroids scanned). Data-adaptive where SRP is oblivious.
Approximate paths are declared rows-only for the oracle; recall is asserted
against brute force in tests.
"""

from __future__ import annotations

import itertools

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import telemetry
from ..functions import RELEASE_DP
from ..functions.vectors import (  # noqa: F401
    as_double,
    cosine_rounded,
    cosine_rounded_arrow,
)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
    dim: int | None = None,
    est_queries: int | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k: (query_id, cand_id, cosine).

    Ranking uses the ROUNDED cosine with id tie-break, so results are
    deterministic and engine-portable. The scoring kernel follows the
    plan-estimated pair count (corpus x queries, see
    ``telemetry.ARROW_MIN_WORK``): small jobs take the JVM HOF fold (no
    Python worker spin-up), large ones the Arrow einsum kernel. The
    optimizer does not discount ``sizeInBytes`` for filters, so when the
    caller knows the (small, broadcast) query-side cardinality it should
    pass ``est_queries`` — otherwise a `WHERE id < 10` query set is
    estimated at full-table size and the gate leans Arrow."""
    c = corpus.select(
        F.col(id_col).alias("cand_id"), as_double(vec_col).alias("cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec")
    )
    use_arrow = telemetry.arrow_kernel(
        "cosine_topk", telemetry.est_cross_pairs(c, q, dim or 64, est_queries))
    pairs = c.crossJoin(F.broadcast(q))
    return _score_topk(pairs, k, exclude_self, use_arrow=use_arrow)


def _hyperplanes(dim: int, planes: int, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).normal(size=(planes, dim))


def _plane_dots(vec_col, dim: int, planes: int, seed: int):
    """Per-hyperplane signed distances as one array column."""
    h = _hyperplanes(dim, planes, seed)
    dots = []
    for p in range(planes):
        # one ndarray literal per plane, not dim F.lit py4j calls
        # (same plan-construction tax as the r4 Bloom probe, decontam.py)
        plane = F.lit(np.asarray(h[p], dtype=np.float64))
        dots.append(F.aggregate(
            F.zip_with(vec_col, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ))
    return F.array(*dots)


def _dots_to_bucket(dots, planes: int):
    bucket = F.lit(0).cast("long")
    for p in range(planes):
        bucket = bucket + F.when(
            dots[p] > 0, F.lit(2 ** p).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def srp_bucket(vec_col, dim: int, planes: int = 8, seed: int = 42):
    """Sign-random-projection bucket id (0..2^planes-1) as a Column."""
    return _dots_to_bucket(_plane_dots(vec_col, dim, planes, seed), planes)


def directed_mask_budget(planes: int, max_flip: int = 3) -> int:
    """How many distinct query-directed probe masks exist at flip sizes
    1..``max_flip`` — the cap on ``directed_probes``."""
    import math

    return sum(math.comb(planes, r) for r in range(1, min(max_flip, planes) + 1))


def _directed_probe_masks(dots, planes: int, n_probes: int):
    """Query-directed probe sequence: XOR masks of the ``n_probes`` flip
    sets (sizes 1-3) with the smallest summed |signed distance| — the
    planes the query sits closest to are the likeliest to be on the wrong
    side of for a true neighbor, so flip those first. Returns an array
    column of bucket XOR masks ordered best-first. Flip sets are capped
    at size 3 (sum C(planes,1..3) masks): deeper flips have vanishing
    marginal recall per probe — past that budget, use a Hamming sweep
    (``probes=r``) instead."""
    flips = []
    for r in (1, 2, 3):
        if r > planes:
            break
        for combo in itertools.combinations(range(planes), r):
            score = F.abs(dots[combo[0]])
            mask = 1 << combo[0]
            for p in combo[1:]:
                score = score + F.abs(dots[p])
                mask |= 1 << p
            flips.append(F.struct(
                score.alias("s"), F.lit(mask).cast("long").alias("m")))
    ranked = F.array_sort(F.array(*flips))  # lexicographic: score first
    return F.slice(
        F.transform(ranked, lambda x: x.getField("m")), 1, n_probes
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: int = 8,
    seed: int = 42,
    exclude_self: bool = True,
    probes: int | None = None,
    directed_probes: int | None = None,
    target_scan_fraction: float = 0.5,
    est_queries: int | None = None,
) -> DataFrame:
    """Approximate top-k: join only within matching SRP buckets.

    One equi-join on bucket id replaces the cross join — the 100 TB path.
    ``probes``: multi-probe radius in Hamming distance over the bucket code
    — probes=r also searches every bucket within r bit-flips, trading
    sum(C(planes, 1..r))+1 times more query-side rows (cheap, queries are
    the small broadcast side) for better recall. ``directed_probes``: query-directed probing —
    search the primary bucket plus exactly that many extra buckets, chosen
    by flipping the planes with the smallest |signed distance| (1- and
    2-bit flip sets ranked by summed margin). Equal recall to Hamming-1 at
    the same probe count is typical at FAR fewer probes than the full
    radius sweep — the knob to turn at 100 TB. Overrides ``probes`` when
    set. Recall < 1 by design; tests assert recall against
    :func:`cosine_topk`.

    DEFAULT (both probe knobs None): query-directed multi-probe sized
    from ``target_scan_fraction`` — the expected fraction of the corpus
    scanned per query, ``(1 + directed_probes) / 2**planes``. A FIXED
    probe count (the r6 ``3 * planes`` default) gave recall that sank
    with corpus size (0.62 at sf0.01 -> 0.48 at sf0.1 on the synthetic
    random corpus, VERDICT r6 #6) because the scanned fraction, not the
    probe count, is what recall tracks; the fraction knob holds across
    corpus sizes (measured 0.82/0.64 at sf0.01/sf0.1 with the 0.5
    default; NOTES round 7). The probe count is capped by the 1-3 bit
    flip-mask budget (``directed_mask_budget``) — planes >= ~10 can't
    reach high fractions by directed probing (nor should they: at
    production planes counts the whole POINT is a tiny fraction; raise
    the fraction only on small/random corpora). Pass ``probes=r``
    explicitly for a Hamming sweep, or ``directed_probes=n`` for a
    fixed count.
    """
    if directed_probes is None and probes is None:
        if not 0.0 < target_scan_fraction <= 1.0:
            raise ValueError(
                f"target_scan_fraction must be in (0, 1], got "
                f"{target_scan_fraction}")
        import math

        directed_probes = min(
            max(1, math.ceil(target_scan_fraction * (2 ** planes)) - 1),
            directed_mask_budget(planes),
        )
    elif probes is None:
        probes = 0
    c = corpus.select(
        F.col(id_col).alias("cand_id"), as_double(vec_col).alias("cvec")
    ).withColumn("bucket", srp_bucket(F.col("cvec"), dim, planes, seed))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec")
    ).withColumn("_dots", _plane_dots(F.col("qvec"), dim, planes, seed))
    q = q.withColumn("bucket", _dots_to_bucket(F.col("_dots"), planes))
    if directed_probes is not None and directed_probes > 0:
        masks = _directed_probe_masks(F.col("_dots"), planes, directed_probes)
        q = q.withColumn(
            "bucket",
            F.explode(F.concat(
                F.array(F.col("bucket")),
                F.transform(masks, lambda m: F.col("bucket").bitwiseXOR(m)),
            )),
        )
    elif probes >= 1:
        # All buckets within Hamming distance <= probes of the primary
        # bucket: one XOR mask per plane subset of size 1..probes. The mask
        # count is sum(C(planes, r)) — fine for small planes/probes; the
        # explode multiplies only the (small, broadcast) query side.
        masks = [
            sum(1 << p for p in combo)
            for r in range(1, min(probes, planes) + 1)
            for combo in itertools.combinations(range(planes), r)
        ]
        flips = [F.col("bucket")] + [
            F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks
        ]
        q = q.withColumn("bucket", F.explode(F.array(*flips)))
    q = q.drop("_dots")
    # bucketing cuts the scanned fraction to ~n_probed/2^planes
    n_probed = 1 + (
        directed_probes if directed_probes else
        sum(1 for r in range(1, min(probes, planes) + 1)
            for _ in itertools.combinations(range(planes), r))
    )
    est = telemetry.est_cross_pairs(corpus, queries, dim, est_queries)
    use_arrow = telemetry.arrow_kernel(
        "lsh_bucket_topk", est * n_probed / float(2 ** planes))
    pairs = c.join(F.broadcast(q), on="bucket").dropDuplicates(
        ["query_id", "cand_id"]
    )
    return _score_topk(pairs, k, exclude_self, use_arrow=use_arrow)


def _score_topk(
    pairs: DataFrame, k: int, exclude_self: bool, use_arrow: bool = True
) -> DataFrame:
    """Shared ANN tail: cosine-score candidate pairs, per-query top-k with
    rounded-cosine + id tie-break (deterministic, engine-portable).
    The pair stream is the hot loop of every ANN path; ``use_arrow``
    selects the einsum kernel (big batches / warm clusters) or the JVM
    HOF fold (small batches — skips the per-session Python worker
    spin-up). Both produce identical rounded values (the Arrow kernel
    replays Spark's HALF_UP), so the choice is invisible to oracles."""
    if exclude_self:
        pairs = pairs.filter(F.col("cand_id") != F.col("query_id"))
    if use_arrow:
        cos = cosine_rounded_arrow()(F.col("qvec"), F.col("cvec"))
    else:
        cos = cosine_rounded(F.col("qvec"), F.col("cvec"))
    scored = pairs.select("query_id", "cand_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def cosine_radius(
    corpus: DataFrame,
    queries: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    dim: int | None = None,
    est_queries: int | None = None,
) -> DataFrame:
    """Range search: every (query, candidate) pair with ROUNDED cosine
    >= ``tau`` — the radius twin of :func:`cosine_topk` (FAISS
    range_search / pgvector ``<=>`` - threshold queries). Thresholding
    on the rounded score keeps the result set engine-portable: a pair
    sitting exactly on ``tau`` is in or out identically everywhere.

    Kernel selection mirrors ``cosine_topk`` (JVM HOF fold for small
    pair counts, Arrow einsum for large). This exact path scans
    corpus x queries; at corpus scale callers block candidates first
    with the SRP buckets (``srp_bucket``) or IVF cells and verify with
    the same rounded-cosine filter — radius search composes with every
    blocking scheme in this module because the verify step is a plain
    filter, not a per-query top-k window."""
    c = corpus.select(
        F.col(id_col).alias("cand_id"), as_double(vec_col).alias("cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec")
    )
    use_arrow = telemetry.arrow_kernel(
        "cosine_radius",
        telemetry.est_cross_pairs(c, q, dim or 64, est_queries))
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("cand_id") != F.col("query_id"))
    if use_arrow:
        cos = cosine_rounded_arrow()(F.col("qvec"), F.col("cvec"))
    else:
        cos = cosine_rounded(F.col("qvec"), F.col("cvec"))
    return pairs.select(
        "query_id", "cand_id", cos.alias("cosine")
    ).filter(F.col("cosine") >= F.lit(float(tau)))


def bq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: int = 32,
    prefilter: int = 8,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """Binary-quantization kNN — the modern vector-DB fast path
    (pgvector/Qdrant BQ): every vector compresses to ``planes`` SRP
    sign bits packed in ONE BIGINT; candidate generation is a full
    scan of 8-byte codes ranked by Hamming distance (``bit_count`` of
    the XOR — pure codegen, 32-64x less data than the float scan and
    no trig/float seam), keeping ``k * prefilter`` per query; the
    exact rounded-cosine rerank then restores float precision on that
    tiny survivor set.

    Unlike :func:`lsh_bucket_topk` (bucket equality — sub-linear but
    recall depends on probing), the BQ scan reads every CODE, so
    recall is bounded only by the signature's resolution: more planes
    = finer Hamming metric. Deterministic end to end (seeded planes,
    Hamming + id tie-break, rounded-cosine + id rerank)."""
    def _dots_array(vec):
        """All ``planes`` signed distances as ONE array column: the dot
        products fold at RUNTIME over a 2-D plane literal, so the
        expression tree stays O(1) in planes (the Hilbert-unroll
        lesson) — BQ wants 100+ planes where the per-plane Column
        unroll of the probe paths (8-16 planes) would explode."""
        h = _hyperplanes(dim, planes, seed)
        planes_lit = F.array(*[
            F.lit(np.asarray(row, dtype=np.float64)) for row in h])
        return F.transform(
            planes_lit,
            lambda p: F.aggregate(
                F.zip_with(vec, p, lambda x, y: x * y),
                F.lit(0.0), lambda a, x: a + x))

    def _pack_words(dots_col):
        """planes sign bits packed 32 per BIGINT word (the standard BQ
        code layout) from a BOUND dots attribute — packing from the
        defining expression would re-inline the planes x dim fold at
        every bit access (measured: 29s vs 0.5s on 500 rows).
        High-to-low fold (acc*2 + bit) because Spark's lambda surface
        has no variable-shift primitive; the factory closure keeps the
        lambda binary (a default arg reads as a third lambda var)."""
        def _word(base, width):
            return F.aggregate(
                F.sequence(F.lit(width - 1), F.lit(0), F.lit(-1)),
                F.lit(0).cast("long"),
                lambda acc, j: acc * 2 + F.when(
                    F.element_at(dots_col, F.lit(base + 1) + j) > 0,
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            )

        return [
            _word(w0, min(32, planes - w0))
            for w0 in range(0, planes, 32)
        ]

    from ..plans import fence

    n_words = (planes + 31) // 32

    def _arrow_words():
        """Arrow signature kernel: one numpy pass per batch. Bit-
        identical to the HOF path by construction — the dot products
        replay the fold's LEFT-TO-RIGHT summation with a cumsum over
        the dim axis (a matmul's pairwise reduction could flip the
        sign of a dot sitting within an ulp of zero, and the sign IS
        the signature)."""
        import pandas as pd

        h = _hyperplanes(dim, planes, seed)

        def _words(vecs):
            out = []
            for v in vecs:
                x = np.asarray(v, dtype=np.float64)
                prods = x[None, :] * h  # (planes, dim)
                dots = np.cumsum(prods, axis=1)[:, -1]
                bits = dots > 0
                ws = []
                for w0 in range(0, planes, 32):
                    word = 0
                    for j in range(min(32, planes - w0) - 1, -1, -1):
                        word = word * 2 + int(bits[w0 + j])
                    ws.append(word)
                out.append(ws)
            return pd.Series(out)

        return F.pandas_udf(_words, returnType="array<long>")

    use_arrow_sig = telemetry.arrow_kernel(
        "bq_signature",
        telemetry.est_rows(corpus, telemetry.vec_row_bytes(dim)) * planes)

    def _signed(df, id_name, vec_name, prefix):
        if use_arrow_sig:
            udf = _arrow_words()
            with_words = fence(
                df, [id_name, vec_name],
                __words=udf(F.col(vec_name)))
            packed = with_words.select(
                id_name, vec_name,
                *[F.element_at("__words", i + 1).alias(f"{prefix}{i}")
                  for i in range(n_words)])
            return packed
        # two fences: materialize the dots array ONCE per row, pack the
        # words from the bound attribute, then fence the words so the
        # downstream window never re-inlines either stage (the
        # CollapseProject trap, twice over)
        with_dots = fence(
            df, [id_name, vec_name], __dots=_dots_array(F.col(vec_name)))
        packed = fence(
            with_dots, [id_name, vec_name, "__dots"],
            **{f"{prefix}{i}": w
               for i, w in enumerate(_pack_words(F.col("__dots")))})
        return packed.drop("__dots")

    c = _signed(
        corpus.select(
            F.col(id_col).alias("cand_id"),
            as_double(vec_col).alias("cvec")),
        "cand_id", "cvec", "__cs")
    q = _signed(
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double(vec_col).alias("qvec")),
        "query_id", "qvec", "__qs")
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("cand_id") != F.col("query_id"))
    ham_expr = F.lit(0)
    for i in range(n_words):
        ham_expr = ham_expr + F.bit_count(
            F.col(f"__cs{i}").bitwiseXOR(F.col(f"__qs{i}")))
    ham = ham_expr.alias("__ham")
    w = Window.partitionBy("query_id").orderBy(
        F.asc("__ham"), F.asc("cand_id"))
    survivors = (
        pairs.select("query_id", "cand_id", "qvec", "cvec", ham)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k) * int(prefilter))
        .drop("__rn", "__ham")
    )
    return _score_topk(survivors, k, exclude_self=False, use_arrow=False)


def train_ivf_centroids(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_size: int = 2048,
    iters: int = 5,
    seed: int = 42,
) -> np.ndarray:
    """Spherical k-means coarse quantizer, trained driver-side on a
    deterministic sample (ordered by id hash — one bounded TakeOrdered,
    no full shuffle). The quantizer is tiny BY DESIGN: at 100 TB you
    still sample O(10^5) vectors; only the assignment is distributed.
    Returns unit-norm centroids, shape (n_centroids, dim)."""
    rows = (
        corpus.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"))
        .filter(F.size("v") == dim)
        .orderBy(F.xxhash64(F.col("id").cast("string")))
        .limit(sample_size)
        .collect()
    )
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    if len(x) < n_centroids:
        raise ValueError(
            f"sample ({len(x)}) smaller than n_centroids ({n_centroids})"
        )
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), n_centroids, replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for j in range(n_centroids):
            members = x[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
        cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    return cents


def _centroid_dots(vec_col, cents: np.ndarray):
    """Array of <vec, centroid_j> dot products as one Column.

    Kept as the no-Python reference formulation (and for tests); the hot
    path uses :func:`_top_cells_udf` — n_centroids separate HOF
    aggregates over (dim)-literal arrays are interpreted AND cost
    seconds of analysis/codegen on a 64x64 expression tree."""
    dots = []
    for row in cents:
        # one ndarray literal per centroid, not dim F.lit py4j calls
        cvec = F.lit(np.asarray(row, dtype=np.float64))
        dots.append(F.aggregate(
            F.zip_with(vec_col, cvec, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ))
    return F.array(*dots)


def _top_cells_udf(cents: np.ndarray, n: int):
    """Arrow-batched cell assignment: 1-based ids of the ``n`` nearest
    centroids per vector, nearest first. One numpy matmul per batch
    replaces ``n_centroids`` interpreted HOF aggregates (measured ~10x on
    the assignment stage at 40k x 64 x 64). Ties broken by the lower cell
    id (stable argsort), matching ``array_position(dots, array_max)``."""
    import pandas as pd
    from pyspark.sql import types as T

    C = np.ascontiguousarray(cents.T)

    # nb: no type annotations — `from __future__ import annotations` turns
    # them into strings that pandas_udf cannot resolve against module
    # globals (pd is imported locally here); returnType carries the schema
    def kernel(batch):
        if not len(batch):
            return pd.Series([], dtype=object)
        X = np.array(batch.tolist(), dtype=np.float64)
        S = X @ C
        if n == 1:
            top = np.argmax(S, axis=1)[:, None]
        else:
            # argsort of -S is stable -> lowest cell id wins ties
            top = np.argsort(-S, axis=1, kind="stable")[:, :n]
        return pd.Series([(row + 1).tolist() for row in top])

    return F.pandas_udf(kernel, returnType=T.ArrayType(T.LongType()))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    sample_size: int = 2048,
    iters: int = 5,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the k-means sibling of
    :func:`lsh_bucket_topk`.

    A tiny spherical-k-means coarse quantizer (driver-trained on a
    deterministic sample) partitions the corpus into ``n_centroids``
    cells by nearest centroid; each query probes only its ``nprobe``
    closest cells, so the scanned fraction is ~nprobe/n_centroids. One
    equi-join on cell id replaces the cross join; the corpus-side
    assignment is an Arrow-batched numpy matmul (one pass, no shuffle —
    see ``_top_cells_udf``; the pure-Column formulation is kept as
    ``_centroid_dots`` for reference/tests).
    ``nprobe == n_centroids`` degenerates to an exact full scan —
    asserted in tests; recall at lower nprobe is data-dependent.
    """
    cents = train_ivf_centroids(
        corpus, dim, id_col, vec_col,
        n_centroids=n_centroids, sample_size=sample_size,
        iters=iters, seed=seed,
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"), as_double(vec_col).alias("cvec")
    ).withColumn(
        # asNondeterministic: the downstream equi-join on `cell` pushes
        # an isnotnull(cell) filter below this projection, and the
        # optimizer then evaluates the (deterministic) UDF twice — once
        # under the filter, once in the projection (guide §4.4) — i.e.
        # a second full-corpus Python crossing. The barrier keeps one.
        "cell",
        _top_cells_udf(cents, 1).asNondeterministic()(F.col("cvec"))[0]
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec")
    ).withColumn(
        "cell", F.explode(_top_cells_udf(cents, nprobe)(F.col("qvec")))
    )
    pairs = c.join(F.broadcast(q), on="cell")
    # cell assignment above is already an Arrow stage, so the per-session
    # worker spin-up is sunk — the einsum scorer is strictly better here;
    # no batch-size gate needed (unlike cosine_topk/lsh_bucket_topk).
    return _score_topk(pairs, k, exclude_self, use_arrow=True)


def sq_minmax(corpus: DataFrame, vec_col: str, dim: int) -> tuple:
    """Per-dimension (min, max) of the corpus embeddings as two float64
    ndarrays: posexplode + ONE (pos)-keyed aggregation (partial/map-side
    combined — 2*dim doubles per task shuffle, dim rows total), one
    driver collect bounded by dimensionality.

    The r6 shape (``F.min(vec[i])``/``F.max(vec[i])`` generated per
    dimension — 2*dim expressions in one agg) planned fine at dim 64
    but is an 8k-expression plan at production embedding widths
    (1024-4096), blowing codegen limits and planning time (VERDICT r6
    #4). The posexplode shape is the `standardize_embeddings` pattern
    (clustering.py): plan size is CONSTANT in ``dim``."""
    stats = (
        corpus.select(F.posexplode(as_double(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .orderBy("pos")
        .collect()
    )
    if len(stats) != dim:
        raise ValueError(
            f"embeddings have {len(stats)} dimensions, expected {dim}")
    return (
        np.asarray([r["lo"] for r in stats], dtype=np.float64),
        np.asarray([r["hi"] for r in stats], dtype=np.float64),
    )


def sq_quantize(vec, lo: np.ndarray, scale: np.ndarray):
    """int8 scalar quantization of one embedding Column:
    ``clamp(round((x - lo_d) / scale_d), 0, 255) - 128`` per dimension
    — 1 byte/dim instead of 4, entirely JVM-side (the lo/scale tables
    ship as single ndarray literals; r5 lesson: per-element F.lit
    costs ~2.5 ms each). The clamp SATURATES values outside the
    [lo, lo+255·scale] range instead of letting the tinyint cast wrap
    mod 256 (r14 self-review: under FIXED params — the
    ``incremental_embedding_dedup`` sq8 contract, where later batches
    may exceed the calibration corpus's range — a wrapped code
    dequantizes off by multiples of 256·scale; a saturated one is off
    by at most the overshoot, the standard SQ behavior)."""
    lo_lit, scale_lit = F.lit(lo), F.lit(scale)
    return F.transform(
        as_double(vec),
        lambda x, i: (
            F.greatest(
                F.least(
                    F.round((x - F.element_at(lo_lit, i + 1))
                            / F.element_at(scale_lit, i + 1))
                    .cast("int"),
                    F.lit(255)),
                F.lit(0)) - 128
        ).cast("tinyint"),
    )


def sq_dequantize(qvec, lo: np.ndarray, scale: np.ndarray):
    """Reconstruction: ``(q + 128) * scale_d + lo_d`` per dimension."""
    lo_lit, scale_lit = F.lit(lo), F.lit(scale)
    return F.transform(
        qvec,
        lambda q, i: (q.cast("double") + F.lit(128.0))
        * F.element_at(scale_lit, i + 1) + F.element_at(lo_lit, i + 1),
    )


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    overfetch: int = 4,
    exclude_self: bool = True,
    est_queries: int | None = None,
) -> DataFrame:
    """Approximate top-k over an int8 scalar-quantized corpus with exact
    re-ranking — the memory/bandwidth arm of the ANN family (IVF-SQ's
    "SQ" half): the corpus representation that gets scanned, cached, and
    shuffled is 1 byte/dimension instead of 4 (a 100 TB float corpus
    becomes ~25 TB), at the cost of a re-rank join over the surviving
    candidates.

    Stage 1 scores ``overfetch * k`` candidates per query against the
    DEQUANTIZED int8 vectors (pure Column arithmetic, broadcast query
    side, one corpus scan); stage 2 joins the winners back to the
    full-precision vectors and re-ranks exactly, so the top-k ORDER and
    COSINES are exact whenever the true top-k survive stage 1 (recall
    asserted >= floor in the gate; quantization error at 255 levels is
    ~0.4% of each dim's range, so overfetch=4 is generous).

    Quantizer bounds come from :func:`sq_minmax` (one agg + one bounded
    collect); constant dimensions get scale 1 so dequantization is exact.
    """
    lo, hi = sq_minmax(corpus, vec_col, dim)
    scale = (hi - lo) / 255.0
    scale[scale == 0.0] = 1.0
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        sq_quantize(vec_col, lo, scale).alias("q8"),
    )
    # stage 1: approximate scores on the compressed representation
    cq = c.select("cand_id", sq_dequantize(F.col("q8"), lo, scale).alias("cvec"))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec")
    )
    use_arrow = telemetry.arrow_kernel(
        "sq_topk",
        telemetry.est_cross_pairs(corpus, queries, dim, est_queries))
    cand = _score_topk(
        cq.crossJoin(F.broadcast(q)), overfetch * k, exclude_self,
        use_arrow=use_arrow,
    ).select("query_id", "cand_id")
    # stage 2: exact re-rank of the bounded candidate set
    full = corpus.select(
        F.col(id_col).alias("cand_id"), as_double(vec_col).alias("cvec")
    )
    pairs = cand.join(full, "cand_id").join(F.broadcast(q), "query_id")
    return _score_topk(pairs, k, exclude_self, use_arrow=use_arrow)


def train_pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 2048,
    iters: int = 4,
    seed: int = 42,
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): the vector
    splits into ``m`` subvectors of dim/m; each subspace gets its own
    ``ksub``-centroid k-means codebook, trained driver-side on the same
    bounded hash-ordered sample as the IVF quantizer. Returns shape
    (m, ksub, dim // m).

    ksub is capped at the sample size (tiny gate corpora can't fill 256
    centroids; at production scale the 2048-vector sample does)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    rows = (
        corpus.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"))
        .filter(F.size("v") == dim)
        .orderBy(F.xxhash64(F.col("id").cast("string")))
        .limit(sample_size)
        .collect()
    )
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    ksub = min(ksub, len(x))
    rng = np.random.RandomState(seed)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = x[:, j * dsub:(j + 1) * dsub]
        cents = sub[rng.choice(len(sub), ksub, replace=False)]
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            # grouped means via ONE stable argsort instead of ksub
            # boolean-mask scans (8192 mask+alloc passes per training
            # at m=8/ksub=256/iters=4 — the measured driver hotspot of
            # the PQ gates). Bit-identical: a stable sort keeps each
            # group's rows in original order, so np.mean sees the same
            # array the mask produced. Empty clusters keep their
            # previous centroid, as before.
            order = np.argsort(assign, kind="stable")
            sa = assign[order]
            starts = np.flatnonzero(np.r_[True, np.diff(sa) != 0])
            bounds = np.r_[starts, len(sa)]
            for bi in range(len(bounds) - 1):
                c = int(sa[bounds[bi]])
                cents[c] = sub[order[bounds[bi]:bounds[bi + 1]]].mean(axis=0)
        books[j] = cents
    return books


def _pq_encode_udf(books: np.ndarray):
    """Arrow kernel: vector batch -> m smallint codes (argmin L2 per
    subspace). ||x_j - c||^2 = ||x_j||^2 - 2<x_j,c> + ||c||^2; the
    ||x_j||^2 term is constant per row, so argmin needs only the matmul
    and the centroid norms — one einsum per subspace per batch."""
    import pandas as pd

    m, ksub, dsub = books.shape
    cnorm = (books ** 2).sum(axis=2)  # (m, ksub)

    def encode(vs):
        x = np.array(vs.tolist(), dtype=np.float64)  # (n, dim)
        codes = np.empty((len(x), m), dtype=np.int16)
        for j in range(m):
            sub = x[:, j * dsub:(j + 1) * dsub]
            scores = cnorm[j][None, :] - 2.0 * (sub @ books[j].T)
            codes[:, j] = scores.argmin(axis=1)
        return pd.Series(list(codes))

    return F.pandas_udf(encode, returnType="array<smallint>")


def _pq_decode_udf(books: np.ndarray):
    """Arrow kernel: m codes -> reconstructed vector (concatenated
    per-subspace centroids). Reconstruction scoring is mathematically
    identical to the classic ADC lookup-table sum: dot(q, x') =
    sum_j dot(q_j, c_{j,code_j})."""
    import pandas as pd

    m, ksub, dsub = books.shape

    def decode(codes):
        c = np.array(codes.tolist(), dtype=np.int64)  # (n, m)
        out = np.empty((len(c), m * dsub), dtype=np.float64)
        for j in range(m):
            out[:, j * dsub:(j + 1) * dsub] = books[j][c[:, j]]
        return pd.Series(list(out))

    return F.pandas_udf(decode, returnType="array<double>")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    ksub: int = 256,
    overfetch: int = 8,
    exclude_self: bool = True,
    sample_size: int = 2048,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k over a PRODUCT-QUANTIZED corpus with exact
    re-ranking — the aggressive-compression arm of the ANN family: each
    vector stores as ``m`` byte codes (64-dim float32 = 256 B -> 8 B,
    32x), the representation IVF-PQ systems scan at billion-vector
    scale. Coarser than SQ (whole subspaces snap to shared centroids),
    hence the larger default overfetch before the exact re-rank.

    Stage 1 scores reconstructed vectors (mathematically identical to
    the ADC table-sum) — both encode and decode are Arrow einsum
    kernels, so the session worker spin-up is already paid and
    `_score_topk` runs its Arrow path. Stage 2 re-ranks the
    ``overfetch * k`` survivors on full-precision vectors; recall is
    asserted against brute force in the gate, not assumed."""
    books = train_pq_codebooks(
        corpus, dim, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col,
        sample_size=sample_size, seed=seed,
    )
    telemetry.record_kernel("pq_topk", "arrow")
    codes = corpus.select(
        F.col(id_col).alias("cand_id"),
        _pq_encode_udf(books)(as_double(vec_col)).alias("pq"),
    )
    recon = codes.select(
        "cand_id", _pq_decode_udf(books)(F.col("pq")).alias("cvec"))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec")
    )
    cand = _score_topk(
        recon.crossJoin(F.broadcast(q)), overfetch * k, exclude_self,
        use_arrow=True,
    ).select("query_id", "cand_id")
    full = corpus.select(
        F.col(id_col).alias("cand_id"), as_double(vec_col).alias("cvec")
    )
    pairs = cand.join(full, "cand_id").join(F.broadcast(q), "query_id")
    return _score_topk(pairs, k, exclude_self, use_arrow=True)


def rp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    in_dim: int,
    rp_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    overfetch: int = 4,
    exclude_self: bool = True,
    seed: str = "rp",
    est_queries: int | None = None,
) -> DataFrame:
    """Approximate top-k via random-projection prefilter + exact re-rank
    — the dimensionality arm of the ANN family (next to SQ's precision
    arm and IVF/LSH's candidate-count arms): stage 1 scores
    ``overfetch * k`` candidates per query in the JL-projected
    ``rp_dim`` space (distance kernels and any cached/shuffled
    representation shrink by ``in_dim / rp_dim``), stage 2 re-ranks the
    survivors on the full-precision vectors, so the output order and
    cosines are exact whenever the true top-k survive the prefilter
    (JL distance preservation makes that the overwhelming case;
    recall-floor asserted in the gate).

    The projection is the deterministic md5-seeded sign matrix of
    :func:`~.clustering.random_projection` — no training, and both
    sides project with the SAME literals, scan-local. Composes with
    the IVF/LSH bucketing upstream for sub-linear candidate generation
    on top of the cheaper representation.
    """
    from .clustering import random_projection

    cp = random_projection(
        corpus, id_col, vec_col, in_dim, rp_dim, seed
    ).select(F.col(id_col).alias("cand_id"), F.col("zvec").alias("cvec"))
    qp = random_projection(
        queries, id_col, vec_col, in_dim, rp_dim, seed
    ).select(F.col(id_col).alias("query_id"), F.col("zvec").alias("qvec"))
    use_arrow = telemetry.arrow_kernel(
        "rp_topk",
        telemetry.est_cross_pairs(corpus, queries, in_dim, est_queries))
    cand = _score_topk(
        cp.crossJoin(F.broadcast(qp)), overfetch * k, exclude_self,
        use_arrow=use_arrow,
    ).select("query_id", "cand_id")
    full = corpus.select(
        F.col(id_col).alias("cand_id"), as_double(vec_col).alias("cvec"))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec"))
    pairs = cand.join(full, "cand_id").join(F.broadcast(q), "query_id")
    return _score_topk(pairs, k, exclude_self, use_arrow=use_arrow)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 256,
    overfetch: int = 8,
    sample_size: int = 2048,
    iters: int = 5,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF+PQ composed ANN — the ACTUAL billion-vector architecture
    (Jégou et al. 2011, the FAISS IVFPQ layout): the coarse quantizer
    restricts each query to ``nprobe`` of ``n_centroids`` cells, PQ
    codes (``m`` bytes/vector) score the survivors via reconstructed
    vectors (== the ADC table sum), and an exact re-rank on
    full-precision vectors tops it off. Three multiplicative savings
    stack: scan fraction ~nprobe/n_centroids, representation 32x
    smaller, exact arithmetic only on overfetch*k rows per query.

    The plan: cell assignment and PQ encode/decode are Arrow einsum
    stages over the ONE corpus scan; the probe is an equi-join on cell
    id against the broadcast exploded queries; both scoring stages run
    `_score_topk`'s Arrow path. Nothing is ever corpus x queries.
    Recall floors are asserted in the gate at BOTH driven SFs (the r7
    ANN rule), never assumed."""
    cents = train_ivf_centroids(
        corpus, dim, id_col, vec_col,
        n_centroids=n_centroids, sample_size=sample_size,
        iters=iters, seed=seed,
    )
    books = train_pq_codebooks(
        corpus, dim, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col,
        sample_size=sample_size, seed=seed,
    )
    telemetry.record_kernel("ivf_pq_topk", "arrow")
    # one corpus pass: cell id + reconstructed (ADC-equivalent) vector
    c = corpus.select(
        F.col(id_col).alias("cand_id"), as_double(vec_col).alias("__fv")
    ).select(
        "cand_id",
        # asNondeterministic: stop the join's pushed isnotnull(cell)
        # filter from duplicating the full-corpus cell-assignment UDF
        # (guide §4.4 — one ArrowEvalPython instead of two).
        _top_cells_udf(cents, 1).asNondeterministic()(
            F.col("__fv"))[0].alias("cell"),
        _pq_decode_udf(books)(
            _pq_encode_udf(books)(F.col("__fv"))).alias("cvec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec")
    ).withColumn(
        "cell", F.explode(_top_cells_udf(cents, nprobe)(F.col("qvec")))
    )
    cand = _score_topk(
        c.join(F.broadcast(q), "cell"), overfetch * k, exclude_self,
        use_arrow=True,
    ).select("query_id", "cand_id")
    full = corpus.select(
        F.col(id_col).alias("cand_id"), as_double(vec_col).alias("cvec"))
    pairs = cand.join(full, "cand_id").join(
        F.broadcast(queries.select(
            F.col(id_col).alias("query_id"),
            as_double(vec_col).alias("qvec"))), "query_id")
    return _score_topk(pairs, k, exclude_self, use_arrow=True)


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the retrieval-diversification step after any ANN stage:
    from each query's exact top-``pool`` cosine candidates, greedily
    select ``k`` by

        MMR(d) = λ·sim(q, d) − (1−λ)·max_{s ∈ S} sim(d, s)

    so near-duplicates of an already-selected result are penalized
    out (λ=1 is plain top-k; λ→0 maximizes spread). Returns
    ``(query_id, rank, cand_id, mmr_score)``.

    Determinism: relevance and candidate-candidate similarities both
    snap to 6 dp before the greedy loop, the step score is the one
    fixed expression ``λ·rel − (1−λ)·ms`` on those snapped doubles,
    and ties break on ascending candidate id — so the whole greedy
    trajectory replays exactly (the oracle unrolls it step by step in
    SQL). Scale shape: the quadratic part is pool², computed inside
    one `applyInPandas` group per query — each query's pool ships
    ONCE (pool × dim floats); nothing corpus-quadratic anywhere."""
    import pandas as pd

    rel = cosine_topk(
        corpus, queries, id_col=id_col, vec_col=vec_col, k=pool,
        est_queries=None,
    ).select("query_id", "cand_id", F.col("cosine").alias("__rel"))
    cvecs = corpus.select(
        F.col(id_col).alias("cand_id"), as_double(vec_col).alias("__cv"))
    grp = rel.join(cvecs, "cand_id")
    one_minus = 1.0 - lam

    scale = float(10 ** RELEASE_DP)

    def _hu(x):
        # HALF_UP replay of SQL round() — numpy/python round is
        # half-even (the cosine_rounded_arrow rule)
        return np.where(
            np.asarray(x) >= 0,
            np.floor(np.asarray(x) * scale + 0.5) / scale,
            np.ceil(np.asarray(x) * scale - 0.5) / scale)

    def _greedy(pdf):
        pdf = pdf.sort_values("cand_id").reset_index(drop=True)
        x = np.stack(pdf["__cv"].to_numpy()).astype(np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", x, x))
        den = np.outer(norms, norms)
        with np.errstate(divide="ignore", invalid="ignore"):
            # zero-norm => similarity 0.0 (the package convention) — a
            # NaN here would poison every MMR score it touches
            sims = _hu(np.where(den > 0, (x @ x.T) / den, 0.0))
        relv = pdf["__rel"].to_numpy(dtype=np.float64)
        ids = pdf["cand_id"].to_numpy()
        n = len(ids)
        chosen: list[int] = []
        out = []
        for rank in range(1, min(k, n) + 1):
            best = None
            for i in range(n):
                if i in chosen:
                    continue
                ms = max((sims[i, j] for j in chosen), default=0.0)
                score = lam * relv[i] - one_minus * ms
                cand = (score, -int(ids[i]), i)
                if best is None or cand > best:
                    best = cand
            score, _, i = best
            chosen.append(i)
            out.append((int(pdf["query_id"].iloc[0]), rank,
                        int(ids[i]), float(_hu(score))))
        return pd.DataFrame(
            out, columns=["query_id", "rank", "cand_id", "mmr_score"])

    return grp.groupBy("query_id").applyInPandas(
        _greedy, "query_id long, rank int, cand_id long, mmr_score double")


def count_profile_topk_pairs(
    df: DataFrame,
    id_col: str,
    type_col: str,
    k: int = 3,
    block_rows: int = 4096,
    max_types: int = 4096,
) -> DataFrame:
    """Top-k most-similar HIGHER-ID partners per entity by cosine over
    categorical COUNT PROFILES (the behavioral audience-lookalike
    primitive): each entity's vector is its per-``type_col`` event
    counts, ``cosine(a,b) = Σ nₐnᵦ / (‖a‖‖b‖)``, and each ``id_a``
    keeps its ``k`` best ``id_b > id_a`` (cosine desc, id asc
    tie-break).

    Scale lesson (round-9 sf1 rehearsal — the same degenerate regime
    as the dense Jaccard path): the textbook "inverted index on the
    type key" pair join is an ALL-PAIRS join whenever the type
    vocabulary is tiny — with 5 event types every entity pair shares
    every type, so the join materialized N²/2 wide rows through a
    shuffle (881 s at 15k users for a 45k-row answer). Here the
    vocabulary is BOUNDED BY DEFINITION (it is a categorical column),
    so the right physical plan is dense: pivot counts to a
    |types|-wide vector (one shuffle to entity grain), then blocked
    all-pairs matmul — one ``applyInPandas`` task per block pair, and
    each task emits only its LOCAL top-k per ``id_a`` (top-k under a
    total order is distributive, so a global top-k over ``k·nb``
    partials per entity is exact). Nothing N²-sized is ever
    materialized; compute is N²·|types| multiply-adds at SIMD speed.

    NULL types follow SQL equi-join semantics: they contribute to the
    NORM (they are real events in the profile) but never to a dot
    product (NULL joins nothing) — kept as a separate norm-only
    component so an SQL oracle replays exactly. Integer dots are exact
    in float64; rounding replays Spark's HALF_UP at 6 dp.

    Returns ``(id_a, id_b, cosine)``, the exact result of the join
    formulation (differential-tested against it)."""
    import math

    spark = df.sparkSession
    c = df.groupBy(
        F.col(id_col).alias("__id"), F.col(type_col).alias("__ty")
    ).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    # bounded probe BEFORE the full collect: a mistakenly data-sized
    # type_col must raise here, not OOM the driver materializing every
    # distinct value first
    probe = (
        c.select("__ty").filter(F.col("__ty").isNotNull())
        .distinct().limit(max_types + 1).collect())
    if len(probe) > max_types:
        raise ValueError(
            f"count_profile_topk_pairs: more than max_types="
            f"{max_types} distinct types; a vocabulary this wide is "
            "the SPARSE regime — call profile_topk_pairs_sparse (the "
            "inverted-index twin; same contract). If the column is "
            "genuinely categorical, raise max_types instead.")
    types = sorted(r["__ty"] for r in probe)
    vec = F.array(*[
        F.coalesce(
            F.sum(F.when(F.col("__ty") == F.lit(t), F.col("__n"))),
            F.lit(0)).cast("double")
        for t in types])
    nullcnt = F.coalesce(
        F.sum(F.when(F.col("__ty").isNull(), F.col("__n"))),
        F.lit(0)).cast("double")
    prof = c.groupBy("__id").agg(
        vec.alias("__v"), nullcnt.alias("__nulln"))
    prof = prof.localCheckpoint(eager=True)
    n_ids = prof.count()
    nb = max(1, math.ceil(n_ids / block_rows))
    pairs = spark.createDataFrame(
        [(i, j) for i in range(nb) for j in range(i, nb)],
        "bi int, bj int")
    d = prof.withColumn("__blk", F.pmod(F.hash("__id"), F.lit(nb)))
    a_side = d.join(F.broadcast(pairs), F.col("__blk") == F.col("bi")) \
        .withColumn("__role", F.lit(0))
    b_side = d.join(F.broadcast(pairs), F.col("__blk") == F.col("bj")) \
        .withColumn("__role", F.lit(1))
    both = a_side.unionByName(b_side).select(
        "bi", "bj", "__role", "__id", "__v", "__nulln")
    id_type = dict(prof.dtypes)["__id"]
    kk = int(k)
    scale = float(10 ** RELEASE_DP)

    def _block_kernel(key, pdf):
        import numpy as np
        import pandas as pd

        bi, bj = int(key[0]), int(key[1])
        a = pdf[pdf["__role"] == 0]
        b = a if bi == bj else pdf[pdf["__role"] == 1]
        empty = pd.DataFrame({
            "id_a": pd.Series([], dtype=pdf["__id"].dtype),
            "id_b": pd.Series([], dtype=pdf["__id"].dtype),
            "cosine": pd.Series([], dtype="float64")})
        if a.empty or b.empty:
            return empty

        def mats(part):
            m = np.array(part["__v"].tolist(), dtype=np.float64)
            nulln = part["__nulln"].to_numpy().astype(np.float64)
            nrm = np.sqrt(
                np.einsum("ij,ij->i", m, m) + nulln * nulln)
            return m, nrm
        A, na = mats(a)
        B, nb_ = (A, na) if bi == bj else mats(b)
        dots = A @ B.T
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(
                (na[:, None] > 0) & (nb_[None, :] > 0),
                dots / (na[:, None] * nb_[None, :]), 0.0)
        cos = np.where(cos >= 0, np.floor(cos * scale + 0.5) / scale,
                       np.ceil(cos * scale - 0.5) / scale)
        ia = a["__id"].to_numpy()
        ib = ia if bi == bj else b["__id"].to_numpy()
        lt = ia[:, None] < ib[None, :]
        out_a, out_b, out_c = [], [], []

        def local_topk(rows, cols, mat, mask):
            # vectorized k-th-largest threshold per row, then the exact
            # (-cos, id) tie-break only over the tiny >=threshold set —
            # ties at the boundary (common after 6-dp rounding) stay
            # id-deterministic without a full per-row Python sort
            masked = np.where(mask, mat, -np.inf)
            width = masked.shape[1]
            if width == 0:
                return
            if width > kk:
                kth = np.partition(masked, width - kk, axis=1)[:, width - kk]
            else:
                kth = np.full(masked.shape[0], -np.inf)
            for r in range(len(rows)):
                # isfinite guard: with kth == -inf (short rows) the
                # masked-out -inf cells would satisfy >= kth
                sel = np.nonzero(
                    (masked[r] >= kth[r]) & np.isfinite(masked[r]))[0]
                if not len(sel):
                    continue
                cand = sorted(
                    ((mat[r, j], cols[j]) for j in sel),
                    key=lambda t: (-t[0], t[1]))[:kk]
                for cval, cid in cand:
                    out_a.append(rows[r])
                    out_b.append(cid)
                    out_c.append(cval)

        # candidates must have the LARGER id; in a cross block either
        # side can be the smaller, so run both orientations. dots == 0
        # pairs (no shared non-null type) never become candidates: the
        # inverted-index join this kernel equals emits NO row for them,
        # so a zero-cosine row here would be a phantom partner for
        # entities with < k positive-cosine neighbours
        pos = dots > 0
        local_topk(ia, ib, cos, lt & pos)
        if bi != bj:
            local_topk(ib, ia, cos.T, (~lt.T) & pos.T)
        if not out_a:
            return empty
        return pd.DataFrame(
            {"id_a": out_a, "id_b": out_b, "cosine": out_c})

    partials = both.groupBy("bi", "bj").applyInPandas(
        _block_kernel, f"id_a {id_type}, id_b {id_type}, cosine double")
    from pyspark.sql.window import Window as W

    w = W.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        partials.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= kk).drop("__rn")
    )


def profile_topk_pairs_sparse(
    df: DataFrame,
    id_col: str,
    type_col: str,
    k: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """The WIDE-VOCABULARY twin of :func:`count_profile_topk_pairs` —
    identical contract (``(id_a, id_b, cosine)``; each ``id_a`` keeps
    its ``k`` best ``id_b > id_a`` by 6-dp cosine desc, id asc
    tie-break; NULL types contribute to the norm but join nothing;
    no-shared-type pairs emit NO row), different physical plan: the
    inverted-index pair join, which is the RIGHT shape when the type
    vocabulary is large (URLs, SKUs, tokens as types) because each
    posting list is short and only genuinely co-occurring pairs ever
    materialize.

    Regime guidance (the round-9 sf1 lesson, inverted): with a TINY
    vocabulary every posting list is corpus-sized and this join is
    all-pairs in disguise — that regime belongs to
    :func:`count_profile_topk_pairs`'s blocked matmul. The two are
    differential-pinned equal on corpora where both run. Hot-type skew
    is the inherited caveat of any inverted index — and with
    zipf-popular types (URLs, SKUs: the NORM, not the edge case) one
    corpus-frequency type makes the pair join all-pairs-sized,
    measured immediately on the first synthetic zipf rehearsal. So the
    df-cap is built in: with ``max_df`` set, types whose posting list
    (distinct entities carrying the type) exceeds it are excluded from
    DOT PRODUCTS but keep their norm mass — exactly the NULL-type
    convention, because a type shared by "everyone" carries ~zero
    cosine signal while its events are still real profile mass.
    ``max_df=None`` (default) is the exact join; production corpora
    with zipf types should set it.

    Exactness: dots are sums of long products (order-free exact
    integer arithmetic), the cosine divides once in float64 and rounds
    HALF_UP at 6 dp — bit-identical to the dense kernel's replay.
    Scale bound (r12 overflow audit): a single long product caps at
    ~3e9 events for ONE (entity, type) cell — beyond that the pair
    join needs a decimal variant (deliberately not paid here: decimal
    math in the hot join would tax every realistic corpus for a
    pathological one; DuckDB's SUM auto-promotes to HUGEINT, so the
    oracle side is already safe)."""
    c = df.groupBy(
        F.col(id_col).alias("__id"), F.col(type_col).alias("__ty")
    ).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    # four consumers read this profile table (norms, the df-cap probe,
    # and both sides of the pair join) — materialize ONCE so the
    # input scan+agg doesn't replay per consumer (the dense twin's
    # `prof` checkpoint policy; measured 4.11s -> ~2.6s warm at sf0.1)
    c = c.localCheckpoint(eager=True)
    # NOTE (r14, measured and REJECTED): AQE coalesces this checkpoint
    # to bytes-sized partitions (~6 MB -> 5 at sf0.1), so the pair-join
    # probe runs 5-wide on 32 slots — but round-robin re-widening made
    # the query SLOWER (3.6 -> 4.1 s warm): the widen exchange is not
    # reused across the four consumers (4 extra shuffles of c), and
    # losing the groupBy's hash co-location cut map-side pair
    # pre-aggregation, growing the pair shuffle 29 -> 79 MB. The
    # narrow probe stage costs ~1.1 s wall here and disappears at
    # scale, where the agg output exceeds advisory size x slots.
    # norms over ALL profile rows — NULL-type events are real mass
    nrm = c.groupBy("__id").agg(
        F.sqrt(F.sum(F.col("__n") * F.col("__n")).cast("double"))
        .alias("__nrm"))
    cc = c.filter(F.col("__ty").isNotNull())
    if max_df is not None:
        # posting-list cap: hot types leave the join side only — norms
        # above were already taken over the FULL profile, so capped
        # types stay norm-only (the NULL-type convention)
        hot = (
            cc.groupBy("__ty").agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > int(max_df)).select("__ty"))
        cc = cc.join(F.broadcast(hot), "__ty", "left_anti")
    a = cc.select(
        "__ty", F.col("__id").alias("id_a"), F.col("__n").alias("__na"))
    b = cc.select(
        "__ty", F.col("__id").alias("id_b"), F.col("__n").alias("__nb"))
    dots = (
        a.join(b, "__ty")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("__na") * F.col("__nb")).alias("__dot"))
    )
    na = nrm.select(F.col("__id").alias("id_a"), F.col("__nrm").alias("__ra"))
    nb = nrm.select(F.col("__id").alias("id_b"), F.col("__nrm").alias("__rb"))
    from pyspark.sql.window import Window as W

    w = W.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    # rounding replays the dense kernel's floor(x*scale+0.5)/scale
    # (cosines here are nonnegative: counts are nonnegative longs), NOT
    # F.round — Spark's round is BigDecimal HALF_UP over the double's
    # exact binary expansion, which on rare values disagrees with the
    # float-multiply replay at the .5 boundary and would flip a 6-dp
    # tie-break between the twins; bit-identical twins is the contract
    scale = float(10 ** RELEASE_DP)
    cos_raw = F.col("__dot").cast("double") / (F.col("__ra") * F.col("__rb"))
    cos_rep = F.floor(cos_raw * F.lit(scale) + F.lit(0.5)) / F.lit(scale)
    return (
        dots.join(na, "id_a").join(nb, "id_b")
        .select("id_a", "id_b", cos_rep.alias("cosine"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k)).drop("__rn")
    )


def cosine_pairs_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    dim: int | None = None,
    block_rows: int = 4096,
) -> DataFrame:
    """EXACT all-pairs cosine join: every (id_a < id_b) pair whose 6-dp
    HALF_UP-rounded cosine reaches ``threshold`` — the verifier kernel
    behind embedding near-dup gates (at 100 TB the SRP-LSH buckets
    generate candidates first; THIS kernel is what verifies them and
    what small-corpus gates run outright).

    The kernel follows the estimated pair count (``n²/2`` against
    ``telemetry.ARROW_MIN_WORK``): small, the JVM theta-join + HOF fold
    (no Python worker spin-up); large, the blocked matrix kernel —
    one ``applyInPandas`` task per block pair, one einsum per task,
    pairs materialized only ABOVE the threshold (output-sized). The
    round-9 sf1 rehearsal measured the HOF fold at ~40µs/pair grinding
    2×10⁸ pairs; the blocked kernel does the same exact arithmetic at
    matmul speed (both kernels replay HALF_UP at 6 dp —
    differential-pinned equal)."""
    import math

    e = df.select(
        F.col(id_col).alias("__id"), as_double(vec_col).alias("__v")
    ).filter(F.col("__v").isNotNull())
    n = telemetry.est_rows(e, telemetry.vec_row_bytes(dim or 64))
    thr = float(threshold)
    if not telemetry.arrow_kernel("cosine_pairs_exact", n * n / 2):
        from ..functions.vectors import cosine_rounded

        a, b = e.alias("a"), e.alias("b")
        return (
            a.join(b, F.col("a.__id") < F.col("b.__id"))
            .select(
                F.col("a.__id").alias("id_a"),
                F.col("b.__id").alias("id_b"),
                cosine_rounded(
                    F.col("a.__v"), F.col("b.__v")).alias("cosine"),
            )
            .filter(F.col("cosine") >= thr)
        )

    spark = df.sparkSession
    e = e.localCheckpoint(eager=True)
    n_ids = e.count()
    nb = max(1, math.ceil(n_ids / block_rows))
    pairs = spark.createDataFrame(
        [(i, j) for i in range(nb) for j in range(i, nb)],
        "bi int, bj int")
    d = e.withColumn("__blk", F.pmod(F.hash("__id"), F.lit(nb)))
    a_side = d.join(F.broadcast(pairs), F.col("__blk") == F.col("bi")) \
        .withColumn("__role", F.lit(0))
    b_side = d.join(F.broadcast(pairs), F.col("__blk") == F.col("bj")) \
        .withColumn("__role", F.lit(1))
    both = a_side.unionByName(b_side).select(
        "bi", "bj", "__role", "__id", "__v")
    id_type = dict(e.dtypes)["__id"]
    scale = float(10 ** RELEASE_DP)

    def _block_kernel(key, pdf):
        import numpy as np
        import pandas as pd

        bi, bj = int(key[0]), int(key[1])
        a = pdf[pdf["__role"] == 0]
        b = a if bi == bj else pdf[pdf["__role"] == 1]
        empty = pd.DataFrame({
            "id_a": pd.Series([], dtype=pdf["__id"].dtype),
            "id_b": pd.Series([], dtype=pdf["__id"].dtype),
            "cosine": pd.Series([], dtype="float64")})
        if a.empty or b.empty:
            return empty

        def mats(part):
            m = np.array(part["__v"].tolist(), dtype=np.float64)
            return m, np.sqrt(np.einsum("ij,ij->i", m, m))
        A, na = mats(a)
        B, nb_ = (A, na) if bi == bj else mats(b)
        den = na[:, None] * nb_[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(den > 0, (A @ B.T) / den, 0.0)
        cos = np.where(cos >= 0, np.floor(cos * scale + 0.5) / scale,
                       np.ceil(cos * scale - 0.5) / scale)
        ia = a["__id"].to_numpy()
        ib = ia if bi == bj else b["__id"].to_numpy()
        mask = cos >= thr
        mask &= ia[:, None] < ib[None, :]
        if bi != bj:
            # also the other orientation (either side's id may be smaller)
            mask_t = (cos >= thr) & (ib[:, None] < ia[None, :]).T
            ii, jj = np.nonzero(mask_t)
            extra = (ib[jj], ia[ii], cos[ii, jj])
        else:
            extra = None
        ii, jj = np.nonzero(mask)
        out_a = list(ia[ii])
        out_b = list(ib[jj])
        out_c = list(cos[ii, jj])
        if extra is not None:
            out_a += list(extra[0])
            out_b += list(extra[1])
            out_c += list(extra[2])
        if not out_a:
            return empty
        return pd.DataFrame(
            {"id_a": out_a, "id_b": out_b, "cosine": out_c})

    return both.groupBy("bi", "bj").applyInPandas(
        _block_kernel, f"id_a {id_type}, id_b {id_type}, cosine double")
