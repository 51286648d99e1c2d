"""Deterministic distributed k-means over embedding columns — corpus
clustering for data curation (domain discovery, diversity-balanced
sampling, cluster-then-filter pipelines a la SemDeDup).

Shape is classic distributed Lloyd (the same loop as Spark MLlib's
KMeans, reduced to DataFrame ops): centroids live on the driver
(bounded: k x dim doubles), each iteration is

1. **assignment** — scan-local: the centroids ship into the plan as k
   ndarray literals and every vector picks its nearest by squared L2,
   computed as ``dot(v,v) - 2*dot(v,c) + dot(c,c)`` with the same
   left-fold ``dot`` the cosine operators use (cross-engine stable to
   the 6-dp rounding; ties break on the lower cluster id). Zero
   shuffle, zero Python.
2. **update** — one (cluster, pos) keyed aggregation of the exploded
   vectors; means are decimal(28,12)-snapped (partitioning- and
   order-independent — the ``embedding_centroids`` policy) and the
   k x dim result rows collect back to the driver.

Everything is content-deterministic: initial centroids are the k
vectors with the smallest ``md5(seed || key)`` draw (a seeded uniform
pick that any engine can replay — not kmeans++, whose sequential
D²-sampling is RNG-bound), so the whole trajectory — assignments,
means, final clusters — is bit-reproducible and oracle-checkable.

An empty cluster keeps its previous centroid (deterministic; rare with
hash-seeded init on non-degenerate data — the gate corpus produces
none, which the unit test pins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import telemetry
from ..functions import RELEASE_DP
from ..functions.vectors import as_double, dot

#: k * dim above which assignment always takes the Arrow kernel (from its
#: quarter up, row count decides). The literal path builds k struct
#: expressions PER ROW, so codegen size and per-row cost grow linearly in
#: k — fine at the gate's k=8, a codegen/expression-tree blowup at
#: SemDeDup-scale k (thousands).
#: The Arrow kernel is one (n x k) batched matmul-shaped loop per batch,
#: bit-equal to the literal path (strict left-to-right folds, same
#: HALF_UP rounding) — differential-tested in tests/test_operators.py.
ARROW_ASSIGN_KDIM = 2048


def _assign_arrow(e: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Arrow twin of the literal assignment (the PQ-einsum pattern,
    `similarity.py` ``_pq_encode_udf``): centroids ride the UDF closure,
    each batch computes all k distances at once. Bit-equality with the
    HOF path is engineered, not hoped for: every accumulation replays
    the fold's left-to-right order over dimensions (one IEEE add/mul
    per step — numpy's pairwise-sum ``einsum`` would differ in the last
    ulp), the combining expression replays ``(vv - 2*dot) + cc``, and
    rounding replays Spark's HALF_UP (`vectors.cosine_rounded_arrow`
    convention). Ties break to the lower cluster id via ``argmin``."""
    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=np.float64)          # (k, dim)
    k, dim = C.shape
    cc = np.zeros(k)
    for i in range(dim):
        cc += C[:, i] * C[:, i]
    scale = float(10 ** RELEASE_DP)

    def kernel(vs):
        if not len(vs):
            return pd.DataFrame({
                "c": pd.Series([], dtype="int32"),
                "d": pd.Series([], dtype="float64")})
        X = np.array(vs.tolist(), dtype=np.float64)  # (n, dim)
        n = len(X)
        vv = np.zeros(n)
        acc = np.zeros((n, k))
        for i in range(dim):
            xi = X[:, i]
            vv += xi * xi
            acc += xi[:, None] * C[None, :, i]
        d2 = (vv[:, None] - 2.0 * acc) + cc[None, :]
        r = np.where(
            d2 >= 0,
            np.floor(d2 * scale + 0.5) / scale,
            np.ceil(d2 * scale - 0.5) / scale,
        )
        best = r.argmin(axis=1)
        return pd.DataFrame({
            "c": best.astype("int32"),
            "d": r[np.arange(n), best]})

    udf = F.pandas_udf(kernel, returnType="struct<c:int,d:double>")
    # materialize the struct once, then project — two field references
    # on a repeated udf("__v") call could evaluate the kernel twice
    return e.select("__id", "__v", udf("__v").alias("__a")).select(
        "__id", "__v",
        F.col("__a.c").alias("__cid"), F.col("__a.d").alias("__d2"),
    )


def _assign(e: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Nearest-centroid assignment: adds ``__cid`` and 6-dp-rounded
    ``__d2`` to (__id, __v) rows. Plan-literal HOF folds for small
    k*dim, the Arrow kernel above ``ARROW_ASSIGN_KDIM``; in between the
    estimated row count decides (``telemetry.ARROW_MIN_WORK``)."""
    import math

    import numpy as np

    kdim = len(cents) * (len(cents[0]) if cents else 0)
    if kdim > ARROW_ASSIGN_KDIM:
        rows = math.inf
    elif kdim >= ARROW_ASSIGN_KDIM // 4:
        # mid-size k*dim: the Arrow batch amortizes over row count but
        # loses to codegen on tiny corpora that pay the Python worker
        # spin-up
        dim = len(cents[0]) if cents else 64
        rows = telemetry.est_rows(e, telemetry.vec_row_bytes(dim))
    else:
        rows = 0.0
    if telemetry.arrow_kernel("kmeans_assign", rows):
        return _assign_arrow(e, cents)
    vv = dot(F.col("__v"), F.col("__v"))
    opts = []
    for cid, c in enumerate(cents):
        lit = F.lit(np.asarray(c, dtype=np.float64))
        d2 = F.round(
            vv - 2 * dot(F.col("__v"), lit) + dot(lit, lit), 6)
        opts.append(F.struct(d2.alias("d"), F.lit(cid).alias("c")))
    best = F.array_min(F.array(*opts))
    return e.select(
        "__id", "__v",
        best["c"].alias("__cid"), best["d"].alias("__d2"),
    )


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 1,
    seed: str = "kmeans",
    keep_vec: bool = False,
) -> DataFrame:
    """Run ``iters`` Lloyd refinements from the deterministic seed
    centroids and return the final assignment:
    ``(id_col, cluster, d2)`` with ``d2`` the 6-dp squared L2 distance
    to the final centroid. Driver traffic per iteration is exactly
    k x dim mean cells — independent of corpus size. Both assignment
    kernels (see :func:`_assign`) give identical results."""
    from .splits import hash_draw

    e = df.select(
        F.col(id_col).alias("__id"), as_double(vec_col).alias("__v")
    ).filter(F.col("__v").isNotNull())
    init_rows = (
        e.withColumn("__d", hash_draw(F.col("__id"), seed))
        .orderBy("__d", "__id").limit(k).collect()
    )
    if len(init_rows) < k:
        raise ValueError(f"k={k} exceeds the {len(init_rows)} input rows")
    cents = [list(r["__v"]) for r in init_rows]
    for _ in range(iters):
        assigned = _assign(e, cents)
        cells = (
            assigned.select(
                "__cid", F.posexplode("__v").alias("pos", "x"))
            .groupBy("__cid", "pos")
            .agg((F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                  / F.count(F.lit(1))).alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in cells:
            by_cid.setdefault(r["__cid"], {})[r["pos"]] = r["m"]
        cents = [
            [by_cid[cid][p] for p in sorted(by_cid[cid])]
            if cid in by_cid else cents[cid]  # empty: keep previous
            for cid in range(k)
        ]
    cols = [
        F.col("__id").alias(id_col),
        F.col("__cid").alias("cluster"),
        F.col("__d2").alias("d2"),
    ]
    if keep_vec:
        cols.append(F.col("__v").alias(vec_col))
    return _assign(e, cents).select(*cols)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 1,
    threshold: float = 0.45,
    seed: str = "kmeans",
) -> DataFrame:
    """SemDeDup-shaped semantic dedup (Abbas et al., arXiv:2303.09540):
    cluster the embeddings with :func:`kmeans_assign`, search for
    near-duplicate pairs (6-dp rounded cosine >= ``threshold``) ONLY
    WITHIN each cluster, and resolve the pair graph into cluster ids +
    canonical-survivor flags with the shared min-label connected
    components.

    The within-cluster restriction is the entire point at scale: the
    pair search is quadratic only in the cluster size, not the corpus —
    n²/k expected comparisons, driven lower by raising ``k`` with the
    corpus (SemDeDup runs k in the tens of thousands at billion-doc
    scale). The cost is the documented approximation: a near-dup pair
    split across two centroids is not examined (mitigate with larger
    ``iters``/``k`` or an epsilon-ball multi-assignment; the exact
    all-pairs twin is ``dedup_embedding_clusters``).

    Returns ``(id_col, cluster_id, is_canonical)`` for every vector that
    participates in at least one near-dup pair — drop
    ``is_canonical = false`` rows to dedup the corpus.

    The quadratic pair filter is the wall-clock at scale (n²/k cosine
    evaluations): the kernel follows the estimated pair count — the
    interpreted HOF fold for small jobs (no Python worker spin-up), or a
    per-cluster ``applyInPandas`` matrix kernel above
    ``telemetry.ARROW_MIN_WORK["semantic_pairs"]``: each cluster ships its
    vectors ONCE and computes the whole cosine matrix with one matmul,
    so Arrow traffic is linear in n (a per-PAIR Arrow UDF still moved
    both vectors per pair — 160s -> 83s -> 13s at 20k vectors / k=8 in
    the r8 sf1 rehearsal, and the matrix kernel composes with raising
    ``k`` as SemDeDup prescribes, which bounds the per-cluster matrix).
    Results agree at the 6-dp rounding (the `cosine_topk` precedent;
    differential unit test).
    """
    from ..functions.vectors import dot, norm
    from .graph import dedup_clusters

    # Hoist the norm out of the quadratic stage: computed once per ROW
    # here, the pair filter costs one dot-fold instead of three.
    # Bit-identical to cosine_rounded(va, vb) — norm(v) is the same
    # float either side of the join, and the rounding happens after the
    # same division.
    a = kmeans_assign(
        df, id_col, vec_col, k=k, iters=iters, seed=seed, keep_vec=True,
    ).select(
        id_col, "cluster", vec_col, norm(F.col(vec_col)).alias("__n"))
    # both sides of the self-join consume `a`; without materialization
    # the whole assignment pipeline (scan + k centroid folds + norm)
    # runs twice (the perplexity/hll lesson). The kernel gate reads the
    # real count, not plan statistics — a checkpointed frame's
    # sizeInBytes reads as defaultSizeInBytes-huge (the
    # incremental_embedding_dedup lesson). LAZY checkpoint: the count
    # computes every partition, so one job materializes the assignment
    # AND returns the count (was checkpoint job + count job).
    a = a.localCheckpoint(eager=False)
    n_est = a.count()
    if telemetry.arrow_kernel("semantic_pairs", n_est * n_est / max(k, 1)):
        import numpy as np
        import pandas as pd

        id_t = a.schema[id_col].dataType.simpleString()
        thr = float(threshold)

        def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf["__id"].to_numpy()
            X = np.array(pdf["__v"].tolist(), dtype=np.float64)
            if len(X) < 2:
                return pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0]})
            nrm = np.sqrt(np.einsum("ij,ij->i", X, X))
            den = np.outer(nrm, nrm)
            with np.errstate(divide="ignore", invalid="ignore"):
                # zero-norm => 0.0, matching the HOF twin's guarded
                # cosine() — an unguarded NaN diverges between numpy
                # (IEEE: NaN >= thr is False) and Spark SQL (NaN sorts
                # and compares GREATEST), so the two kernels would
                # disagree on zero vectors
                S = np.where(den > 0, (X @ X.T) / den, 0.0)
            scale = 1e6  # HALF_UP replay, the cosine_rounded_arrow rule
            S = np.where(S >= 0, np.floor(S * scale + 0.5) / scale,
                         np.ceil(S * scale - 0.5) / scale)
            iu, ju = np.where(S >= thr)
            keep = iu < ju
            ia, jb = ids[iu[keep]], ids[ju[keep]]
            return pd.DataFrame({
                "id_a": np.minimum(ia, jb), "id_b": np.maximum(ia, jb)})

        pairs = (
            a.select(
                F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"),
                "cluster")
            .groupBy("cluster")
            .applyInPandas(cluster_pairs, f"id_a {id_t}, id_b {id_t}")
        )
    else:
        left = a.select(
            F.col(id_col).alias("id_a"), F.col("cluster").alias("__c"),
            F.col(vec_col).alias("__va"), F.col("__n").alias("__na"))
        right = a.select(
            F.col(id_col).alias("id_b"), F.col("cluster").alias("__c"),
            F.col(vec_col).alias("__vb"), F.col("__n").alias("__nb"))
        pairs = (
            left.join(right, "__c")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                F.round(
                    dot(F.col("__va"), F.col("__vb"))
                    / (F.col("__na") * F.col("__nb")), 6)
                >= F.lit(threshold))
            .select("id_a", "id_b")
        )
    out = dedup_clusters(pairs)
    return out.select(
        F.col("doc_id").alias(id_col), "cluster_id", "is_canonical")


def standardize_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-dimension z-score standardization of an embedding column —
    the preprocessing step before distance-based curation (k-means,
    cosine ANN, SemDeDup) when dimensions have wildly different scales:
    ``z[i] = (x[i] - mean[i]) / std[i]``, rounded to 6 dp.

    Two-phase, like the centroid operators: ONE (pos)-keyed aggregation
    computes per-dimension mean and E[x^2] with decimal-snapped sums
    (exact, partitioning-independent), the dim-sized stats collect to
    the driver (bounded by dimensionality, never corpus size) and ship
    back as TWO ndarray literals, and the transform itself is
    scan-local — zero shuffle on the data path, zero Python.

    Zero-variance dimensions standardize to 0.0 (guarded against the
    tiny negative variance float arithmetic can produce).
    """
    import numpy as np

    from ..functions.vectors import as_double

    e = df.select(
        F.col(id_col).alias("__id"), as_double(vec_col).alias("__v")
    ).filter(F.col("__v").isNotNull())
    stats = (
        e.select(F.posexplode("__v").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            (F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
             / F.count(F.lit(1))).alias("m"),
            (F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)"))
             .cast("double") / F.count(F.lit(1))).alias("m2"),
        )
        .orderBy("pos")
        .collect()
    )
    means = np.asarray([r["m"] for r in stats], dtype=np.float64)
    stds = np.sqrt(np.maximum(
        np.asarray([r["m2"] for r in stats], dtype=np.float64)
        - means * means, 0.0))
    m_lit, s_lit = F.lit(means), F.lit(stds)
    z = F.transform(
        F.col("__v"),
        lambda x, i: F.when(
            F.element_at(s_lit, i + 1) > 0,
            F.round(
                (x - F.element_at(m_lit, i + 1))
                / F.element_at(s_lit, i + 1), RELEASE_DP),
        ).otherwise(F.lit(0.0)),
    )
    return e.select(F.col("__id").alias(id_col), z.alias("zvec"))


def embedding_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 1,
    prob: float = 0.9,
    seed: str = "kmeans",
) -> DataFrame:
    """Distance-based outlier flagging for corpus curation (the
    DataComp/noise-pruning move: embeddings far from EVERY cluster are
    junk — mislabeled scrapes, encoding garbage, off-domain strays):
    cluster with :func:`kmeans_assign`, then flag vectors whose squared
    distance to their nearest centroid exceeds the global ``prob``
    quantile.

    Pure composition of two scale-audited operators: the Lloyd loop
    (driver traffic = k x dim per iteration) and
    :func:`~.splits.quantile_buckets` (one boundary agg broadcast back,
    scan-local comparison — no global sort). Returns
    ``(id_col, cluster, d2, is_outlier)``.
    """
    from .splits import quantile_buckets

    a = kmeans_assign(
        df, id_col, vec_col, k=k, iters=iters, seed=seed)
    b = quantile_buckets(a, "d2", probs=(prob,), bucket_col="__b")
    return b.select(
        id_col, "cluster", "d2", (F.col("__b") == 2).alias("is_outlier"))


def random_projection(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    in_dim: int,
    out_dim: int = 16,
    seed: str = "rp",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction by a random SIGN
    projection (Achlioptas, 2001: +-1 entries preserve pairwise
    distances as well as Gaussian ones): ``z[j] = sum_i v[i] *
    s[i][j] / sqrt(out_dim)`` (the scaling that makes
    ``E||z||^2 = ||v||^2``), signs drawn from ``md5(seed:i,j)`` — a
    matrix ANY engine can re-derive, which makes the whole projection
    oracle-checkable (and re-trainable nowhere: there is nothing to
    train).

    Why it's here: 100 TB of 1024-dim float embeddings is 4 TB per
    dimension-hundred; projecting to 64 dims before ANN/clustering cuts
    every downstream shuffle and distance kernel ~16x while keeping
    neighborhoods (the JL guarantee). The projection itself is
    scan-local — out_dim decimal-snapped folds per row, signs ride the
    plan as literals, zero shuffle, zero Python.
    """
    if in_dim < 1 or out_dim < 1:
        # dim=0 silently emitted empty/NULL projections (probe b10)
        raise ValueError(
            f"in_dim/out_dim must be >= 1, got {in_dim}/{out_dim}")
    import hashlib

    import numpy as np

    from ..functions.vectors import as_double

    signs = np.empty((out_dim, in_dim), dtype=np.float64)
    for j in range(out_dim):
        for i in range(in_dim):
            h = hashlib.md5(f"{seed}:{i},{j}".encode()).hexdigest()[:8]
            signs[j, i] = 1.0 if int(h, 16) % 2 == 0 else -1.0
    root = float(np.sqrt(out_dim))
    v = as_double(vec_col)
    comps = []
    for j in range(out_dim):
        row = F.lit(signs[j])
        acc = F.aggregate(
            F.zip_with(v, row, lambda x, s: (x * s).cast("decimal(28,12)")),
            F.lit(0).cast("decimal(38,12)"),
            # Spark widens (38,12)+(28,12) to (38,11); snap the scale
            # back so the fold type stays fixed (values are <= ~dim, so
            # precision is never at risk)
            lambda a, x: (a + x).cast("decimal(38,12)"),
        )
        comps.append(F.round(acc.cast("double") / root, RELEASE_DP))
    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.array(*comps).alias("zvec"))


def _signed_plane_dots(vec, in_dim: int, planes: int, seed_str: str):
    """Decimal-snapped dot products against md5-derived +-1 sign planes
    (the `random_projection` convention — Achlioptas sign projections
    any engine can re-derive, so SRP buckets are oracle-replayable,
    unlike RNG hyperplanes). Exact by construction: products round to
    decimal(28,12) and accumulate in decimal(38,12), so the SIGN of the
    dot is identical on every engine and partitioning.

    (r14 optimization note: scaled-long and codegen-unrolled variants
    of this fold were prototyped and measured — the interpreted-HOF
    per-element overhead dominates either way at the driven scales and
    the unrolled expression tree inflates first-run codegen time, so
    the simple exact decimal fold stays; see OPTIMIZATION_r14.md.)"""
    import hashlib

    import numpy as np

    dots = []
    for j in range(planes):
        signs = np.empty(in_dim, dtype=np.float64)
        for i in range(in_dim):
            h = hashlib.md5(
                f"{seed_str}:{i},{j}".encode()).hexdigest()[:8]
            signs[i] = 1.0 if int(h, 16) % 2 == 0 else -1.0
        row = F.lit(signs)
        acc = F.aggregate(
            F.zip_with(vec, row,
                       lambda x, s: (x * s).cast("decimal(28,12)")),
            F.lit(0).cast("decimal(38,12)"),
            lambda a, x: (a + x).cast("decimal(38,12)"),
        )
        dots.append(acc)
    return dots


def srp_signed_banded(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    in_dim: int,
    bands: int = 2,
    planes: int = 4,
    seed: str = "srp",
) -> DataFrame:
    """The embedding twin of ``dedup.minhash_banded``: per vector,
    ``bands`` independent SRP bucket codes — ``(id, v, band, bucket)``
    rows, the STATE an incremental semantic dedup persists between
    batches. Each band hashes the vector with its own ``planes``
    md5-seeded sign planes; two vectors collide in a band iff they
    agree on every plane's side. Scan-local Column arithmetic, zero
    shuffle, zero Python."""
    if in_dim < 1 or bands < 1 or planes < 1:
        # planes=0 hashed every vector to bucket 0 — a vacuous LSH
        # where everything collides (probe b10)
        raise ValueError(
            f"in_dim/bands/planes must be >= 1, got "
            f"{in_dim}/{bands}/{planes}")
    from ..functions.vectors import as_double

    e = df.select(
        F.col(id_col).alias("id"), as_double(vec_col).alias("v")
    ).filter(F.col("v").isNotNull())
    buckets = []
    for b in range(bands):
        dots = _signed_plane_dots(F.col("v"), in_dim, planes,
                                  f"{seed}:{b}")
        code = F.lit(0)
        for j, d in enumerate(dots):
            code = code + F.when(d >= 0, F.lit(1 << j)).otherwise(0)
        buckets.append(code.cast("int"))
    return e.select(
        "id", "v",
        F.posexplode(F.array(*buckets)).alias("band", "bucket"))


def incremental_embedding_dedup(
    batch: DataFrame,
    state: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int = 64,
    bands: int = 2,
    planes: int = 4,
    threshold: float = 0.45,
    seed: str = "srp",
    state_repr: str = "raw",
    sq_params: tuple | None = None,
) -> tuple[DataFrame, DataFrame]:
    """SEMANTIC near-dup dedup of a NEW batch against a living corpus
    without rescanning it — the embedding twin of
    ``dedup.incremental_minhash_dedup``: the corpus exists only as its
    persisted SRP band state (:func:`srp_signed_banded`).

    Policy (deterministic, oracle-replayable): a batch vector is
    REJECTED iff it bucket-collides in ANY band with a smaller-id
    vector — already-seen or in this batch — whose exact cosine
    (6-dp rounded) is >= ``threshold``. The state keeps every SEEN
    vector's bands (accepted and rejected alike). Batches must arrive
    in ascending-id order (the append-shard case); replay then equals
    the one-shot "no qualifying smaller-id band-mate" rule
    bit-for-bit (unit-pinned). Pairs in no common band are NOT
    examined — that is LSH's documented recall trade, priced by the
    band/plane configuration, not a defect.

    Scale shape: the batch's bands equi-join the state on
    ``(band, bucket)`` — only genuine collisions pair, the corpus
    never rescans, per-batch cost = the batch's plane arithmetic plus
    a keyed join against a state that grows bands rows per vector.

    State representation (``state_repr``): ``'raw'`` stores the
    float64 vector (4 bytes/dim on disk as double is 8 — exact
    verification, the default); ``'sq8'`` stores the int8 scalar
    quantization (`similarity.sq_quantize` — 1 byte/dim, the
    IVF-SQ memory/bandwidth arm for a 100 TB-corpus state) under
    fixed per-dimension ``sq_params=(lo, scale)`` float64 ndarrays
    (from `similarity.sq_minmax` over a representative corpus — the
    params must stay FIXED across batches or the state is
    incomparable; pass the same pair every call). In sq8 mode the
    verification RE-RANKS each band collision with the full float64
    cosine over DEQUANTIZED vectors (`sq_dequantize` arithmetic,
    replayed bit-identically by the numpy kernel) rather than
    deciding on a raw int8 dot — decisions are exact over the stored
    representation, approximate w.r.t. the original floats by at
    most the quantization error (pick thresholds with margin).
    Batch vectors quantize BEFORE the state union, so in-batch and
    cross-batch pairs compare the SAME representation — this is what
    keeps the ascending-id replay bit-equal to the one-shot rule in
    sq8 mode too (an exact-where-available hybrid would break it:
    a batch-mate pair would score differently this round than the
    same pair across rounds). Band codes always derive from the raw
    batch floats — the band machinery is unchanged.

    The verification stage is quadratic PER BUCKET, so it gates its
    kernel like :func:`semantic_dedup`: the interpreted per-pair HOF
    fold for small jobs, or — above
    ``telemetry.ARROW_MIN_WORK["incremental_embedding_pairs"]``
    expected collisions — a per-``(band, bucket)`` ``applyInPandas`` MATRIX
    kernel that ships each bucket's vectors ONCE and computes the
    whole cosine matrix with one matmul (the r8 sf1 rehearsal caught
    the per-pair path at 126 s for 20k vectors under planes=4 — 25 M
    collision pairs each paying an interpreted 64-dim fold; the
    matrix kernel is the ship-rows-not-pairs fix, and production
    plane counts shrink the buckets themselves). HALF_UP replay keeps
    the 6-dp decision identical on both kernels (differential
    unit-pinned)."""
    from pyspark.sql import types as T

    from ..functions.vectors import cosine_rounded
    from .similarity import sq_dequantize, sq_quantize

    if state_repr not in ("raw", "sq8"):
        raise ValueError(
            f"state_repr must be 'raw' or 'sq8', got {state_repr!r}")
    sq8 = state_repr == "sq8"
    if sq8:
        if sq_params is None:
            raise ValueError(
                "state_repr='sq8' needs sq_params=(lo, scale) — fixed "
                "per-dimension float64 arrays (similarity.sq_minmax); "
                "they must be identical across every batch")
        sq_lo, sq_scale = sq_params
    # a state built for the other representation would verify garbage
    # (int8 codes read as doubles or vice versa) — fail loud on schema
    state_elem = state.schema["v"].dataType.elementType
    want_elem = T.ByteType() if sq8 else T.DoubleType()
    if state_elem != want_elem:
        raise ValueError(
            f"state vector element type {state_elem.simpleString()} "
            f"does not match state_repr={state_repr!r} "
            f"(expected {want_elem.simpleString()})")

    bb = srp_signed_banded(
        batch, id_col, vec_col, in_dim, bands, planes, seed)
    if sq8:
        # quantize AFTER banding (codes from raw floats), BEFORE the
        # union (one representation everywhere — replay invariance)
        bb = bb.withColumn("v", sq_quantize(F.col("v"), sq_lo, sq_scale))
    # consumed twice (probe + state union): run the plane pipeline once.
    # persist (not eager localCheckpoint): the auto-gate count below is
    # then the ONE materializing job instead of a checkpoint job plus a
    # count job (the r14 job-count profile: per-batch driver actions,
    # not data volume, dominated the three-batch replay).
    bb = bb.persist()
    all_b = state.unionByName(bb)
    # REAL counts, not plan statistics: a persisted/checkpointed frame
    # (and an empty caller-built state) reports a defaultSizeInBytes-class
    # sizeInBytes, which read as "huge" and pinned the kernel to Arrow at
    # every scale. The batch count doubles as the persist materializer;
    # the STATE count is threaded between calls on the returned frame
    # (``_pbs_rows`` below) — a production incremental pipeline knows its
    # state size, and the attribute makes the replay loop know it too —
    # falling back to one count for a state of unknown size.
    nb_rows = bb.count()
    state_rows = getattr(state, "_pbs_rows", None)
    na_rows = nb_rows + (
        state_rows if state_rows is not None else state.count())
    # expected collisions under uniform buckets: per band, a batch vector
    # meets n_all / 2^planes bucket-mates (row counts carry a bands factor
    # each, hence the single bands divisor). At sf0.1 the FIRST batch's
    # ~60k estimate already belongs on the Arrow side; HOF only wins on
    # genuinely tiny inputs (unit-test scale) where worker spin-up
    # dominates.
    collisions = (nb_rows * na_rows) / float(bands * 2 ** planes)
    if telemetry.arrow_kernel("incremental_embedding_pairs", collisions):
        import numpy as np
        import pandas as pd

        thr = float(threshold)
        id_t = bb.schema["id"].dataType.simpleString()

        def bucket_reject(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf["id"].to_numpy()
            isb = pdf["is_b"].to_numpy(dtype=bool)
            if len(ids) < 2 or not isb.any():
                return pd.DataFrame({"__rej": ids[:0]})
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            if sq8:
                # the sq_dequantize arithmetic, op-for-op: (q+128)*s+lo
                X = (X + 128.0) * sq_scale[None, :] + sq_lo[None, :]
            nrm = np.sqrt(np.einsum("ij,ij->i", X, X))
            # only batch rows can be rejected, so the matmul is B x N,
            # not N x N: with a mature corpus state and a small new
            # shard (the production shape) the full matrix is
            # corpus-quadratic per bucket while this stays
            # batch-proportional — identical decisions, strictly fewer
            # FLOPs (state-vs-state cosines decide nothing)
            Xb = X[isb]
            den = np.outer(nrm[isb], nrm)
            with np.errstate(divide="ignore", invalid="ignore"):
                # zero-norm => 0.0 (the package convention; see
                # semantic_dedup_pairs above)
                S = np.where(den > 0, (Xb @ X.T) / den, 0.0)
            scale = 1e6  # HALF_UP replay, the cosine_rounded_arrow rule
            S = np.where(S >= 0, np.floor(S * scale + 0.5) / scale,
                         np.ceil(S * scale - 0.5) / scale)
            hit = (S >= thr) & (ids[None, :] < ids[isb][:, None])
            return pd.DataFrame({"__rej": ids[isb][hit.any(axis=1)]})

        # only buckets a batch member touches can reject; the semi-join
        # prunes pure-state buckets before any vector ships
        touched = bb.select("band", "bucket").distinct()
        members = (
            all_b.join(touched, ["band", "bucket"], "left_semi")
            .join(
                bb.select(F.col("id").alias("__bid")).distinct(),
                F.col("id") == F.col("__bid"), "left")
            .select(
                "band", "bucket", "id", "v",
                F.col("__bid").isNotNull().alias("is_b"))
        )
        rejected = (
            members.groupBy("band", "bucket")
            .applyInPandas(bucket_reject, f"__rej {id_t}")
            .distinct()
        )
    else:
        b, o = bb.alias("b"), all_b.alias("o")
        if sq8:
            vb = sq_dequantize(F.col("b.v"), sq_lo, sq_scale)
            vo = sq_dequantize(F.col("o.v"), sq_lo, sq_scale)
        else:
            vb, vo = F.col("b.v"), F.col("o.v")
        rejected = (
            b.join(
                o,
                (F.col("b.band") == F.col("o.band"))
                & (F.col("b.bucket") == F.col("o.bucket"))
                & (F.col("o.id") < F.col("b.id")),
            )
            .filter(cosine_rounded(vb, vo) >= F.lit(threshold))
            .select(F.col("b.id").alias("__rej"))
            .distinct()
        )
    survivors = batch.join(
        rejected, batch[id_col] == rejected["__rej"], "left_anti")
    all_b._pbs_rows = na_rows  # thread state size to the next call
    return survivors, all_b


def pca_fit_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    return_loadings: bool = False,
):
    """PCA fit + projection over an embedding column (Pearson 1901 /
    Hotelling 1933) — the dimensionality-reduction step before
    visualization, whitening, or cheap pre-filtering (the random
    projection in `embedding_random_projection` is the data-blind
    cousin; PCA spends one extra pass to align with the data's actual
    variance).

    Scale shape (the covariance trap done right): per-Arrow-batch
    MOMENT kernel via ``mapInPandas`` — each batch ships ONE
    ``(count, Σx, XᵀX)`` partial of size d²+d+1, never rows, so the
    driver collect is bounded by partition count × d², independent of
    corpus size. The driver does the d×d ``eigh`` (d is embedding
    width, trivially small), fixes each component's sign so its
    largest-|entry| is positive (eigenvector sign is otherwise
    arbitrary), and broadcasts the d×k loading matrix back as one
    literal for a scan-local Arrow projection — zero shuffle on the
    data path. Float partials sum in partition order, so scores carry
    last-ulp partitioning noise — this operator is for geometry, not
    exact replay (the exact-decimal twin for auditing is the
    `embedding_covariance` gate).

    Returns ``(scores_df, eigenvalues)``: the DataFrame has ``id_col``
    and ``pc_1..pc_k`` scalar columns (rounded to 6 dp);
    ``eigenvalues`` is the length-k list of explained variances
    (descending). With ``return_loadings=True`` a third element — the
    d×k numpy loading matrix — is appended so callers can assert the
    orthonormality invariant (the `embedding_pca` gate's self-check)."""
    import numpy as np
    import pandas as pd

    from ..functions.vectors import as_double

    e = df.select(
        F.col(id_col).alias("__id"), as_double(vec_col).alias("__v")
    ).filter(F.col("__v").isNotNull())

    def _moments(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            yield pd.DataFrame({
                "n": [x.shape[0]],
                "s": [x.sum(axis=0).tolist()],
                "xx": [(x.T @ x).ravel().tolist()],
            })

    parts = e.select("__v").mapInPandas(
        _moments, "n long, s array<double>, xx array<double>").collect()
    if not parts:
        raise ValueError("pca_fit_project: no non-null vectors")
    n = sum(p["n"] for p in parts)
    d = len(parts[0]["s"])
    if k > d:
        raise ValueError(f"k={k} exceeds embedding width {d}")
    if n < 2:
        raise ValueError("pca_fit_project: need at least 2 vectors")
    s = np.sum([p["s"] for p in parts], axis=0)
    xx = np.sum([np.asarray(p["xx"]).reshape(d, d) for p in parts], axis=0)
    mean = s / n
    cov = (xx - np.outer(s, s) / n) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)           # ascending
    order = np.argsort(evals)[::-1][:k]
    w = evecs[:, order]
    for j in range(w.shape[1]):                  # sign convention
        if w[np.argmax(np.abs(w[:, j])), j] < 0:
            w[:, j] = -w[:, j]
    eigenvalues = [float(v) for v in evals[order]]

    from pyspark.sql.pandas.functions import pandas_udf

    # no type hints: `from __future__ import annotations` would leave
    # them as unresolvable strings for the pandas_udf inspector
    def _project_fn(vs):
        x = np.stack(vs.to_numpy()).astype(np.float64)
        sc = (x - mean[None, :]) @ w
        return pd.Series(list(np.round(sc, RELEASE_DP)))

    _project = pandas_udf(_project_fn, "array<double>")

    out = e.select("__id", _project("__v").alias("__sc"))
    cols = [F.col("__id").alias(id_col)] + [
        F.element_at("__sc", j + 1).alias(f"pc_{j + 1}")
        for j in range(k)]
    if return_loadings:
        return out.select(*cols), eigenvalues, w
    return out.select(*cols), eigenvalues
