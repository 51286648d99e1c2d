"""Sketches for 100 TB cardinalities: Count-Min frequency estimation and
bounded-memory exact heavy hitters.

The reference engine has no sketch surface (frame.py is transform-only);
this is EXT training-pipeline surface (SURVEY §2.2).

Count-Min (round 2): Spark 4 removed the JVM ``stat.countMinSketch``
from the Python API, so :func:`count_min_sketch` builds one
declaratively — the sketch IS a small DataFrame of (row, bucket, cnt)
cells, one explode + one aggregation over the data; estimates never
undercount and overcount by at most eps*N.

Heavy hitters (round 5): corpus-wide frequent tokens/n-grams drive
boilerplate detection and stopword induction, where the naive
``groupBy(item).count()`` shuffles one row per DISTINCT item (billions
of keys at 100 TB).

Two-phase shape (the standard distributed Misra-Gries construction —
public algorithm, Misra & Gries 1982; merge property per Agarwal et al.,
"Mergeable Summaries", PODS'12):

1. per-partition Misra-Gries summaries of ``capacity`` counters, built
   in ONE ``mapInPandas`` pass over the scan (the batch iterator lets
   one Python worker fold every Arrow batch of its partition into a
   single dict — no shuffle, output ≤ capacity rows per partition).
   Pigeonhole guarantee: any item with GLOBAL count > N/capacity
   exceeds n_p/capacity in at least one partition, so the union of the
   summaries contains every such item.
2. exact recount of the bounded candidate set: semi-join the corpus
   against the (≤ capacity × partitions, deduplicated) candidates —
   only candidate rows enter the one keyed shuffle — then exact
   groupBy counts, top-k by (count desc, item asc).

The result is EXACT (counts and membership) whenever the k-th true
frequency exceeds N/capacity; the operator emits that audit as a
``guarantee_ok`` boolean computed from the exact counts themselves, so
the caller (and the driver gate) can see when capacity was too small
rather than silently trusting a sketch.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import RELEASE_DP


def _bucket(col: Column, row: int, width: int, seed: int) -> Column:
    return F.pmod(F.xxhash64(col, F.lit(seed + row)), F.lit(width))


def count_min_sketch(
    df: DataFrame,
    col: str,
    width: int = 2048,
    depth: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Build the sketch: one scan, one shuffle of depth*width counters."""
    cells = F.array(*[
        F.struct(
            F.lit(i).alias("row"),
            _bucket(F.col(col), i, width, seed).alias("bucket"),
        )
        for i in range(depth)
    ])
    return (
        df.select(F.explode(cells).alias("c"))
        .groupBy("c.row", "c.bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    col: str,
    width: int = 2048,
    depth: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Estimate the frequency of every value in ``queries[col]``:
    min over rows of the matching bucket counter (0 if the bucket is
    empty). The sketch side is broadcast — it is depth*width rows."""
    probes = queries.select(col).distinct().select(
        col,
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("row"),
                _bucket(F.col(col), i, width, seed).alias("bucket"),
            )
            for i in range(depth)
        ])).alias("p"),
    ).select(col, "p.row", "p.bucket")
    joined = probes.join(F.broadcast(sketch), ["row", "bucket"], "left").select(
        col, F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy(col).agg(F.min("cnt").alias("estimate"))


def _mg_summaries(capacity: int):
    """mapInPandas kernel: fold all of a partition's batches into one
    Misra-Gries dict of at most ``capacity`` counters."""

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            for item, cnt in pdf.groupby("item", sort=False).size().items():
                if item in counters:
                    counters[item] += int(cnt)
                elif len(counters) < capacity:
                    counters[item] = int(cnt)
                else:
                    # decrement-all by the smallest surviving weight:
                    # batched form of MG's decrement step
                    dec = min(int(cnt), min(counters.values()))
                    counters = {i: c - dec for i, c in counters.items()
                                if c > dec}
                    rem = int(cnt) - dec
                    if rem > 0 and len(counters) < capacity:
                        counters[item] = rem
        yield pd.DataFrame({"item": list(counters.keys())})

    return fold


def top_k_frequent(
    df: DataFrame,
    item: str | Column,
    k: int = 20,
    capacity: int = 4096,
) -> DataFrame:
    """Exact top-k most frequent values of ``item`` via bounded-memory
    candidate generation + exact recount.

    Returns ``item, n_occurrences, guarantee_ok`` — the top ``k`` by
    (count desc, item asc). ``guarantee_ok`` is true when the k-th
    count strictly exceeds N/capacity, i.e. the pigeonhole bound
    proves no non-candidate could have ranked; on false, raise
    ``capacity`` (the answer may be missing true heavy hitters).

    Scale shape: phase 1 is scan-local (zero shuffle, ≤ capacity rows
    emitted per partition); phase 2 shuffles ONLY rows matching the
    deduplicated candidate set (broadcast semi-join), never the full
    distinct-item cardinality.
    """
    col = F.col(item) if isinstance(item, str) else item
    items = df.select(col.cast("string").alias("item")).filter(
        F.col("item").isNotNull())
    summaries = items.mapInPandas(
        _mg_summaries(capacity), "item string"
    ).distinct()
    exact = (
        items.join(F.broadcast(summaries), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("item").asc())
        .limit(k)
    )
    total = items.agg(F.count(F.lit(1)).alias("__n"))
    # the audit window runs over the ≤ k already-limited rows
    kth = F.min("n_occurrences").over(Window.partitionBy())
    out = exact.crossJoin(F.broadcast(total)).select(
        "item",
        "n_occurrences",
        (kth * F.lit(capacity) > F.col("__n")).alias("guarantee_ok"),
    )
    # Spark does not contractually preserve the limit(k) order through the
    # crossJoin — re-apply it so the output order is pinned by the plan,
    # not by the current physical strategy (ADVICE r5).
    return out.orderBy(F.desc("n_occurrences"), F.asc("item"))


def _kmv_fold(k: int, group_cols: list[str]):
    """mapInPandas kernel: fold all of a partition's batches into the
    bottom-``k``-by-draw rows per group — the scan-local half of
    :func:`kmv_sample` (≤ k rows per (partition, group) emitted, zero
    shuffle, same shape as :func:`_mg_summaries`)."""
    sort_cols = [*group_cols, "__draw", "__key"]

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: pd.DataFrame | None = None
        for pdf in batches:
            cur = pdf if acc is None else pd.concat(
                [acc, pdf], ignore_index=True)
            cur = cur.sort_values(sort_cols, kind="mergesort",
                                  ignore_index=True)
            acc = (cur.groupby(group_cols, sort=False).head(k)
                   if group_cols else cur.head(k))
        if acc is not None:
            yield acc

    return fold


def kmv_sample(
    df: DataFrame,
    key: str,
    value_col: str,
    k: int = 256,
    group_cols: Sequence[str] = (),
    seed: str = "kmv",
) -> DataFrame:
    """KMV (bottom-k) sketch per group: the ``k`` rows whose
    content-deterministic draw (``splits.hash_draw``) is smallest — an
    exact uniform k-sample of each group that is

    - **deterministic**: membership is a pure function of the key, so
      the sketch is re-run-stable and oracle-checkable bit for bit
      (unlike reservoir sampling, whose result depends on encounter
      order);
    - **mergeable**: bottom-k of a union == bottom-k of the two
      bottom-k sketches (:func:`kmv_merge`), so shards/days/runs sketch
      independently and combine losslessly — the same persistence story
      as :func:`hll_sketch_state`, but for QUANTILES rather than
      distinct counts;
    - **bounded**: the scan-local fold emits ≤ k rows per (partition,
      group); only ≤ k x partitions candidate rows enter the one keyed
      shuffle, never the data (the full-sort ``percentile`` path
      shuffles everything).

    Returns ``group_cols + (__draw, __key, __val)`` — feed to
    :func:`kmv_quantiles`. Rows with NULL ``value_col`` are excluded
    (they have no place in a value distribution).

    Public algorithm: Bar-Yossef et al., "Counting distinct elements in
    a data stream" (RANDOM'02) introduced bottom-k hashing; using the
    induced uniform sample for quantile estimation is the standard
    sample-quantile bound (rank error O(sqrt(q(1-q)/k)) w.h.p.).
    """
    from .splits import hash_draw

    proj = df.select(
        *group_cols,
        hash_draw(F.col(key), seed).alias("__draw"),
        F.col(key).cast("string").alias("__key"),
        F.col(value_col).alias("__val"),
    ).filter(F.col("__val").isNotNull())
    cand = proj.mapInPandas(_kmv_fold(k, list(group_cols)), proj.schema)
    return _bottom_k(cand, k, group_cols)


def _bottom_k(df: DataFrame, k: int, group_cols: Sequence[str]) -> DataFrame:
    w = Window.partitionBy(*group_cols).orderBy("__draw", "__key")
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k).drop("__rk")
    )


def kmv_merge(
    a: DataFrame, b: DataFrame, k: int, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Lossless sketch merge: union + re-bottom-k. Equal to sketching the
    concatenated input in one shot (unit-tested bit-equal), because every
    globally-bottom-k draw is necessarily bottom-k within its own shard."""
    return _bottom_k(a.unionByName(b), k, group_cols)


def kmv_quantiles(
    sketch: DataFrame,
    qs: Sequence[float],
    group_cols: Sequence[str] = (),
    est_col: str = "est",
    n_col: str = "sample_n",
) -> DataFrame:
    """Deterministic sample quantiles from a :func:`kmv_sample` sketch:
    for each q, the sample value at 1-based rank ``floor(q*(m-1)) + 1``
    in (value, key) order — discrete "lower" quantiles, no
    interpolation, so the estimate is an actual data value and the whole
    computation is exact-arithmetic reproducible on any engine. The
    ranking windows run over the ≤ k-row sketch, never the data."""
    w_ord = Window.partitionBy(*group_cols).orderBy("__val", "__key")
    w_all = Window.partitionBy(*group_cols)
    qarr = F.array(*[F.lit(float(q)) for q in qs])
    d = (
        sketch.withColumn("__rn", F.row_number().over(w_ord))
        .withColumn("__m", F.count(F.lit(1)).over(w_all))
        .select(*group_cols, F.explode(qarr).alias("q"), "__rn", "__m",
                "__val")
    )
    return d.filter(
        F.col("__rn") == F.floor(F.col("q") * (F.col("__m") - 1)) + 1
    ).select(
        *group_cols, "q", F.col("__m").alias(n_col),
        F.col("__val").alias(est_col),
    )


def hll_rollup(
    df: DataFrame,
    key: str,
    fine_cols: list[str],
    coarse_cols: list[str],
    lg_config_k: int = 12,
    est_col: str = "approx_distinct",
) -> DataFrame:
    """Hierarchical distinct-count rollup from MERGEABLE HyperLogLog
    sketches (Datasketches HLL via Spark's ``hll_sketch_agg`` /
    ``hll_union_agg``): one scan builds per-``fine_cols`` sketches; every
    coarser level — ``coarse_cols`` groups and the grand total — derives
    by UNIONING the fine sketches, never rescanning the data.

    This is THE 100 TB distinct-count pattern: ``COUNT(DISTINCT key)``
    at N rollup levels costs N shuffles of the raw keys (or one huge
    expand), while sketches make every level after the first a reduction
    over ``#fine-groups`` rows of ~2^lg_config_k bytes each. The same
    property gives incremental refresh for free: store the fine
    sketches, union in each new partition's sketch.

    Returns one row per level (fine rows carry their group values,
    coarse rows NULL out the dropped columns, the total row NULLs all —
    the same NULL-marking shape as ROLLUP) with ``level`` ('fine',
    'coarse', 'total') and the sketch estimate rounded to a BIGINT.
    Standard error at lg_config_k=12 is ~1.6% (1.04/sqrt(2^12)).

    The fine level is localCheckpoint-ed before the union: without it
    each union branch replays the base scan (measured: THREE FileScans
    in the physical plan — Spark did not reuse the common Exchange
    across differently-aliased branches), which is exactly the rescan
    this operator exists to avoid. The materialization is |fine groups|
    rows of ~2^lg_config_k bytes — negligible at any scale; plan
    pinned by test to at most one FileScan.
    """
    fine = df.groupBy(*fine_cols).agg(
        F.hll_sketch_agg(key, F.lit(lg_config_k)).alias("__sk"))
    fine = fine.localCheckpoint(eager=True)
    coarse = fine.groupBy(*coarse_cols).agg(
        F.hll_union_agg("__sk").alias("__sk"))
    total = coarse.agg(F.hll_union_agg("__sk").alias("__sk"))
    est = F.hll_sketch_estimate("__sk").cast("long").alias(est_col)

    def lvl(frame, name, cols):
        sel = [
            (F.col(c) if c in cols else F.lit(None)).cast("string").alias(c)
            for c in fine_cols
        ]
        return frame.select(
            F.lit(name).alias("level"), *sel, est)

    return (
        lvl(fine, "fine", fine_cols)
        .unionByName(lvl(coarse, "coarse", coarse_cols))
        .unionByName(lvl(total, "total", []))
    )


def hll_sketch_state(
    df: DataFrame,
    key: str,
    group_cols: list[str],
    lg_config_k: int = 12,
    state_col: str = "hll_state",
) -> DataFrame:
    """Per-group HLL sketch STATE: one binary column of ~2^lg_config_k
    bytes per group, writable to parquet like any other column. This is
    the persisted half of incremental distinct counting — build it once
    over history, then :func:`hll_merge_increment` each new batch in."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(key, F.lit(lg_config_k)).alias(state_col))


def hll_merge_increment(
    state: DataFrame,
    batch: DataFrame,
    key: str,
    group_cols: list[str],
    lg_config_k: int = 12,
    state_col: str = "hll_state",
) -> DataFrame:
    """Refresh per-group distinct-count state with a new batch WITHOUT
    rescanning history: sketch the batch, union-merge per group. The
    merge is lossless (HLL union takes the per-register max), so the
    refreshed state is IDENTICAL to sketching history+batch in one shot
    — replay == rebuild, the same invariant as incremental_dedup and
    incremental_rollup. History cost per refresh: |groups| rows of
    2^lg_config_k bytes, not the raw data.

    Estimate with ``F.hll_sketch_estimate(state_col)``.
    """
    delta = hll_sketch_state(batch, key, group_cols, lg_config_k, state_col)
    return (
        state.unionByName(delta)
        .groupBy(*group_cols)
        .agg(F.hll_union_agg(state_col).alias(state_col))
    )


def hll_overlap(
    dfa: DataFrame,
    dfb: DataFrame,
    key: str,
    lg_config_k: int = 12,
) -> DataFrame:
    """Corpus-overlap estimation from HLL sketches via
    inclusion-exclusion: one row with approx ``|A|``, ``|B|``,
    ``|A u B|`` (union of the two sketches — lossless merge) and
    ``|A n B| = |A| + |B| - |A u B|`` (clamped at 0), plus the derived
    containments and Jaccard.

    The 100 TB use case: "how much of crawl snapshot B is already in
    A?" / "does the eval set overlap the train corpus?" answered from
    two ~2^lg_config_k-byte sketches — each corpus is scanned once
    (often the sketch already exists as persisted
    :func:`hll_sketch_state`), and the comparison itself is
    metadata-sized. Accuracy caveat (documented, gate-pinned): the
    intersection error scales with the UNION size (three ~1.6%-rse
    estimates compound), so small overlaps of huge corpora need exact
    follow-up (semi-join) on the candidate slice — this operator is
    the cheap first question, not the final answer.
    """
    # each side's sketch is consumed twice (own estimate + the union);
    # without materialization both branches replay the corpus scan+agg
    # — the perplexity/hll_rollup lesson. A sketch is ONE row.
    ska = dfa.agg(
        F.hll_sketch_agg(key, F.lit(lg_config_k)).alias("__sk")
    ).localCheckpoint(eager=True)
    skb = dfb.agg(
        F.hll_sketch_agg(key, F.lit(lg_config_k)).alias("__sk")
    ).localCheckpoint(eager=True)
    sku = ska.unionByName(skb).agg(
        F.hll_union_agg("__sk").alias("__sk"))

    def est(frame, name):
        return frame.select(
            F.hll_sketch_estimate("__sk").cast("double").alias(name))

    inter = F.greatest(
        F.col("n_a") + F.col("n_b") - F.col("n_union"), F.lit(0.0))
    return (
        est(ska, "n_a")
        .crossJoin(est(skb, "n_b"))
        .crossJoin(est(sku, "n_union"))
        .withColumn("n_intersect", inter)
        .withColumn(
            "containment_a",
            F.when(F.col("n_a") > 0, F.col("n_intersect") / F.col("n_a"))
            .otherwise(F.lit(0.0)))
        .withColumn(
            "containment_b",
            F.when(F.col("n_b") > 0, F.col("n_intersect") / F.col("n_b"))
            .otherwise(F.lit(0.0)))
        .withColumn(
            "jaccard",
            F.when(F.col("n_union") > 0,
                   F.col("n_intersect") / F.col("n_union"))
            .otherwise(F.lit(0.0)))
    )


# --------------------------------------------------------------------- #
# Theta sketches: mergeable distinct-count SET ALGEBRA
# --------------------------------------------------------------------- #

def _theta_fold(k: int, group_cols: list[str]):
    """mapInPandas kernel: per partition, dedup keys and keep the
    bottom-``k`` draws per group — the scan-local half of
    :func:`theta_sketch` (same shape as :func:`_kmv_fold`, plus the
    dedup: duplicate keys carry identical draws and must count once)."""
    dedup_cols = [*group_cols, "__key"]
    sort_cols = [*group_cols, "__u", "__key"]

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: pd.DataFrame | None = None
        for pdf in batches:
            cur = pdf if acc is None else pd.concat(
                [acc, pdf], ignore_index=True)
            cur = cur.drop_duplicates(dedup_cols).sort_values(
                sort_cols, kind="mergesort", ignore_index=True)
            acc = (cur.groupby(group_cols, sort=False).head(k)
                   if group_cols else cur.head(k))
        if acc is not None:
            yield acc

    return fold


def _attach(rows: DataFrame, per_group: DataFrame,
            group_cols: Sequence[str]) -> DataFrame:
    """Join a per-group scalar frame onto rows — broadcast cross join
    when there are no group columns (the one-row global case)."""
    if group_cols:
        return rows.join(per_group, list(group_cols), "left")
    return rows.crossJoin(F.broadcast(per_group))


def theta_sketch(
    df: DataFrame,
    key: str,
    k: int = 256,
    group_cols: Sequence[str] = (),
    seed: str = "theta",
) -> DataFrame:
    """Theta sketch per group (Dasgupta, Lang, Rhodes & Thaler — the
    DataSketches KMV/theta formulation): retain the distinct keys whose
    content-deterministic uniform draw falls below θ, where θ is the
    ``k``-th smallest draw (1.0 while fewer than ``k`` distinct keys —
    the EXACT regime). Distinct estimate = ``|retained| / θ``:
    ``(k-1)/u_(k)`` saturated — the classic unbiased KMV estimator with
    relative error ~ ``1/sqrt(k-2)`` — and exact below saturation.

    Why theta and not plain HLL: retained entries are REAL key samples,
    so sketches support SET ALGEBRA — :func:`theta_union`,
    :func:`theta_intersect_estimate`, :func:`theta_difference_estimate`
    — with one θ governing every estimate. HLL unions but never
    intersects (inclusion-exclusion error explodes); a theta
    intersection's error stays ~ union/√k-scaled.

    Deterministic: draws are `splits.uniform_draw` (md5 PRF of the
    length-prefixed key) — no RNG state, re-run-stable, SQL-oracle
    replayable. Sketches that will be combined MUST share ``seed`` and
    key encoding. NULL keys are excluded (COUNT DISTINCT semantics).

    Scale shape: one scan-local fold (dedup + bottom-k per partition,
    ≤ k rows out per partition-group, the `_mg_summaries` pattern);
    only candidates enter the one keyed shuffle. Returns rows
    ``group_cols + (__u, __key, __theta)`` — the retained entries with
    the group's θ attached."""
    from .splits import uniform_draw

    if k < 2:
        raise ValueError("k must be >= 2")
    gcols = list(group_cols)
    proj = df.select(
        *gcols,
        uniform_draw(F.col(key), seed).alias("__u"),
        F.col(key).cast("string").alias("__key"),
    ).filter(F.col("__key").isNotNull())
    cand = proj.mapInPandas(_theta_fold(k, gcols), proj.schema)
    cand = cand.dropDuplicates([*gcols, "__key"])
    w = Window.partitionBy(*gcols).orderBy("__u", "__key")
    ranked = cand.withColumn("__rn", F.row_number().over(w))
    # aggregate (not filter) so every group — and the global no-group
    # case — always yields a θ row (NULL below saturation -> 1.0)
    th = ranked.groupBy(*gcols).agg(
        F.max(F.when(F.col("__rn") == k, F.col("__u")))
        .alias("__theta"))
    out = _attach(ranked.drop("__rn"), th, gcols)
    return (
        out.withColumn("__theta", F.coalesce("__theta", F.lit(1.0)))
        .filter(F.col("__u") < F.col("__theta"))
    )


def _group_thetas(a: DataFrame, b: DataFrame,
                  gcols: list[str]) -> DataFrame:
    """Per-group ``__tmin = min(θ_a, θ_b)`` over the union of groups
    (a side missing a group contributes θ = 1.0)."""
    ta = a.groupBy(*gcols).agg(F.min("__theta").alias("__ta"))
    tb = b.groupBy(*gcols).agg(F.min("__theta").alias("__tb"))
    if gcols:
        both = ta.join(tb, gcols, "full_outer")
    else:
        both = ta.crossJoin(F.broadcast(tb))
    return both.select(
        *gcols,
        F.least(
            F.coalesce("__ta", F.lit(1.0)),
            F.coalesce("__tb", F.lit(1.0))).alias("__tmin"))


def theta_union(
    a: DataFrame, b: DataFrame, k: int,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Union of two theta sketches — a THETA SKETCH again (closed
    algebra; unit-pinned bit-equal to sketching the concatenated input
    directly): combine retained entries below ``min(θ_a, θ_b)``, dedup
    keys, and re-saturate at ``k`` if more than ``k`` survive. Every
    window here runs over ≤ 2k rows per group."""
    gcols = list(group_cols)
    tmin = _group_thetas(a, b, gcols)
    cols = [*gcols, "__u", "__key"]
    rows = (
        a.select(*cols).unionByName(b.select(*cols))
        .dropDuplicates([*gcols, "__key"]))
    rows = _attach(rows, tmin, gcols).filter(F.col("__u") < F.col("__tmin"))
    w = Window.partitionBy(*gcols).orderBy("__u", "__key")
    ranked = rows.withColumn("__rn", F.row_number().over(w))
    th_new = ranked.groupBy(*gcols).agg(
        F.max(F.when(F.col("__rn") == k, F.col("__u")))
        .alias("__tnew"))
    out = _attach(ranked.drop("__rn"), th_new, gcols)
    return (
        out.withColumn(
            "__theta", F.coalesce("__tnew", F.col("__tmin")))
        .filter(F.col("__u") < F.col("__theta"))
        .select(*gcols, "__u", "__key", "__theta")
    )


def theta_estimate(
    sketch: DataFrame,
    group_cols: Sequence[str] = (),
    est_col: str = "distinct_est",
) -> DataFrame:
    """``|retained| / θ`` per group, 6-dp DOUBLE."""
    gcols = list(group_cols)
    return sketch.groupBy(*gcols).agg(
        F.round(
            F.count(F.lit(1)).cast("double") / F.min("__theta"), RELEASE_DP
        ).alias(est_col))


def theta_intersect_estimate(
    a: DataFrame, b: DataFrame,
    group_cols: Sequence[str] = (),
    est_col: str = "intersect_est",
) -> DataFrame:
    """``|A ∩ B|`` estimate: keys retained on BOTH sides below
    ``θ = min(θ_a, θ_b)``, divided by θ. The error is governed by the
    UNION's scale (~ |A ∪ B| / √k absolute), the documented theta
    property — tiny intersections of huge sets come back noisy; grow
    ``k`` accordingly. Sketches must share seed and key encoding."""
    gcols = list(group_cols)
    tmin = _group_thetas(a, b, gcols)
    ak = a.select(*gcols, "__u", "__key")
    bk = b.select(*gcols, "__key")
    inter = ak.join(bk, [*gcols, "__key"])
    inter = _attach(inter, tmin, gcols).filter(
        F.col("__u") < F.col("__tmin"))
    cnt = inter.groupBy(*gcols).agg(F.count(F.lit(1)).alias("__c"))
    if gcols:
        out = tmin.join(cnt, gcols, "left")
    else:
        out = tmin.crossJoin(F.broadcast(cnt))
    return out.select(
        *gcols,
        F.round(
            F.coalesce(F.col("__c"), F.lit(0)).cast("double")
            / F.col("__tmin"), RELEASE_DP).alias(est_col))


def theta_difference_estimate(
    a: DataFrame, b: DataFrame,
    group_cols: Sequence[str] = (),
    est_col: str = "difference_est",
) -> DataFrame:
    """``|A \\ B|`` estimate: A's retained keys below
    ``θ = min(θ_a, θ_b)`` that B's retained set does NOT contain,
    divided by θ (same union-scale error as the intersection)."""
    gcols = list(group_cols)
    tmin = _group_thetas(a, b, gcols)
    ak = a.select(*gcols, "__u", "__key")
    ak = _attach(ak, tmin, gcols).filter(F.col("__u") < F.col("__tmin"))
    only = ak.join(
        b.select(*gcols, "__key"), [*gcols, "__key"], "left_anti")
    cnt = only.groupBy(*gcols).agg(F.count(F.lit(1)).alias("__c"))
    if gcols:
        out = tmin.join(cnt, gcols, "left")
    else:
        out = tmin.crossJoin(F.broadcast(cnt))
    return out.select(
        *gcols,
        F.round(
            F.coalesce(F.col("__c"), F.lit(0)).cast("double")
            / F.col("__tmin"), RELEASE_DP).alias(est_col))


# --------------------------------------------------------------------- #
# KLL quantile sketch
# --------------------------------------------------------------------- #

class _KLL:
    """Plain-Python KLL quantile sketch (Karnin, Lang & Liberty, FOCS
    2016) — the worker-side kernel behind :func:`kll_sketch`. Level h
    holds items of weight 2^h; a full level sorts and promotes every
    other item (the compaction coin is an md5 PRF of (seed, level,
    compaction-count) — no RNG state, so a retried task rebuilds the
    identical sketch). An odd leftover stays at its level, so TOTAL
    WEIGHT == items seen exactly (unit-pinned invariant). Capacities
    shrink geometrically below the top level (c = 2/3, floor 2)."""

    C = 2.0 / 3.0

    def __init__(self, k: int, seed: str):
        self.k = int(k)
        self.seed = seed
        self.levels: list[list[float]] = [[]]
        self.ncompact: list[int] = [0]
        self.n = 0

    def _cap(self, h: int) -> int:
        depth = len(self.levels) - 1 - h
        return max(int(self.k * (self.C ** depth)), 2)

    def _coin(self, h: int) -> int:
        import hashlib

        key = f"{self.seed}:{h}:{self.ncompact[h]}".encode()
        return hashlib.md5(key).digest()[0] & 1

    def _total_cap(self) -> int:
        return sum(self._cap(h) for h in range(len(self.levels)))

    def _size(self) -> int:
        return sum(len(b) for b in self.levels)

    def _compact(self) -> None:
        while self._size() > self._total_cap():
            for h in range(len(self.levels)):
                if len(self.levels[h]) > self._cap(h):
                    buf = sorted(self.levels[h])
                    off = self._coin(h)
                    self.ncompact[h] += 1
                    if len(buf) % 2 == 1:
                        # odd leftover keeps its level: weight exact
                        keep, buf = [buf[-1]], buf[:-1]
                    else:
                        keep = []
                    promoted = buf[off::2]
                    self.levels[h] = keep
                    if h + 1 == len(self.levels):
                        self.levels.append([])
                        self.ncompact.append(0)
                    self.levels[h + 1].extend(promoted)
                    break
            else:
                return

    def update_many(self, values) -> None:
        self.levels[0].extend(float(v) for v in values)
        self.n += len(values)
        self._compact()

    def merge_rows(self, levels, values, counts) -> None:
        """Fold another sketch's (level, value) rows in, levelwise."""
        for lv, v, c in zip(levels, values, counts):
            lv = int(lv)
            while lv >= len(self.levels):
                self.levels.append([])
                self.ncompact.append(0)
            self.levels[lv].extend([float(v)] * int(c))
            self.n += (1 << lv) * int(c)
        self._compact()

    def rows(self):
        for h, buf in enumerate(self.levels):
            for v in buf:
                yield h, v

    def total_weight(self) -> int:
        return sum((1 << h) * len(b) for h, b in enumerate(self.levels))

    def quantiles(self, qs):
        pairs = sorted(
            (v, 1 << h) for h, b in enumerate(self.levels) for v in b)
        w = self.total_weight()
        out = []
        for q in qs:
            target = q * w
            cum = 0.0
            est = pairs[-1][0] if pairs else float("nan")
            for v, wt in pairs:
                cum += wt
                if cum >= target:
                    est = v
                    break
            out.append(est)
        return out


def kll_sketch(
    df: DataFrame,
    value_col: str,
    k: int = 200,
    seed: str = "kll",
) -> DataFrame:
    """Distributed KLL quantile sketch build: one scan-local
    ``mapInPandas`` fold per partition (the `_mg_summaries` /
    `_kmv_fold` shape — ≤ O(k·log n) rows out per partition, zero
    data shuffle), then ONE bounded merge task over the partial
    sketches' rows. Returns the merged sketch as
    ``(level INT, value DOUBLE, cnt BIGINT)`` rows — total weight
    ``Σ 2^level · cnt`` equals the (non-NULL) input count EXACTLY
    (the odd-leftover rule; unit-pinned), and rank error is
    O(1/k) w.h.p. (KLL beats the bottom-k sample's O(1/sqrt(k)) at
    equal space — the reason it exists next to `kmv_sample`).

    Determinism: compaction coins are md5 PRFs, so the sketch is a
    pure function of (input multiset, PARTITIONING) — re-run-stable on
    a fixed layout, error-bounded on any. Gates therefore pin the
    exact-rank ERROR BOUND (self-checking booleans, the
    `sketch_count_min` precedent) rather than sketch bytes."""
    from pyspark.sql import types as T

    if k < 8:
        raise ValueError("k must be >= 8")
    vals = df.select(
        F.col(value_col).cast("double").alias("__v")
    ).filter(F.col("__v").isNotNull())
    part_schema = T.StructType([
        T.StructField("level", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("cnt", T.LongType()),
    ])

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sk = _KLL(k, seed)
        for pdf in batches:
            if len(pdf):
                sk.update_many(pdf["__v"].to_numpy())
        rows = list(sk.rows())
        if rows:
            out = pd.DataFrame(rows, columns=["level", "value"])
            out = out.groupby(["level", "value"], as_index=False).size()
            out.columns = ["level", "value", "cnt"]
            yield out

    partials = vals.mapInPandas(fold, part_schema)

    def merge(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sk = _KLL(k, seed + ":merge")
        for pdf in pdfs:
            if len(pdf):
                sk.merge_rows(pdf["level"], pdf["value"], pdf["cnt"])
        rows = list(sk.rows())
        if rows:
            out = pd.DataFrame(rows, columns=["level", "value"])
            out = out.groupby(["level", "value"], as_index=False).size()
            out.columns = ["level", "value", "cnt"]
            yield out

    return partials.coalesce(1).mapInPandas(merge, part_schema)


def kll_quantiles(
    sketch_rows: list,
    qs: Sequence[float],
) -> list[float]:
    """Driver-side quantile read-out of a collected `kll_sketch` result
    (the sketch is O(k·log n) rows — collecting IT is the point; the
    data was never collected)."""
    pairs = sorted(
        (r["value"], (1 << int(r["level"])) * int(r["cnt"]))
        for r in sketch_rows)
    w = sum(p[1] for p in pairs)
    out = []
    for q in qs:
        target = q * w
        cum = 0.0
        est = pairs[-1][0] if pairs else float("nan")
        for v, wt in pairs:
            cum += wt
            if cum >= target:
                est = v
                break
        out.append(est)
    return out
