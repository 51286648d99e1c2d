"""Graph operators over edge-list DataFrames: connected components (the
cluster-resolution stage of a fuzzy-dedup pipeline), PageRank, HITS,
label propagation, BFS and weighted shortest paths, k-core peeling,
triangles, link prediction and community scores.

Edges. The undirected operators read their edge list through one of two
normalizers, each materialized once: :func:`_symmetric_edges` (both
directions, self-loops dropped, distinct) for neighbor walks and
:func:`_canonical_edges` (each edge once as ``least``/``greatest``) for
counting. PageRank and HITS read :func:`_directed_edges`. Both directions
come from ONE explode, never a self-union: a union's two branches each
re-evaluate the whole upstream pipeline (for LSH candidate pairs that
doubled the MinHash stage, 14 s → 8 s end-to-end at 100k docs/1M pairs),
while the explode doubles rows in a single pass over one evaluation.

Rounds. Every iterative operator runs its rounds through
:func:`puffbird_spark.plans.iterate`: each round's state is materialized
by a local checkpoint (truncating the lineage, which otherwise doubles
per round), the round it supersedes is released as soon as it is, and a
converging operator counts its changed rows in the same job that
materializes the round. Everything is keyed joins and aggregations on
vertex ids; nothing is all-pairs.
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import RELEASE_DP
from ..plans import iterate


def _both_ways(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Every edge in both directions as ``(a, b)``, from one explode."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
            )
        ).alias("__e")
    ).select("__e.a", "__e.b")


def _symmetric_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct ``(a, b)`` in both directions, self-loops dropped."""
    return (
        _both_ways(edges, src, dst)
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Each undirected edge once as distinct ``(a, b)`` with ``a < b``."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _directed_edges(
    edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, DataFrame]:
    """Distinct directed ``(src, dst)`` edges and their ``(vertex)`` set,
    every source or target."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = (
        e.select(F.explode(F.array("src", "dst")).alias("vertex"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return e, verts


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    assume_distinct: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve undirected edges into components.

    Returns (vertex, component) where ``component`` is the minimum vertex
    id reachable from ``vertex``. Only vertices that appear in an edge are
    returned (isolated docs are their own cluster by definition — join
    back with a coalesce if the full corpus mapping is needed).

    Algorithm: iterative min-label propagation. Every vertex starts
    labeled with itself; each round a vertex takes the minimum of its own
    label and its neighbors' labels; at fixpoint the label is the
    component's minimum vertex id. Each round is keyed joins and one
    groupBy min, ending with a path-halving shortcut (relabel through the
    label table itself: ``comp ← label(comp)``), so convergence is
    O(log diameter) rather than O(diameter) — 20 rounds cover any graph a
    dedup pipeline can produce. If the budget is still exhausted without
    a fixpoint the operator warns instead of returning silently split
    components (ADVICE r2).

    ``assume_distinct``: skip the edge-dedup shuffle when the caller
    guarantees unique (src, dst) pairs with src != dst — true for LSH
    candidate pairs, which end in ``dropDuplicates`` with ``id_a < id_b``.
    Duplicate edges would not corrupt results (min is idempotent), only
    inflate the per-round join, so this is a pure optimization knob.
    """
    # self-loops stay: a vertex whose only edge is a self-loop is still
    # its own component
    edges = _both_ways(pairs, src, dst)
    if not assume_distinct:
        edges = edges.distinct()
    edges = edges.localCheckpoint(eager=True)
    # round-0 fold (r14, guide §2.4): starting from identity labels,
    # the loop's first round reduces to comp = min(v, min of DIRECT
    # neighbors) — so compute that directly as ONE keyed aggregation
    # over the materialized edges instead of checkpointing identity
    # labels and paying the first round's two joins + convergence
    # count against them. (The skipped round-1 path-halving jump is
    # label∘label over identity labels' propagation — on deep chains
    # this can cost one extra LATE round, but near-dup components are
    # stars/cliques that now finish in the fold itself: dedup_clusters
    # converges in 1 loop round instead of 2 at the driven SFs.) The
    # min-label fixpoint is unique and the loop still runs to
    # changed == 0, so results are identical by construction.
    labels = (
        edges.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("comp"))
        .select(F.col("a").alias("v"), "comp")
        .localCheckpoint(eager=True)
    )
    if stats is not None:
        stats["edges"] = edges.count()
        stats["rounds"] = 0

    def step(labels: DataFrame, k: int) -> DataFrame:
        if stats is not None:
            stats["rounds"] = k
        neighbor_min = (
            edges.join(labels, edges.b == labels.v)
            .groupBy("a")
            .agg(F.min("comp").alias("nmin"))
        )
        propagated = labels.join(
            neighbor_min, labels.v == neighbor_min.a, "left"
        ).select(
            "v",
            F.col("comp").alias("__old"),
            F.least(
                F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))
            ).alias("comp"),
        )
        # path halving: comp ← label(comp). Labels only decrease and
        # label(x) ≤ x, so this jump is always valid; combined with the
        # neighbor step it makes long chains converge in O(log d) rounds.
        relabel = propagated.select(
            F.col("v").alias("__cv"), F.col("comp").alias("__cc")
        )
        return propagated.join(
            relabel, propagated.comp == relabel.__cv, "left"
        ).select(
            "v",
            "__old",
            F.coalesce(F.col("__cc"), F.col("comp")).alias("comp"),
        )

    # labels only decrease, so "comp < __old" IS the change set
    labels = iterate(labels, step, max_iter,
                     until=F.col("comp") < F.col("__old"))
    return labels.select(F.col("v").alias("vertex"), F.col("comp").alias("component"))


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Candidate pairs → (doc_id, cluster_id, is_canonical): the keep/drop
    decision of a fuzzy-dedup pipeline. ``cluster_id`` is the minimum
    doc id in the component; that doc is the canonical survivor.

    LSH candidate pairs are unique with id_a < id_b by construction
    (``minhash_candidate_pairs`` ends in dropDuplicates), so the CC edge
    list skips its dedup shuffle."""
    comp = connected_components(pairs, id_a, id_b, max_iter,
                                assume_distinct=True)
    return comp.select(
        F.col("vertex").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("vertex") == F.col("component")).alias("is_canonical"),
    )


def incremental_components(
    new_pairs: DataFrame,
    state: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """INCREMENTAL connected components — fold a batch of new edges into
    an existing ``(vertex, component)`` mapping WITHOUT re-running CC
    over history (round 8; the cluster-resolution twin of the
    incremental dedup family): at 100 TB the dedup pair graph grows by
    append batches, and re-resolving the full graph per batch is the
    cost this operator deletes.

    Mechanics (all keyed joins, batch-sized except the final label
    update):

    1. relabel the batch's endpoints through the state (unknown
       vertices keep their own id) — two equi-joins on the BATCH;
    2. drop self-loops; the surviving CONTRACTED edges connect
       component representatives and brand-new vertices only — a graph
       bounded by the batch size, not the corpus;
    3. run the proven min-label CC on that contracted graph;
    4. one join relabels the state through the new roots (components
       are min-vertex labels, so the contracted minimum IS the global
       minimum), and the batch's unseen vertices append with their
       resolved roots.

    Replaying batches in any order equals one-shot CC over the union of
    all edges (unit-pinned; label = min vertex id of the component
    either way). Returns the NEW state — same schema, ready for the
    next batch."""
    sa = state.select(
        F.col("vertex").alias("__va"), F.col("component").alias("__ca"))
    sb = state.select(
        F.col("vertex").alias("__vb"), F.col("component").alias("__cb"))
    e = (
        new_pairs.select(F.col(id_a).alias("__a"), F.col(id_b).alias("__b"))
        .join(sa, F.col("__a") == F.col("__va"), "left")
        .join(sb, F.col("__b") == F.col("__vb"), "left")
        .select(
            F.coalesce("__ca", "__a").alias("__ra"),
            F.coalesce("__cb", "__b").alias("__rb"))
    )
    contracted = (
        e.filter(F.col("__ra") != F.col("__rb"))
        .select(
            F.least("__ra", "__rb").alias("id_a"),
            F.greatest("__ra", "__rb").alias("id_b"))
        .distinct()
    )
    roots = connected_components(
        contracted, "id_a", "id_b", max_iter, assume_distinct=True
    ).select(F.col("vertex").alias("__l"), F.col("component").alias("__r"))
    # the roots table is label-count-sized (only components being merged
    # this batch); both relabel joins consume it — materialize once
    roots = roots.localCheckpoint(eager=True)
    updated = (
        state.join(roots, state["component"] == F.col("__l"), "left")
        .select(
            "vertex", F.coalesce("__r", "component").alias("component"))
    )
    batch_vertices = (
        new_pairs.select(F.col(id_a).alias("vertex"))
        .unionByName(new_pairs.select(F.col(id_b).alias("vertex")))
        .distinct()
    )
    added = (
        batch_vertices.join(
            state.select("vertex"), "vertex", "left_anti")
        .join(roots, F.col("vertex") == F.col("__l"), "left")
        .select("vertex", F.coalesce("__r", "vertex").alias("component"))
    )
    return updated.unionByName(added)


def canonical_by_priority(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    priority_col: str = "priority",
) -> DataFrame:
    """Re-elect each dedup cluster's canonical survivor by QUALITY
    instead of min-id (round 8): production dedup keeps the BEST
    duplicate (highest quality score, longest text, preferred source),
    not the lowest id — min-id is only the deterministic default of the
    resolution step. Joins the cluster mapping to a per-doc priority
    and flags, per cluster, the row with the highest 6-dp-rounded
    priority (ties break to the smallest id, keeping determinism).

    Cost: one keyed join (id) + one cluster-keyed argmax — both shuffle
    id/score pairs only. Returns ``(id_col, cluster_col, priority_col,
    is_canonical)``."""
    p = F.round(F.col(priority_col).cast("double"), RELEASE_DP)
    j = clusters.select(id_col, cluster_col).join(
        scores.select(id_col, p.alias("__p")), id_col)
    best = j.groupBy(cluster_col).agg(
        F.max(F.struct(
            F.col("__p").alias("p"),
            (-F.col(id_col)).alias("negid"))).alias("__b"))
    return (
        j.join(best, cluster_col)
        .select(
            id_col, cluster_col,
            F.col("__p").alias(priority_col),
            ((F.col("__p") == F.col("__b.p"))
             & (-F.col(id_col) == F.col("__b.negid"))
             ).alias("is_canonical"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 8,
    damping: float = 0.85,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """PageRank (Brin & Page) over a directed edge list — the classic
    link-quality prior a web-scale curation pipeline feeds into
    document quality scores (domain/page authority as a filter or
    mixture feature).

    Power iteration, ``n_iter`` fixed rounds:
    ``r'(v) = (1-d)·t(v) + d·(Σ_{u→v} r(u)/outdeg(u) + dangling·t(v))``
    where ``dangling`` is the total rank parked on vertices without
    out-edges and ``t`` is the teleport distribution — uniform ``1/N``
    by default, or PERSONALIZED (Haveliwala 2002) when ``seeds`` is
    given: a one-column DataFrame of seed vertex ids, teleporting
    uniformly over the seeds only, so rank measures proximity to the
    trusted seed set (the standard seed-expansion selector for
    harvesting domain-relevant documents from a link graph).
    Vertices are everything appearing as source OR target.

    Engine-portable float policy: each iteration's rank rounds at
    9 dp (HALF_UP via ``F.round``), and every ORDER-FREE SUM — the
    per-vertex inflow and the dangling total — adds 1e12-scaled LONG
    terms, not raw doubles (ADVICE r8 #4: a raw double sum is
    partial-aggregation-order dependent, the same hazard the
    ewma/anova gates fixed; exact integer addition is the portability
    rule of NOTES.md, and long sums stay inside whole-stage codegen
    where a decimal snap measured 1.4× slower). Overflow-free by
    construction: both sums are bounded by the total rank mass ≈ 1.
    An oracle unrolling the same ``n_iter`` rounds in SQL replays
    value-for-value at any parallelism.

    Scale shape: per round ONE join (contributions = ranks ⋈ edges on
    the source key) + one groupBy sum on the target key — partitioning
    alternates between the two vertex keys, nothing is ever all-pairs;
    the dangling total and N ride one-row broadcast cross joins.
    Returns ``(vertex, rank)``.
    """
    if n_iter <= 0:
        raise ValueError("n_iter must be positive")
    if not (0.0 < damping < 1.0):
        raise ValueError("damping must be in (0, 1)")
    e, verts = _directed_edges(edges, src, dst)
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # vertex table carries outdeg once (0 = dangling). The r13 shape
    # materialized base, then base+tel, then base+rank as THREE
    # sequential eager checkpoints; the last two are projections of the
    # first (n rides a broadcast one-row subquery over the checkpointed
    # verts), so ONE materialization carries all of it — two fewer
    # driver jobs before the first iteration (guide §1.2: job count is
    # the setup cost at bench SF, and nothing here changes per-round
    # work).
    base = verts.join(outdeg, verts.vertex == outdeg.src, "left").select(
        "vertex", F.coalesce("outdeg", F.lit(0)).alias("outdeg"))
    if seeds is None:
        n = verts.agg(F.count(F.lit(1)).alias("n"))
        base = (
            base.crossJoin(F.broadcast(n))
            .select("vertex", "outdeg",
                    (F.lit(1.0) / F.col("n")).alias("tel"))
        )
    else:
        seed_col = seeds.columns[0]
        s = seeds.select(
            F.col(seed_col).alias("vertex")).distinct()
        ns = s.agg(F.count(F.lit(1)).alias("ns"))
        base = (
            base.join(s.withColumn("__seed", F.lit(1)), "vertex", "left")
            .crossJoin(F.broadcast(ns))
            .select(
                "vertex", "outdeg",
                (F.coalesce("__seed", F.lit(0)).cast("double")
                 / F.col("ns")).alias("tel"))
        )
    base = base.select(
        "vertex", "outdeg", "tel", F.round("tel", 9).alias("rank")
    ).localCheckpoint(eager=True)
    # Order-free sums via 1e12-scaled LONG arithmetic (ADVICE r8 #4):
    # each term snaps to the nearest integer multiple of 1e-12 BEFORE the
    # keyed sum, so addition is exact integer math — partial-agg-order
    # free at any parallelism — while staying inside whole-stage codegen
    # (a decimal(18,12) snap was value-identical but measured 1.4× slower
    # on the bench gate; long sums recover it). No overflow by
    # construction: a vertex's inflow and the dangling total are both
    # bounded by the TOTAL rank mass ≈ 1, i.e. ≤ ~1e12 after scaling,
    # independent of graph size.
    scale = F.lit(float(10 ** 12))

    def step(ranks: DataFrame, _k: int) -> DataFrame:
        dangling = (
            ranks.filter(F.col("outdeg") == 0)
            .agg((F.coalesce(
                F.sum(F.round(F.col("rank") * scale, 0).cast("long")),
                F.lit(0)) / scale).alias("dangling"))
        )
        contrib = (
            ranks.filter(F.col("outdeg") > 0)
            .join(e, ranks.vertex == e.src)
            .select(
                F.col("dst").alias("vertex"),
                F.round(F.col("rank") / F.col("outdeg") * scale, 0)
                .cast("long").alias("c"))
            .groupBy("vertex")
            .agg((F.sum("c") / scale).alias("inflow"))
        )
        return (
            base.join(contrib, "vertex", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "vertex", "outdeg", "tel",
                F.round(
                    (1.0 - damping) * F.col("tel")
                    + damping * (F.coalesce("inflow", F.lit(0.0))
                                 + F.col("dangling") * F.col("tel")),
                    9).alias("rank"))
        )

    return iterate(base, step, n_iter).select("vertex", "rank")


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 4,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) — community
    detection over an UNDIRECTED edge list, the cheap complement to
    :func:`connected_components` when components are too coarse
    (one giant connected web graph still has communities). Each vertex
    starts labeled with itself; per round every vertex adopts the most
    frequent label among its neighbors, ties broken to the SMALLEST
    label (the determinism the usual random tie-break forfeits —
    every round is exactly replayable, so a fixed-round unrolled SQL
    oracle can hash-match it). Vertices are edge endpoints (isolated
    vertices are their own community by definition, as in
    :func:`connected_components`); self-loops are dropped. Pure
    integer arithmetic — no float policy needed anywhere.

    Scale shape: each round is one labels ⋈ edges join + one (vertex,
    label) count + one per-vertex top-1 window — all keyed on vertex
    ids, nothing all-pairs. Fixed ``n_iter`` rounds: synchronous LPA
    can oscillate on bipartite structures, so callers pick the round
    budget and read the labels as "communities after k rounds" —
    deterministic, not a fixpoint claim. Returns ``(vertex, label)``.
    """
    if n_iter <= 0:
        raise ValueError("n_iter must be positive")
    und = _symmetric_edges(edges, src, dst)
    w = Window.partitionBy("vertex").orderBy(
        F.desc("n"), F.asc("label"))

    def step(labels: DataFrame, _k: int) -> DataFrame:
        neigh = (
            und.join(labels, und.b == labels.vertex)
            .select(F.col("a").alias("vertex"), "label")
            .groupBy("vertex", "label")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("vertex", F.col("label").alias("__new"))
        )
        return labels.join(neigh, "vertex", "left").select(
            "vertex", F.coalesce("__new", "label").alias("label"))

    labels = und.select(
        F.col("a").alias("vertex"), F.col("a").alias("label")).distinct()
    return iterate(labels, step, n_iter)


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 4,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    list — the complement to :func:`pagerank` when the question is
    "what CURATES well" (hubs: pages whose outlinks concentrate on
    good content — link-list/index pages a crawl seeds from) vs "what
    IS good" (authorities).

    Classic mutual recursion, ``n_iter`` fixed rounds with L1
    normalization (sum-to-one — no cross-engine ``sqrt`` chains):

        a(v) ← Σ_{u→v} h(u), then a ← a / Σa
        h(u) ← Σ_{u→v} a(v), then h ← h / Σh

    Each normalized score rounds at 9 dp (the engine-portable float
    policy — inflow addition order is unguaranteed everywhere, the
    :func:`pagerank` rule), so a SQL oracle unrolling the same rounds
    replays value-for-value. Returns ``(vertex, hub, authority)``.

    Scale shape: two keyed join+sum passes per round (alternating
    partitioning between the two vertex keys), each its own
    materialized half-round; the two normalizers ride one-row broadcast
    cross joins. Nothing all-pairs, nothing collected."""
    if n_iter <= 0:
        raise ValueError("n_iter must be positive")
    e, verts = _directed_edges(edges, src, dst)
    n = verts.agg(F.count(F.lit(1)).alias("n"))
    scores = (
        verts.crossJoin(F.broadcast(n))
        .select("vertex",
                F.round(F.lit(1.0) / F.col("n"), 9).alias("hub"),
                F.round(F.lit(1.0) / F.col("n"), 9).alias("auth"))
        .localCheckpoint(eager=True)
    )
    dec0 = F.lit(0).cast("decimal(18,12)")

    def step(scores: DataFrame, k: int) -> DataFrame:
        # odd half-rounds update authorities from hubs along u→v, even
        # ones hubs from authorities against it
        frm, to, old, new = (
            ("src", "dst", "hub", "auth") if k % 2 else
            ("dst", "src", "auth", "hub"))
        # 12-dp decimal snap before every order-free sum (the pagerank
        # portability rule, ADVICE r8 #4): the summed scores are 9-dp
        # rounded doubles, so the snap is exact and the sums engine-free
        raw = (
            scores.join(e, scores.vertex == e[frm])
            .groupBy(to).agg(
                F.sum(F.col(old).cast("decimal(18,12)")).alias("__raw"))
            .select(F.col(to).alias("vertex"), "__raw")
        )
        tot = raw.agg(F.sum("__raw").alias("__tot"))
        return (
            scores.select("vertex", old)
            .join(raw, "vertex", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "vertex", old,
                F.round(
                    F.coalesce(F.col("__raw"), dec0).cast("double")
                    / F.col("__tot").cast("double"), 9
                ).alias(new))
        )

    scores = iterate(scores, step, 2 * n_iter)
    return scores.select("vertex", "hub", F.col("auth").alias("authority"))


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-vertex triangle counts over an undirected edge list — the
    classic distributed-graph benchmark and a real curation signal
    (triangle density separates organic link neighborhoods from link
    farms; clustering coefficient = triangles / wedges).

    The DEGREE-ORIENTATION algorithm (Chiba-Nishizeki / the standard
    MapReduce formulation): orient every edge from the lower-ranked
    endpoint to the higher, ranking vertices by ``(degree, id)`` —
    every triangle then has exactly ONE wedge whose center precedes
    both ends, so the wedge self-join's fan-out is bounded by the
    ORIENTED out-degree (<= O(sqrt(|E|)) on any graph — the reason
    this survives power-law hubs: a celebrity vertex of degree 10^6
    contributes wedges only toward its few higher-ranked peers, not
    10^12 pairs). One wedge join + one edge-existence semi-join +
    one explode-and-count; everything equi-keyed, nothing cartesian.
    Returns ``(vertex, n_triangles)`` for every vertex incident to at
    least one edge (0 rows included via the vertex table)."""
    return _triangles(_canonical_edges(edges, src, dst)).select(
        "vertex", "n_triangles")


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Local clustering coefficient — ``2·T(v) / (d(v)·(d(v)−1))``,
    the fraction of a vertex's neighbor pairs that are themselves
    connected (Watts-Strogatz): the per-vertex ratio form of
    :func:`triangle_count`, and the standard link-farm/organic-
    neighborhood discriminator (farms interlink densely; organic
    hubs do not). Vertices with degree < 2 read 0 (no wedge to
    close). Exact integer counts, one 6-dp-rounded division.
    Returns ``(vertex, degree, n_triangles, coefficient)``."""
    return _triangles(_canonical_edges(edges, src, dst)).select(
        "vertex", "degree", "n_triangles",
        F.when(
            F.col("degree") >= 2,
            F.round(
                2.0 * F.col("n_triangles")
                / (F.col("degree") * (F.col("degree") - 1)), RELEASE_DP))
        .otherwise(F.lit(0.0)).alias("coefficient"))


def _triangles(und: DataFrame) -> DataFrame:
    """``(vertex, degree, n_triangles)`` over canonical edges, by the
    degree orientation :func:`triangle_count` describes."""
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    )
    # orient each edge toward the (degree, id)-higher endpoint
    ranked = (
        und.join(deg.select(F.col("v").alias("a"),
                            F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"),
                         F.col("d").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db"))
                   & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")))
            .otherwise(
                F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("e"))
        .select("e.lo", "e.hi")
        .localCheckpoint(eager=True)
    )
    w1 = ranked.select(F.col("lo").alias("c"), F.col("hi").alias("x"))
    w2 = ranked.select(F.col("lo").alias("c"), F.col("hi").alias("y"))
    wedges = (
        w1.join(w2, "c")
        .filter(F.col("x") < F.col("y"))
    )
    closing = und.select(
        F.col("a").alias("x"), F.col("b").alias("y"))
    tris = wedges.join(closing, ["x", "y"], "left_semi")
    per_vertex = (
        tris.select(F.explode(F.array("c", "x", "y")).alias("vertex"))
        .groupBy("vertex").agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.select(F.col("v").alias("vertex"), F.col("d").alias("degree"))
        .join(per_vertex, "vertex", "left")
        .select(
            "vertex", "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long")
            .alias("n_triangles"))
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 4,
) -> DataFrame:
    """Multi-source BFS over an undirected edge list: exact hop
    distance from the nearest seed, up to ``max_depth`` — the
    DISCRETE twin of personalized PageRank for seed-expansion
    selection ("everything within k links of the trusted set"), and
    the crawl-frontier primitive. Returns ``(vertex, dist)`` for
    every vertex reached within the budget (seeds at 0); unreached
    vertices are absent — the caller's filter IS the selection.

    Scale shape: classic frontier expansion — per round ONE join
    (frontier ⋈ edges) + one distinct + one anti-join against the
    settled set (only NEWLY reached vertices survive, so frontiers
    shrink as the ball saturates). The frontier of round ``k`` is the
    ring reached in round ``k - 1``, so the settled table is the whole
    round state. Rounds = ``max_depth``, not diameter — the budget is
    the caller's radius, never a convergence hope."""
    if max_depth < 0:
        raise ValueError("max_depth must be >= 0")
    und = _symmetric_edges(edges, src, dst)
    seed_col = seeds.columns[0]
    dist = seeds.select(
        F.col(seed_col).alias("vertex"), F.lit(0).alias("dist")
    ).distinct().localCheckpoint(eager=True)

    def step(dist: DataFrame, k: int) -> DataFrame:
        frontier = dist.filter(F.col("dist") == k - 1)
        nxt = (
            frontier.join(und, frontier.vertex == und.a)
            .select(F.col("b").alias("vertex"),
                    F.lit(k).alias("dist"))
            .distinct()
            .join(dist.select("vertex"), "vertex", "left_anti")
        )
        return dist.unionByName(nxt)

    return iterate(dist, step, max_depth)


def k_core_peel(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 6,
) -> DataFrame:
    """Vertices surviving ``rounds`` peels of the ``k``-core
    reduction: repeatedly delete vertices whose degree (within the
    surviving subgraph) is below ``k`` — the density filter web
    curation uses to separate tightly-linked cores from tendrils and
    spam chains (Seidman 1983). Fixed rounds, the :func:`label_propagation`
    truncation convention: the result is "after N peels", exactly
    replayable by an unrolled oracle — on most graphs the peel
    reaches fixpoint far earlier and further rounds are no-ops.

    Per round: one degree aggregation over the surviving edge set +
    one semi-join filter — everything keyed.
    Returns ``(vertex, degree)`` of the surviving subgraph."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")

    def step(e: DataFrame, _k: int) -> DataFrame:
        deg = (
            e.select(F.explode(F.array("a", "b")).alias("v"))
            .groupBy("v").agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("v")
        return (
            e.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
        )

    e = iterate(_canonical_edges(edges, src, dst), step, rounds)
    return (
        e.select(F.explode(F.array("a", "b")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )


def adamic_adar_links(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top: int = 20,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003) — score every
    NON-adjacent pair by its common neighbors, each weighted by how
    exclusive it is::

        AA(x, y) = Σ_{z ∈ N(x) ∩ N(y)}  1 / ln(deg(z))

    the related-items / who-to-follow primitive (rare shared
    neighbors say more than celebrity hubs — that is the 1/ln).
    Returns the global ``top`` pairs: ``(id_a, id_b, score)``.

    Per-neighbor weights snap to 9-dp decimal before the per-pair sum
    (order-independent, the float policy); a wedge center always has
    degree >= 2, so ln never hits zero. Scale shape: one wedge
    self-join keyed on the center + one anti-join against the edge
    set — hub centers are the quadratic term, and
    ``max_center_degree`` drops them loudly (the documented recall
    trade every production common-neighbor job makes; celebrity hubs
    contribute ~0 weight anyway)."""
    und = _symmetric_edges(edges, src, dst)
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    # degree-1 centers have a single neighbor — no wedge to form, and
    # their 1/ln(1) would divide by zero under ANSI; drop them early
    centers = und.join(deg, "a").filter(F.col("d") >= 2).select(
        F.col("a").alias("z"), F.col("b").alias("n"), "d")
    if max_center_degree is not None:
        warnings.warn(
            f"adamic_adar_links: centers over degree {max_center_degree} "
            "are dropped — scores on pairs only connected through "
            "super-hubs are lost (each contributes < "
            f"{1.0 / math.log(max_center_degree):.3f})")
        centers = centers.filter(F.col("d") <= max_center_degree)
    weight = F.round(1.0 / F.log(F.col("d")), 9).cast("decimal(20,9)")
    w1 = centers.select("z", F.col("n").alias("x"), weight.alias("__w"))
    w2 = centers.select("z", F.col("n").alias("y"))
    pairs = (
        w1.join(w2, "z")
        .filter(F.col("x") < F.col("y"))
        .join(
            und.select(F.col("a").alias("x"), F.col("b").alias("y")),
            ["x", "y"], "left_anti")
        .groupBy(F.col("x").alias("id_a"), F.col("y").alias("id_b"))
        .agg(F.round(F.sum("__w").cast("double"), RELEASE_DP).alias("score"))
    )
    return pairs.orderBy(
        F.desc("score"), F.asc("id_a"), F.asc("id_b")).limit(top)


def jaccard_links(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top: int = 20,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Jaccard-coefficient link prediction — score every NON-adjacent
    pair by neighborhood overlap::

        J(x, y) = |N(x) ∩ N(y)| / |N(x) ∪ N(y)|

    the size-normalized twin of :func:`adamic_adar_links` (Liben-Nowell
    & Kleinberg 2003 benchmark both): Adamic-Adar rewards *rare* shared
    neighbors, Jaccard penalizes unbalanced degrees — a pair sharing 3
    of 4 neighbors outranks a pair sharing 3 of 400. Returns the global
    ``top`` pairs as ``(id_a, id_b, common_neighbors, score)``.

    Everything is integer arithmetic until one final division
    (intersection via the wedge self-join, union via
    ``deg(x) + deg(y) - inter``), so the score is bit-identical across
    engines before the 6-dp round. Scale shape is the Adamic-Adar one:
    wedge self-join keyed on the center + anti-join against the edge
    set; ``max_center_degree`` drops super-hub centers loudly (the
    standard common-neighbor recall trade — a celebrity hub inflates
    the candidate set quadratically while its Jaccard contribution is
    diluted by the union term anyway)."""
    und = _symmetric_edges(edges, src, dst)
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    centers = und.select(F.col("a").alias("z"), F.col("b").alias("n"))
    if max_center_degree is not None:
        warnings.warn(
            f"jaccard_links: centers over degree {max_center_degree} are "
            "dropped — pairs only connected through super-hubs lose those "
            "intersection contributions")
        centers = centers.join(
            deg.filter(F.col("d") <= max_center_degree)
            .select(F.col("a").alias("z")),
            "z", "left_semi")
    w1 = centers.select("z", F.col("n").alias("x"))
    w2 = centers.select("z", F.col("n").alias("y"))
    inter = (
        w1.join(w2, "z")
        .filter(F.col("x") < F.col("y"))
        .join(
            und.select(F.col("a").alias("x"), F.col("b").alias("y")),
            ["x", "y"], "left_anti")
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    dx = deg.select(F.col("a").alias("x"), F.col("d").alias("__dx"))
    dy = deg.select(F.col("a").alias("y"), F.col("d").alias("__dy"))
    scored = (
        inter.join(dx, "x").join(dy, "y")
        .select(
            F.col("x").alias("id_a"),
            F.col("y").alias("id_b"),
            "common_neighbors",
            F.round(
                F.col("common_neighbors").cast("double")
                / (F.col("__dx") + F.col("__dy")
                   - F.col("common_neighbors")),
                RELEASE_DP).alias("score"),
        )
    )
    return scored.orderBy(
        F.desc("score"), F.asc("id_a"), F.asc("id_b")).limit(top)


def modularity_communities(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertex_col: str = "vertex",
    label_col: str = "label",
) -> DataFrame:
    """Newman-Girvan modularity per community (Newman & Girvan 2004)
    — the quality score OF a partition (from
    :func:`label_propagation`, :func:`connected_components`, or any
    labeling)::

        Q = Σ_c [ m_c/m − (d_c / 2m)² ]

    emitted as one row per community with its additive contribution
    ``(2m_c·2m − d_c²) / (2m)²`` — INTEGER numerator and denominator
    (2m = directed edge-row count, 2m_c = within-community rows,
    d_c = community degree sum), one division at the end, so the
    score replays exactly; Q itself is the plain sum of the rounded
    contributions. Edges go through :func:`_symmetric_edges`; vertices missing from ``labels`` keep their own id as a
    singleton label (the LPA initial state). Two keyed joins + two
    grouped counts — nothing all-pairs. Returns
    ``(community, n_vertices, internal_edges, degree_sum,
    contribution)`` ordered by community."""
    und = _symmetric_edges(edges, src, dst)
    lab = labels.select(
        F.col(vertex_col).alias("v"), F.col(label_col).alias("lbl"))
    verts = und.select(F.col("a").alias("v")).distinct()
    lab_full = (
        verts.join(lab, "v", "left")
        .select("v", F.coalesce("lbl", F.col("v")).alias("lbl"))
    )
    twom = und.agg(F.count(F.lit(1)).alias("__t"))
    degs = und.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).alias("__d"))
    la = lab_full.select(F.col("v").alias("a"), F.col("lbl").alias("__la"))
    lb = lab_full.select(F.col("v").alias("b"), F.col("lbl").alias("__lb"))
    within = (
        und.join(la, "a").join(lb, "b")
        .filter(F.col("__la") == F.col("__lb"))
        .groupBy(F.col("__la").alias("lbl"))
        .agg(F.count(F.lit(1)).alias("__mc2"))
    )
    comm = (
        lab_full.join(degs, "v")
        .groupBy("lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vertices"),
             F.sum("__d").alias("__dc"))
    )
    return (
        comm.join(within, "lbl", "left")
        .withColumn("__mc2", F.coalesce("__mc2", F.lit(0)))
        .crossJoin(F.broadcast(twom))
        .select(
            F.col("lbl").alias("community"),
            "n_vertices",
            (F.col("__mc2") / 2).cast("long").alias("internal_edges"),
            F.col("__dc").cast("long").alias("degree_sum"),
            F.round(
                (F.col("__mc2") * F.col("__t")
                 - F.col("__dc") * F.col("__dc")).cast("double")
                / (F.col("__t") * F.col("__t")), RELEASE_DP)
            .alias("contribution"),
        )
        .orderBy("community")
    )


def shortest_paths_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    max_hops: int = 4,
    validate_weights: bool = True,
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths (Bellman-Ford, ``max_hops``
    relaxation rounds) over an undirected edge list with non-negative
    integer weights — the cost-aware sibling of :func:`bfs_distances`
    (crawl-cost budgets, weighted seed expansion). Returns
    ``(vertex, dist)`` = the minimum total weight over paths of at most
    ``max_hops`` edges from the nearest seed; unreached vertices are
    absent.

    Scale shape: per round ONE join from the IMPROVED frontier into the
    edge list, then a keyed min-merge with the settled table — the
    delta-relaxation cut keeps round cost proportional to the changing
    set, and is EXACT for the <=k-edge metric (any <=k-edge shortest
    path has a strictly-improving prefix chain, so every link is
    relaxed from a frontier member the round after its prefix settles).
    The round state is the settled table with an ``__new`` flag on the
    rows the last round improved (the next frontier); integer weights
    keep the min-merge engine-exact.

    ``validate_weights=False`` skips the eager non-negativity probe
    (one early-exit cluster round-trip per call) for hot paths whose
    edges are pre-validated — the contract still holds, it just isn't
    re-checked (ADVICE r11).
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    # the delta-relaxation cut below is only exact for NON-NEGATIVE
    # weights (with a negative edge a <=k-edge shortest path need not
    # have a strictly-improving prefix chain, so the improved-frontier
    # pruning silently misses relaxations) — enforce the documented
    # contract with a limit-1 probe instead of computing garbage
    # (probe batch 7; the scd2_apply early-exit precedent)
    if validate_weights:
        bad = edges.filter(F.col(weight) < 0).limit(1).collect()
        if bad:
            raise ValueError(
                "shortest_paths_weighted requires non-negative weights "
                f"(found {bad[0][weight]!r}) — Bellman-Ford's "
                "delta-relaxation pruning is wrong under negative edges")
    und = (
        edges.select(
            F.col(src).alias("a"), F.col(dst).alias("b"),
            F.col(weight).cast("long").alias("w"))
        .union(edges.select(
            F.col(dst).alias("a"), F.col(src).alias("b"),
            F.col(weight).cast("long").alias("w")))
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b").agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    seed_col = seeds.columns[0]
    dist = seeds.select(
        F.col(seed_col).alias("vertex"), F.lit(0).cast("long").alias("dist"),
        F.lit(True).alias("__new"),
    ).distinct().localCheckpoint(eager=True)

    def step(dist: DataFrame, _k: int) -> DataFrame:
        frontier = dist.filter(F.col("__new"))
        cand = (
            frontier.join(und, frontier.vertex == und.a)
            .select(F.col("b").alias("vertex"),
                    (F.col("dist") + F.col("w")).alias("dist"),
                    F.lit(None).cast("long").alias("__old"))
        )
        # one keyed min over settled and candidate rows keeps the
        # settled distance beside the new one
        return (
            dist.select("vertex", "dist", F.col("dist").alias("__old"))
            .unionByName(cand)
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist"), F.min("__old").alias("__old"))
            .select("vertex", "dist",
                    (F.col("__old").isNull()
                     | (F.col("dist") < F.col("__old"))).alias("__new"))
        )

    return iterate(dist, step, max_hops).select("vertex", "dist")


def bipartite_projection(
    edges: DataFrame,
    left_col: str,
    right_col: str,
    weight_col: str | None = None,
    cap_per_left: int = 8,
    min_support: int = 2,
) -> DataFrame:
    """Weighted one-mode projection of a bipartite graph (Newman 2001,
    co-occurrence networks): right-nodes become vertices, connected
    when they share a left-node, edge weight = number of shared
    left-nodes. The co-purchase / co-citation / co-occurrence builder
    behind item-item recommenders and related-entity graphs.

    Scale design — the naive projection explodes: a left-node with f
    neighbors emits C(f, 2) pairs, and real degree distributions are
    heavy-tailed (one customer with 10^4 items emits 5*10^7 pairs).
    The cap is therefore load-bearing, not cosmetic: each left-node
    keeps only its top-``cap_per_left`` right-neighbors (highest
    ``weight_col`` sum, id tie-break — deterministic), bounding
    per-left fan-out at C(cap, 2). Stages: one groupBy (left, right),
    one window top-k on the left key, one self-join on the left key
    (both sides identically partitioned — AQE plans a single
    exchange), one pair-grain count. ``min_support`` prunes the long
    noise tail at output grain."""
    w = (
        F.sum(F.col(weight_col)).alias("__w")
        if weight_col
        else F.count(F.lit(1)).cast("long").alias("__w")
    )
    lr = edges.groupBy(left_col, right_col).agg(w)
    win = Window.partitionBy(left_col).orderBy(
        F.desc("__w"), F.asc(right_col)
    )
    top = (
        lr.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= int(cap_per_left))
        .select(left_col, right_col)
    )
    a = top.withColumnRenamed(right_col, "item_a")
    b = top.withColumnRenamed(right_col, "item_b")
    pairs = a.join(b, on=left_col).filter(
        F.col("item_a") < F.col("item_b")
    )
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_support))
    )


def random_walks(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    starts: DataFrame,
    start_col: str,
    n_steps: int = 3,
    salt: str = "walk",
) -> DataFrame:
    """Deterministic random walks (DeepWalk/node2vec corpus generation,
    Perozzi 2014) — the sequence generator that turns a graph into
    skip-gram training text. Each walk's step-i neighbor choice is
    ``md5(salt|walk|i|node) % out_degree`` (functions/hashing.py): a
    pure function of the walk state, so retried tasks, different
    partitionings, and the SQL oracle all draw the SAME walks — the
    exactly-once property RNG walks cannot give.

    Shape: out-edges ranked once per source (one window keyed on the
    source), then per step TWO keyed joins (state -> degree, then
    (node, pick) -> ranked edge) — both sides keyed on the current
    node, no fan-out join (never join-all-neighbors-then-filter).
    Dead ends propagate NULL hops (left joins). Returns one row per
    walk: ``(walk_id, hop1..hopN)``. Unrolled plan: n_steps is a
    small constant (walk length, not data size)."""
    from ..functions.hashing import md5_hex_int

    ranked = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    ).distinct()
    w = Window.partitionBy("__s").orderBy("__d")
    ranked = ranked.select(
        "__s", "__d", (F.row_number().over(w) - 1).alias("__rnk"))
    deg = ranked.groupBy("__s").agg(
        F.count(F.lit(1)).cast("long").alias("__deg"))

    state = starts.select(
        F.col(start_col).alias("walk_id"),
        F.col(start_col).alias("__cur"),
    )
    out_cols = []
    for step in range(1, n_steps + 1):
        key = F.concat_ws(
            "|", F.lit(salt), F.col("walk_id").cast("string"),
            F.lit(str(step)), F.col("__cur").cast("string"))
        with_deg = state.join(
            deg, state["__cur"] == deg["__s"], "left"
        ).drop("__s")
        picked = with_deg.select(
            "walk_id", *out_cols,
            F.col("__cur").alias("__prev"),
            F.when(
                F.col("__deg").isNotNull(),
                md5_hex_int(key, 1, 8) % F.col("__deg"),
            ).alias("__pick"),
        )
        nxt = picked.join(
            ranked,
            (picked["__prev"] == ranked["__s"])
            & (picked["__pick"] == ranked["__rnk"]),
            "left",
        ).select(
            "walk_id", *out_cols,
            F.col("__d").alias(f"hop{step}"),
            F.col("__d").alias("__cur"),
        )
        out_cols.append(f"hop{step}")
        state = nxt
    return state.select("walk_id", *out_cols)


def degree_assortativity(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees across UNDIRECTED edges — positive
    means hubs link hubs (social nets), negative means hubs link leaves
    (the internet). The one-number mixing summary a graph-health check
    reports beside modularity and clustering coefficient.

    Shape: symmetrize + distinct, one degree aggregation, two
    broadcast-size degree joins onto the edge list, then ONE exact-sum
    aggregation (degrees are integers, so every moment is an exact
    decimal — the correlation-matrix float policy) with the Pearson
    closed form over the directed-both-ways edge multiset (each
    undirected edge contributes both orientations — the standard
    symmetric estimator)."""
    sym = _symmetric_edges(edges, src_col, dst_col)
    deg = sym.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("deg"))
    j = (
        sym.join(deg.withColumnRenamed("a", "__x")
                 .withColumnRenamed("deg", "dx"),
                 F.col("a") == F.col("__x"))
        .join(deg.withColumnRenamed("a", "__y")
              .withColumnRenamed("deg", "dy"),
              F.col("b") == F.col("__y"))
    )
    dx = F.col("dx").cast("decimal(18,0)")
    dy = F.col("dy").cast("decimal(18,0)")
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum(dx).alias("sx"), F.sum(dy).alias("sy"),
        F.sum(dx * dy).alias("sxy"),
        F.sum(dx * dx).alias("sxx"), F.sum(dy * dy).alias("syy"),
    )
    n = F.col("m2").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return s.select(
        (F.col("m2") / 2).cast("long").alias("n_edges"),
        F.when(den > 0, F.round(num / den, RELEASE_DP))
        .alias("assortativity"),
    )
