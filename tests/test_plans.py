"""Plan-hygiene tests: the physical plans of headline queries must keep the
properties that matter at 100 TB — pushdown, pruning, broadcast dims, top-k
without global sort (SURVEY §4.2)."""

import pytest

from puffbird_spark import plans as P
from puffbird_spark.queries import QUERIES


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def run(name):
        return QUERIES[name](spark, sf_dir)
    return run


def test_q1_filter_pushdown_and_pruning(q):
    df = q("q1_pricing_summary")
    assert P.has_pushed_filter(df, "LessThanOrEqual(l_shipdate")
    # scan must not read join keys / unused columns
    for schema in P.read_schemas(df):
        assert "l_partkey" not in schema and "l_suppkey" not in schema


def test_q3_selective_dimension_pushdown(q):
    df = q("q3_shipping_priority")
    assert P.has_pushed_filter(df, "EqualTo(c_mktsegment,BUILDING)")
    # customer scan reads exactly the two needed columns
    assert P.scan_reads_only(df, "c_custkey", {"c_custkey", "c_mktsegment"})


def test_q5_broadcasts_dimensions(q):
    df = q("q5_region_revenue")
    assert P.count_broadcast_joins(df) >= 4  # supplier/nation/region + AQE picks


def test_semi_join_pushes_probe_filter(q):
    df = q("join_semi")
    assert P.has_pushed_filter(df, "GreaterThanOrEqual(l_quantity,48.0)")
    assert "LeftSemi" in P.formatted_plan(df)


def test_topk_avoids_global_sort(q):
    df = q("sort_topk")
    assert P.has_take_ordered(df)


def test_knn_broadcasts_query_side(q):
    df = q("knn_cosine")
    assert P.count_broadcast_joins(df) >= 1
    assert P.has_pushed_filter(df, "LessThan(vec_id,10)")


def test_explode_has_no_exchange(q):
    """Generators pipeline inside the scan stage — explosion itself must
    not shuffle."""
    df = q("explode_tokens")
    assert P.count_exchanges(df) == 0


def test_window_single_exchange(q):
    """One window over one partition key = exactly one shuffle."""
    df = q("window_rank")
    assert P.count_exchanges(df) == 1


def test_asof_single_exchange(q):
    """The union-based as-of join must cost exactly one shuffle (the window
    partitionBy) — the reason it beats range-join+rank at scale."""
    df = q("join_asof")
    assert P.count_exchanges(df) == 1


def test_grouping_sets_single_expand_shuffle(q):
    """groupingSets must plan ONE Expand + one aggregate shuffle — not a
    union of per-set scans (which would read the fact table three times)."""
    df = q("agg_grouping_sets")
    plan = P.formatted_plan(df)
    assert plan.count(") Expand") == 1
    assert P.count_exchanges(df) == 1


def test_tfidf_broadcasts_idf_side(q):
    """The vocabulary-sized idf table broadcasts back onto term counts —
    no full re-shuffle of the counts for the join."""
    df = q("text_tfidf")
    assert P.count_broadcast_joins(df) >= 2  # idf side + 1-row corpus count


def test_tfidf_builds_without_driver_action(spark, sf_dir):
    """The corpus size is a 1-row broadcast aggregate inside the plan —
    building the query must launch zero Spark jobs (the old .count()
    launched one; VERDICT r2 #6)."""
    sc = spark.sparkContext
    QUERIES["text_tfidf"](spark, sf_dir)  # warm parquet footer/schema jobs
    sc.setJobGroup("tfidf-build", "plan-only build")
    try:
        QUERIES["text_tfidf"](spark, sf_dir)
        assert list(
            sc.statusTracker().getJobIdsForGroup("tfidf-build")
        ) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_top_ngrams_take_ordered(q):
    df = q("text_top_ngrams")
    assert P.has_take_ordered(df)
    assert P.count_exchanges(df) <= 2  # partial+final agg only


def test_late_data_broadcasts_watermark(q):
    """The 1-row watermark aggregate must broadcast; the fact side keeps
    one aggregation shuffle."""
    df = q("stream_late_data")
    assert P.count_broadcast_joins(df) >= 1


def test_mem_rows_literal_dim_broadcasts(q):
    df = q("mem_rows_table")
    assert P.count_broadcast_joins(df) >= 1


def test_centroids_single_shuffle(q):
    """posexplode pipelines in the scan stage; only the (label, pos)
    aggregation shuffles."""
    df = q("embedding_centroids")
    assert P.count_exchanges(df) == 1


def test_merge_upsert_never_shuffles_target(q):
    """Broadcast-mode MERGE: both passes are broadcast joins — zero
    exchanges of the target anywhere in the plan (a full-outer join would
    fall back to SortMergeJoin and shuffle the whole target)."""
    df = q("merge_upsert_customers")
    assert "SortMergeJoin" not in P.formatted_plan(df)
    assert P.count_broadcast_joins(df) >= 3  # left, semi, anti


def test_decontaminate_fence_and_broadcast(q):
    """The shingle expression must be evaluated once per scan side (the
    fence defeats InferFiltersFromGenerate re-inlining — without it the
    plan holds ~4 copies per side), and the eval gram set must broadcast
    so the train corpus is never shuffled by gram."""
    df = q("text_decontaminate")
    plan = P.formatted_plan(df)
    assert plan.count("arrays_zip") == 2  # one per side: train + eval
    assert P.count_broadcast_joins(df) >= 1
    assert "SortMergeJoin" not in plan


def test_pack_spanning_single_exchange(q):
    """Prefix-sum packing: exactly one Exchange (the shard hash) feeds the
    window; no extra sort or shuffle."""
    df = q("pack_spanning")
    assert P.count_exchanges(df) == 1


def test_bucketed_join_zero_exchange(q):
    """Co-located bucketed join: SMJ on bucket-aligned scans and the
    downstream bucket-key aggregate run with ZERO Exchange anywhere in
    the plan — the property that deletes the biggest shuffle of a
    fact-fact join at scale."""
    df = q("join_bucketed")
    assert P.count_exchanges(df) == 0
    assert P.has_sort_merge_join(df)
    assert "SelectedBucketsCount" in P.formatted_plan(df) or \
        "Bucketed: true" in P.formatted_plan(df)


def test_binned_range_join_no_nested_loop(q):
    """The pure range join must plan as an equi-join on bin ids — no
    BroadcastNestedLoopJoin / CartesianProduct anywhere."""
    df = q("join_range_binned")
    plan = P.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_subquery_gates_decorrelate(spark, sf_dir):
    """EXISTS must become a semi-join; the correlated scalar subquery
    must become one aggregate + join — never per-row re-execution."""
    from puffbird_spark.queries import QUERIES

    ex = QUERIES["sql_exists_subquery"](spark, sf_dir)
    plan = ex._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan

    sc = QUERIES["sql_scalar_subquery"](spark, sf_dir)
    plan2 = sc._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan2 and "HashAggregate" in plan2
    # the subquery is gone from the physical plan (no per-row execution)
    assert "Subquery" not in plan2 or "SubqueryBroadcast" in plan2


def test_perplexity_trains_in_one_corpus_scan(spark, sf_dir):
    """The LM's three derived tables (bigram counts, context totals,
    vocabulary) must all come from ONE materialized bigram table —
    without the checkpoint each branch replays the corpus scan+agg
    (measured 4 FileScans; the contract is <= 2: score side + at most
    one train derivation)."""
    from puffbird_spark.queries import QUERIES

    df = QUERIES["text_perplexity_bigram"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") <= 2, plan.count("FileScan")


def test_round6_operators_scale_plan_shapes(spark, sf_dir):
    """100 TB shape pins for the round-6 operators: no cartesian or
    nested-loop join in containment (inverted index only), no global
    sort in gap_fill (keyed windows only), and the funnel fold runs on
    ONE data exchange (the naive funnel pays one per step)."""
    from puffbird_spark.queries import QUERIES

    cont = QUERIES["dedup_containment"](spark, sf_dir)
    p1 = cont._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p1
    assert "BroadcastNestedLoopJoin" not in p1

    gf = QUERIES["timeseries_gap_fill"](spark, sf_dir)
    p2 = gf._jdf.queryExecution().executedPlan().toString()
    # every exchange is hash-partitioned on keys; none are single-
    # partition or range (a global sort would show rangepartitioning)
    assert "rangepartitioning" not in p2.lower()
    assert "SinglePartition" not in p2

    fu = QUERIES["funnel_conversion"](spark, sf_dir)
    p3 = fu._jdf.queryExecution().executedPlan().toString()
    # one hashpartitioning exchange for the per-key fold; the final
    # 4-row report may add single-partition shuffles over agg output
    assert p3.lower().count("hashpartitioning") <= 2


def test_q6_full_pushdown_two_column_scan(q):
    """Q6 is the pure-pushdown query: every predicate reaches the scan,
    and the lineitem read touches only the columns the query needs."""
    df = q("q6_forecast_revenue")
    assert P.has_pushed_filter(df, "GreaterThanOrEqual(l_shipdate")
    assert P.has_pushed_filter(df, "LessThan(l_quantity")
    for schema in P.read_schemas(df):
        for unused in ("l_partkey", "l_suppkey", "l_tax", "l_returnflag"):
            assert unused not in schema


def test_q18_semi_join_before_customer_join(q):
    """The HAVING subquery must plan as a semi join (orders filtered to
    big orderkeys before the expensive customer join), not a distinct
    plus inner join."""
    df = q("q18_large_volume_customers")
    plan = P.formatted_plan(df)
    assert "LeftSemi" in plan
    assert P.has_take_ordered(df)


def test_q14_broadcasts_part(q):
    df = q("q14_promo_revenue")
    assert "BroadcastHashJoin" in P.formatted_plan(df)


def test_join_cardinality_shuffles_counts_not_rows(q):
    """The sizing diagnostic must aggregate each side BEFORE its join:
    the only join input is (key, count) pairs, and the fact columns are
    pruned from both scans."""
    df = q("diag_join_cardinality")
    plan = P.formatted_plan(df)
    # both sides aggregate below the join: partial counts appear
    assert plan.count("HashAggregate") >= 4  # partial+final per side
    for schema in P.read_schemas(df):
        for wide in ("l_extendedprice", "o_totalprice", "l_quantity"):
            assert wide not in schema


def test_ewma_single_exchange_no_python(q):
    """One per-key window, no Python workers anywhere: the fold over the
    bounded frame is pure Column codegen."""
    df = q("timeseries_ewma")
    assert P.count_exchanges(df) == 1
    assert "Python" not in P.formatted_plan(df)


def test_cdc_chunks_zero_shuffle(q):
    """Content-defined chunking is scan-local: no Exchange anywhere in
    the chunk table's plan, and no Python workers."""
    df = q("dedup_cdc_chunks")
    plan = P.formatted_plan(df)
    assert P.count_exchanges(df) == 0
    assert "Python" not in plan


def test_quantile_normalize_single_exchange(q):
    """One per-group window (rank + count share the partition) after
    the grid ships as a literal: exactly one shuffle."""
    df = q("agg_quantile_normalize")
    assert P.count_exchanges(df) == 1
    assert "Python" not in P.formatted_plan(df)


def test_psi_broadcasts_edges(q):
    """Both snapshots' bucket counts join the decile edges via
    broadcast — the key-count-sized reference never shuffles the
    data side."""
    df = q("diag_distribution_psi")
    assert "BroadcastHashJoin" in P.formatted_plan(df)


def test_incremental_embedding_probe_is_equi_join(q):
    """The batch-vs-state probe must be a keyed equi-join on
    (band, bucket) — never a nested-loop/cartesian — so per-batch cost
    scales with genuine collisions, not corpus size."""
    df = q("dedup_incremental_embedding")
    plan = P.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_fold_exact_gate_zero_shuffle(q):
    """Fold-exact fusion compiles the join fold to generators: zero
    Exchange, zero Python workers."""
    df = q("engine_to_long_fold_exact")
    plan = P.formatted_plan(df)
    assert P.count_exchanges(df) == 0
    assert "Python" not in plan


def test_exactly_once_sink_result_is_pruned_scan(q):
    """Reading the committed snapshot back is a plain parquet scan of
    the manifest's shard list — no joins, no shuffles."""
    df = q("stream_exactly_once_sink")
    assert P.count_exchanges(df) == 0


def test_bm25_broadcasts_query_side_no_cartesian(q):
    """BM25's probe must be broadcast joins against the query-term and
    document-frequency maps plus one-row scalar cross joins — never a
    corpus x queries nested-loop over data-sized inputs."""
    df = q("text_bm25_topk")
    plan = P.formatted_plan(df)
    # query terms, pruned dfreq, and the two scalars all broadcast
    assert P.count_broadcast_joins(df) >= 3
    # the only nested-loop joins are the one-row scalar cross joins
    import re as _re

    nested = plan.count("BroadcastNestedLoopJoin")
    assert nested <= 2, plan  # stats scalar + nothing data-sized
    assert "CartesianProduct" not in plan


def test_fuzzy_del1_pairs_inside_buckets_only(q):
    """The deletion-neighborhood join must pair within digest buckets
    (equi-join on the digest) — no cartesian/nested-loop candidate
    generation, and the final Levenshtein verify runs post-join."""
    df = q("join_fuzzy_del1")
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan.lower()


def test_interval_overlap_join_no_nested_loop(q):
    """The interval-OVERLAP join must plan as an equi-join on the bin
    id — no BroadcastNestedLoopJoin / CartesianProduct anywhere."""
    df = q("join_interval_overlap")
    plan = P.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rfm_has_no_global_window(q):
    """customer_rfm's scale claim: quintiles come from broadcast
    cutpoints, NEVER a global ntile window (single-task funnel)."""
    plan = P.formatted_plan(q("customer_rfm"))
    assert "Window" not in plan


def test_graph_wedge_gates_no_cartesian(q):
    """The wedge self-joins (Jaccard/modularity) and the basket pair
    join must stay keyed equi-joins — no cartesian anywhere."""
    for name in ("graph_jaccard_links", "basket_association_rules"):
        plan = P.formatted_plan(q(name))
        assert "CartesianProduct" not in plan, name


def test_moments_broadcasts_stats(q):
    """agg_moments joins the per-key mean back via broadcast — the
    deviations pass must not shuffle the fact side for a 5-row stats
    frame."""
    df = q("agg_moments")
    assert P.count_broadcast_joins(df) >= 1


def test_copurchase_projection_no_cartesian(q):
    """The bipartite projection's pair stage must stay an equi-join on
    the customer key — a cartesian here is the hub-explosion failure
    the top-N cap exists to prevent."""
    plan = P.formatted_plan(q("graph_copurchase"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_feature_hashing_single_aggregate_exchange(q):
    """The hashing-trick featurizer is explode + ONE keyed groupBy: no
    join, no window — vocabulary-free means coordination-free."""
    plan = P.formatted_plan(q("feature_hashing"))
    assert "Join" not in plan
    assert "Window" not in plan


def test_dp_counts_no_extra_exchange(q):
    """DP noisy counts = one aggregation; the noise is a scan-local
    expression over the group key, never a second shuffle or join."""
    plan = P.formatted_plan(q("privacy_dp_counts"))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # partial/final agg pair


def test_random_walks_no_fanout_join(q):
    """Every walk step joins state->degree and (node, pick)->edge as
    plain equi-joins — never join-all-neighbors-then-filter (no
    cartesian, no nested loop)."""
    plan = P.formatted_plan(q("graph_random_walks"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bq_topk_signature_fenced(q):
    """The BQ signature pipeline must keep its Generate fences: the
    per-pair window references bound word attributes, not re-inlined
    planes x dim folds (measured 29s vs 0.5s on 500 rows unfenced)."""
    df = q("knn_binary_quantized")
    plan = P.formatted_plan(df)
    assert "Generate explode" in plan or "Generate" in plan


def test_phash_pairs_band_equijoin(q):
    """pHash near-dup candidates come from a (band, value) equi-join —
    the all-pairs Hamming scan is exactly what banding avoids."""
    plan = P.formatted_plan(q("dedup_phash_near"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sax_single_exchange(q):
    """SAX's window and both groupBys share the user key: one real
    exchange (plus AQE reads), never a per-stage reshuffle."""
    plan = P.formatted_plan(q("timeseries_sax"))
    assert plan.count("Exchange hashpartitioning") <= 3


def test_jaccard_prefix_sparse_candidates_equijoin(q):
    """The sparse (PPJoin) path's candidate stage is a digest equi-join
    with the length filter applied INSIDE the join — never a cartesian
    or nested-loop pairing."""
    plan = P.formatted_plan(q("dedup_jaccard_prefix_join"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_dense_path_blocked_kernel(spark, sf_dir, force_kernel):
    """The dense-regime path (round-9 sf1 OOM fix) must be the blocked
    applyInPandas matmul: block-pair frames broadcast, one
    FlatMapGroupsInPandas kernel, and no cartesian anywhere — the whole
    point is replacing the degenerate candidate join."""
    from puffbird_spark.operators.dedup import prefix_filter_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    force_kernel("prefix_filter", True)
    df = prefix_filter_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.5, n=5, kind="char")
    plan = P.formatted_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the dense gram index and the block-pair frame both broadcast
    assert P.count_broadcast_joins(df) >= 2


def test_two_phase_prefix_sum_windows_bounded(q):
    """Pin the round-9 two-phase rewrites (weighted percentiles,
    equi-depth histogram, Kaplan-Meier): the ONLY unpartitioned window
    in each plan is the per-slice offsets pass ordering by __pb_pid —
    a frame bounded by partition COUNT, not data. A data-sized
    single-task window regressing in would surface here as an
    unpartitioned spec ordered by a data column (or as ntile)."""
    import re as _re

    for name in ("agg_weighted_percentile", "diag_histogram",
                 "timeseries_kaplan_meier"):
        df = q(name)
        plan = P.formatted_plan(df)
        assert not _re.search(r"\bntile\(", plan), name
        orders = P.unpartitioned_window_orders(df)
        assert orders, name  # the offsets pass must exist
        assert set(orders) == {"__pb_pid"}, (name, orders)


def test_kernel_auto_gate_tracks_pair_estimate(spark, sf_dir):
    """Pin the Arrow-vs-JVM auto-gate SELECTION, not just both kernels'
    equality (the differential tests force each path explicitly): small
    plan-estimated pair counts must stay JVM-side (no Python worker
    spin-up), large ones must take the Arrow kernel. A broken size
    estimate silently pins every call to one kernel — the r8
    sizeInBytes-on-checkpoint bug class — and shows up only as
    unattributable bench drift."""
    from puffbird_spark.operators.similarity import (
        cosine_pairs_exact, cosine_topk)
    from puffbird_spark.telemetry import drain_kernels

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    drain_kernels()
    cosine_topk(emb, emb.limit(5), k=3, est_queries=5)  # ~3k pairs
    assert drain_kernels()["cosine_topk"] == "hof"
    cosine_topk(emb, emb, k=3)  # ~500^2 pairs >= its ARROW_MIN_WORK entry
    assert drain_kernels()["cosine_topk"] == "arrow"

    cosine_pairs_exact(emb.limit(50))
    assert drain_kernels()["cosine_pairs_exact"] == "hof"
    cosine_pairs_exact(emb)
    assert drain_kernels()["cosine_pairs_exact"] == "arrow"


def test_kernel_policy_records_assign_and_prefix_filter(spark):
    """k-means assignment and exact Jaccard choose a kernel from their
    input too; both choices reach the drained record (the bench's
    per-query kernel line) under their own names."""
    from puffbird_spark.operators.clustering import kmeans_assign
    from puffbird_spark.operators.dedup import prefix_filter_jaccard_pairs
    from puffbird_spark.telemetry import drain_kernels

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vid long, emb array<double>")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")],
        "doc_id long, text string")
    drain_kernels()
    kmeans_assign(vecs, "vid", "emb", k=2)
    prefix_filter_jaccard_pairs(docs, "text", "doc_id")
    assert drain_kernels() == {
        "kmeans_assign": "literal", "prefix_filter": "sparse"}


def test_kernel_drain_keeps_every_choice(spark, force_kernel):
    """A step that calls one site twice and lands on both kernels
    drains to both names, sorted — not just the last choice."""
    from puffbird_spark.operators.similarity import cosine_topk
    from puffbird_spark.telemetry import drain_kernels

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<double>")
    drain_kernels()
    force_kernel("cosine_topk", True)
    cosine_topk(emb, emb, k=1)
    force_kernel("cosine_topk", False)
    cosine_topk(emb, emb, k=1)
    assert drain_kernels() == {"cosine_topk": "arrow,hof"}


def test_windowspec_splitter_handles_comma_bearing_exprs(spark):
    """ADVICE r10: the windowspecdefinition arg splitter sheared on bare
    commas, so a partition/sort expression that itself contains commas
    (coalesce(a, b), CASE WHEN) mis-split into fragments — a PARTITIONED
    spec could classify as unpartitioned (falsely red pin) or the pin
    could go vacuous. Split at paren-depth 0 only, and anchor the sort
    classification on a TRAILING ASC/DESC token."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window as W

    import puffbird_spark.plans as P

    assert P._split_depth0("coalesce(a#1, b#2), c#3 ASC NULLS FIRST") == [
        "coalesce(a#1, b#2)", "c#3 ASC NULLS FIRST"]
    assert P._split_depth0(
        "CASE WHEN (a#1 > 0) THEN x#2 ELSE y#3 END, ts#4 DESC NULLS LAST"
    ) == ["CASE WHEN (a#1 > 0) THEN x#2 ELSE y#3 END",
          "ts#4 DESC NULLS LAST"]

    df = spark.createDataFrame(
        [("x", None, 1, 1.0), (None, "y", 2, 2.0)],
        "a string, b string, ts int, v double")
    # PARTITIONED by a comma-bearing expr: must NOT classify as
    # unpartitioned (the old splitter saw fragments of coalesce(a, b)
    # and could match ' ASC' text inside later fragments)
    part = df.withColumn("s", F.sum("v").over(
        W.partitionBy(F.coalesce("a", "b")).orderBy("ts")))
    assert P.unpartitioned_window_orders(part) == []
    # UNPARTITIONED ordered by a comma-bearing expr: still detected
    unpart = df.withColumn("s", F.sum("v").over(
        W.orderBy(F.coalesce("a", "b"), "ts")))
    assert len(P.unpartitioned_window_orders(unpart)) == 1


def test_q4_semi_join_and_date_pushdown(q):
    """The EXISTS must compile to a LEFT SEMI (orders never fan out per
    matching line) with the quarter filter pushed to the orders scan."""
    df = q("q4_order_priority")
    plan = P.formatted_plan(df)
    assert "LeftSemi" in plan
    assert P.has_pushed_filter(df, "GreaterThanOrEqual(o_orderdate")


def test_q19_broadcast_and_disjunction_pushdown(q):
    """The part side must broadcast and the OR-of-conjunctions must
    leave a pushable residue on BOTH scans (brand/size union on part,
    quantity-range union on lineitem) — the optimizer-stress property
    Q19 exists to test."""
    df = q("q19_discounted_revenue")
    assert P.count_broadcast_joins(df) >= 1
    pushed = " ".join(P.pushed_filters(df))
    assert "p_brand" in pushed or "p_size" in pushed
    assert "l_quantity" in pushed


def test_q22_anti_join_and_broadcast_scalar(q):
    """The dormancy check must be a LEFT ANTI against the (distinct,
    bounded) recent-order keys, and the average-balance scalar must
    ride a broadcast, never a shuffle."""
    df = q("q22_dormant_customers")
    plan = P.formatted_plan(df)
    assert "LeftAnti" in plan
    assert P.count_broadcast_joins(df) >= 1
    assert P.has_pushed_filter(df, "GreaterThanOrEqual(o_orderdate")


def test_profile_sparse_inverted_index_equijoin(q):
    """The wide-vocabulary profile twin pairs entities through the
    type-key equi-join (inverted index) — never a cartesian/nested
    loop; the capped variant's hot-type exclusion is a broadcast
    anti-join, not a shuffle."""
    for name in ("profile_topk_sparse", "profile_topk_sparse_capped"):
        plan = P.formatted_plan(q(name))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_bm25f_broadcast_probe_no_cartesian(q):
    """BM25F keeps the bm25 access-path discipline per field: query
    terms and pruned dfs broadcast onto the postings; the only
    nested-loop joins are the one-row corpus-stat cross joins."""
    df = q("retrieval_bm25f")
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert P.count_broadcast_joins(df) >= 3


def test_theta_setops_bounded_windows(q):
    """Theta set algebra never windows over data: every rank window
    rides the <= 2k-row sketch frames, and the scan-local fold means
    no unpartitioned data-sized sort reaches the plan."""
    df = q("sketch_theta_setops")
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_neyman_single_input_aggregation(q):
    """Neyman sampling scans the input for moments ONCE (map-side
    combined) and once for membership ranks — allocation arithmetic is
    strata-bounded, the alloc join is broadcast."""
    df = q("sample_neyman")
    assert P.count_broadcast_joins(df) >= 1
    plan = P.formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_split_depth0_property_random_nesting():
    """Property pin for the window-spec arg splitter: for random
    comma-joined fragments with balanced nested parens/brackets, the
    depth-0 split must recover exactly the fragments — never shearing
    inside a nested group (pure function, no Spark session needed)."""
    import random

    import puffbird_spark.plans as P

    rng = random.Random(17)

    def fragment(depth=0):
        parts = []
        for _ in range(rng.randint(1, 3)):
            r = rng.random()
            if r < 0.3 and depth < 3:
                op, cl = rng.choice([("(", ")"), ("[", "]")])
                inner = ", ".join(
                    fragment(depth + 1)
                    for _ in range(rng.randint(1, 3)))
                parts.append(f"f{op}{inner}{cl}")
            else:
                parts.append(rng.choice(
                    ["a#1", "b#2 ASC NULLS FIRST", "x DESC", "42",
                     "CASE WHEN y THEN 1 ELSE 2 END"]))
        return " ".join(parts)

    for _ in range(200):
        frags = [fragment() for _ in range(rng.randint(1, 6))]
        joined = ", ".join(frags)
        got = P._split_depth0(joined)
        assert got == [f.strip() for f in frags if f.strip()], joined


def test_q7_dual_nation_broadcast_and_date_pushdown(q):
    """Both nation roles and the supplier dimension must broadcast
    (nation is 25 rows at any SF) and the ship-date window must reach
    the lineitem scan — only the fact-fact joins may shuffle."""
    df = q("q7_volume_shipping")
    assert P.count_broadcast_joins(df) >= 3
    assert P.has_pushed_filter(df, "GreaterThanOrEqual(l_shipdate")


def test_q8_all_dimensions_broadcast(q):
    """The 8-way market-share join must broadcast every dimension
    (part/supplier/nation x2/region) and push the order-date window
    and part-type gate to the scans."""
    df = q("q8_market_share")
    assert P.count_broadcast_joins(df) >= 4
    pushed = " ".join(P.pushed_filters(df))
    assert "p_type" in pushed
    assert "o_orderdate" in pushed


def test_q12_inequality_stays_join_local(q):
    """The lateness predicate compares columns across the two join
    sides, so it CANNOT push to either scan — but the mode gate and
    ship-date window must; the join itself stays a single keyed
    shuffle (no nested loop)."""
    df = q("q12_shipmode_priority")
    plan = P.formatted_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert P.has_pushed_filter(df, "GreaterThanOrEqual(l_shipdate")


def test_q21_semi_and_anti_correlations(q):
    """Q21's EXISTS compiles to one LEFT SEMI (some other supplier in
    the order); the NOT-EXISTS ("no OTHER late supplier") is the r14
    keyed aggregation over the distinct late set (count == 1 picks the
    sole late supplier) — never an anti SELF-join of the late set (two
    extra exchanges + sorts) and never a per-row subquery or fan-out
    join."""
    df = q("q21_waiting_suppliers")
    plan = P.formatted_plan(df)
    assert "LeftSemi" in plan
    assert "LeftAnti" not in plan  # keyed agg replaced the anti self-join
    assert "SortMergeJoin" not in plan  # broadcast/keyed shapes only


def test_q2_aggregate_rejoin_not_subquery(q):
    """The correlated MIN compiles to a per-part aggregate joined back
    on (part, cost); the region gate broadcasts; no nested loop."""
    df = q("q2_min_cost_supplier")
    plan = P.formatted_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert P.count_broadcast_joins(df) >= 2


def test_q16_not_in_is_broadcast_anti(q):
    """The supplier exclusion must be a broadcast ANTI join (the list
    is supplier-sized) with the part gates pushed to the part scan."""
    df = q("q16_supplier_part_counts")
    plan = P.formatted_plan(df)
    assert "LeftAnti" in plan
    pushed = " ".join(P.pushed_filters(df))
    assert "p_size" in pushed or "p_brand" in pushed


def test_rank_windows_only_see_distinct_reductions(q):
    """r13 scale lesson: an UNPARTITIONED Spark window is a one-task
    funnel, so the midrank operators (roc_auc, spearman, zipf) must
    feed it the DISTINCT-VALUE reduction, never raw rows — in the
    physical plan, every Window sits ABOVE a HashAggregate (the
    distinct count), and a partial_count aggregate runs BELOW the
    window's exchange (map-side combine before the funnel)."""
    for name in ("eval_roc_auc", "diag_spearman", "text_zipf"):
        df = q(name)
        plan = P.formatted_plan(df)
        w = plan.find("Window")
        agg = plan.find("HashAggregate")
        assert w != -1 and agg != -1, name
        # the plan prints top-down: the aggregate producing the
        # window's input appears AFTER (below) the Window operator
        below = plan[w:]
        assert "HashAggregate" in below, name
        assert "partial_count" in below or "partial count" in below, name


def test_acf_entity_windows_are_keyed(q):
    """Per-entity ACF must never funnel: every window partitions by
    the entity key."""
    df = q("timeseries_acf_entity")
    assert P.unpartitioned_window_orders(df) == []


_RELATIONAL_GATES = (
    "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
    "q18_large_volume_customers", "window_rank", "engine_to_long_roundtrip",
    "explode_tokens", "merge_upsert_customers")


def test_rerun_reuses_generated_code(spark, q):
    # Spark's default compiled-class cache (100 entries in 4 LRU segments)
    # is smaller than these gates' working set: with it, the rerun
    # recompiles dozens of the classes the first run compiled.
    for name in _RELATIONAL_GATES:
        q(name).toPandas()
    before = P.codegen_compiles(spark)
    for name in _RELATIONAL_GATES:
        q(name).toPandas()
    recompiled = P.codegen_compiles(spark) - before
    assert recompiled == 0
