"""Distribution-drift monitoring between corpus snapshots.

The training-data question CUSUM (per-key time series) doesn't answer:
"did THIS WEEK'S crawl shift against the reference corpus?" — asked per
source/domain over a metric column (doc length, quality score,
perplexity). The standard industry answer is the Population Stability
Index over quantile buckets: ``PSI = sum_b (p_cur - p_ref) *
ln(p_cur / p_ref)``, with PSI < 0.1 read as stable, 0.1-0.25 as
moderate shift, > 0.25 as action-needed.

Scale shape: the ONLY data-sized work is two scans (one per snapshot)
each ending in a keyed bucket count; bucket edges are per-key exact
percentiles of the reference (a key-count-sized frame, broadcast back),
and the PSI arithmetic runs on the (key x bucket) count table —
metadata-sized. No sampling, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import RELEASE_DP, SNAP_SCALE


def _require_indicator(df: DataFrame, g, fn_name: str) -> None:
    """Plan-time type contract shared by every two-sample operator in
    this module: ``group_col`` must be a boolean (or 0/1 numeric)
    sample-a indicator — an ANSI string->boolean cast raises an
    opaque CAST_INVALID_INPUT at run time (r11 probe), so name the
    contract at plan time instead. One definition, five call sites
    (r14 self-review: the inline copies had drifted —
    mann_whitney_u's raise had been naming ks_two_sample)."""
    from pyspark.sql import types as T

    gtype = df.select(g.alias("__a")).schema[0].dataType
    if not isinstance(gtype, (T.BooleanType, T.NumericType)):
        raise TypeError(
            f"{fn_name}: group_col must be a boolean (or 0/1 numeric) "
            f"sample-a indicator, got {gtype.simpleString()}; for a "
            "two-valued label column pass e.g. F.col('g') == 'a'")


def distribution_psi(
    reference: DataFrame,
    current: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_buckets: int = 10,
    drift_threshold: float = 0.25,
) -> DataFrame:
    """Per-key PSI of ``current`` against ``reference`` over quantile
    buckets of the REFERENCE distribution (so "no change" always reads
    ~uniform-vs-uniform regardless of the metric's shape).

    - Bucket edges: the reference's exact interpolated percentiles per
      key (``F.percentile`` — matches DuckDB ``quantile_cont``,
      conventions pinned by the `agg_percentiles_exact` gate), one
      key-count-sized aggregate broadcast back to both scans.
    - Bucket assignment is a scan-local fold over the edge array
      (count of edges strictly below the value) — no UDF, no shuffle
      beyond the keyed count each snapshot already pays.
    - Empty-bucket guard: additive smoothing ``p = (n + 0.5) /
      (N + 0.5 * n_buckets)`` on BOTH sides — PSI stays finite and the
      formula is engine-replayable (no epsilon clamps).

    Returns one row per key present in the reference:
    ``(key..., n_ref, n_cur, psi, drifted)``. Keys with NO current
    rows are flagged ``drifted`` outright: their all-smoothed current
    distribution is exactly uniform, which makes the raw PSI read
    deceptively stable — but a vanished source IS drift (caught by the
    gate fixture's first draft, where a parity split had zero key
    overlap and every PSI read ~0.03).
    """
    state = psi_reference_state(reference, key_cols, value_col, n_buckets)
    return psi_against_reference(
        state, current, key_cols, value_col,
        drift_threshold=drift_threshold)


def _keyed_join(left: DataFrame, right: DataFrame, keys: list,
                broadcast_right: bool = False) -> DataFrame:
    """Inner join on ``keys`` that also supports the GLOBAL (no-key)
    monitor: with ``keys=[]`` the right side is a one-row aggregate and
    the join is a broadcast cross join — pyspark's ``join(on=[])``
    raises an opaque IndexError otherwise (r11 probe: the most natural
    call, corpus-wide drift with no key columns, crashed)."""
    r = F.broadcast(right) if broadcast_right else right
    if keys:
        return left.join(r, keys)
    return left.crossJoin(F.broadcast(right))


def _bucket_counts(
    df: DataFrame, edges: DataFrame, key_cols: list[str], value_col: str,
    out: str,
) -> DataFrame:
    # NULL metric rows must not count: F.percentile skips NULLs when
    # computing the edges, and an unfiltered NULL here would fold into
    # bucket 0 (NULL > e is NULL -> otherwise(0)), so a null-rate
    # difference between snapshots would masquerade as distribution
    # drift. n_ref/n_cur therefore count NON-NULL rows only.
    j = _keyed_join(
        df.filter(F.col(value_col).cast("double").isNotNull()),
        edges, key_cols, broadcast_right=True)
    b = F.aggregate(
        F.col("__edges"),
        F.lit(0),
        lambda acc, e: acc + F.when(
            F.col(value_col).cast("double") > e, 1).otherwise(0),
    )
    return j.groupBy(*key_cols, b.alias("__b")).agg(
        F.count(F.lit(1)).alias(out))


def psi_reference_state(
    reference: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_buckets: int = 10,
) -> tuple[DataFrame, DataFrame, int]:
    """Precompute the reference side of the PSI — ``(edges,
    ref_bucket_counts, n_buckets)``, both frames key-count-sized. This
    is the STATE a streaming monitor persists: the reference corpus is
    scanned ONCE, then every micro-batch pays only its own bucket
    count (see the `stream_psi_monitor` gate)."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    ps = [i / n_buckets for i in range(1, n_buckets)]
    edges = reference.groupBy(*key_cols).agg(
        F.percentile(F.col(value_col).cast("double"), F.lit(ps))
        .alias("__edges"))
    ref_c = _bucket_counts(reference, edges, key_cols, value_col, "__na")
    return edges, ref_c, n_buckets


def psi_against_reference(
    state: tuple[DataFrame, DataFrame, int],
    current: DataFrame,
    key_cols: list[str],
    value_col: str,
    drift_threshold: float = 0.25,
) -> DataFrame:
    """PSI of ``current`` against a precomputed
    :func:`psi_reference_state` — the per-batch half of the monitor."""
    edges, ref_c, n_buckets = state
    cur_c = _bucket_counts(current, edges, key_cols, value_col, "__nb")
    # dense (key x bucket) grid so empty buckets smooth instead of vanish
    grid = edges.select(
        *key_cols,
        F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))).alias("__b"))
    cells = (
        grid.join(ref_c, [*key_cols, "__b"], "left")
        .join(cur_c, [*key_cols, "__b"], "left")
        .select(
            *key_cols, "__b",
            F.coalesce("__na", F.lit(0)).alias("__na"),
            F.coalesce("__nb", F.lit(0)).alias("__nb"),
        )
    )
    tot = cells.groupBy(*key_cols).agg(
        F.sum("__na").alias("__ta"), F.sum("__nb").alias("__tb"))
    pa = (F.col("__na") + 0.5) / (F.col("__ta") + 0.5 * n_buckets)
    pb = (F.col("__nb") + 0.5) / (F.col("__tb") + 0.5 * n_buckets)
    term = (pb - pa) * F.log(pb / pa)
    return (
        _keyed_join(cells, tot, key_cols)
        .groupBy(*key_cols)
        .agg(
            F.max("__ta").cast("long").alias("n_ref"),
            F.max("__tb").cast("long").alias("n_cur"),
            F.round(F.sum(term), RELEASE_DP).alias("psi"),
        )
        .withColumn(
            "drifted",
            (F.col("psi") > F.lit(drift_threshold))
            | (F.col("n_cur") == 0),
        )
    )


def categorical_psi(
    reference: DataFrame,
    current: DataFrame,
    key_cols: list[str],
    cat_col: str,
    drift_threshold: float = 0.25,
) -> DataFrame:
    """PSI for a CATEGORICAL column — the share-shift monitor ("did the
    language / license / domain mix change?"): categories are the
    buckets, so there are no edges to estimate; the category universe
    is the union seen in either snapshot (a category appearing or
    vanishing contributes like any other shift, smoothed finite).
    Same additive smoothing, same (B-1)/n noise-floor caveat — B is now
    the observed category count per key. Cost: one keyed count per
    snapshot, PSI arithmetic on the (key x category) table.

    NULL categories are a real category: they're folded to the
    ``'<null>'`` sentinel before the snapshot join (NULL keys never
    equal themselves in a join, so without the fold an unchanged NULL
    share would read as two one-sided cells and inflate both psi and
    n_categories)."""
    cat = F.coalesce(F.col(cat_col).cast("string"), F.lit("<null>"))
    ref_c = reference.groupBy(
        *key_cols, cat.alias("__cat")).agg(
        F.count(F.lit(1)).alias("__na"))
    cur_c = current.groupBy(
        *key_cols, cat.alias("__cat")).agg(
        F.count(F.lit(1)).alias("__nb"))
    cells = (
        ref_c.join(cur_c, [*key_cols, "__cat"], "full_outer")
        .select(
            *key_cols, "__cat",
            F.coalesce("__na", F.lit(0)).alias("__na"),
            F.coalesce("__nb", F.lit(0)).alias("__nb"),
        )
    )
    tot = cells.groupBy(*key_cols).agg(
        F.sum("__na").alias("__ta"), F.sum("__nb").alias("__tb"),
        F.count(F.lit(1)).alias("__ncat"))
    joined = _keyed_join(cells, tot, key_cols)
    pa = (F.col("__na") + 0.5) / (F.col("__ta") + 0.5 * F.col("__ncat"))
    pb = (F.col("__nb") + 0.5) / (F.col("__tb") + 0.5 * F.col("__ncat"))
    term = (pb - pa) * F.log(pb / pa)
    return (
        joined.groupBy(*key_cols)
        .agg(
            F.max("__ta").cast("long").alias("n_ref"),
            F.max("__tb").cast("long").alias("n_cur"),
            F.max("__ncat").cast("long").alias("n_categories"),
            F.round(F.sum(term), RELEASE_DP).alias("psi"),
        )
        .withColumn(
            "drifted",
            (F.col("psi") > F.lit(drift_threshold))
            | (F.col("n_cur") == 0),
        )
    )


def ks_two_sample(
    df: DataFrame,
    group_col,
    value_col: str,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic per key — the
    distribution-free drift test next to PSI (:func:`distribution_psi`
    needs a bucket grid; KS compares the full ECDFs):

        KS = sup_v | F_a(v) − F_b(v) |

    computed with INTEGER arithmetic only: at every observation the
    RANGE-frame cumulative counts (ties included on both sides —
    the part a ROWS frame silently gets wrong) give
    ``|cum_a·n_b − cum_b·n_a|``, whose maximum divides ONCE by
    ``n_a·n_b`` at 6 dp — no float accumulates anywhere, so the
    statistic replays exactly on any engine. ``group_col`` is a
    boolean Column (True = sample a). One value-ordered window + one
    per-key totals window + one keyed agg. Returns
    ``(*key_cols, n_a, n_b, ks_stat)``; keys where either sample is
    empty are omitted (no distribution to compare)."""
    from pyspark.sql.window import Window

    keys = list(key_cols or [])
    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    _require_indicator(df, g, "ks_two_sample")
    base = df.select(
        *keys, F.col(value_col).alias("__v"),
        g.cast("boolean").alias("__a"),
    ).filter(F.col("__v").isNotNull() & F.col("__a").isNotNull())
    w_cum = (
        Window.partitionBy(*keys).orderBy("__v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*keys)
    ia = F.when(F.col("__a"), 1).otherwise(0)
    scored = base.select(
        *keys,
        F.sum(ia).over(w_cum).alias("__ca"),
        F.sum(1 - ia).over(w_cum).alias("__cb"),
        F.sum(ia).over(w_tot).alias("__na"),
        F.sum(1 - ia).over(w_tot).alias("__nb"),
    )
    return (
        scored.filter((F.col("__na") > 0) & (F.col("__nb") > 0))
        .groupBy(*keys)
        .agg(
            F.max("__na").cast("long").alias("n_a"),
            F.max("__nb").cast("long").alias("n_b"),
            F.round(
                F.max(F.abs(
                    F.col("__ca") * F.col("__nb")
                    - F.col("__cb") * F.col("__na"))).cast("double")
                / (F.max("__na") * F.max("__nb")),
                RELEASE_DP).alias("ks_stat"),
        )
    )


def chi_square_independence(
    df: DataFrame,
    row_col,
    col_col,
) -> DataFrame:
    """Pearson chi-square test of independence between two categoricals
    — the drift/association test for label-vs-segment style questions
    (Pearson 1900)::

        χ² = Σ_cells (observed − expected)² / expected,
        expected = row_total · col_total / n

    plus Cramér's V ``sqrt(χ² / (n · (min(R,C) − 1)))`` so the effect
    size is comparable across tables. Observed / row / column totals
    are exact integers; each cell term is snapped to 9-dp decimal
    before the order-independent exact sum (the float policy), so the
    statistic replays bit-for-bit on any engine. Cells are one
    ``groupBy`` over the raw rows; totals re-aggregate the cell frame
    (categories², not data-sized) and broadcast back — nothing beyond
    the first aggregation touches full-size data. NULL categories are
    excluded (a NULL is a missing label, not a level). Returns ONE row:
    ``(n, n_row_levels, n_col_levels, dof, chi2, cramers_v)``."""
    r = (row_col if not isinstance(row_col, str)
         else F.col(row_col)).alias("__r")
    c = (col_col if not isinstance(col_col, str)
         else F.col(col_col)).alias("__c")
    cells = (
        df.select(r, c)
        .filter(F.col("__r").isNotNull() & F.col("__c").isNotNull())
        .groupBy("__r", "__c")
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    rt = cells.groupBy("__r").agg(F.sum("__o").alias("__rt"))
    ct = cells.groupBy("__c").agg(F.sum("__o").alias("__ct"))
    tot = cells.agg(
        F.sum("__o").alias("__n"),
        F.count_distinct("__r").alias("__nr"),
        F.count_distinct("__c").alias("__nc"))
    e = F.col("__rt") * F.col("__ct") / F.col("__n")
    term = F.round(
        (F.col("__o") - e) * (F.col("__o") - e) / e, 9
    ).cast("decimal(28,9)")
    joined = (
        cells.join(F.broadcast(rt), "__r")
        .join(F.broadcast(ct), "__c")
        .crossJoin(F.broadcast(tot))
    )
    chi2 = F.sum(term).cast("double")
    dof = (F.max("__nr") - 1) * (F.max("__nc") - 1)
    return joined.agg(
        F.max("__n").cast("long").alias("n"),
        F.max("__nr").cast("int").alias("n_row_levels"),
        F.max("__nc").cast("int").alias("n_col_levels"),
        dof.cast("int").alias("dof"),
        F.round(chi2, RELEASE_DP).alias("chi2"),
        # a 1-level axis has dof 0 and no effect size — NULL, not a
        # divide-by-zero under ANSI
        F.when(
            F.least(F.max("__nr"), F.max("__nc")) > 1,
            F.round(F.sqrt(
                F.round(chi2, RELEASE_DP)
                / (F.max("__n")
                   * (F.least(F.max("__nr"), F.max("__nc")) - 1))),
                RELEASE_DP))
        .alias("cramers_v"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col,
    value_col: str,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Exact Mann-Whitney U rank-sum test per key (Mann & Whitney
    1947) — the nonparametric mean-shift complement to
    :func:`ks_two_sample` (KS feels any ECDF gap; U targets
    stochastic dominance). INTEGER arithmetic throughout:

    - tied ranks: with ``rank()`` = r and tie count t, the midrank is
      ``r + (t−1)/2``, so ``2·R_a = Σ_a (2r + t − 1)`` stays integral;
    - ``U_a = R_a − n_a(n_a+1)/2`` (exact, half-integer at worst);
    - the normal approximation uses the tie-corrected variance
      ``σ² = (n_a·n_b/12)·((n+1) − Σ(t³−t)/(n(n−1)))`` with the tie
      sum an exact integer over per-value counts;

    only the final ``z = (U_a − n_a·n_b/2)/σ`` divides/roots floats,
    rounded at 6 dp — the whole test replays exactly. One
    value-ordered window + one per-(key,value) tie window + one keyed
    agg (same shuffle shape as KS). Returns
    ``(*key_cols, n_a, n_b, u_stat, z)``; keys with an empty side or
    zero variance (all values tied) are omitted."""
    from pyspark.sql.window import Window

    keys = list(key_cols or [])
    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    _require_indicator(df, g, "mann_whitney_u")
    base = df.select(
        *keys, F.col(value_col).alias("__v"),
        g.cast("boolean").alias("__a"),
    ).filter(F.col("__v").isNotNull() & F.col("__a").isNotNull())
    w_rank = Window.partitionBy(*keys).orderBy("__v")
    w_tie = Window.partitionBy(*keys, "__v")
    ranked = base.select(
        *keys, "__v", "__a",
        F.rank().over(w_rank).alias("__r"),
        F.count(F.lit(1)).over(w_tie).alias("__t"),
    )
    ia = F.when(F.col("__a"), 1).otherwise(0)
    # decimal(38,0) rank/tie sums: Σ 2r over a key reaches ~n² (the
    # per-row term carries a GLOBAL-per-key rank), which overflows
    # LONG once a key passes ~3e9 rows — exactly the documented 100 TB
    # shape (one key = one domain). The r12 mcc/kappa lesson applied
    # tree-wide; DuckDB's SUM(BIGINT) already went HUGEINT, so this
    # was a latent Spark-only divergence at scale.
    d38 = "decimal(38,0)"
    per_key = ranked.groupBy(*keys).agg(
        F.sum(ia).cast("long").alias("n_a"),
        F.sum(1 - ia).cast("long").alias("n_b"),
        F.sum((ia * (2 * F.col("__r") + F.col("__t") - 1)).cast(d38))
        .cast(d38).alias("__2ra"),
        # Σ(t³−t) counts each distinct value once: divide the per-row
        # contribution (every row of a tie group carries t³−t) by t —
        # i.e. sum (t³−t)/t = t²−1 per ROW, exactly integral
        F.sum((F.col("__t").cast(d38) * F.col("__t") - 1))
        .cast(d38).alias("__ties"),
    )
    n = F.col("n_a") + F.col("n_b")
    u = (F.col("__2ra").cast("double") / 2.0
         - (F.col("n_a").cast("double") * (F.col("n_a") + 1)
            .cast("double")) / 2.0)
    # every long×long product casts its FACTORS to double first (the
    # product itself would overflow LONG at n > ~3e9 rows per key)
    nanb = F.col("n_a").cast("double") * F.col("n_b").cast("double")
    var = (
        nanb / 12.0
        * ((n + 1).cast("double")
           - F.col("__ties").cast("double")
           / (n.cast("double") * (n - 1).cast("double")))
    )
    return (
        per_key.filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select(
            *keys, "n_a", "n_b",
            u.alias("u_stat"),
            # all-tied keys have zero variance: NULL z (filtered below),
            # not an ANSI divide-by-zero
            F.when(var > 0, F.round(
                (u - nanb / 2.0)
                / F.sqrt(var), RELEASE_DP)).alias("z"),
        )
        .filter(F.col("z").isNotNull())
    )


def jensen_shannon(
    df: DataFrame,
    group_col,
    cat_col: str,
) -> DataFrame:
    """Jensen-Shannon divergence (Lin 1991) between the categorical
    distributions of two samples — the SYMMETRIC, always-finite
    sibling of KL in the drift family (:func:`categorical_psi` needs
    smoothing to survive a vanished category; JSD is bounded by ln 2
    and handles zero-mass categories exactly):

        JSD(P, Q) = Σ_c [ p_c·ln(p_c/m_c) + q_c·ln(q_c/m_c) ] / 2,
        m_c = (p_c + q_c)/2,   0·ln(0/·) ≡ 0

    ``group_col`` is a boolean sample-a indicator (the shared
    plan-time type contract). NULL group or category rows are
    excluded (complete-case — a missing label is not a category
    level; distinguish explicitly upstream if it should be).

    Determinism: p/q are exact count-ratio doubles; each category's
    term snaps to 9-dp decimal before the cross-category sum
    (order-free); released in nats and bits (÷ln 2), plus the
    normalized distance sqrt(JSD/ln 2) ∈ [0,1] (Endres & Schindelin
    2003 — the metric form). An empty side releases NULL.

    Scale shape: ONE (group x category)-keyed count aggregation plus
    a category-frame fold — linear, map-side combinable, no window.
    Returns ONE row: ``(n_a, n_b, k_categories, jsd_nats, jsd_bits,
    js_distance)``."""
    import math

    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    _require_indicator(df, g, "jensen_shannon")
    base = df.select(
        F.col(cat_col).alias("__c"), g.cast("boolean").alias("__a"),
    ).filter(F.col("__c").isNotNull() & F.col("__a").isNotNull())
    per = base.groupBy("__c").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0))
        .cast("long").alias("__na"),
        F.sum(F.when(~F.col("__a"), 1).otherwise(0))
        .cast("long").alias("__nb"))
    tot = per.agg(
        F.sum("__na").cast("long").alias("__ta"),
        F.sum("__nb").cast("long").alias("__tb"))
    j = per.crossJoin(F.broadcast(tot))
    # empty-side guard BEFORE the division: under ANSI a zero total
    # is a runtime DIVIDE_BY_ZERO kill, not an Inf (the release
    # already NULLs when a side is empty — the terms are dead there)
    pa = F.when(
        F.col("__ta") > 0,
        F.col("__na").cast("double") / F.col("__ta").cast("double")
    ).otherwise(F.lit(0.0))
    pb = F.when(
        F.col("__tb") > 0,
        F.col("__nb").cast("double") / F.col("__tb").cast("double")
    ).otherwise(F.lit(0.0))
    m = (pa + pb) / 2
    term = (
        F.when(F.col("__na") > 0, pa * F.log(pa / m)).otherwise(0.0)
        + F.when(F.col("__nb") > 0, pb * F.log(pb / m)).otherwise(0.0)
    ) / 2
    folded = j.agg(
        F.max("__ta").alias("n_a"), F.max("__tb").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("k_categories"),
        F.sum(F.round(term, 9).cast("decimal(38,9)")).alias("__s"))
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    jsd = F.col("__s").cast("double")
    return folded.filter(
        (F.col("n_a") + F.col("n_b")) > 0).select(
        "n_a", "n_b", "k_categories",
        F.when(ok, F.round(jsd, RELEASE_DP)).alias("jsd_nats"),
        F.when(ok, F.round(jsd / F.lit(math.log(2.0)), RELEASE_DP))
        .alias("jsd_bits"),
        F.when(ok, F.round(
            F.sqrt(F.greatest(jsd, F.lit(0.0)) / F.lit(math.log(2.0))),
            RELEASE_DP)).alias("js_distance"))


def welch_t_test(
    df: DataFrame,
    group_col,
    value_col: str,
) -> DataFrame:
    """Welch's unequal-variance t-test (Welch 1947) — the two-sample
    mean comparison that drops Student's equal-variance assumption
    (the version every A/B platform should default to; Ruxton 2006):

        t  = (x̄_a − x̄_b) / sqrt(v_a/n_a + v_b/n_b)
        df = (v_a/n_a + v_b/n_b)²
             / ((v_a/n_a)²/(n_a−1) + (v_b/n_b)²/(n_b−1))

    with the Welch–Satterthwaite degrees of freedom released so the
    caller's t-table lookup is well-posed (no CDF enters the engine
    contract — the ``chi_square_independence`` convention). Beside
    :func:`effect_size`: d answers "how big", t/df answer "how
    sure". ``group_col`` is a boolean sample-a indicator (the shared
    plan-time type contract).

    Determinism: the :func:`effect_size` moment ladder verbatim —
    values snap to decimal(20,6); per-side n/Σx are exact decimal
    sums; Σx² pools in the scaled-integer domain as decimal(38,0)
    (|x| < ~1e7 at scale 6 stays under 38 digits past 1e9 rows);
    the release combines those exact pools in one double expression.
    Sides with n < 2 or both variances 0 release NULL t/df.

    Scale shape: ONE keyed aggregation pass, no window, no join.
    Returns ONE row:
    ``(n_a, n_b, mean_a, mean_b, t_stat, df_welch)``."""
    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    _require_indicator(df, g, "welch_t_test")
    decv = f"decimal(20,{SNAP_SCALE})"
    base = df.select(
        F.col(value_col).cast(decv).alias("__v"),
        g.cast("boolean").alias("__a"),
    ).filter(F.col("__v").isNotNull() & F.col("__a").isNotNull())
    ia = F.when(F.col("__a"), 1).otherwise(0)
    vi = (F.col("__v") * F.lit(10 ** SNAP_SCALE)).cast("decimal(38,0)")
    sq = vi * vi
    per = base.groupBy().agg(
        F.sum(ia).cast("long").alias("n_a"),
        F.sum(1 - ia).cast("long").alias("n_b"),
        F.sum(F.when(F.col("__a"), F.col("__v"))).alias("__sa"),
        F.sum(F.when(~F.col("__a"), F.col("__v"))).alias("__sb"),
        F.sum(F.when(F.col("__a"), sq)).cast("decimal(38,0)")
        .alias("__qa"),
        F.sum(F.when(~F.col("__a"), sq)).cast("decimal(38,0)")
        .alias("__qb"))
    desc = float(10 ** (2 * SNAP_SCALE))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("__sa").cast("double"), F.col("__sb").cast("double")
    qa = F.col("__qa").cast("double") / desc
    qb = F.col("__qb").cast("double") / desc
    va = (na * qa - sa * sa) / (na * (na - 1.0))
    vb = (nb * qb - sb * sb) / (nb * (nb - 1.0))
    se2 = va / na + vb / nb
    t = (sa / na - sb / nb) / F.sqrt(se2)
    dfw = (se2 * se2) / (
        (va / na) * (va / na) / (na - 1.0)
        + (vb / nb) * (vb / nb) / (nb - 1.0))
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (se2 > 0)
    return per.filter(
        (F.col("n_a") + F.col("n_b")) > 0).select(
        "n_a", "n_b",
        F.when(F.col("n_a") > 0, F.round(sa / na, RELEASE_DP)).alias("mean_a"),
        F.when(F.col("n_b") > 0, F.round(sb / nb, RELEASE_DP)).alias("mean_b"),
        F.when(ok, F.round(t, RELEASE_DP)).alias("t_stat"),
        F.when(ok, F.round(dfw, RELEASE_DP)).alias("df_welch"))


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman test (Friedman 1937) — the rank-based REPEATED-
    MEASURES k-treatment test beside :func:`kruskal_wallis`
    (independent groups): within every block the k treatments rank
    against each other, removing block-level shifts entirely (the
    matched design: k models scored on the same n prompts, k
    pipeline variants on the same n snapshots). Tie-general form over
    doubled midranks (all-integer algebra):

        Q = (k−1) · Σ_j (U_j − n(k+1))²
            / (Σ_ij (2r_ij)² − n·k·(k+1)²)

    with ``U_j = Σ_blocks 2·midrank`` per treatment — equivalent to
    the textbook 12/nk(k+1) form when ties are absent, and exactly
    the tie-corrected statistic otherwise. Q ~ χ²_{k−1} under the
    null (statistic only — the no-CDF house convention).

    COMPLETE-DESIGN CONTRACT: every block must contain every
    treatment exactly once — validated with one aggregate (blocks
    with a missing/duplicate treatment raise at call time; an
    incomplete design silently biases ranks, so fail loud). All-tied
    input (zero denominator) releases NULL Q.

    Determinism: 2·midrank per (block, row) is an exact int from a
    block-keyed window (k-row partitions — block count is the scale
    axis, block SIZE is k); all pools are decimal(38,0).

    Returns ONE row: ``(n_blocks, k, q_stat)``."""
    from pyspark.sql.window import Window

    base = df.select(
        F.col(block_col).alias("__b"),
        F.col(treatment_col).alias("__t"),
        F.col(value_col).alias("__v"),
    ).filter(
        F.col("__b").isNotNull() & F.col("__t").isNotNull()
        & F.col("__v").isNotNull())
    # pin the lineage before the probe (the fleiss_kappa convention,
    # r14 self-review): the ranking pass re-reads base, and a
    # non-deterministic source could pass the completeness probe yet
    # feed the statistic a different — incomplete — design. A matched
    # design is n·k rows by construction, so the pin is small.
    base = base.localCheckpoint(eager=True)

    shape = base.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__rows"),
        F.count_distinct("__t").alias("__k")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__rows").alias("rlo"), F.max("__rows").alias("rhi"),
        F.min("__k").alias("klo"), F.max("__k").alias("khi")).collect()
    if not shape or shape[0]["n"] == 0:
        raise ValueError("friedman_test: empty input")
    s = shape[0]
    if not (s["rlo"] == s["rhi"] == s["klo"] == s["khi"]):
        raise ValueError(
            "friedman_test requires a COMPLETE block design (every "
            f"block holds every treatment exactly once); found blocks "
            f"with {s['rlo']}..{s['rhi']} rows and "
            f"{s['klo']}..{s['khi']} distinct treatments")
    k = int(s["klo"])
    if k < 2:
        raise ValueError("friedman_test needs >= 2 treatments")

    wb = Window.partitionBy("__b").orderBy("__v")
    wt = Window.partitionBy("__b", "__v")
    ranked = base.select(
        "__b", "__t",
        (2 * F.rank().over(wb) + F.count(F.lit(1)).over(wt) - 1)
        .cast("long").alias("__u"))
    d38 = "decimal(38,0)"
    per_t = ranked.groupBy("__t").agg(
        F.sum(F.col("__u").cast(d38)).cast(d38).alias("__uj"))
    tot = ranked.agg(
        (F.count(F.lit(1)) / k).cast(d38).alias("__n"),
        F.sum(F.col("__u").cast(d38) * F.col("__u"))
        .cast(d38).alias("__ssq"))
    nn = F.col("__n")
    dev = F.col("__uj") - nn * (k + 1)
    num = per_t.crossJoin(tot).agg(
        F.max(nn).alias("__nmax"), F.max("__ssq").alias("__sq"),
        F.sum(dev * dev).cast(d38).alias("__num"))
    den = (F.col("__sq")
           - F.col("__nmax") * k * (k + 1) * (k + 1)).cast("double")
    q = F.lit(float(k - 1)) * F.col("__num").cast("double") / den
    return num.select(
        F.col("__nmax").cast("long").alias("n_blocks"),
        F.lit(k).cast("long").alias("k"),
        F.when(den > 0, F.round(q, RELEASE_DP)).alias("q_stat"))


def cochran_q(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    success_col,
) -> DataFrame:
    """Cochran's Q test (Cochran 1950) — the BINARY repeated-measures
    k-treatment test: :func:`friedman_test` for pass/fail outcomes
    (k models judged correct/incorrect on the same n prompts — the
    eval-harness comparison question "do these models really differ").
    With column totals C_j, row totals R_i, grand total T over a
    COMPLETE n-block x k-treatment 0/1 design:

        Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²)

    (the expanded all-integer form of k(k−1)Σ(C_j − T/k)²/(kT−ΣR_i²);
    Q ~ χ²_{k−1} under the null, statistic only). Blocks where every
    treatment agrees contribute nothing; an input where ALL blocks
    agree has zero denominator and releases NULL.

    The complete-design contract validates up front (one aggregate,
    fail loud — the :func:`friedman_test` rule); ``success_col``
    casts to boolean, NULL success is a contract violation in a
    complete design and raises with the same message.

    Scale shape: one block-keyed agg (row totals), one treatment-
    keyed agg (column totals), decimal(38,0) pools. Returns ONE row:
    ``(n_blocks, k, q_stat)``."""
    s = success_col if not isinstance(success_col, str) \
        else F.col(success_col)
    base = df.select(
        F.col(block_col).alias("__b"),
        F.col(treatment_col).alias("__t"),
        s.cast("boolean").alias("__y"),
    ).filter(F.col("__b").isNotNull() & F.col("__t").isNotNull())
    # NULL keys excluded like friedman_test (r14 self-review: Spark
    # groupBy groups NULL, so a NULL block could masquerade as a real
    # design row); NULL OUTCOMES stay in — the probe counts them and
    # raises. Lineage pinned before the probe (n·k rows by design).
    base = base.localCheckpoint(eager=True)
    shape = base.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__rows"),
        F.count_distinct("__t").alias("__k"),
        F.sum(F.when(F.col("__y").isNull(), 1).otherwise(0))
        .alias("__nulls")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__rows").alias("rlo"), F.max("__rows").alias("rhi"),
        F.min("__k").alias("klo"), F.max("__k").alias("khi"),
        F.sum("__nulls").alias("nulls")).collect()
    if not shape or shape[0]["n"] == 0:
        raise ValueError("cochran_q: empty input")
    sh = shape[0]
    if sh["nulls"] or not (sh["rlo"] == sh["rhi"]
                           == sh["klo"] == sh["khi"]):
        raise ValueError(
            "cochran_q requires a COMPLETE block design with no NULL "
            f"outcomes; found blocks with {sh['rlo']}..{sh['rhi']} "
            f"rows, {sh['klo']}..{sh['khi']} distinct treatments, "
            f"{sh['nulls']} NULL outcomes")
    k = int(sh["klo"])
    if k < 2:
        raise ValueError("cochran_q needs >= 2 treatments")

    d38 = "decimal(38,0)"
    yi = F.when(F.col("__y"), 1).otherwise(0)
    cj = base.groupBy("__t").agg(F.sum(yi).cast(d38).alias("__c"))
    ri = base.groupBy("__b").agg(F.sum(yi).cast(d38).alias("__r"))
    cc = cj.agg(
        F.sum(F.col("__c") * F.col("__c")).cast(d38).alias("__csq"),
        F.sum("__c").cast(d38).alias("__t1"))
    rr = ri.agg(
        F.sum(F.col("__r") * F.col("__r")).cast(d38).alias("__rsq"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"))
    one = cc.crossJoin(rr)
    num = (F.lit(k - 1).cast(d38)
           * (F.lit(k) * F.col("__csq") - F.col("__t1") * F.col("__t1")))
    den = (F.lit(k) * F.col("__t1") - F.col("__rsq")).cast("double")
    return one.select(
        "n_blocks", F.lit(k).cast("long").alias("k"),
        F.when(den > 0, F.round(num.cast("double") / den, RELEASE_DP))
        .alias("q_stat"))


def cliffs_delta(
    df: DataFrame,
    group_col,
    value_col: str,
) -> DataFrame:
    """Cliff's delta (Cliff 1993) — the ORDINAL effect size beside
    :func:`effect_size`'s Cohen's d: the probability a sample-a value
    exceeds a sample-b value minus the reverse,

        δ = (#(a>b) − #(a<b)) / (n_a·n_b)   ∈ [−1, 1]

    scale-free and outlier-immune where d assumes interval data. The
    pair counts never enumerate: with doubled midranks (the
    ``mann_whitney_u`` integer discipline), ``2U = Σ_a 2·midrank −
    n_a(n_a+1)`` counts a>b pairs twice plus ties once, so

        δ = (2U − n_a·n_b) / (n_a·n_b)      (exact integers)

    ``group_col`` is a boolean sample-a indicator (the shared
    plan-time type contract). Either side empty releases NULL δ.
    Complete-case NULLs; NaN excluded for float columns.

    Also releases the Romano et al. 2006 magnitude band on |δ|:
    ``negligible`` < 0.147 ≤ ``small`` < 0.33 ≤ ``medium`` < 0.474 ≤
    ``large`` (the conventional report line; banding applies to the
    6-dp-rounded release, so the label replays exactly).

    Scale shape — the DISTINCT-VALUE reduction (``spearman_corr``
    discipline): one value-keyed count agg (total + sample-a counts
    per value), one cumulative window over the distinct frame, one
    scalar fold; decimal(38,0) pools (rank sums ~n²).

    Returns ONE row: ``(n_a, n_b, delta, magnitude)``."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    _require_indicator(df, g, "cliffs_delta")
    base = df.select(
        F.col(value_col).alias("__v"), g.cast("boolean").alias("__a"),
    ).filter(F.col("__v").isNotNull() & F.col("__a").isNotNull())
    if isinstance(base.schema["__v"].dataType,
                  (T.DoubleType, T.FloatType)):
        base = base.filter(~F.isnan("__v"))

    d38 = "decimal(38,0)"
    vc = base.groupBy("__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c"),
        F.sum(F.when(F.col("__a"), 1).otherwise(0))
        .cast("long").alias("__ca"))
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    mid = vc.select(
        "__ca",
        (2 * F.coalesce(F.sum("__c").over(w), F.lit(0))
         + F.col("__c") + 1).cast(d38).alias("__u2"),
        F.col("__c"))
    tot = mid.agg(
        F.sum("__c").cast(d38).alias("__n"),
        F.sum("__ca").cast(d38).alias("__na"),
        F.sum(F.col("__ca").cast(d38) * F.col("__u2"))
        .cast(d38).alias("__2ra"))
    na = F.col("__na")
    nb = F.col("__n") - na
    two_u = F.col("__2ra") - na * (na + 1)
    delta = F.round(
        (two_u - na * nb).cast("double")
        / (na.cast("double") * nb.cast("double")), RELEASE_DP)
    mag = F.when(
        F.abs(delta) < 0.147, F.lit("negligible")
    ).when(F.abs(delta) < 0.33, F.lit("small")
    ).when(F.abs(delta) < 0.474, F.lit("medium")
    ).otherwise(F.lit("large"))
    return tot.filter(F.col("__n") > 0).select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.when((na > 0) & (nb > 0), delta).alias("delta"),
        F.when((na > 0) & (nb > 0), mag).alias("magnitude"))


def brown_forsythe(
    df: DataFrame,
    group_col,
    value_col: str,
) -> DataFrame:
    """Brown-Forsythe test (Brown & Forsythe 1974) — variance
    homogeneity across k groups, the robust (median-centered) Levene
    variant: the assumption check a pipeline should run BEFORE
    trusting a pooled-variance ANOVA (its companion gate), and a
    drift alarm in its own right (a feature whose spread changes
    between snapshots drifts even when its mean holds):

        z_ij = |x_ij − median_g|
        W = ((N−k)/(k−1)) · Σ_g n_g(z̄_g − z̄)² / Σ_g Σ_i (z_ij − z̄_g)²

    i.e. the one-way ANOVA F statistic applied to the absolute
    median deviations (W ~ F(k−1, N−k) under equal spreads —
    released statistic only, the no-CDF house convention).

    Exact group MEDIANS come from the distinct-value reduction: per
    (group, value) counts, one group-keyed cumulative window over the
    distinct frame, the median straddle rows picked by position
    (even n averages the two central values — exact at scale 7
    decimals). No approx-percentile enters the contract.

    Determinism: values snap to decimal(20,6); deviations are
    exact decimals at scale 7; per-group Σz/Σz² pool exactly
    (scaled-integer squares, the ``effect_size`` rule); cross-group
    SSB/SSW terms snap to 2-dp decimals before pooling (NOT 6 dp —
    the ``diag_anova`` lesson: these terms reach ~1e12 at scale, and
    a snap is only engine-portable while term·10^6 stays inside the
    double exact-integer range). Degenerate inputs release NULL W
    (k < 2, N ≤ k, or zero within-group deviation).

    Scale shape: two keyed aggregations + one keyed window over the
    DISTINCT (group, value) frame + one value-keyed join back + one
    k-row fold. Skew equals group skew.

    Returns ONE row: ``(n, k, w_stat)``."""
    from pyspark.sql.window import Window

    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    decv = f"decimal(20,{SNAP_SCALE})"
    base = df.select(
        g.cast("string").alias("__g"),
        F.col(value_col).cast(decv).alias("__v"),
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())

    gv = base.groupBy("__g", "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c"))
    wcum = (Window.partitionBy("__g").orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, 0))
    wg = Window.partitionBy("__g")
    pos = gv.select(
        "__g", "__v", "__c",
        F.sum("__c").over(wcum).alias("__cum"),
        F.sum("__c").over(wg).alias("__ng"))
    pos = pos.withColumn("__prev", F.col("__cum") - F.col("__c"))
    lo = F.floor((F.col("__ng") + 1) / 2)
    hi = F.floor((F.col("__ng") + 2) / 2)
    med = pos.groupBy("__g").agg(
        F.max(F.when((F.col("__prev") < lo) & (lo <= F.col("__cum")),
                     F.col("__v"))).alias("__mlo"),
        F.max(F.when((F.col("__prev") < hi) & (hi <= F.col("__cum")),
                     F.col("__v"))).alias("__mhi"))
    decm = f"decimal(22,{SNAP_SCALE + 1})"
    med = med.select(
        "__g",
        ((F.col("__mlo") + F.col("__mhi")) / 2).cast(decm)
        .alias("__med"))

    z = base.join(med, "__g").select(
        "__g",
        F.abs(F.col("__v").cast(decm) - F.col("__med")).alias("__z"))
    zi = (F.col("__z") * F.lit(10 ** (SNAP_SCALE + 1))).cast("decimal(38,0)")
    per = z.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__z").alias("__s"),
        F.sum(zi * zi).cast("decimal(38,0)").alias("__q"))
    desc = float(10 ** (2 * (SNAP_SCALE + 1)))
    sg = F.col("__s").cast("double")
    qg = F.col("__q").cast("double") / desc
    ng = F.col("__n").cast("double")
    # 2-dp snapped per-group terms (order-free cross-group pools)
    ssb_t = F.round(sg * sg / ng, 2).cast("decimal(28,2)")
    ssw_t = F.round(qg - sg * sg / ng, 2).cast("decimal(28,2)")
    folded = per.agg(
        F.sum("__n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("__s").cast("decimal(38,7)")).alias("__stot"),
        F.sum(ssb_t).alias("__ssb0"),
        F.sum(ssw_t).alias("__ssw"))
    nn = F.col("n").cast("double")
    kk = F.col("k").cast("double")
    st = F.col("__stot").cast("double")
    ssb = (F.col("__ssb0").cast("double")
           - F.round(st * st / nn, 2))
    ssw = F.col("__ssw").cast("double")
    w_stat = (ssb / (kk - 1.0)) / (ssw / (nn - kk))
    ok = (F.col("k") >= 2) & (F.col("n") > F.col("k")) & (ssw > 0)
    return folded.filter(F.col("n") > 0).select(
        "n", "k", F.when(ok, F.round(w_stat, RELEASE_DP)).alias("w_stat"))


def kruskal_wallis(
    df: DataFrame,
    group_col,
    value_col: str,
) -> DataFrame:
    """Kruskal-Wallis H test (Kruskal & Wallis 1952) — the rank-based
    k-group location test beside :func:`mann_whitney_u` (its k=2
    special case) and the parametric ``anova_oneway``: does at least
    one group stochastically dominate, with no normality assumption?

        H  = 3/(N(N+1)) · Σ_g (U_g − n_g(N+1))² / n_g
        H' = H / C,   C = 1 − Σ(t³−t)/(N³−N)   (tie correction)

    where ``U_g = Σ_g 2·midrank`` is the integral doubled rank sum
    (the ``mann_whitney_u`` discipline: 2·midrank = 2·bb + c + 1 per
    distinct value with ``bb`` rows strictly below and ``c`` ties).
    All-tied input has C = 0: H' is NULL (undefined, not 0). A single
    group releases NULL H (no between-group contrast). Complete-case:
    NULL group or value rows are excluded (and NaN values for float
    columns — the ``spearman_corr`` contract).

    Scale shape — the DISTINCT-VALUE reduction (the ``spearman_corr``
    discipline, NOT a row-level rank window): midranks come from one
    value-keyed count aggregation plus a cumulative window over the
    DISTINCT frame (the only thing allowed into an unpartitioned
    window); per-group rank sums are one (group, value) aggregation
    joined to the midrank table on the value key. Row-count work is
    two keyed aggs; everything after is distinct-value-sized.

    Determinism: U_g, tie sums, and N pool as exact decimal(38,0)
    (rank sums reach ~n² — LONG overflows past ~3e9 rows, the r12
    audit rule); each group's squared-deviation term is an identical
    double snapped at 9 dp and pooled as decimal(38,9) so the
    cross-group sum is order-independent; H releases at 6 dp.

    Returns ONE row: ``(n, k, h, h_adj)``."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    base = df.select(
        g.cast("string").alias("__g"), F.col(value_col).alias("__v"),
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())
    if isinstance(base.schema["__v"].dataType,
                  (T.DoubleType, T.FloatType)):
        base = base.filter(~F.isnan("__v"))

    d38 = "decimal(38,0)"
    vc = base.groupBy("__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c"))
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    mid = vc.select(
        "__v", "__c",
        (2 * F.coalesce(F.sum("__c").over(w), F.lit(0))
         + F.col("__c") + 1).cast(d38).alias("__u2"))
    gc = base.groupBy("__g", "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__gc"))
    per_g = (
        gc.join(mid.select("__v", "__u2"), "__v")
        .groupBy("__g")
        .agg(
            F.sum("__gc").cast("long").alias("__ng"),
            F.sum(F.col("__gc").cast(d38) * F.col("__u2"))
            .cast(d38).alias("__ug")))
    tot = mid.agg(
        F.sum("__c").cast(d38).alias("__n"),
        F.sum(F.col("__c").cast(d38) * F.col("__c") * F.col("__c")
              - F.col("__c")).cast(d38).alias("__ties"))
    nn = F.col("__n")
    # per-group squared deviation, 9-dp-snapped identical doubles so
    # the cross-group pool is exact and order-independent
    dev = (F.col("__ug") - F.col("__ng").cast(d38) * (nn + 1))
    term = F.round(
        dev.cast("double") * dev.cast("double")
        / F.col("__ng").cast("double"), 9).cast("decimal(38,9)")
    folded = per_g.crossJoin(tot).agg(
        F.max(nn).alias("__nmax"),
        F.max(F.col("__ties")).alias("__tmax"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(term).alias("__s"))
    nd = F.col("__nmax").cast("double")
    h = F.lit(3.0) * F.col("__s").cast("double") / (nd * (nd + 1.0))
    c = F.lit(1.0) - F.col("__tmax").cast("double") / (nd * nd * nd - nd)
    return folded.filter(F.col("k") > 0).select(
        F.col("__nmax").cast("long").alias("n"),
        "k",
        F.when(F.col("k") >= 2, F.round(h, RELEASE_DP)).alias("h"),
        F.when((F.col("k") >= 2) & (c > 0), F.round(h / c, RELEASE_DP))
        .alias("h_adj"))


def runs_test(
    df: DataFrame,
    value_col: str,
    order_col,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Wald-Wolfowitz runs test per key (Wald & Wolfowitz 1940) — is a
    sequence random, or does it trend/oscillate? Each observation
    becomes above(+)/below(−) its key's EXACT median (values equal to
    the median are dropped, the standard treatment), runs are maximal
    same-sign stretches counted with one lag window over
    ``order_col``, and the z-score compares the observed run count to
    the randomness expectation::

        μ = 2·n₊·n₋/n + 1,
        σ² = 2·n₊·n₋·(2·n₊·n₋ − n) / (n²·(n−1))

    Sign counts and the run count are exact integers; μ and σ use one
    fixed double expression each, so z replays exactly. Too few runs →
    trending/clustered (z « 0); too many → oscillating (z » 0). One
    median aggregate + one ordered lag window + one keyed agg.
    Returns ``(*key_cols, n_above, n_below, n_runs, z)``; keys with an
    empty side are omitted (no randomness question to ask)."""
    from pyspark.sql.window import Window

    keys = list(key_cols or [])
    o = order_col if not isinstance(order_col, str) else F.col(order_col)
    v = F.col(value_col).cast("double")
    base = df.select(*keys, v.alias("__v"), o.alias("__o")) \
        .filter(F.col("__v").isNotNull())
    med = base.groupBy(*keys).agg(
        F.percentile("__v", F.lit(0.5)).alias("__med"))
    signed = (
        base.join(F.broadcast(med), keys) if keys
        else base.crossJoin(F.broadcast(med))
    ).filter(F.col("__v") != F.col("__med")).select(
        *keys, "__o", (F.col("__v") > F.col("__med")).alias("__up"))
    w = Window.partitionBy(*keys).orderBy("__o")
    runs = signed.select(
        *keys, "__up",
        F.when(
            F.lag("__up").over(w).isNull()
            | (F.lag("__up").over(w) != F.col("__up")), 1)
        .otherwise(0).alias("__new_run"))
    per_key = runs.groupBy(*keys).agg(
        F.sum(F.col("__up").cast("int")).cast("long").alias("n_above"),
        F.sum((~F.col("__up")).cast("int")).cast("long").alias("n_below"),
        F.sum("__new_run").cast("long").alias("n_runs"))
    na, nb = F.col("n_above"), F.col("n_below")
    n = na + nb
    two = (2 * na * nb).cast("double")
    mu = two / n + 1
    var = (two * (two - n.cast("double"))
           / (n * n * (n - 1)).cast("double"))
    return (
        per_key.filter((na > 0) & (nb > 0) & (n > 1))
        .select(
            *keys, "n_above", "n_below", "n_runs",
            F.when(var > 0, F.round(
                (F.col("n_runs").cast("double") - mu) / F.sqrt(var),
                RELEASE_DP)).alias("z"))
        .filter(F.col("z").isNotNull())
    )


def effect_size(
    df: DataFrame,
    group_col,
    value_col: str,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Cohen's d and Hedges' g per key — the standardized mean
    difference that turns :func:`mann_whitney_u`'s "is there a shift"
    into "how BIG is the shift" (the practical-significance report
    line; Cohen 1988, Hedges 1981):

        d = (x̄_a - x̄_b) / s_pooled
        s²_pooled = ((n_a-1)s²_a + (n_b-1)s²_b) / (n_a + n_b - 2)
        g = d · (1 - 3/(4(n_a+n_b) - 9))        (small-sample bias)

    ``group_col`` is a boolean sample-a indicator (same plan-time type
    contract as mann_whitney_u — string labels pass an explicit
    comparison). Determinism: values snap to ``decimal(20,6)``;
    per-side n/Σx/Σx² are EXACT (decimal sums; the decimal cast
    maps NaN to NULL, so NaN values are excluded with the NULLs); variances and the
    release combine those sums in one double expression with factors
    cast to double BEFORE multiplying (the overflow-audit rule).
    Sides with n < 2, or zero pooled variance, release NULL d/g.

    Σx² pools in the SCALED-INTEGER domain — ``(x·10^6)²`` as
    decimal(38,0), descaled once in the double combine — because a
    decimal(20,s)² exceeds Spark's 38-digit cap and the precision-loss
    rule would silently round the SCALE (a lossy product; the r12
    overflow-audit family). Bound: |x| < ~1e7 at scale 6 keeps the
    squared pool under 38 digits past 1e9 rows per key.

    Scale shape: ONE keyed aggregation pass (conditional sums), no
    window, no join. Returns
    ``(*key_cols, n_a, n_b, mean_a, mean_b, cohens_d, hedges_g)``."""
    keys = list(key_cols or [])
    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    _require_indicator(df, g, "effect_size")
    decv = f"decimal(20,{SNAP_SCALE})"
    base = df.select(
        *keys, F.col(value_col).cast(decv).alias("__v"),
        g.cast("boolean").alias("__a"),
    ).filter(F.col("__v").isNotNull() & F.col("__a").isNotNull())
    ia = F.when(F.col("__a"), 1).otherwise(0)
    vi = (F.col("__v") * F.lit(10 ** SNAP_SCALE)).cast("decimal(38,0)")
    sq = vi * vi
    per = base.groupBy(*keys).agg(
        F.sum(ia).cast("long").alias("n_a"),
        F.sum(1 - ia).cast("long").alias("n_b"),
        F.sum(F.when(F.col("__a"), F.col("__v"))).alias("__sa"),
        F.sum(F.when(~F.col("__a"), F.col("__v"))).alias("__sb"),
        F.sum(F.when(F.col("__a"), sq)).cast("decimal(38,0)")
        .alias("__qa"),
        F.sum(F.when(~F.col("__a"), sq)).cast("decimal(38,0)")
        .alias("__qb"))
    desc = float(10 ** (2 * SNAP_SCALE))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("__sa").cast("double"), F.col("__sb").cast("double")
    qa = F.col("__qa").cast("double") / desc
    qb = F.col("__qb").cast("double") / desc
    va = (na * qa - sa * sa) / (na * (na - 1.0))
    vb = (nb * qb - sb * sb) / (nb * (nb - 1.0))
    pooled = ((na - 1.0) * va + (nb - 1.0) * vb) / (na + nb - 2.0)
    d = (sa / na - sb / nb) / F.sqrt(pooled)
    corr = 1.0 - 3.0 / (4.0 * (na + nb) - 9.0)
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    return per.select(
        *keys, "n_a", "n_b",
        F.when(F.col("n_a") > 0, F.round(sa / na, RELEASE_DP)).alias("mean_a"),
        F.when(F.col("n_b") > 0, F.round(sb / nb, RELEASE_DP)).alias("mean_b"),
        F.when(ok & (pooled > 0), F.round(d, RELEASE_DP)).alias("cohens_d"),
        F.when(ok & (pooled > 0), F.round(d * corr, RELEASE_DP))
        .alias("hedges_g"))


def anderson_darling_two_sample(
    df: DataFrame,
    group_col,
    value_col: str,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Exact two-sample Anderson-Darling statistic per key (Scholz &
    Stephens 1987, the k-sample A²_kN of their eq. 3 at k = 2 —
    scipy's ``midrank=False`` "continuous data" variant) — the
    tail-weighted drift test beside :func:`ks_two_sample`: KS sees
    only the single largest ECDF gap, A² integrates EVERY gap with
    1/(F(1−F)) weighting, so distributional drift concentrated in
    the tails (where F(1−F) → 0) registers long before the KS sup
    does — exactly the drift mode that poisons outlier-sensitive
    training statistics:

        A² = Σ_{i∈{a,b}} (1/n_i) Σ_{j : B_j < N}
             (l_j/N) · (N·M_ij − n_i·B_j)² / (B_j·(N−B_j))

    over the DISTINCT pooled values (l_j the value's pooled count,
    B_j the inclusive pooled cumulative, M_ij the inclusive sample-i
    cumulative; the largest value drops out — its term is 0/0).

    All counts are exact integers; each squared deviation pools as
    decimal(38,0) FACTORS before one double division per term (the
    roc_auc overflow rule — a LONG product would wrap silently at
    large N), terms snap at 9 dp into decimal(38,9) order-free sums,
    release at 6 dp. NULL values and NaN values are excluded
    (complete-case); keys where either sample is empty are omitted
    (no distribution to compare, the KS convention).

    Scale shape: one value-keyed count aggregation (the distinct-
    value reduction — the window sees distinct values, not rows),
    one per-key ordered window, one keyed fold; skew equals key
    skew. ``group_col`` is a boolean Column (True = sample a).
    Returns ``(*key_cols, n_a, n_b, n_distinct, a2)``."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    keys = list(key_cols or [])
    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    _require_indicator(df, g, "anderson_darling_two_sample")
    base = df.select(
        *keys, F.col(value_col).alias("__v"),
        g.cast("boolean").alias("__a"),
    ).filter(F.col("__v").isNotNull() & F.col("__a").isNotNull())
    if isinstance(base.schema["__v"].dataType,
                  (T.DoubleType, T.FloatType)):
        base = base.filter(~F.isnan("__v"))
    cells = base.groupBy(*keys, "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__l"),
        F.sum(F.when(F.col("__a"), 1).otherwise(0))
        .cast("long").alias("__la"))
    w_cum = (Window.partitionBy(*keys).orderBy("__v")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_tot = Window.partitionBy(*keys)
    scored = cells.select(
        *keys, "__l", "__la",
        F.sum("__l").over(w_cum).alias("__B"),
        F.sum("__la").over(w_cum).alias("__Ma"),
        F.sum("__l").over(w_tot).alias("__N"),
        F.sum("__la").over(w_tot).alias("__na"))
    d0 = "decimal(38,0)"
    n = F.col("__N")
    na, nb = F.col("__na"), F.col("__N") - F.col("__na")
    b = F.col("__B")
    ma, mb = F.col("__Ma"), F.col("__B") - F.col("__Ma")
    l = F.col("__l")

    # the terms are rationals with SMALL denominators (B·(N−B)·N·n_i),
    # so they land ON 10-dp half boundaries constantly — round(x, 9)
    # of the double diverges across engines (Spark rounds the exact
    # binary value, SQL engines typically scale-and-round; this gate
    # HIT the boundary at sf0.001). The engine-free ladder: floor of
    # t·1e9 — the IEEE product and floor of identical doubles are
    # identical everywhere — pools exact integer nano-units, and the
    # release is pure integer HALF_UP
    def term(m, ni):
        dev = (n.cast(d0) * m.cast(d0)
               - ni.cast(d0) * b.cast(d0))
        num = l.cast(d0) * dev * dev
        den = (n.cast("double") * b.cast("double")
               * (n - b).cast("double") * ni.cast("double"))
        return F.floor(num.cast("double") / den * 1.0e9).cast("long")

    per = (scored.filter((na > 0) & (nb > 0) & (b < n))
           .groupBy(*keys)
           .agg(
               F.max("__na").cast("long").alias("n_a"),
               F.max(nb).cast("long").alias("__nbv"),
               F.count(F.lit(1)).cast("long").alias("__nd"),
               F.sum(term(ma, na) + term(mb, nb)).alias("__s")))
    # n_distinct counts ALL distinct pooled values (the dropped
    # largest one included) — recount from the filtered frame + 1
    from . import nano_release

    return per.select(
        *keys, "n_a", F.col("__nbv").alias("n_b"),
        (F.col("__nd") + 1).alias("n_distinct"),
        nano_release("__s").alias("a2"))


def kendalls_w(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Kendall's coefficient of concordance W (Kendall & Babington
    Smith 1939) — HOW STRONGLY do the n blocks (raters) agree on the
    ranking of the k treatments (items), on the interpretable 0..1
    scale the Friedman Q lacks: W = 1 means every rater ranks
    identically, W = 0 means no agreement beyond chance. The
    agreement-STRENGTH companion to :func:`friedman_test`'s
    significance decision, via the exact tie-general identity

        W = Q / (n·(k−1))

    (Kendall's tie-corrected W and the tie-corrected Friedman Q are
    the same statistic on different scales — Conover 1999). Computed
    by COMPOSITION from the RELEASED 6-dp-rounded Q (the
    textrank→pagerank / PACF convention: both engines fold the
    identical released double, no second precision ladder), then
    released at 6 dp. All of friedman's contracts apply unchanged
    (complete design validated on a pinned lineage, NULL on all-tied
    input).

    Returns ONE row: ``(n_blocks, k, q_stat, w)``."""
    q = friedman_test(df, block_col, treatment_col, value_col)
    # Q/D is a rational with a SMALL denominator, so a round(double)
    # release sits on half boundaries by construction (the
    # anderson_darling lesson) — recover Q's exact 6-dp-grain integer
    # (floor(q·10^6 + 0.5) is engine-free: IEEE multiply + floor of
    # identical doubles), then divide HALF_UP in pure integers
    return q.select(
        "n_blocks", "k", "q_stat",
        F.when(
            F.col("q_stat").isNotNull(),
            F.expr(f"(2 * floor(q_stat * {float(10 ** RELEASE_DP)!r} + 0.5)"
                   " + (n_blocks * (k - 1)))"
                   " div (2 * n_blocks * (k - 1))").cast("double")
            / float(10 ** RELEASE_DP)).alias("w"))


def esd_outlier_rounds(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    n_rounds: int = 3,
) -> DataFrame:
    """Generalized extreme Studentized deviate outlier rounds per
    group (Rosner 1983, the iterative Grubbs) — the masked-outlier
    detector: ONE wild point inflates the standard deviation enough
    to hide a second, so the test re-studentizes after removing each
    round's extreme. Per round r = 1..n_rounds over the remaining
    points:

        R_r = max_i |x_i − x̄| / s        (sample s, n−1 form)

    releasing each round's statistic, the removed point's id and
    value, and the remaining count — the caller compares R_r to the
    ESD critical values (the no-CDF house convention). The removed
    point is the argmax by (|deviation| desc, id asc): the id
    tiebreak makes tied extremes engine-deterministic.

    Determinism: values snap to decimal(20,6) and scale to exact
    integers (the changepoint_variance rule — never square a
    nonzero-scale decimal in Spark); per-round moments are exact
    decimal(38,0) sums; the deviation ranking compares |n·x − Σx|
    in EXACT integers (the same ordering as |x − x̄| — no float
    enters the argmax); R_r is one double expression over exact
    integers released at 6 dp. Groups shrink by exactly one row
    per round; rounds with n < 3 or zero variance release NULL R
    and stop removing (NULL id/value).

    Scale shape: ``n_rounds`` unrolled (agg + join + argmax-window)
    passes over the group frame — the graph_pagerank fixed-rounds
    convention; everything keyed by group. Returns one row per
    (group, round): ``(group_col, round, n_remaining, r_stat,
    removed_id, removed_value)``."""
    from pyspark.sql.window import Window

    if int(n_rounds) < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    d0 = "decimal(38,0)"
    from . import drop_nan_rows

    u = (F.col(value_col).cast(f"decimal(20,{SNAP_SCALE})")
         * (10 ** SNAP_SCALE)).cast(d0)
    cur = drop_nan_rows(df, value_col).filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"), u.alias("__u"),
        F.col(id_col).alias("__id"))
    out_frames = []
    down = float(10 ** SNAP_SCALE)
    for rnd in range(1, int(n_rounds) + 1):
        mom = cur.groupBy("__g").agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("__u").cast(d0).alias("__s"),
            F.sum((F.col("__u") * F.col("__u")).cast(d0)).cast(d0)
            .alias("__q"))
        j = cur.join(mom, "__g")
        # |n·x − Σx| in exact integers orders EXACTLY like |x − x̄|
        dev = F.abs(F.col("__n").cast(d0) * F.col("__u")
                    - F.col("__s"))
        w = Window.partitionBy("__g").orderBy(
            F.desc("__dev"), F.asc("__id"))
        ranked = j.withColumn("__dev", dev).withColumn(
            "__rk", F.row_number().over(w))
        nd = F.col("__n").cast("double")
        # sample variance numerator n·Σx² − (Σx)² as an EXACT decimal
        # integer (its double twin can read tiny-nonzero past 2^53);
        # s² = num / (n(n−1)), descaled by 10^12
        var_num = (F.col("__n").cast(d0) * F.col("__q")
                   - F.col("__s") * F.col("__s"))
        var = var_num.cast("double") / (nd * (nd - 1.0))
        r_ok = (F.col("__n") >= 3) & (var_num > 0)
        r_stat = (F.col("__dev").cast("double") / nd / down
                  / F.sqrt(var / (down * down)))
        top = ranked.filter(F.col("__rk") == 1).select(
            F.col("__g").alias(group_col),
            F.lit(rnd).alias("round"),
            F.col("__n").alias("n_remaining"),
            F.when(r_ok, F.round(r_stat, RELEASE_DP)).alias("r_stat"),
            F.when(r_ok, F.col("__id")).alias("removed_id"),
            F.when(r_ok, F.col("__u").cast("double") / down)
            .alias("removed_value"))
        out_frames.append(top)
        # a NULL-R round removes nothing (degenerate group — stop)
        removed = ranked.filter(F.col("__rk") == 1).filter(
            r_ok).select("__g", "__id")
        cur = cur.join(removed, ["__g", "__id"], "left_anti")
        cur = cur.localCheckpoint(eager=False)
    res = out_frames[0]
    for fr in out_frames[1:]:
        res = res.unionByName(fr)
    return res


def jarque_bera(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Jarque-Bera normality screen per group (Jarque & Bera 1980)
    — the is-this-even-Gaussian gate that belongs BEFORE any test
    assuming normality (`welch_t_test`, the ANOVA family):

        JB = n/6 · (S² + K²/4)

    over the released 6-dp skewness S and excess kurtosis K of the
    `agg_moments` ladder (exact-decimal mean, 9-dp-decimal snapped
    deviation powers, order-free sums — the same two-pass shape
    Spark's one-pass skewness/kurtosis aggregates approximate).
    JB ~ χ²₂ under normality; statistic only (the no-CDF house
    convention). Composing RELEASED values is the kendalls_w
    convention: both engines fold identical doubles, no second
    precision ladder — and the final small-denominator n/6 rational
    releases through the nano-unit ladder, not round(double).

    Groups with zero variance are omitted (no shape to test — the
    agg_moments convention). Returns ``(group_col, n, skewness,
    kurtosis_excess, jb)``."""
    from . import drop_nan_rows, nano_release

    base = drop_nan_rows(df, value_col).filter(
        F.col(value_col).isNotNull())
    st = base.groupBy(group_col).agg(
        (F.sum(F.round(F.col(value_col), 12).cast("decimal(28,12)"))
         .cast("double") / F.count(F.lit(1))).alias("__m"),
        F.count(F.lit(1)).alias("__n"))
    dv = base.join(F.broadcast(st), group_col).select(
        group_col, "__n",
        (F.col(value_col) - F.col("__m")).alias("__d"))

    def snap(c):
        return F.round(c, 9).cast("decimal(28,9)")

    d = F.col("__d")
    mom = dv.groupBy(group_col).agg(
        F.max("__n").alias("__n"),
        (F.sum(snap(d * d)).cast("double") / F.max("__n"))
        .alias("__m2"),
        (F.sum(snap(d * d * d)).cast("double") / F.max("__n"))
        .alias("__m3"),
        (F.sum(snap(d * d * d * d)).cast("double") / F.max("__n"))
        .alias("__m4"))
    m2, m3, m4 = F.col("__m2"), F.col("__m3"), F.col("__m4")
    rel = mom.filter(m2 > 0).select(
        group_col, F.col("__n").cast("long").alias("n"),
        F.round(m3 / (m2 * F.sqrt(m2)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3, 6).alias("kurtosis_excess"))
    s, k = F.col("skewness"), F.col("kurtosis_excess")
    nd = F.col("n").cast("double")
    jb_units = F.floor(
        nd / 6.0 * (s * s + k * k / 4.0) * 1.0e9).cast("long")
    return rel.select(
        group_col, "n", "skewness", "kurtosis_excess",
        jb_units.alias("__ju")
    ).select(
        group_col, "n", "skewness", "kurtosis_excess",
        nano_release("__ju").alias("jb"))


def page_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Page's trend test for ordered alternatives (Page 1963) — the
    ORDERED sibling of :func:`friedman_test`: Friedman asks "do the
    k treatments differ at all", Page asks "do they increase in THIS
    order" (dose levels, model generations, checkpoint sequence) and
    buys its power from that hypothesis:

        L = Σ_j order_j · R_j

    with R_j treatment j's within-block rank sum and order_j the
    treatment's 1-based position in the NATURAL SORT ORDER of the
    treatment column (encode the intended order into sortable labels
    — the documented contract). Released statistic only, plus the
    null expectation E[L] = n·k(k+1)²/4 — Page's critical values are
    tabulated by (n, k), the no-CDF house convention.

    Tie-general: within-block DOUBLED midranks keep the algebra
    all-integer (the friedman machinery); L releases as the exact
    halved decimal (ties can make it x.5 — one exact integer halving,
    raw double). All friedman contracts apply: complete design
    validated on a pinned lineage, NULL values excluded (which makes
    an incomplete design fail loud), NaN≡NULL.

    Returns ONE row: ``(n_blocks, k, l_stat, l_expect)``."""
    from pyspark.sql.window import Window

    from . import drop_nan_rows

    base = drop_nan_rows(df, value_col).select(
        F.col(block_col).alias("__b"),
        F.col(treatment_col).alias("__t"),
        F.col(value_col).alias("__v"),
    ).filter(
        F.col("__b").isNotNull() & F.col("__t").isNotNull()
        & F.col("__v").isNotNull())
    base = base.localCheckpoint(eager=True)

    shape = base.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__rows"),
        F.count_distinct("__t").alias("__k")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__rows").alias("rlo"), F.max("__rows").alias("rhi"),
        F.min("__k").alias("klo"), F.max("__k").alias("khi")).collect()
    if not shape or shape[0]["n"] == 0:
        raise ValueError("page_test: empty input")
    s = shape[0]
    if not (s["rlo"] == s["rhi"] == s["klo"] == s["khi"]):
        raise ValueError(
            "page_test requires a COMPLETE block design (every "
            f"block holds every treatment exactly once); found "
            f"blocks with {s['rlo']}..{s['rhi']} rows and "
            f"{s['klo']}..{s['khi']} distinct treatments")
    k = int(s["klo"])
    n = int(s["n"])
    if k < 2:
        raise ValueError("page_test needs >= 2 treatments")

    wb = Window.partitionBy("__b").orderBy("__v")
    wt = Window.partitionBy("__b", "__v")
    ranked = base.select(
        "__b", "__t",
        (2 * F.rank().over(wb) + F.count(F.lit(1)).over(wt) - 1)
        .cast("long").alias("__u"))
    d38 = "decimal(38,0)"
    per_t = ranked.groupBy("__t").agg(
        F.sum(F.col("__u").cast(d38)).cast(d38).alias("__uj"))
    worder = Window.orderBy("__t")     # k-row frame: the label order
    ordered = per_t.withColumn(
        "__ord", F.row_number().over(worder))
    l2 = ordered.agg(
        F.sum(F.col("__ord").cast(d38) * F.col("__uj"))
        .cast(d38).alias("__l2"))
    return l2.select(
        F.lit(n).cast("long").alias("n_blocks"),
        F.lit(k).cast("long").alias("k"),
        (F.col("__l2").cast("double") / 2.0).alias("l_stat"),
        F.lit(float(n * k * (k + 1) * (k + 1)) / 4.0)
        .alias("l_expect"))


def mcnemar_test(
    df: DataFrame,
    x_col,
    y_col,
) -> DataFrame:
    """McNemar's test for paired binary outcomes (McNemar 1947) —
    the 2-treatment special case of :func:`cochran_q`, in the form
    the eval harness actually asks it: "model A and model B were
    judged on the SAME items — is the disagreement symmetric?" Only
    the DISCORDANT cells carry information::

        b = #(x=1, y=0),  c = #(x=0, y=1)
        chi2           = (b − c)² / (b + c)
        chi2_corrected = (|b − c| − 1)² / (b + c)   (Edwards 1948)
        odds_ratio     = b / c                       (conditional OR)

    Both statistics are χ²₁-referenced under the null (statistic
    only, the module convention). ``b + c = 0`` (perfect agreement)
    releases NULL statistics and NULL OR; ``c = 0`` with ``b > 0``
    releases NULL OR (infinite) while the chi-squares stay defined.

    Each ROW is one paired unit; ``x_col`` / ``y_col`` cast to
    boolean and a NULL in either drops the pair (complete-case — a
    missing measurement is not a 0). Scale shape: ONE aggregation
    over the data (four conditional counts, map-side combinable) —
    no shuffle beyond the scalar combine. Counts are exact LONGs
    (cell counts are row-bounded, no product terms — the overflow
    audit passes trivially); each release is one double division
    rounded at 6 dp.

    Returns ONE row: ``(n_pairs, both_pos, both_neg, only_x, only_y,
    chi2, chi2_corrected, odds_ratio)``."""
    xs = (x_col if not isinstance(x_col, str)
          else F.col(x_col)).cast("boolean")
    ys = (y_col if not isinstance(y_col, str)
          else F.col(y_col)).cast("boolean")
    base = df.select(xs.alias("__x"), ys.alias("__y")).filter(
        F.col("__x").isNotNull() & F.col("__y").isNotNull())
    cnt = lambda p: F.sum(F.when(p, 1).otherwise(0)).cast("long")  # noqa: E731
    one = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        cnt(F.col("__x") & F.col("__y")).alias("both_pos"),
        cnt(~F.col("__x") & ~F.col("__y")).alias("both_neg"),
        cnt(F.col("__x") & ~F.col("__y")).alias("only_x"),
        cnt(~F.col("__x") & F.col("__y")).alias("only_y"))
    b, c = F.col("only_x"), F.col("only_y")
    disc = (b + c).cast("double")
    diff = (b - c).cast("double")
    adiff = F.abs(b - c).cast("double")
    return one.select(
        "n_pairs", "both_pos", "both_neg", "only_x", "only_y",
        F.when(disc > 0, F.round(diff * diff / disc, RELEASE_DP))
        .alias("chi2"),
        F.when(disc > 0,
               F.round((adiff - 1) * (adiff - 1) / disc, RELEASE_DP))
        .alias("chi2_corrected"),
        F.when(c > 0, F.round(b.cast("double") / c.cast("double"),
                              RELEASE_DP)).alias("odds_ratio"))
