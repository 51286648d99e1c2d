"""Table profiling: the one-pass column census every ingest pipeline
runs before trusting a new data drop — null rates, exact cardinalities,
value ranges — as a long-format DataFrame (one row per column) instead
of the driver-side prints of ``df.describe()``/``df.summary()``.

Scale shape: ONE aggregation over the table computes every column's
statistics together (count/nulls/min/max fold into the same partial-agg
pass; the exact distinct counts plan as one Expand + keyed agg — a
single shuffle for ALL columns, Spark's standard multi-countDistinct
strategy), then the one aggregate row pivots to long format with
``stack`` — no per-column scans, no driver loops, no sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import RELEASE_DP, SNAP_SCALE


def profile_columns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Per-column profile of ``df``: one row per column with

    - ``n_rows`` / ``n_null`` / ``null_frac`` (6 dp);
    - ``n_distinct`` — EXACT distinct count of non-null values (the
      approx twin is ``approx_count_distinct`` — see the
      `agg_approx_distinct` gate; a profiler's job is the truth);
    - ``min_str`` / ``max_str`` — value range, cast to string so the
      long format holds heterogeneous column types in one schema
      (numeric ordering happens BEFORE the cast);
    - ``is_constant`` — at most one distinct non-null value: the
      dead-column detector.

    All columns profile in ONE pass over the data (single agg; the
    multi-column exact distincts share one Expand shuffle).
    """
    names = cols if cols is not None else df.columns
    if not names:
        raise ValueError("no columns to profile")
    # generated identifiers are positional (__null_0, ...) so column
    # names with spaces/dots/quotes can't break the stack() SQL below;
    # the name itself only ever appears as an escaped string literal
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(names):
        col = F.col(f"`{c}`")
        aggs += [
            F.sum(col.isNull().cast("long")).alias(f"__null_{i}"),
            F.count_distinct(col).alias(f"__nd_{i}"),
            F.min(col).cast("string").alias(f"__min_{i}"),
            F.max(col).cast("string").alias(f"__max_{i}"),
        ]
    one = df.agg(*aggs)
    # pivot the single aggregate row to long format: stack is a plain
    # Generate over an already-1-row frame — metadata-sized
    stacked = one.select(
        F.col("__n"),
        F.expr(
            "stack({n}, {args}) as (column, n_null, n_distinct, min_str, max_str)".format(
                n=len(names),
                args=", ".join(
                    "'{name}', __null_{i}, __nd_{i}, __min_{i}, __max_{i}".format(
                        name=c.replace("\\", "\\\\").replace("'", "\\'"), i=i
                    )
                    for i, c in enumerate(names)
                ),
            )
        ),
    )
    return stacked.select(
        "column",
        F.col("__n").cast("long").alias("n_rows"),
        F.col("n_null").cast("long").alias("n_null"),
        F.round(F.col("n_null") / F.col("__n"), 6).alias("null_frac"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_str", "max_str",
        (F.col("n_distinct") <= 1).alias("is_constant"),
    )


def equi_width_histogram(
    df: DataFrame, col: str, n_buckets: int = 16
) -> DataFrame:
    """Optimizer-grade equi-WIDTH histogram of a numeric column (the
    ``ANALYZE TABLE ... FOR COLUMNS`` shape): global [min, max] split
    into ``n_buckets`` equal spans, top edge inclusive in the last
    bucket. Two jobs: a 1-row min/max agg (broadcast as a literal-free
    cross join — Spark turns the 1-row side into a BroadcastNestedLoop
    that is effectively a map-side constant), then one groupBy on the
    bucket id. NULLs are excluded (they are a separate profile stat,
    not a distribution point)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    vals = df.select(F.col(col).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    rng = vals.agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets))
    b = F.least(
        F.floor((F.col("__v") - F.col("__lo")) / width).cast("int"),
        F.lit(n_buckets - 1),
    )
    return (
        vals.crossJoin(F.broadcast(rng))
        .withColumn("bucket", b)
        .groupBy("bucket")
        .agg(
            F.round(F.min(F.col("__lo") + F.col("bucket") * width), 6)
            .alias("lo_edge"),
            F.round(F.min(F.col("__lo") + (F.col("bucket") + 1) * width), 6)
            .alias("hi_edge"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


def equi_depth_histogram(
    df: DataFrame, col: str, tiebreak: str, n_buckets: int = 8
) -> DataFrame:
    """Equi-DEPTH histogram (equal row counts per bucket — the
    skew-robust twin the optimizer actually prefers) over a
    DETERMINISTIC total order (value, then ``tiebreak``, which must be
    unique) so bucket membership is reproducible across engines and
    runs.

    Scale shape (round 9 — this was the package's one remaining
    ROW-GRAIN unpartitioned window: ``ntile`` funneled the whole table
    through a single task): the global rank now comes from
    :func:`~puffbird_spark.operators.splits.grouped_prefix_sum`
    (two balanced range exchanges, broadcast slice offsets), and the
    bucket is the exact integer replay of ntile's FRONT-LOADED
    uneven-split rule: with ``q, rem = divmod(n, k)``, the first
    ``rem`` buckets take ``q + 1`` rows and the rest ``q`` (``n < k``
    degenerates to one row in each of the first ``n`` buckets) —
    bit-equal to ``ntile`` (differential-tested, including the
    ``n mod k >= 2`` regime where the Bresenham spread diverges).
    ``n`` is one bounded driver scalar."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    vals = df.select(
        F.col(col).cast("double").alias("__v"), F.col(tiebreak).alias("__t")
    ).filter(F.col("__v").isNotNull())

    from .splits import grouped_prefix_sum

    # pin the lineage before counting: grouped_prefix_sum re-reads
    # `vals`, and a non-deterministic source could make the recomputed
    # ranks inconsistent with this n (the bucket rule divides by it) —
    # same convention as _dense_jaccard_pairs / cosine_pairs_exact
    vals = vals.localCheckpoint(eager=True)
    n = vals.count()
    if n == 0:
        return vals.select(
            F.lit(0).alias("bucket"),
            F.lit(0.0).alias("lo_val"), F.lit(0.0).alias("hi_val"),
            F.lit(0).cast("long").alias("n_rows"),
        ).limit(0)
    ranked = grouped_prefix_sum(
        vals, [], ["__v", "__t"], F.lit(1), "__rank")
    # integer `div`, not double division + floor (the round-9 hour-bucket
    # lesson): exact at any n. The rule is ntile's EXACT front-loaded
    # uneven split — the first n mod k buckets take the extra row — NOT
    # floor((rank-1)k/n), which spreads the extras evenly (Bresenham)
    # and silently diverges from ntile whenever n mod k >= 2 (caught by
    # the r11 full sf0.001 sweep at n=1500, k=8: 188/187 alternating vs
    # ntile's 188x4 then 187x4; the old differential test only sampled
    # n mod k <= 1, where the two rules coincide).
    q, rem = divmod(int(n), int(n_buckets))
    if q == 0:
        # fewer rows than buckets: one row per leading bucket
        bucket = (F.col("__rank") - 1).cast("int")
    else:
        cut = rem * (q + 1)
        bucket = F.when(
            F.col("__rank") <= cut,
            F.expr(
                f"CAST((CAST(__rank AS BIGINT) - 1) div {q + 1} AS INT)"),
        ).otherwise(F.expr(
            f"CAST({rem} + (CAST(__rank AS BIGINT) - 1 - {cut}) "
            f"div {q} AS INT)"))
    return (
        ranked.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.round(F.min("__v"), 6).alias("lo_val"),
            F.round(F.max("__v"), 6).alias("hi_val"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


def correlation_matrix(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Pairwise Pearson correlations over ``cols`` in ONE aggregation
    pass — the profiling matrix that feeds feature selection and
    redundancy pruning (C(k,2) correlations without C(k,2) scans):
    every sum/sum-of-squares/cross-product accumulates as an exact
    decimal(18,2) — the inputs' two decimals (order-free), the correlation is
    one closed-form double expression per pair, rounded at
    6 dp. Rows with a NULL in ANY of ``cols`` are excluded
    (complete-case, the convention dropna-matrix profilers use) so
    every pair shares one n. Returns (col_a, col_b, n, corr)."""
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    t = "decimal(18,2)"
    complete = df
    for c in cols:
        complete = complete.filter(F.col(c).isNotNull())
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for i, c in enumerate(cols):
        x = F.col(c).cast(t)
        aggs.append(F.sum(x).alias(f"__s{i}"))
        aggs.append(F.sum(x * x).alias(f"__q{i}"))
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            aggs.append(
                F.sum(F.col(cols[i]).cast(t) * F.col(cols[j]).cast(t))
                .alias(f"__x{i}_{j}"))
    tot = complete.agg(*aggs)
    n = F.col("__n").cast("double")
    structs = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            sx = F.col(f"__s{i}").cast("double")
            sy = F.col(f"__s{j}").cast("double")
            sxx = F.col(f"__q{i}").cast("double")
            syy = F.col(f"__q{j}").cast("double")
            sxy = F.col(f"__x{i}_{j}").cast("double")
            num = n * sxy - sx * sy
            den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
            structs.append(F.struct(
                F.lit(cols[i]).alias("col_a"),
                F.lit(cols[j]).alias("col_b"),
                F.col("__n").alias("n"),
                F.when(den > 0, F.round(num / den, RELEASE_DP))
                .alias("corr"),
            ))
    return tot.select(
        F.explode(F.array(*structs)).alias("__r")).select("__r.*")


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation (Spearman 1904), tie-aware — Pearson
    over MIDRANKS, the monotone-association profiler that, unlike
    :func:`correlation_matrix`'s Pearson, ignores the marginal scale
    (outliers, log-vs-linear features read identically):

        ρ = (n·Σuv - Σu·Σv)
            / sqrt((n·Σu² - (Σu)²) · (n·Σv² - (Σv)²))

    where u, v are ``2·midrank`` per column — integral by construction
    (the ``mann_whitney_u`` discipline; the shared factor 2 cancels in
    ρ). The six pooled sums are EXACT decimal(38,0) (each ≤ 4n³ — safe
    past 1e11 rows); they combine in one closed-form double expression
    (IEEE-identical on identical sums across engines), rounded at
    6 dp. Complete-case: rows with a NULL (or NaN) in either
    column are excluded. A constant column has zero rank variance and releases
    NULL (undefined, not 0).

    Scale shape: each column's midrank map is built on its DISTINCT
    VALUES (count-aggregate, then one cumulative window over the
    distinct frame — the equi-depth convention: an unpartitioned Spark
    window is a one-task funnel, so only the distinct-value reduction
    may enter it; for a value with ``bb`` rows strictly below and
    ``c`` ties, ``2·midrank = 2·bb + c + 1``), then joins back to the
    rows on the value key (two keyed shuffles), then ONE scalar fold.

    Returns ONE row: ``(n, rho)``."""
    from pyspark.sql import types as T

    base = df.select(
        F.col(x_col).alias("__x"), F.col(y_col).alias("__y"),
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    # NaN values are excluded like NULLs (r13 probe: Spark would rank
    # NaN above +inf as one more "value", scipy/sklearn propagate or
    # reject — complete-case is the only cross-engine-stable contract)
    for c in ("__x", "__y"):
        if isinstance(base.schema[c].dataType,
                      (T.DoubleType, T.FloatType)):
            base = base.filter(~F.isnan(c))

    def midranks(col: str, out: str):
        per = base.groupBy(col).agg(F.count(F.lit(1)).alias("__c"))
        w = (Window.orderBy(col)
             .rowsBetween(Window.unboundedPreceding, -1))
        return per.select(
            col,
            (2 * F.coalesce(F.sum("__c").over(w), F.lit(0))
             + F.col("__c") + 1).alias(out))

    d38 = "decimal(38,0)"
    ranked = (
        base.join(midranks("__x", "__u"), "__x")
        .join(midranks("__y", "__v"), "__y")
        .select(F.col("__u").cast(d38).alias("__u"),
                F.col("__v").cast(d38).alias("__v")))
    tot = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__u").cast(d38).alias("__su"),
        F.sum("__v").cast(d38).alias("__sv"),
        F.sum(F.col("__u") * F.col("__v")).cast(d38).alias("__suv"),
        F.sum(F.col("__u") * F.col("__u")).cast(d38).alias("__suu"),
        F.sum(F.col("__v") * F.col("__v")).cast(d38).alias("__svv"))
    n = F.col("n").cast("double")
    su, sv = F.col("__su").cast("double"), F.col("__sv").cast("double")
    num = n * F.col("__suv").cast("double") - su * sv
    den = F.sqrt(
        (n * F.col("__suu").cast("double") - su * su)
        * (n * F.col("__svv").cast("double") - sv * sv))
    return tot.select(
        "n", F.when(den > 0, F.round(num / den, RELEASE_DP)).alias("rho"))


def gini_coefficient(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Gini coefficient (Gini 1912) of a non-negative value column —
    the inequality/concentration diagnostic for dataset curation
    (token-mass concentration across domains, per-author document
    share, label imbalance): 0 = perfectly even, →1 = one row holds
    everything.

    Computed via the rank form of the mean-absolute-difference,
        G = Σ_i (2i − n − 1)·x_(i) / (n·Σx)
    collapsed onto the DISTINCT-VALUE frame (the ``spearman_corr``
    discipline): a tie group of ``c`` rows at value x with ``bb``
    rows strictly below contributes ``x·c·(2bb + c − n)`` exactly —
    one value-keyed count agg, one cumulative window over the
    distinct frame, one fold. All pools are exact decimals (values
    snap to decimal(20,6); a decimal NaN maps to NULL, excluding
    NaN with the NULLs).

    Contract: NEGATIVE values make the coefficient meaningless (the
    Lorenz curve loses monotonicity) — the release carries the
    observed minimum and emits NULL gini when it is negative or when
    the total is 0 (no eager probe; the guard rides the same fold).

    Returns ONE row: ``(n, total, mean, min_value, gini)``."""
    from pyspark.sql.window import Window

    decv = f"decimal(20,{SNAP_SCALE})"
    base = df.select(
        F.col(value_col).cast(decv).alias("__v")
    ).filter(F.col("__v").isNotNull())
    vc = base.groupBy("__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c"))
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    d38s = f"decimal(38,{SNAP_SCALE})"
    per = vc.select(
        "__v", "__c",
        F.coalesce(F.sum("__c").over(w), F.lit(0)).alias("__bb"),
        F.sum("__c").over(wall).alias("__n"))
    term = (F.col("__v").cast(d38s)
            * (2 * F.col("__bb") + F.col("__c") - F.col("__n"))
            * F.col("__c"))
    folded = per.agg(
        F.max("__n").cast("long").alias("n"),
        F.min("__v").alias("__min"),
        F.sum(F.col("__v").cast(d38s) * F.col("__c")).alias("__tot"),
        F.sum(term).alias("__num"))
    nd = F.col("n").cast("double")
    tot = F.col("__tot").cast("double")
    g = F.col("__num").cast("double") / (nd * tot)
    return folded.filter(F.col("n") > 0).select(
        "n",
        F.round(tot, RELEASE_DP).alias("total"),
        F.round(tot / nd, RELEASE_DP).alias("mean"),
        F.col("__min").cast("double").alias("min_value"),
        F.when((F.col("__min") >= 0) & (tot > 0), F.round(g, RELEASE_DP))
        .alias("gini"))


def _concordance_frame(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Shared pair-concordance reduction for the ordinal-association
    family (:func:`kendall_tau_b`, :func:`ordinal_association`): the
    distinct-CELL contingency form. Returns ONE row with exact
    decimal(38,0) pools —

    - ``__n``   total complete-case rows,
    - ``__nr`` / ``__nc``  distinct x / y levels (LONG),
    - ``__n1`` / ``__n2``  pairs tied on x / on y,
    - ``__cc`` / ``__dd``  concordant / discordant pairs.

    Complete-case (NULL or NaN in either column drops the row). Rows
    collapse to the joint contingency table in one keyed count agg
    (map-side combinable); tie folds and the total read the cell
    marginals; C/D come from a broadcast self-join of the cell frame
    on ``a.x < b.x`` — O(m²) in DISTINCT CELLS, not rows, exact and
    cardinality-bound whenever at least one axis is genuinely
    ordinal. All counts are decimal(38,0) (n0 ~ n² — LONG overflows
    past ~4e9 rows, the r12 overflow-audit rule)."""
    from pyspark.sql import types as T

    base = df.select(
        F.col(x_col).alias("__x"), F.col(y_col).alias("__y"),
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    for c in ("__x", "__y"):
        if isinstance(base.schema[c].dataType,
                      (T.DoubleType, T.FloatType)):
            base = base.filter(~F.isnan(c))

    d38 = "decimal(38,0)"
    cells = base.groupBy("__x", "__y").agg(
        F.count(F.lit(1)).cast("long").alias("__c"))
    # cells is consumed FIVE times (two tie folds, the total, both
    # sides of the pair join) — pin it so the corpus scan+agg runs
    # once, not five times (the incremental_embedding_dedup
    # consumed-twice convention; r14 self-review). The pinned frame
    # is distinct-cell-sized — tiny for ordinal data by design.
    cells = cells.localCheckpoint(eager=True)

    def _tie_fold(col: str, alias: str):
        per = cells.groupBy(col).agg(
            F.sum("__c").cast(d38).alias("__t"))
        return per.agg(
            F.sum(F.col("__t") * (F.col("__t") - 1) / 2)
            .cast(d38).alias(alias))

    tot = cells.agg(
        F.sum("__c").cast(d38).alias("__n"),
        F.count_distinct("__x").alias("__nr"),
        F.count_distinct("__y").alias("__nc"))
    a, b = cells.alias("a"), cells.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.__x") < F.col("b.__x"))
    prod = (F.col("a.__c").cast(d38) * F.col("b.__c").cast(d38))
    cd = pairs.agg(
        F.coalesce(
            F.sum(F.when(F.col("a.__y") < F.col("b.__y"), prod)),
            F.lit(0).cast(d38)).cast(d38).alias("__cc"),
        F.coalesce(
            F.sum(F.when(F.col("a.__y") > F.col("b.__y"), prod)),
            F.lit(0).cast(d38)).cast(d38).alias("__dd"))
    return (
        tot.crossJoin(_tie_fold("__x", "__n1"))
        .crossJoin(_tie_fold("__y", "__n2"))
        .crossJoin(cd))


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall's tau-b (Kendall 1945), tie-corrected — the OTHER
    standard rank correlation beside :func:`spearman_corr`: the
    pair-concordance probability rather than rank-Pearson, the usual
    choice for ORDINAL data (ratings, Likert scales, graded labels):

        tau_b = (C - D) / sqrt((n0 - n1) · (n0 - n2))

        n0 = n(n-1)/2
        n1 = Σ_x t_x(t_x-1)/2   (pairs tied on x)
        n2 = Σ_y t_y(t_y-1)/2   (pairs tied on y)
        C/D = concordant / discordant pairs (pairs tied on either
              axis are neither)

    Complete-case: rows with a NULL (or NaN) in either column are
    excluded — the ``spearman_corr`` contract. Either axis constant
    (n0 = n1 or n0 = n2) releases NULL (undefined, not 0).

    Scale shape — the distinct-CELL reduction: rows collapse to the
    joint contingency table (one keyed count aggregation, map-side
    combinable), tie folds read the cell marginals, and C/D come from
    a broadcast self-join of the cell frame on ``a.x < b.x`` (each
    unordered point-pair lands in exactly one ordered cell pair; the
    per-pair term is n_a·n_b signed by the y comparison). Pair
    counting is therefore O(m²) in DISTINCT CELLS, not rows — exact
    and cheap whenever at least one axis is genuinely ordinal
    (m is cardinality-bound, independent of row count). For two
    continuous columns m ≈ n and the join degenerates quadratic —
    bucket one axis upstream or use ``spearman_corr``, which this
    module keeps linear. (The O(n log n) merge-sort inversion count
    does not decompose into Spark's shuffle algebra; the contingency
    form is the distributed-native exact formulation.)

    Determinism: every count is exact decimal(38,0) (n0 ~ n² — LONG
    overflows past ~4e9 rows, the r12 overflow-audit rule); the
    closed form combines identical doubles, rounded at 6 dp.

    Returns ONE row: ``(n, concordant, discordant, tau_b)``. The
    released pair COUNTS are LONG for ergonomics (NULL past ~9e18
    pairs — a ~4e9-row constant-free input); ``tau_b`` itself always
    computes from the exact decimal pools."""
    one = _concordance_frame(df, x_col, y_col)
    nn = F.col("__n")
    n0 = (nn * (nn - 1) / 2).cast("decimal(38,0)")
    num = (F.col("__cc") - F.col("__dd")).cast("double")
    den = F.sqrt(
        (n0 - F.col("__n1")).cast("double")
        * (n0 - F.col("__n2")).cast("double"))
    return one.filter(nn > 0).select(
        nn.cast("long").alias("n"),
        F.col("__cc").cast("long").alias("concordant"),
        F.col("__dd").cast("long").alias("discordant"),
        F.when(den > 0, F.round(num / den, RELEASE_DP)).alias("tau_b"))


def ordinal_association(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """The ordinal-association battery beside :func:`kendall_tau_b` —
    the three classical pair-concordance measures a contingency-table
    analysis reports together (Goodman & Kruskal 1954; Somers 1962;
    Stuart 1953), all from ONE shared cell reduction
    (:func:`_concordance_frame`):

    - ``gamma``      = (C − D) / (C + D) — ignores ALL ties; the
      measure of monotone association among untied pairs (Yule's Q
      on a 2×2 table).
    - ``somers_d_yx`` = (C − D) / (n0 − n1) — y as the DEPENDENT
      variable: ties on x excluded from the base, ties on y count
      against association (the asymmetric regression-flavored D;
      also the AUC link: D_yx = 2·AUC − 1 for a binary y).
    - ``somers_d_xy`` = (C − D) / (n0 − n2) — the transposed
      direction.
    - ``tau_c``      = 2·m·(C − D) / (n²·(m − 1)), m = min(R, C) —
      Stuart's correction for NON-SQUARE tables, reaching ±1 where
      tau-b cannot.

    Complete-case NULL/NaN contract and the distinct-cell scale
    shape are :func:`kendall_tau_b`'s (cells are cardinality-bound;
    the C/D pair join is broadcast O(cells²), never rows²). Each
    denominator guards its own NULL: constant x releases NULL
    ``somers_d_yx``, C = D = 0 releases NULL ``gamma``, a 1-level
    axis (m < 2) releases NULL ``tau_c`` — undefined, never 0.

    Determinism: every pool is exact decimal(38,0) (the overflow-
    audit rule — n² past LONG at ~4e9 rows); each release combines
    the exact pools in ONE double division, rounded at 6 dp.

    Returns ONE row: ``(n, n_x_levels, n_y_levels, concordant,
    discordant, gamma, somers_d_yx, somers_d_xy, tau_c)``."""
    one = _concordance_frame(df, x_col, y_col)
    nn = F.col("__n")
    n0 = (nn * (nn - 1) / 2).cast("decimal(38,0)")
    cc, dd = F.col("__cc"), F.col("__dd")
    num = (cc - dd).cast("double")
    gden = (cc + dd).cast("double")
    dyx_den = (n0 - F.col("__n1")).cast("double")
    dxy_den = (n0 - F.col("__n2")).cast("double")
    m = F.least(F.col("__nr"), F.col("__nc")).cast("double")
    tc_den = nn.cast("double") * nn.cast("double") * (m - 1)
    return one.filter(nn > 0).select(
        nn.cast("long").alias("n"),
        F.col("__nr").cast("long").alias("n_x_levels"),
        F.col("__nc").cast("long").alias("n_y_levels"),
        cc.cast("long").alias("concordant"),
        dd.cast("long").alias("discordant"),
        F.when(gden > 0, F.round(num / gden, RELEASE_DP)).alias("gamma"),
        F.when(dyx_den > 0,
               F.round(num / dyx_den, RELEASE_DP)).alias("somers_d_yx"),
        F.when(dxy_den > 0,
               F.round(num / dxy_den, RELEASE_DP)).alias("somers_d_xy"),
        F.when(tc_den > 0,
               F.round(2 * m * num / tc_den, RELEASE_DP)).alias("tau_c"))


def zipf_fit(
    df: DataFrame,
    text_col: str,
    top_n: int = 1000,
) -> DataFrame:
    """Zipf rank-frequency fit over a corpus vocabulary — the
    log-log OLS line through the top-``top_n`` token frequencies,
    the corpus-quality diagnostic curation pipelines band on (natural
    text slopes near -1; boilerplate, spam, and template floods bend
    it; Zipf 1949, Piantadosi 2014 review):

        y = ln(count), x = ln(rank);  slope, intercept, corr by OLS

    Tokenization is ``tokens(drop_empty=True)`` (the r10 convention).
    Ranks order by (count DESC, token ASC) — a total order, so the
    fit replays bit-identically. Determinism: ln snaps to 9 dp
    (transcendental ladder); cross-terms are 9-dp-snapped DOUBLE
    products pooled as decimal(38,9) exact sums; the closed-form
    slope/intercept/corr combine those sums in doubles, released at
    6 dp. A degenerate fit (fewer than 2 distinct ranks, or zero x
    variance) reads NULL.

    Scale shape: one explode + one token-count aggregation (corpus-
    linear, map-side combinable), then ONE ordered window over the
    VOCABULARY (distinct tokens — metadata-scale next to the corpus,
    the equi-depth convention) capped at ``top_n``, one scalar fold.

    Returns ONE row: ``(n_vocab, n_fit, slope, intercept, corr)``."""
    from ..functions.text import tokens

    toks = df.select(
        F.explode(tokens(F.col(text_col), drop_empty=True)).alias("__t"))
    cnt = toks.groupBy("__t").agg(F.count(F.lit(1)).alias("__c"))
    w = Window.orderBy(F.col("__c").desc(), F.col("__t").asc())
    rk = cnt.select(
        "__c", F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(
            Window.partitionBy()).alias("__vocab"))
    x = F.round(F.log(F.col("__r").cast("double")), 9)
    y = F.round(F.log(F.col("__c").cast("double")), 9)
    d9 = "decimal(38,9)"
    f = rk.filter(F.col("__r") <= int(top_n)).select(
        "__vocab", x.alias("__x"), y.alias("__y"))
    tot = f.agg(
        F.max("__vocab").cast("long").alias("n_vocab"),
        F.count(F.lit(1)).cast("long").alias("n_fit"),
        F.sum(F.col("__x").cast(d9)).alias("__sx"),
        F.sum(F.col("__y").cast(d9)).alias("__sy"),
        F.sum(F.round(F.col("__x") * F.col("__y"), 9).cast(d9))
        .alias("__sxy"),
        F.sum(F.round(F.col("__x") * F.col("__x"), 9).cast(d9))
        .alias("__sxx"),
        F.sum(F.round(F.col("__y") * F.col("__y"), 9).cast(d9))
        .alias("__syy"))
    n = F.col("n_fit").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    dxy = n * F.col("__sxy").cast("double") - sx * sy
    dxx = n * F.col("__sxx").cast("double") - sx * sx
    dyy = n * F.col("__syy").cast("double") - sy * sy
    slope = F.when(dxx > 0, F.round(dxy / dxx, RELEASE_DP))
    intercept = F.when(
        dxx > 0, F.round((sy - (dxy / dxx) * sx) / n, RELEASE_DP))
    corr = F.when(
        (dxx > 0) & (dyy > 0), F.round(dxy / F.sqrt(dxx * dyy), RELEASE_DP))
    return tot.select(
        "n_vocab", "n_fit", slope.alias("slope"),
        intercept.alias("intercept"), corr.alias("corr"))


#: log10(1 + 1/d) for d = 1..9 — Benford first-digit probabilities
#: as fixed literals so both engines fold bit-identical constants
BENFORD_P = [
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514,
]


def benford_first_digit(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Benford's-law first-significant-digit conformity test (Newcomb
    1881, Benford 1938; Nigrini 2012 forensic practice) — the
    data-quality / fraud screen over any naturally-scaled positive
    amount column: real-world magnitudes spread over several orders
    put digit d first with probability log₁₀(1 + 1/d); fabricated or
    truncated data does not. Releases one row:

        chi2 = Σ_d (o_d − N·p_d)² / (N·p_d)        (8 df)
        mad  = (1/9) Σ_d |o_d/N − p_d|             (Nigrini's MAD)

    plus the worst-deviating digit. The first significant digit is
    extracted from the value's DECIMAL STRING (first [1-9] of
    |value|) — NOT via log₁₀/floor arithmetic, whose IEEE boundary
    at exact powers of ten (log10(1000) = 2.999…96) misclassifies
    entire magnitude classes; string extraction is exact on decimal
    inputs and engine-identical. NULL and zero values (no first
    digit) are excluded; digits the data never hits still contribute
    their full expected term (the 9-digit grid is a literal frame —
    a missing digit is the STRONGEST Benford violation, not a
    droppable row).

    Determinism: counts are exact longs; p_d are engine-computed
    log₁₀ doubles (identical libm inputs); every term pools through
    the nano-unit ladder (floor(t·1e9) longs — the
    anderson_darling_two_sample lesson: round(double, 9) straddles
    half boundaries differently per engine, IEEE product + floor
    never does), released pure-integer HALF_UP at 6 dp.

    Scale shape: one scan + one 9-group aggregation + a 9-row
    literal join — nothing bigger than the digit grid ever
    shuffles. Returns ``(n, chi2, mad, worst_digit, worst_dev)``."""
    spark = df.sparkSession
    digit = F.regexp_extract(
        F.abs(F.col(value_col)).cast("string"), "([1-9])", 1)
    counts = (df.filter(F.col(value_col).isNotNull())
              .select(digit.alias("__d"))
              .filter(F.col("__d") != "")
              .groupBy("__d")
              .agg(F.count(F.lit(1)).cast("long").alias("__o")))
    # the 9 Benford probabilities as FIXED double literals (the SAX-
    # breakpoints precedent): java Math.log10 and C std::log10 are
    # each allowed an ulp, so an engine-computed log10(1 + 1/d) is
    # not guaranteed bit-identical across engines — a literal is
    grid = spark.createDataFrame(
        [(d, pv) for d, pv in enumerate(BENFORD_P, start=1)],
        "__d int, __p double")
    full = grid.join(
        counts.select(F.col("__d").cast("int").alias("__d"), "__o"),
        "__d", "left").select(
        "__d", "__p",
        F.coalesce(F.col("__o"), F.lit(0).cast("long")).alias("__o"))
    p = F.col("__p")
    tot = full.agg(F.sum("__o").cast("long").alias("__n"))
    j = full.crossJoin(F.broadcast(tot))
    nd = F.col("__n").cast("double")
    o = F.col("__o").cast("double")
    e = nd * p
    # nd = 0 (empty input) would make these 0/0 NaN, and a NaN→long
    # cast is an ANSI runtime kill — release NULL stats instead
    chi_units = F.when(
        F.col("__n") > 0,
        F.floor((o - e) * (o - e) / e * 1.0e9).cast("long"))
    dev_units = F.when(
        F.col("__n") > 0,
        F.floor(F.abs(o / nd - p) * 1.0e9).cast("long"))
    scored = j.select(
        "__d", "__o", "__n",
        chi_units.alias("__cu"), dev_units.alias("__du"))
    w = Window.orderBy(F.desc("__du"), F.asc("__d"))
    ranked = scored.withColumn("__rk", F.row_number().over(w))
    from . import nano_release

    return ranked.groupBy().agg(
        F.max("__n").alias("n"),
        nano_release("sum(__cu)").alias("chi2"),
        nano_release("sum(__du) div 9").alias("mad"),
        F.max(F.when(F.col("__rk") == 1, F.col("__d"))).alias(
            "worst_digit"),
        nano_release("max(case when __rk = 1 then __du end)")
        .alias("worst_dev"))
