"""Robust per-group statistics: median, MAD, and MAD-scaled outlier
rates — the diagnostics that survive the heavy tails mean/stddev drown
in (one 10^6-token document moves a mean; it barely moves a median).

Exact by construction: both medians are exact interpolated percentiles
(``F.percentile`` — the convention DuckDB's ``quantile_cont`` shares,
pinned by the `agg_percentiles_exact` gate), so results are identical
across engines and partitionings. Exact MAD needs a second,
median-DEPENDENT pass — that is inherent (no single-pass exact
algorithm exists); the sketch twin for one-pass approximation is the
KMV quantile sketch (`operators/sketch.py`). Cost: three keyed
aggregates over the data, each shuffling only (key, stat) pairs, with
the tiny per-key stats broadcast back between passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import RELEASE_DP

#: scale factor making MAD a consistent sigma estimator under normality
MAD_SIGMA = 1.4826


def robust_stats(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    z: float = 3.0,
) -> DataFrame:
    """Per-key ``(n, median, mad, n_outliers, frac_outliers)`` where an
    outlier is ``|x - median| > z * 1.4826 * mad`` (the robust z-score
    rule). Zero-MAD groups (over half the values identical) report
    outliers against the degenerate band — any value off the median is
    an outlier, which is the honest reading of such a group. NULL
    values are ignored throughout."""
    v = F.col(value_col).cast("double")

    def kjoin(left, right):
        # key_cols=[] is the GLOBAL call — pyspark's join(on=[])
        # raises an opaque IndexError (the r11 probe class); the
        # right sides here are key-count-sized aggregates
        if key_cols:
            return left.join(F.broadcast(right), list(key_cols))
        return left.crossJoin(F.broadcast(right))

    base = df.filter(v.isNotNull()).select(
        *key_cols, v.alias("__v"))
    med = base.groupBy(*key_cols).agg(
        F.percentile("__v", F.lit(0.5)).alias("__med"))
    with_med = kjoin(base, med)
    mad = with_med.groupBy(*key_cols).agg(
        F.percentile(F.abs(F.col("__v") - F.col("__med")), F.lit(0.5))
        .alias("__mad"))
    band = F.lit(z) * F.lit(MAD_SIGMA) * F.col("__mad")
    out = (
        kjoin(with_med, mad)
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.max("__med"), RELEASE_DP).alias("median"),
            F.round(F.max("__mad"), RELEASE_DP).alias("mad"),
            F.sum(
                (F.abs(F.col("__v") - F.col("__med")) > band).cast("long")
            ).cast("long").alias("n_outliers"),
        )
    )
    return out.withColumn(
        "frac_outliers",
        F.round(F.col("n_outliers") / F.col("n"), RELEASE_DP))


def quantile_normalize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    grid_points: int = 21,
) -> DataFrame:
    """Map each group's value distribution onto the GLOBAL one — the
    cross-domain score alignment step before any global threshold: a
    quality score of 0.7 from a lenient scorer and 0.4 from a harsh one
    should gate the same fraction of their domains, so each value is
    replaced by the global value at its WITHIN-GROUP percentile.

    Mechanics (all exact and engine-replayable):

    - within-group percentile ``p = (rank - 1) / (n - 1)`` using
      ``rank()`` (ties share a rank — deterministic; single-row groups
      map to p = 0);
    - the global distribution is summarized by an exact interpolated
      percentile GRID of ``grid_points`` values (one aggregate, bounded
      collect, ships back as ONE array literal);
    - the normalized value linearly interpolates the grid at ``p``.

    Cost: one per-group window (single exchange) + one global
    percentile aggregate; the grid is the only driver traffic. Adds
    ``pct_in_group`` and ``value_normalized`` to the input columns.
    Rows whose ``value_col`` is NULL (or non-castable to double) are
    EXCLUDED from the output — a NULL has no within-group percentile.
    Raises ``ValueError`` when no non-null values exist (there is no
    global distribution to map onto).
    """
    if grid_points < 2:
        raise ValueError(f"grid_points must be >= 2, got {grid_points}")
    from pyspark.sql import Window

    ps = [i / (grid_points - 1) for i in range(grid_points)]
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull())
    grid_row = base.agg(
        F.percentile(v, F.lit(ps)).alias("g")).collect()[0]["g"]
    if grid_row is None:
        raise ValueError(
            f"quantile_normalize: no non-null values in {value_col!r}")
    grid = F.lit([float(x) for x in grid_row])  # exact doubles, bit-replayable
    w = Window.partitionBy(*group_cols).orderBy(v)
    n = F.count(F.lit(1)).over(Window.partitionBy(*group_cols))
    p = F.when(n > 1, (F.rank().over(w) - 1) / (n - 1)).otherwise(F.lit(0.0))
    # linear interpolation on the grid: cell = floor(p * (G-1))
    cell = F.least(
        F.floor(p * (grid_points - 1)).cast("int"),
        F.lit(grid_points - 2))
    frac = p * (grid_points - 1) - cell
    lo = F.element_at(grid, cell + 1)
    hi = F.element_at(grid, cell + 2)
    return (
        base.withColumn("pct_in_group", F.round(p, RELEASE_DP))
        .withColumn(
            "value_normalized", F.round(lo + (hi - lo) * frac, RELEASE_DP))
    )


def weighted_percentiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    ps: list[float] | None = None,
) -> DataFrame:
    """Exact weighted percentiles (type-1 / lower-step inverse CDF):
    for each ``p``, the smallest value whose cumulative weight reaches
    ``p * W``. The estimator every billing/duration analysis needs
    when rows carry multiplicities (a weighted median over (value,
    count) pairs, never a row-expanded unweighted one).

    Determinism contract: weights cast to DECIMAL(28,6) (exact sums,
    any partial-agg order); the crossing compare casts both sides to
    double and tests ``cumw >= W * p`` — the identical expression on
    every engine, so a value sitting exactly on a cut lands on the
    same side everywhere; values aggregate to value grain FIRST — the
    cumulative sum then runs over DISTINCT values, not rows. Returns
    one row per p: ``(p, value)``.

    Scale shape (round 9 — replaced the documented single-task
    global-window limitation): the cumulative weight comes from
    :func:`~puffbird_spark.operators.splits.grouped_prefix_sum` — two
    balanced range exchanges, per-slice local windows, broadcast
    offsets — so data-sized value cardinality never funnels through
    one task. Exactly value-identical to the old global window because
    the summed weights are exact decimals (any regrouping of exact
    addition is the same number). The total weight W is one bounded
    driver scalar (a 1-row agg, the codebook convention)."""
    ps = ps or [0.25, 0.5, 0.75, 0.9]
    w = F.col(weight_col).cast("decimal(28,6)")
    per_val = df.groupBy(F.col(value_col).alias("__v")).agg(
        F.sum(w).alias("__w"))

    from .splits import grouped_prefix_sum

    cum = grouped_prefix_sum(per_val, [], ["__v"], F.col("__w"), "__cumw")
    wtot = per_val.agg(F.sum("__w").alias("__wtot")).collect()[0]["__wtot"]
    structs = [
        F.min(
            F.when(
                F.col("__cumw").cast("double")
                >= F.lit(wtot).cast("double") * F.lit(float(p)),
                F.col("__v"),
            )
        ).alias(f"__p{i}")
        for i, p in enumerate(ps)
    ]
    agg = cum.agg(*structs)
    out = agg.select(F.explode(F.array(*[
        F.struct(
            F.lit(round(float(p), 6)).alias("p"),
            F.col(f"__p{i}").alias("value"),
        )
        for i, p in enumerate(ps)
    ])).alias("__r")).select("__r.*")
    return out
